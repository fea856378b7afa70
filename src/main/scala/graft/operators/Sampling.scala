package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling & dataset splitting for training-data
  * curation.
  *
  * Everything keys off a content/id hash, never an RNG: at 100 TB a
  * sample must be reproducible across retried tasks, re-runs and
  * engines (`rand()` is none of those), must not require a pre-pass
  * (no count-based reservoir), and must stay stable when the table
  * grows — a row's split never changes because other rows arrived.
  * Pure per-row expressions: zero shuffle, prunes into the scan.
  */
object Sampling {

  /** Uniform hash bucket in [0, nBuckets): first 56 bits of md5 of the
    * key, mod nBuckets — reproducible in any SQL engine as
    * `('0x' || substr(md5(k), 1, 14))::BIGINT % n`. */
  def hashBucket(key: Column, nBuckets: Int): Column =
    conv(substr(md5(key.cast("string")), lit(1), lit(14)), 16, 10).cast("long") %
      lit(nBuckets.toLong)

  /** train/validation/test assignment by hash bucket percentage. */
  def hashSplit(key: Column, trainPct: Int = 80, validationPct: Int = 10): Column = {
    val b = hashBucket(key, 100)
    when(b < trainPct, lit("train"))
      .when(b < trainPct + validationPct, lit("validation"))
      .otherwise(lit("test"))
  }

  /** Stratified (per-domain) sampling: each stratum keeps its own
    * fraction — how a training mix is re-weighted (up/down-weighting
    * web vs books vs code) without an RNG. `rates` maps stratum value →
    * keep fraction; unlisted strata keep `defaultRate`. The hash keys
    * on (stratum, id) so a document's fate is independent of its
    * neighbors' and of the mix config of other strata. Still a pure
    * per-row filter: zero shuffle, prunes into the scan. */
  def stratifiedByHash(df: DataFrame, keyCol: String, stratumCol: String,
      rates: Map[String, Double], defaultRate: Double = 1.0): DataFrame = {
    val bucket = hashBucket(
      concat(col(stratumCol), lit(":"), col(keyCol).cast("string")), 10000)
    val rate = rates.foldLeft(lit(math.round(defaultRate * 10000)): Column) {
      case (acc, (k, v)) =>
        when(col(stratumCol) === k, lit(math.round(v * 10000))).otherwise(acc)
    }
    df.filter(bucket < rate)
  }

  /** Temperature-reweighted domain mixing (the multilingual-
    * pretraining upsampling rule, α = 0.5): target mix share of
    * stratum d is `√N_d / Σ√N` — between proportional (α = 1, big
    * domains dominate) and uniform (α = 0, tail domains over-repeat) —
    * and each stratum keeps
    * `min(1, targetFraction · N_total · share_d / N_d)` of its rows
    * by the same md5 fate as [[stratifiedByHash]].
    *
    * α is fixed at 0.5 because √ is the one exponent with a
    * correctly-rounded IEEE primitive: a general `pow(n, α)` differs
    * at the ULP across math libraries and would break the
    * differential oracle. Determinism of the rate derivation: counts
    * are exact longs, `Σ√N` folds in stratum-name order (both engines
    * left-fold the same sorted list), and the rate chain is fixed-
    * order products/divisions. Scale: one tiny counts aggregate
    * (#strata rows) drives a driver-computed rate map; the selection
    * stays a zero-shuffle per-row filter. */
  def temperatureMix(df: DataFrame, keyCol: String, stratumCol: String,
      targetFraction: Double): DataFrame = {
    val counts = df.groupBy(stratumCol)
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val total = counts.map(_._2).sum
    val sumW = counts.foldLeft(0.0) { case (acc, (_, n)) => acc + math.sqrt(n.toDouble) }
    val rates = counts.map { case (s, n) =>
      s -> math.min(1.0,
        ((targetFraction * total.toDouble) * (math.sqrt(n.toDouble) / sumW)) / n.toDouble)
    }.toMap
    stratifiedByHash(df, keyCol, stratumCol, rates, defaultRate = 0.0)
  }

  /** EXACTLY-k-per-stratum sample: rank rows inside each stratum by
    * their md5 (a uniform, reproducible permutation; ties broken by
    * the key itself) and keep the first k — how a fixed-size eval/dev
    * set is carved per domain. Unlike the rate-based samplers this
    * needs one keyed shuffle (the per-stratum window), but the window
    * ranks (stratum-hash) pairs — 16 bytes + key per row, never
    * payload columns, which join back by key afterward… here the
    * input frame IS ranked directly since Spark prunes the window to
    * its partition/order keys. Deterministic under retries, stable
    * row set when other strata change. */
  def exactKPerStratum(df: DataFrame, keyCol: String, stratumCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = md5(concat(col(stratumCol), lit(":"), col(keyCol).cast("string")))
    val w = Window.partitionBy(col(stratumCol)).orderBy(h.asc, col(keyCol).asc)
    df.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= k)
      .drop("_rk")
  }

  /** Leakage-free train/holdout split: the split unit is the NEAR-DUP
    * CLUSTER, not the document — a near-duplicate of a holdout example
    * sitting in train is the classic eval-contamination failure that a
    * per-document split cannot prevent. Clusters come from
    * [[Dedup.collapseNearDuplicates]] (min-member-id labels); the fate
    * comes from the md5 bucket of the CLUSTER id, so every member
    * inherits it atomically, and singleton docs (their own cluster)
    * degrade to the plain hash split.
    *
    * Scale: collapse's cost profile (edge-graph CC, corpus touched
    * once) plus a per-row hash — the split itself adds zero shuffle. */
  def leakageFreeSplit(docs: DataFrame, pairs: DataFrame, idCol: String,
      trainPct: Int = 90): DataFrame =
    Dedup.collapseNearDuplicates(docs, pairs, idCol)
      .withColumn("split",
        when(hashBucket(concat(lit("cluster:"), col("cluster_id").cast("string")),
          100) < trainPct, lit("train")).otherwise(lit("holdout")))

  /** Weighted sample WITHOUT replacement, k rows per stratum
    * (Efraimidis & Spirakis, IPL 2006, "A-ES"): each row draws its
    * uniform u from the md5 bucket of its key — u = (b + 0.5)/10000,
    * never exactly 0 or 1 — and scores ln(u)/w; the k LARGEST scores
    * per stratum are distributed exactly as sequential weighted
    * draws without replacement (ln(u)/w orders identically to the
    * classic u^(1/w) key and avoids underflow for large weights).
    * The training-mix use: carve a per-domain subset where longer /
    * higher-quality documents are proportionally likelier, without
    * an RNG — fate depends only on the row's own (key, weight), so
    * the sample is reproducible across retries, engines and
    * partitionings, and adding documents to one stratum never
    * disturbs another's picks.
    *
    * Scale: one hash + log per row and one window top-k per stratum —
    * a single shuffle on the stratum key; no global sort. Rows with
    * non-positive or null weight are excluded (their draw
    * probability is 0). Ties (identical key-hash AND weight) break
    * by key ascending, keeping the output a total order. */
  def weightedSampleKPerStratum(df: DataFrame, keyCol: String, weightCol: String,
      stratumCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = (hashBucket(col(keyCol), 10000).cast("double") + lit(0.5)) / lit(10000.0)
    val es = log(u) / col(weightCol).cast("double")
    val w = Window.partitionBy(col(stratumCol)).orderBy(col("_es").desc, col(keyCol).asc)
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("_es", es)
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= k)
      .drop("_es", "_rk")
  }

  /** Deterministic corpus shuffle into `nShards` output shards — the
    * final pre-training step (examples must arrive in pseudo-random
    * order, identically on every re-run): shard = md5 bucket of the
    * key, position = md5-permutation rank within the shard. One keyed
    * window per shard; the md5 rank is 16 bytes + key per row. */
  def shuffleToShards(df: DataFrame, keyCol: String, nShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = md5(concat(lit("shuf:"), col(keyCol).cast("string")))
    val shard = hashBucket(concat(lit("shard:"), col(keyCol).cast("string")), nShards)
    val w = Window.partitionBy(col("shard")).orderBy(col("_h").asc, col(keyCol).asc)
    df.withColumn("shard", shard.cast("int"))
      .withColumn("_h", h)
      .withColumn("pos", row_number().over(w))
      .drop("_h")
  }

  /** TOKEN-BUDGET sample: the deterministic "give me ~N tokens of
    * this corpus" selection a mixture builder runs (budgets are
    * token counts, not document counts — sampling docs uniformly
    * over-represents short ones in doc-count space and long ones in
    * token space; the budget cut is the quantity that matters to a
    * training run). Documents are ordered by their md5 fate (the
    * per-row-deterministic shuffle every sampler here uses) and the
    * kept set is the maximal prefix whose cumulative token count
    * stays ≤ `budgetTokens` — reproducible, growth-stable (new docs
    * land at hash-random positions; the cut point moves but
    * surviving prefixes agree), engine-free.
    *
    * Scale shape: the global running sum uses the two-phase bucket
    * prefix sum ([[graft.operators.TextAnalysis.packSequences]]'s
    * discipline): per-bucket totals (map-side combined) → a serial
    * window over #buckets ROWS (256, never data) → broadcast offsets
    * → one within-bucket window. Buckets are the first two hex chars
    * of the fate hash, so bucket order is a PREFIX of the global
    * hash order and the two-phase sum equals the global one exactly.
    * Output: kept rows as (doc_id, n_tokens, cum_tokens). */
  def tokenBudgetSample(docs: DataFrame, idCol: String, textCol: String,
      budgetTokens: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgetTokens > 0, s"budget must be positive, got $budgetTokens")
    val toks = filter(split(trim(col(textCol)), "\\s+"), x => x =!= "")
    val sized = docs.select(
      col(idCol).as("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      md5(col(idCol).cast("string")).as("_h"))
      .withColumn("_b", substring(col("_h"), 1, 2))
    val bucketTotals = sized.groupBy("_b").agg(sum("n_tokens").as("_btot"))
    // the ONLY serial window: 256 bucket rows, never data rows
    val offsets = bucketTotals.withColumn("_boff",
      coalesce(sum("_btot").over(Window.orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("_b", "_boff")
    val local = Window.partitionBy("_b").orderBy("_h", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sized.join(broadcast(offsets), "_b")
      .withColumn("cum_tokens", col("_boff") + sum("n_tokens").over(local))
      .filter(col("cum_tokens") <= budgetTokens)
      .select("doc_id", "n_tokens", "cum_tokens")
  }
}
