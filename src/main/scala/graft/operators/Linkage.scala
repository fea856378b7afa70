package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Probabilistic record linkage (Fellegi & Sunter, JASA 1969) for the
  * identity-resolution family: where [[IdentityResolver]] links on
  * deterministic identifier rules (the reference's semantics), this
  * scores CANDIDATE pairs by summed field-agreement log-odds weights —
  * the standard upgrade path when identifiers are dirty and evidence
  * must be weighed, not matched.
  *
  * Design for exactness and scale:
  *  - weights are INTEGERS (ln(m/u) pre-scaled and rounded by the
  *    caller, as production linkers do) so a pair's score is an exact
  *    order-free sum — oracle-replayable, partitioning-invariant;
  *  - candidate generation is BLOCKING: pairs only within equal
  *    block-key groups, the classic way linkage avoids |n|² (compose
  *    with [[FuzzyJoin]] or LSH for fuzzier blocking);
  *  - agreement uses null-safe equality (two nulls agree — the F-S
  *    convention is configurable upstream by excluding null fields).
  */
object Linkage {

  /** A compare field: expression evaluated on each side, weight added
    * when the two sides agree, weight (usually negative) when not. */
  final case class CompareField(expr: Column => Column,
      wAgree: Int, wDisagree: Int)

  /** Blocking-scheme quality report — the two numbers every linkage
    * deployment tunes first (Christen, "Data Matching", ch. 4):
    * REDUCTION RATIO (how far below all-pairs the candidate count
    * falls) and PAIR COMPLETENESS (what fraction of true matches the
    * blocks still co-locate). The candidate count comes from block
    * SIZES alone — `Σ C(n_b, 2)` over a groupBy-count, no pair is
    * ever materialized, so evaluating a scheme on a 10⁹-row table
    * costs one aggregation — and completeness joins the (small)
    * truth set to the block keys twice. One output row; counts
    * exact, the two ratios one mirrored IEEE division each. */
  def blockingQuality(df: DataFrame, idCol: String, blockCols: Seq[String],
      truePairs: DataFrame): DataFrame = {
    val blocks = df.groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("_n"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(expr("_n * (_n - 1) div 2")).as("candidate_pairs"),
        sum(col("_n")).as("n_records"))
    val keyed = df.select((idCol +: blockCols).map(col): _*)
    val caught = truePairs
      .join(keyed.toDF(("id_a" +: blockCols.map(_ + "_a")): _*), "id_a")
      .join(keyed.toDF(("id_b" +: blockCols.map(_ + "_b")): _*), "id_b")
      .filter(blockCols.map(c => col(c + "_a") <=> col(c + "_b")).reduce(_ && _))
      .agg(count(lit(1)).as("n_caught"))
    val truthN = truePairs.agg(count(lit(1)).as("n_truth"))
    blocks.crossJoin(broadcast(caught)).crossJoin(broadcast(truthN))
      .select(col("n_records"), col("n_blocks"), col("candidate_pairs"),
        expr("n_records * (n_records - 1) div 2").as("total_pairs"),
        (lit(1.0) - col("candidate_pairs").cast("double") /
          expr("n_records * (n_records - 1) div 2").cast("double"))
          .as("reduction_ratio"),
        col("n_truth"), col("n_caught"),
        when(col("n_truth") > 0,
          col("n_caught").cast("double") / col("n_truth").cast("double"))
          .otherwise(lit(0.0)).as("pair_completeness"))
  }

  /** Score all intra-block pairs of `df` (self-linkage — duplicate
    * detection): `(id_a, id_b, n_agree, score)` for every pair with
    * `score >= minScore`, ids ordered `id_a < id_b`. The block join
    * shuffles each row once on the block key; score and agreement
    * count are computed per pair with zero further shuffles. */
  def selfScore(df: DataFrame, idCol: String, blockCols: Seq[String],
      fields: Seq[CompareField], minScore: Int): DataFrame = {
    val keep = (c: String) => col(c)
    val a = df.select((idCol +: blockCols).map(keep) :+
      struct(df.columns.map(col): _*).as("_ra"): _*)
      .withColumnRenamed(idCol, "id_a")
    val b = df.select((idCol +: blockCols).map(keep) :+
      struct(df.columns.map(col): _*).as("_rb"): _*)
      .withColumnRenamed(idCol, "id_b")
    val paired = a.join(b, blockCols).filter(col("id_a") < col("id_b"))
    val agrees = fields.map(f =>
      f.expr(col("_ra")) <=> f.expr(col("_rb")))
    val score = fields.zip(agrees).map { case (f, ok) =>
      when(ok, lit(f.wAgree)).otherwise(lit(f.wDisagree))
    }.reduce(_ + _)
    val nAgree = agrees.map(ok => when(ok, lit(1)).otherwise(lit(0))).reduce(_ + _)
    paired
      .withColumn("n_agree", nAgree)
      .withColumn("score", score)
      .filter(col("score") >= minScore)
      .select("id_a", "id_b", "n_agree", "score")
  }

  /** Learned F-S parameters: match proportion λ, per-field
    * P(agree|match) m and P(agree|non-match) u, the blocked candidate
    * count, and the agreement-pattern histogram the estimate was fit
    * on (key = Σ γ_f·2^f). */
  final case class EmParams(lambda: Double, m: Array[Double], u: Array[Double],
      nPairs: Long, patternCounts: Map[Int, Long],
      cappedBlocks: Long = 0L, droppedRows: Long = 0L)

  /** Fixed-iteration EM estimation of the F-S m/u parameters from the
    * blocked candidate pairs themselves — closing the loop
    * [[selfScore]] leaves open (it takes caller-supplied pre-scaled
    * log-odds, as production linkers ship; a real deployment LEARNS
    * m/u from the data first).
    *
    * The classic EM (Winkler 1988) over the independent-agreement
    * model, restructured for the engine's determinism discipline:
    *
    *  - the data-sized work is ONE distributed aggregation: candidate
    *    pairs collapse to their binary agreement PATTERNS (≤ 2^F rows
    *    for F fields) with exact integer counts — the pairs are never
    *    materialized driver-side and never rescanned across
    *    iterations (at 100 TB the E/M loop costs zero additional
    *    passes over data);
    *  - each E-step weight `w = P(match | γ)` is QUANTIZED to an
    *    integer `wq = ⌊w·10⁹ + 0.5⌋`, so every M-step sum is an exact
    *    integer sum over ≤ 2^F patterns — order-free, engine-free —
    *    and each new parameter is ONE IEEE division of exact
    *    integers. The whole N-iteration trajectory is therefore
    *    bit-reproducible in any engine (the `q_identity_fs_em` oracle
    *    replays all iterations in SQL), at a 1e-9 perturbation per
    *    iteration that is orders below EM's own statistical error;
    *  - parameters are clamped to [1e-6, 1−1e-6] after every M-step
    *    (mirrored LEAST/GREATEST in the oracle), so no product can
    *    collapse to an exact 0/0 posterior.
    *
    * `fields` are agreement expressions over the row struct (the
    * [[CompareField]] convention); `F ≤ 16` keeps the pattern table
    * bounded (collect is ≤ 65536 rows of two longs — centroid-sized).
    *
    * SCALE BOUND (`maxBlock`): the candidate join materializes
    * `Σ_b n_b²` pairs, and with block sizes growing linearly in data
    * that curve is quadratic — the one measured scale-killer in the
    * suite before this cap. Any block larger than `maxBlock` rows is
    * deterministically SUBSAMPLED to `maxBlock` before pairing
    * (md5-fate order over the id — no RNG, oracle-replayable), which
    * bounds total pairs at `nBlocks · maxBlock²` regardless of data
    * size. EM is parameter ESTIMATION — a bounded per-stratum sample
    * is statistically standard — but the cap is never silent: dropped
    * mass is logged loudly and reported in
    * [[EmParams.cappedBlocks]]/[[EmParams.droppedRows]]. Blocks at or
    * under the cap are bit-identical to the uncapped estimate. */
  def estimateParamsEM(df: DataFrame, idCol: String, blockCols: Seq[String],
      fields: Seq[Column => Column], iters: Int = 5,
      lambda0: Double = 0.5, m0: Double = 0.9, u0: Double = 0.1,
      maxBlock: Int = 256): EmParams = {
    require(fields.nonEmpty && fields.size <= 16,
      s"EM needs 1..16 compare fields, got ${fields.size}")
    require(iters >= 1, s"need at least one EM iteration, got $iters")
    require(maxBlock >= 2, s"maxBlock must be >= 2, got $maxBlock")
    // per-block deterministic subsample: rank by md5(id) (the engine's
    // fate hash — reruns reproduce, the oracle replays), keep maxBlock
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(blockCols.map(col): _*)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    val capped = df
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= maxBlock).drop("_rn")
    // loud cap accounting: one tiny aggregation over the block key
    // column only (never silent — the "no silent caps" rule). Derived
    // from per-block COUNTS, not the windowed frame: re-filtering the
    // window output would re-run the per-block sort — the most
    // expensive pre-pair stage — a second time even when no block
    // exceeds the cap. A plain groupBy-count shuffles without sorting
    // and gives the same dropped mass (Σ max(0, n_b − maxBlock)).
    val capStats = df.groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") > maxBlock)
      .agg(coalesce(count(lit(1)), lit(0L)).as("_blocks"),
        coalesce(sum(col("_n") - lit(maxBlock)), lit(0L)).as("_dropped"))
      .collect()(0)
    val (cappedBlocks, droppedRows) = (capStats.getLong(0), capStats.getLong(1))
    if (droppedRows > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"estimateParamsEM: $cappedBlocks block(s) exceeded maxBlock=$maxBlock; " +
          s"$droppedRows row(s) excluded from the EM fit by deterministic " +
          "md5-fate subsample (estimates remain unbiased per-stratum samples)")
    val keep = (c: String) => col(c)
    val a = capped.select((idCol +: blockCols).map(keep) :+
      struct(capped.columns.map(col): _*).as("_ra"): _*)
      .withColumnRenamed(idCol, "id_a")
    val b = capped.select((idCol +: blockCols).map(keep) :+
      struct(capped.columns.map(col): _*).as("_rb"): _*)
      .withColumnRenamed(idCol, "id_b")
    val pattern = fields.zipWithIndex.map { case (f, i) =>
      when(f(col("_ra")) <=> f(col("_rb")), lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)
    // the one data-sized job: pattern histogram (≤ 2^F rows)
    val counts = a.join(b, blockCols).filter(col("id_a") < col("id_b"))
      .select(pattern.as("_pat"))
      .groupBy("_pat").agg(count(lit(1)).as("_cnt"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nPairs = counts.values.sum
    require(nPairs > 0, "no blocked candidate pairs — nothing to estimate from")

    val nF = fields.size
    val pats = counts.keys.toArray.sorted
    var lambda = lambda0
    val m = Array.fill(nF)(m0)
    val u = Array.fill(nF)(u0)
    val Q = 1000000000L
    for (_ <- 1 to iters) {
      var sumW = 0L
      var sumNW = 0L
      val sumWf = new Array[Long](nF)
      val sumNWf = new Array[Long](nF)
      pats.foreach { p =>
        val cnt = counts(p)
        // left-associated products, mirrored textually in the oracle
        var pm = lambda
        var pu = 1.0 - lambda
        var f = 0
        while (f < nF) {
          val g = (p >> f) & 1
          pm = pm * (if (g == 1) m(f) else 1.0 - m(f))
          pu = pu * (if (g == 1) u(f) else 1.0 - u(f))
          f += 1
        }
        val wq = math.floor(pm / (pm + pu) * 1.0e9 + 0.5).toLong
        // overflow headroom: cnt·10⁹ must fit int64 (≈ 9.2e9 pairs
        // per pattern) — far above any blocked candidate set that
        // should be EM-fit in one shot
        require(cnt <= Long.MaxValue / Q, s"pattern count $cnt overflows the Q-sum")
        sumW += cnt * wq
        sumNW += cnt * (Q - wq)
        f = 0
        while (f < nF) {
          if (((p >> f) & 1) == 1) {
            sumWf(f) += cnt * wq
            sumNWf(f) += cnt * (Q - wq)
          }
          f += 1
        }
      }
      // loud-failure guard (mirrors nPairs > 0): if every pattern's
      // quantized posterior collapses to 0 (or 1e9), the M-step would
      // compute 0/0 = NaN and clamp() would propagate NaN forever —
      // fail here with the degenerate state named instead
      require(sumW > 0 && sumNW > 0,
        s"EM degenerated: every pair posterior collapsed to one class " +
          s"(sumW=$sumW, sumNW=$sumNW) — check m0/u0/lambda0 seeds and field choice")
      def clamp(x: Double): Double = math.min(math.max(x, 0.000001), 0.999999)
      var f = 0
      while (f < nF) {
        m(f) = clamp(sumWf(f).toDouble / sumW.toDouble)
        u(f) = clamp(sumNWf(f).toDouble / sumNW.toDouble)
        f += 1
      }
      lambda = clamp(sumW.toDouble / (1.0e9 * nPairs.toDouble))
    }
    EmParams(lambda, m, u, nPairs, counts, cappedBlocks, droppedRows)
  }
}
