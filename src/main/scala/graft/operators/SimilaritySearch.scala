package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.Random

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query
  * set against the full embedding table; per-row double-precision
  * fold, codegen'd higher-order functions, one window per query for
  * the top-k. Scales linearly in table size with no shuffle of the
  * embedding column beyond the final top-k.
  *
  * Scale path: random-hyperplane LSH — each vector reduces to a
  * `nBits`-bit bucket id (pure per-row work against broadcast-literal
  * planes, seeded and deterministic); queries probe their bucket (plus
  * optional 1-bit flips) and rerank only the bucket's candidates.
  * At 100 TB the bucket join shuffles (bucket, id, vec) once and the
  * rerank fan-in is |bucket| not |table|. An IVF variant would swap
  * the hash for learned centroids — same plan shape.
  */
object SimilaritySearch {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Double-precision cosine similarity of two float-array columns —
    * a codegen'd Catalyst expression ([[graft.functions.VectorKernels]]).
    * Same ascending-index double fold as the interpreted HOF
    * formulation it replaced (bit-identical scores, ~1000× faster on
    * pairwise workloads). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorKernels.cosine(a, b)

  /** Brute-force cosine top-k: for each query row, the k nearest table
    * rows (ties broken by id ascending; self-matches excluded). */
  def bruteForceTopK(
      table: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
    val t = table.select(col(idCol).as("neighbor_id"), col(vecCol).as("_tv"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    t.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", cosine(col("_qv"), col("_tv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
  }

  /** Matryoshka (truncated-dimension) cosine top-k (Kusupati et al.,
    * NeurIPS 2022, "Matryoshka Representation Learning"): score on
    * only the first `dims` components of each embedding. MRL-trained
    * embeddings front-load information, so a dims-of-D prefix search
    * costs dims/D of the flops AND of the scan bandwidth (the slice
    * happens before the scoring kernel) — the standard cheap first
    * pass of a billion-vector retrieval funnel. Cosine renormalizes
    * over the slice, so no separate re-normalization pass is needed. */
  def matryoshkaTopK(table: DataFrame, queries: DataFrame, dims: Int, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    def trunc(df: DataFrame) = df.withColumn(vecCol, slice(col(vecCol), 1, dims))
    bruteForceTopK(trunc(table), trunc(queries), k, idCol, vecCol)
  }

  /** The full truncate-then-rerank funnel: shortlist `shortlist`
    * candidates per query on the `dims`-prefix score, then rerank
    * ONLY the shortlist with full-dimension cosine and keep the top
    * k. At scale the corpus-wide pass touches dims/D of the vector
    * bytes and the exact pass touches `shortlist` rows per query —
    * the two knobs trade recall for bandwidth independently. Both
    * stages are deterministic (IEEE adds/multiplies over identical
    * floats, ties broken by id), so the funnel is oracle-checkable
    * end to end. */
  def matryoshkaRerank(table: DataFrame, queries: DataFrame, dims: Int,
      shortlist: Int, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cand = matryoshkaTopK(table, queries, dims, shortlist, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    val t = table.select(col(idCol).as("neighbor_id"), col(vecCol).as("_tv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    cand.join(t, "neighbor_id")
      .join(broadcast(q), "query_id")
      .withColumn("score", cosine(col("_qv"), col("_tv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
  }

  /** Deterministic seeded hyperplanes (values in [-1, 1)). */
  def randomPlanes(nBits: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new Random(seed)
    Seq.fill(nBits)(Seq.fill(dim)(rnd.nextDouble() * 2 - 1))
  }

  private def planesLit(planes: Seq[Seq[Double]]): Column =
    array(planes.map(p => array(p.map(lit): _*)): _*)

  /** Sign-bit bucket id of a vector against the planes — a codegen'd
    * expression ([[graft.functions.LshBucket]]): this assignment runs
    * per TABLE row, where an interpreted HOF would cost ~0.5 ms/row. */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    graft.functions.VectorKernels.lshBucketCol(vec, planes)

  /** Squared L2 distance between a vector column and a literal
    * centroid array. */
  private def dist2(vec: Column, centroid: Column): Column =
    aggregate(zip_with(vec, centroid, (x, c) => {
      val d = x.cast("double") - c
      d * d
    }), lit(0.0), (acc, x) => acc + x)

  /** IVF with the coarse quantizer seeded from designated DATA rows
    * (`centroidIds`, ordered ascending) instead of a KMeans fit — the
    * k-medoid-style degenerate training. Deterministic across scale
    * factors and expressible in plain SQL (a join against the centroid
    * rows), so this variant carries the driver's hash gate. */
  def ivfTopKSeeded(
      table: DataFrame, queries: DataFrame, k: Int, centroidIds: Seq[Long],
      nProbe: Int = 2, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = table.filter(col(idCol).isin(centroidIds: _*))
      .select(col(idCol).cast("long"), col(vecCol)).collect() // nLists tiny rows
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    ivfTopKWithCentroids(table, queries, k, cents, nProbe, idCol, vecCol)
  }

  /** Shared IVF core: assignment + probe + rerank against explicit
    * centroid literals. */
  def ivfTopKWithCentroids(
      table: DataFrame, queries: DataFrame, k: Int, centroidSeqs: Seq[Seq[Double]],
      nProbe: Int, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val nLists = centroidSeqs.length
    val centroids = planesLit(centroidSeqs)
    val dists = (v: Column) => transform(centroids, c => dist2(v, c))

    // table-side assignment is per-row over EVERY vector — codegen'd
    // argmin kernel; the query-side probe ranking below stays HOF
    // (queries are a broadcast handful)
    val t = table.select(col(idCol).as("neighbor_id"), col(vecCol).as("_tv"),
      graft.functions.VectorKernels.nearestCentroidCol(col(vecCol), centroidSeqs)
        .as("_list"))
    // nProbe nearest lists per query: sort (dist, idx) structs, slice
    val probeLists = {
      val pairs = zip_with(dists(col(vecCol)), sequence(lit(0), lit(nLists - 1)),
        (d, i) => struct(d.as("d"), i.as("i")))
      transform(slice(sort_array(pairs), 1, nProbe), s => s("i").cast("int"))
    }
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"),
        explode(probeLists).as("_list"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    t.join(broadcast(q), "_list")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", cosine(col("_qv"), col("_tv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
  }

  /** LSH-bucketed ANN top-k: probe the query's bucket and rerank with
    * exact cosine. Recall < 1 by construction; raise nBits for finer
    * buckets or lower it for higher recall.
    *
    * `nProbe` > 1 enables margin-guided multiprobe (Lv et al., VLDB'07
    * shape): besides its own bucket, each query probes the buckets
    * reached by flipping the `nProbe - 1` sign bits whose hyperplane
    * margins are smallest — the neighbors most likely lost to
    * quantization sit just across those planes. Only the (tiny) query
    * side fans out; the table is still hashed once per row. */
  def annTopK(
      table: DataFrame, queries: DataFrame, k: Int, nBits: Int = 8, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nProbe: Int = 1): DataFrame = {
    val planes = randomPlanes(nBits, dim)
    val masks = array(planes.indices.map(j => lit(1L << j)): _*)
    val t = table.select(col(idCol).as("neighbor_id"), col(vecCol).as("_tv"),
      lshBucket(col(vecCol), planes).as("_bucket"))

    val probed = {
      val base = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"),
        lshBucket(col(vecCol), planes).as("_b0"),
        planeDots(col(vecCol), planes).as("_dots"))
      if (nProbe <= 1)
        base.select(col("query_id"), col("_qv"), col("_b0").as("_bucket"))
      else {
        // bit indices ordered by |margin| ascending; flip the closest
        val flips = transform(
          slice(sort_array(zip_with(col("_dots"), sequence(lit(0), lit(nBits - 1)),
            (d, i) => struct(abs(d).as("m"), i.as("i")))), 1, nProbe - 1),
          s => s("i").cast("int"))
        base.select(col("query_id"), col("_qv"),
          explode(concat(array(col("_b0")),
            transform(flips, i => col("_b0").bitwiseXOR(element_at(masks, i + 1)))))
            .as("_bucket"))
      }
    }

    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    t.join(broadcast(probed), "_bucket")
      .filter(col("neighbor_id") =!= col("query_id"))
      .dropDuplicates("query_id", "neighbor_id") // a neighbor may appear via several probes
      .withColumn("score", cosine(col("_qv"), col("_tv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
  }

  /** Per-plane dot products of a vector (the multiprobe margins) —
    * codegen'd kernel, since [[graft.operators.Dedup.embeddingNearDupsLsh]]
    * evaluates it per table row. */
  private[operators] def planeDots(vec: Column, planes: Seq[Seq[Double]]): Column =
    graft.functions.VectorKernels.planeDotsCol(vec, planes)

  // ---------------------------------------------------------------------
  // Product quantization (Jégou et al., TPAMI'11) — the compression
  // layer of IVF-PQ, the standard billion-scale ANN memory layout: a
  // D-dim vector splits into `m` subvectors, each quantized to its
  // nearest entry of a per-subspace codebook, so the stored
  // representation shrinks from D floats to m small codes and query
  // distances evaluate against codes (ADC), never raw vectors.
  // ---------------------------------------------------------------------

  /** Per-subspace codebooks from designated data rows (medoid-style
    * degenerate training, like [[ivfTopKSeeded]]): codebook j's entry
    * c is the j-th subvector of the row with the c-th smallest id in
    * `centroidIds` — deterministic and SQL-reproducible. Production
    * would per-subspace-KMeans a bounded sample instead (swap the
    * literals; the encode/search plans don't change).
    * Returns m × k × (dim/m) doubles. */
  def pqCodebooks(table: DataFrame, centroidIds: Seq[Long], m: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Seq[Seq[Seq[Double]]] = {
    val rows = table.filter(col(idCol).isin(centroidIds: _*))
      .select(col(idCol).cast("long"), col(vecCol)).collect() // k tiny rows
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).map(_.toDouble))
    val dim = rows.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    (0 until m).map(j => rows.map(r => r.slice(j * sub, (j + 1) * sub).toSeq).toSeq)
  }

  /** PQ-encode every vector: per subspace, the argmin-distance
    * codebook entry (ties to the lowest code — same kernel as IVF
    * assignment, run on the subvector). Output carries the original
    * vector, the code array, and its display string.
    *
    * Scale: pure per-row expression work against broadcast codebook
    * literals — ZERO shuffle; the encoded table is m bytes/vector. */
  def pqEncode(table: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    val codeCols = (0 until m).map { j =>
      graft.functions.VectorKernels.nearestCentroidCol(
        slice(col(vecCol), lit(j * sub + 1), lit(sub)), codebooks(j)).as(s"c$j")
    }
    table.select(col(idCol) +: col(vecCol).as("_v") +: codeCols: _*)
      .select(col(idCol), col("_v"),
        array((0 until m).map(j => col(s"c$j")): _*).as("codes"),
        concat_ws("-", (0 until m).map(j => col(s"c$j").cast("string")): _*)
          .as("code"))
  }

  /** ADC distance of a query vector column against a codes column —
    * per-subspace lookup distances summed in subspace order.
    *
    * Codegen'd kernel (r19, guide §4): the HOF/literal form (m ×
    * `aggregate(zip_with(slice(...)))` over nested array literals) was
    * INTERPRETED per (row × query) — at sf10 the suite's largest
    * zero-shuffle wall (q_vec_pq_search 14.3 s of pure per-task
    * compute). [[graft.functions.VectorKernels.pqAdcF]] runs the same
    * arithmetic as one primitive loop: per subspace, ascending-index
    * double accumulation of `((double) q[t] − cb[j][c_j][t])²`, then
    * subspace partial sums added first-to-last — the identical IEEE op
    * sequence, so distances stay bit-exact (the oracle hash-gates
    * them). */
  private def adcDist(codebooks: Seq[Seq[Seq[Double]]], qv: Column,
      codes: Column): Column =
    graft.functions.VectorKernels.pqAdcCol(qv, codes, codebooks)

  /** ADC (asymmetric distance computation) top-k: the query keeps its
    * exact vector; each table row is represented ONLY by its codes,
    * and the distance is Σ_j ‖q_subvec(j) − codebook[j][code_j]‖² —
    * summed in subspace order so the float result is reproducible.
    *
    * Scale: the scan side carries m codes per row (not D floats); the
    * query side is a broadcast handful. At billion scale this nests
    * inside IVF lists ([[ivfTopKWithCentroids]] probes, then ADC
    * instead of exact rerank) — composing the two is exactly this
    * method applied to a probed candidate set. */
  def pqTopK(table: DataFrame, queries: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
      k: Int, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val enc = pqEncode(table, codebooks, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("codes"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
    val adc = adcDist(codebooks, col("_qv"), col("codes"))
    val w = Window.partitionBy("query_id").orderBy(col("adc_dist"), col("neighbor_id"))
    enc.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_dist", adc)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "adc_dist")
  }

  // ---- 8-bit scalar quantization (the FAISS ScalarQuantizer QT_8bit
  //      shape): per-dimension uniform bins — 4× smaller than float32
  //      at far better fidelity than PQ, the standard first rung of
  //      the vector-compression ladder ----

  /** Train per-dimension [min, max] bounds over the corpus. Min/max
    * are order-independent exact float comparisons, so training over
    * ALL rows stays deterministic (no designated-row subset needed).
    * Scale: posexplode shuffles (dim, value) pairs but partial
    * aggregation collapses each map task to D rows before the wire;
    * the driver collects exactly D rows. */
  def sqTrain(table: DataFrame, vecCol: String = "embedding"): (Seq[Double], Seq[Double]) = {
    val mm = table.select(posexplode(col(vecCol)).as(Seq("_i", "_x")))
      .groupBy("_i").agg(min(col("_x").cast("double")).as("mn"),
        max(col("_x").cast("double")).as("mx"))
      .orderBy("_i").collect() // D tiny rows
    (mm.map(_.getDouble(1)).toSeq, mm.map(_.getDouble(2)).toSeq)
  }

  /** Encode every vector to one byte per dimension:
    * `floor((x − min_d) · 255 / (max_d − min_d))` clamped to [0, 255]
    * (constant-width dims encode as 0). Pure per-row expression work
    * against broadcast literal bounds — zero shuffle, and every
    * arithmetic step is reproducible in ANSI SQL (floor, not round:
    * round's half-case rule differs across engines). */
  def sqEncode(table: DataFrame, mins: Seq[Double], maxs: Seq[Double],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val mn = array(mins.map(lit): _*)
    val mx = array(maxs.map(lit): _*)
    val codes = transform(col(vecCol), (x, i) => {
      val lo = element_at(mn, i + 1)
      val hi = element_at(mx, i + 1)
      when(hi > lo,
        least(greatest(
          floor(((x.cast("double") - lo) * lit(255.0)) / (hi - lo)), lit(0.0)),
          lit(255.0)))
        .otherwise(lit(0.0)).cast("int")
    })
    table.select(col(idCol), codes.as("codes"))
  }

  /** Asymmetric squared-L2 of an exact query vector against a coded
    * row: codes reconstruct to their bin midpoints
    * `min_d + (c + 0.5) · (max_d − min_d) / 255`, and the per-dim
    * squared differences fold left-to-right in dimension order (the
    * same reproducible-sum discipline as [[pqTopK]]'s ADC). */
  private def sqDist(mins: Seq[Double], maxs: Seq[Double],
      qv: Column, codes: Column): Column = {
    val mn = array(mins.map(lit): _*)
    val mx = array(maxs.map(lit): _*)
    val recon = transform(codes, (c, i) => {
      val lo = element_at(mn, i + 1)
      val hi = element_at(mx, i + 1)
      lo + ((c.cast("double") + lit(0.5)) * ((hi - lo) / lit(255.0)))
    })
    aggregate(zip_with(qv, recon, (x, r) => {
      val d = x.cast("double") - r; d * d
    }), lit(0.0), (acc, x) => acc + x)
  }

  /** SQ8 top-k: the scan side carries D bytes per row instead of D
    * floats; queries keep exact vectors (asymmetric distance, like
    * ADC). Same shape as [[pqTopK]]: broadcast query side, per-query
    * window rank, ties to the lower neighbor id. At billion scale this
    * nests inside IVF lists exactly like PQ does. */
  def sqTopK(table: DataFrame, queries: DataFrame, mins: Seq[Double],
      maxs: Seq[Double], k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val enc = sqEncode(table, mins, maxs, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("codes"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
    val w = Window.partitionBy("query_id").orderBy(col("sq_dist"), col("neighbor_id"))
    enc.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sq_dist", sqDist(mins, maxs, col("_qv"), col("codes")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sq_dist")
  }

  /** Persist the IVF-PQ index as the next version of the index root
    * `dir` ([[IndexMaintenance.commitBuild]]): codes land in parquet
    * PARTITIONED BY coarse list id (`codes/<batch dir>/_list=N/`),
    * centroids and codebooks as tiny side tables — the on-disk inverted
    * file. A search probing `nProbe` lists then scans ONLY those
    * partitions (static partition pruning), which is what makes a
    * billion-vector index serve point queries without touching the
    * corpus: I/O per query is nProbe/nLists of the (already
    * m-bytes-per-vector) code table.
    *
    * The initial build is version 1, and retraining the frozen
    * quantizers — the remedy the drift tripwire
    * ([[IvfPqMaintenance.driftRatio]]) prescribes — is the same call
    * over the CURRENT corpus: fresh coarse centroids and PQ codebooks,
    * every vector re-encoded, a new drift baseline and an empty
    * tombstone log, built cold in a version dir and committed with one
    * claim. Readers are never torn between old codes and new
    * codebooks: a reader mid-search keeps the old version (on disk
    * until two later builds have committed), and later applies,
    * searches and compactions resolve the new one. Quiesce the
    * incremental applier across a retrain, or its in-flight delta is
    * lost to the rebuild input. Returns the committed version dir. */
  def writeIvfPqIndex(table: DataFrame, dir: String,
      coarseIds: Seq[Long], pqIds: Seq[Long], m: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): String =
    IndexMaintenance.commitBuild(table.sparkSession, dir) { v =>
      val cents = table.filter(col(idCol).isin(coarseIds: _*))
        .select(col(idCol).cast("long"), col(vecCol)).collect() // nLists tiny rows
        .sortBy(_.getLong(0))
        .map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
      val cbs = pqCodebooks(table, pqIds, m, idCol, vecCol)
      writeIvfPqIndexWith(table, v, cents, cbs, idCol, vecCol)
    }

  /** The index layout [[writeIvfPqIndex]] commits, written into `dir`,
    * with PRECOMPUTED quantizers — the layout writer shared by the
    * single build and the per-filter-partition builds (which must all
    * encode with the SAME centroids/codebooks so partition routing is
    * provably equivalent to id-filtered search — see
    * [[writePartitionedIvfPqIndex]]). The codes table is committed by
    * its first append. */
  private def writeIvfPqIndexWith(table: DataFrame, dir: String,
      cents: Seq[Seq[Double]], cbs: Seq[Seq[Seq[Double]]],
      idCol: String, vecCol: String): Unit = {
    val spark = table.sparkSession
    import spark.implicits._
    // `_seq = 0` is the LSM write-generation stamp: append-mode
    // maintenance stamps later generations and tombstones kill
    // strictly-older ones; compaction folds everything back to 0. One
    // file per list (the append's repartition)
    graft.sources.Sources.publishMergeAppend(spark, s"$dir/codes",
      pqEncode(table, cbs, idCol, vecCol)
        .select(col(idCol).as("_id"), col("codes"),
          graft.functions.VectorKernels.nearestCentroidCol(col("_v"), cents)
            .as("_list"))
        .withColumn("_seq", lit(0L)), "_list")
    cents.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("_list", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    cbs.zipWithIndex.flatMap { case (cb, j) =>
        cb.zipWithIndex.map { case (e, c) => (j, c, e) } }
      .toDF("subspace", "code", "entry")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    // quantizer-drift baseline: the build corpus's mean own-centroid
    // squared distance. Incremental applies compare their delta's mean
    // against it — frozen quantizers keep incremental ≡ rebuild exact,
    // but under a drifting feed recall decays SILENTLY (new vectors
    // land ever farther from every coarse centroid); this one number
    // is the tripwire (see applyIvfPqIndexChanges).
    val base = table.agg(
      avg(graft.functions.VectorKernels.minCentroidDistCol(col(vecCol), cents))
        .as("mean_dist"),
      count(lit(1)).cast("long").as("n"))
    graft.sources.Sources.publishSnapshot(base.coalesce(1), s"$dir/drift")
  }

  /** Query a persisted IVF-PQ index. The query set is collected to the
    * driver (searches are a broadcast handful by contract — the corpus
    * side is the index) to compute each query's `nProbe` nearest lists
    * and plant a STATIC `_list IN (...)` predicate, so the parquet
    * scan prunes to the probed partitions before any task launches. */
  def searchIvfPqIndex(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      queries: DataFrame, k: Int, nProbe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      allowedIds: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val dir = graft.sources.Sources.resolveSnapshot(spark, indexDir)
    val cents = spark.read.parquet(s"$dir/centroids").collect() // nLists tiny rows
      .map(r => r.getAs[Int]("_list") -> r.getSeq[Double](1))
      .sortBy(_._1).map(_._2.toSeq).toSeq
    val cbRows = spark.read.parquet(s"$dir/codebooks").collect() // m*k tiny rows
      .map(r => (r.getAs[Int]("subspace"), r.getAs[Int]("code"), r.getSeq[Double](2)))
    val cbs = cbRows.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3.toSeq).toSeq)

    // tiny query set by contract: probe selection runs driver-side so
    // the list predicate is static (= partition pruning, not a runtime
    // filter the scan can't see)
    val qRows = queries.select(col(idCol).cast("long"), col(vecCol)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
    def d2(v: Seq[Double], c: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { val d = v(i) - c(i); s += d * d; i += 1 }
      s
    }
    val probes = qRows.map { case (qid, v) =>
      qid -> cents.indices.map(i => (d2(v, cents(i)), i)).sorted.take(nProbe)
        .map(_._2)
    }
    val probed = probes.flatMap(_._2).distinct.sorted
    val qdf = probes.flatMap { case (qid, ls) => ls.map(l => (qid, l)) }
      .toSeq.toDF("query_id", "_list")
      .join(queries.select(col(idCol).cast("long").as("query_id"),
        col(vecCol).as("_qv")), "query_id")

    // the codes table is a merge table from its first write: the
    // reader resolves its manifest. The probed-list filter still
    // prunes statically: each manifest branch carries `_list` as a
    // partition column, so non-probed branches fold to empty scans.
    // append-maintained indexes carry live tombstones between
    // compactions — the kill join is delta-scale and broadcasts; a
    // clean (or legacy) index skips it entirely
    // metadata-filtered search (the filtered-ANN problem): the allowed
    // id set — produced by an arbitrary predicate over the corpus
    // table — PRE-filters the probed candidates via a broadcast semi
    // join, so the top-k ranks among allowed vectors only (exact
    // within the probed lists; POST-filtering the top-k would
    // silently return < k whenever the filter is selective). The set
    // must be shortlist-shaped (it broadcasts); for percent-scale
    // filters prefer partitioning the corpus on the filter column and
    // maintaining one index per partition.
    val allowFilter: DataFrame => DataFrame = allowedIds match {
      case None => identity
      case Some(ids) =>
        // exactly one column, by name if present: a multi-column frame
        // would silently filter on whatever happened to be first (and a
        // non-numeric first column casts to null → empty result, no
        // error) — fail loudly instead.
        require(ids.columns.length == 1 || ids.columns.contains(idCol),
          s"allowedIds must be a single-column id frame or carry '$idCol'; " +
            s"got columns [${ids.columns.mkString(", ")}]")
        val idc = if (ids.columns.contains(idCol)) idCol else ids.columns.head
        val allow = broadcast(
          ids.select(col(idc).cast("long").as("_id")).distinct())
        df => df.join(allow, "_id")
    }
    val codes = allowFilter(LsmTombstones.filterLive(spark, dir,
        graft.sources.Sources.readMergePartitioned(spark, s"$dir/codes", "_list"),
        "_id"))
      .filter(col("_list").isin(probed: _*))
    val adc = adcDist(cbs, col("_qv"), col("codes"))
    val w = Window.partitionBy("query_id").orderBy(col("adc_dist"), col("_id"))
    codes.join(broadcast(qdf), "_list")
      .filter(col("_id") =!= col("query_id"))
      .withColumn("adc_dist", adc)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("_id").as("neighbor_id"),
        col("adc_dist"))
  }

  /** Two-stage search with EXACT re-ranking (the standard refinement
    * step over a product-quantized index): stage 1 is
    * [[searchIvfPqIndex]] at `kCoarse` (ADC over the compressed
    * codes — cheap, approximate), stage 2 joins the shortlist back to
    * the CORPUS table for the true vectors and re-ranks by exact
    * squared L2, returning `k`. ADC error comes from quantization;
    * re-ranking a modestly larger shortlist recovers most of the
    * recall at the cost of reading kCoarse true vectors per query.
    *
    * Scale shape: the shortlist (queries × kCoarse rows) BROADCASTS
    * against the corpus scan, which prunes to (id, vector) — the
    * corpus is never shuffled; cost is one column-pruned scan + a
    * per-query top-k. `corpus` is the table of record the index was
    * built from (at 100 TB the vectors live there; the index stores
    * only codes). Composes with `allowedIds` (the filter applies in
    * stage 1, so the shortlist is already all-allowed). */
  def searchIvfPqIndexRefined(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, corpus: DataFrame, queries: DataFrame, k: Int,
      kCoarse: Int, nProbe: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding",
      allowedIds: Option[DataFrame] = None): DataFrame = {
    require(kCoarse >= k, s"kCoarse ($kCoarse) must be >= k ($k)")
    val short = searchIvfPqIndex(spark, indexDir, queries, kCoarse, nProbe,
        idCol, vecCol, allowedIds)
      .select("query_id", "neighbor_id")
    val nb = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).as("_nv"))
    val qv = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("_qv"))
    // exact squared L2, left-to-right double fold (bit-deterministic,
    // same order as the oracle's list_sum(list_transform(...)))
    val exact = aggregate(
      zip_with(col("_qv"), col("_nv"), (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }),
      lit(0.0), (acc, z) => acc + z)
    val w = Window.partitionBy("query_id").orderBy(col("exact_dist"), col("neighbor_id"))
    nb.join(broadcast(short), "neighbor_id")
      .join(broadcast(qv), "query_id")
      .withColumn("exact_dist", exact)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("exact_dist"))
  }

  /** Outcome of one [[applyIvfPqIndexChanges]] application.
    * `driftRatio` is the quantizer-drift tripwire: the delta's mean
    * own-centroid squared distance over the BUILD corpus's stored mean
    * (None when the apply added nothing or the index predates the
    * baseline). ~1 means the feed still looks like the training
    * distribution; past [[DriftWarnRatio]] the apply WARNs — the
    * frozen quantizers still encode exactly (incremental ≡ rebuild
    * holds per quantizer generation), but recall against such vectors
    * decays silently, and the remedy is the documented offline
    * retrain: [[writeIvfPqIndex]] over the current corpus with fresh
    * centroids/codebooks into the same index root, then resume
    * incremental maintenance against the new version. */
  final case class IvfPqMaintenance(removed: Long, added: Long,
      driftRatio: Option[Double] = None)

  /** Drift ratio past which an apply logs a WARN (2× the build's mean
    * own-centroid distance — far outside same-distribution noise for
    * any corpus a coarse quantizer fits usefully). */
  val DriftWarnRatio: Double = 2.0

  private val IvfPqTables = Seq("codes" -> "_list")

  /** The automated compaction trigger (VERDICT r14 #2): compact when
    * the index is past `policy`'s generation/tombstone thresholds,
    * no-op otherwise. Returns (pre-maintenance health, compacted?). */
  def maintainIvfPqIfNeeded(spark: org.apache.spark.sql.SparkSession,
      dir: String,
      policy: IndexMaintenance.MaintenancePolicy =
        IndexMaintenance.MaintenancePolicy()):
      (IndexMaintenance.IndexHealth, Boolean) = {
    val live = graft.sources.Sources.resolveSnapshot(spark, dir)
    IndexMaintenance.maintainIfNeeded(spark, live, IvfPqTables, policy)(
      compactIvfPqIndex(spark, live))
  }

  /** Incremental maintenance of a persisted IVF-PQ index — apply a
    * row-level change feed (the [[graft.sources.Sources.mergeRowChangesSince]]
    * shape: `_change ∈ {new, updated, orphaned}`) WITHOUT rebuilding:
    * at 100 TB the code table is the compressed corpus and a rebuild
    * per ingest batch re-encodes a billion vectors to admit a few
    * thousand.
    *
    * The quantizers are FROZEN: coarse centroids and PQ codebooks are
    * read back from the index side tables and never retrained — the
    * standard production posture (requantization is a periodic offline
    * rebuild; the delta path only encodes). That is also what makes
    * incremental ≡ rebuild provable: with fixed quantizers, the final
    * code table is a pure per-row function of the final corpus, so
    * applying a feed must produce bit-for-bit the table a fresh
    * [[writeIvfPqIndex]] over the post-change corpus would
    * (IncrementalIvfPqSpec pins this, and the DuckDB gate replays it).
    *
    * Mechanics — the codes table IS a merge table, committed by the
    * build's first write:
    *  1. every changed id's CURRENT rows are located with the
    *     bloom/bulk keyed read
    *     ([[graft.sources.Sources.readMergePartitionedKeyedFrame]] —
    *     a column-pruned `(_id, _list)` lookup that never collects
    *     data-proportionally; run
    *     [[graft.sources.Sources.indexBatchKeys]] on the codes dir to
    *     give point lookups bloom-sidecar dir skipping);
    *  2. they are retracted via a row-level DELETE publish — delete
    *     FIRST, so an updated vector whose new embedding lands in a
    *     different coarse list can never leave a stale code behind in
    *     its old one;
    *  3. `new`/`updated` payloads are encoded with the frozen
    *     quantizers and merge-published into their lists.
    * Each publish commits with one claim; a reader between the two
    * commits sees a valid index temporarily missing the in-flight
    * vectors (the usual ANN freshness contract), never a torn
    * partition. Untouched list partitions keep their files
    * byte-identical; cost per batch is the touched lists' size, never
    * the table. Re-applying the same feed is idempotent
    * (remove-then-add by key). Readers get the maintained table
    * transparently: [[searchIvfPqIndex]] resolves the manifest.
    *
    * `changes` must carry `idCol`, `vecCol`, `changeCol`; `orphaned`
    * rows need only the id. Returns the removed/added row counts.
    *
    * Two maintenance modes, picked by delta shape (both measured —
    * SCALING.md round 14):
    *  - `"rewrite"` (default): retract-by-delete-publish + upsert —
    *    touched list partitions are REWRITTEN, the table is always
    *    compact, and the result is bit-for-bit the rebuild state.
    *    Right for low-fanout deltas (point deletes, a few lists).
    *  - `"append"`: log-structured — the changed ids are tombstoned
    *    at the next write generation and the re-encoded rows APPENDED
    *    in a new batch dir ([[graft.sources.Sources.publishMergeAppend]]);
    *    NOTHING is read or rewritten, so a full-fanout delta costs
    *    the delta, not the table. Reads stay correct through the
    *    broadcast tombstone kill; [[compactIvfPqIndex]] folds the log
    *    back to the bit-exact rebuild state. In this mode `removed`
    *    reports the ids tombstoned (the retraction intent), not a
    *    located row count — locating them is exactly the read this
    *    mode exists to skip. */
  def applyIvfPqIndexChanges(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, changes: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", changeCol: String = "_change",
      mode: String = "rewrite"): IvfPqMaintenance = {
    // resolve the live version first: after a retrain
    // ([[writeIvfPqIndex]]) maintenance continues against the NEW
    // quantizers/tombstone log transparently
    val dir = graft.sources.Sources.resolveSnapshot(spark, indexDir)
    val codesDir = s"$dir/codes"
    val cfg = graft.types.TableConfig("ivfpq_codes", Seq("_id"), Seq.empty)
    require(mode == "rewrite" || mode == "append",
      s"applyIvfPqIndexChanges: unknown mode '$mode' (rewrite|append)")

    val kinds = changes.select(changeCol).distinct().collect().map(_.getString(0)).toSet
    val unknown = kinds -- Set("new", "updated", "orphaned")
    require(unknown.isEmpty,
      s"applyIvfPqIndexChanges: unknown $changeCol value(s) ${unknown.mkString(", ")} " +
        "(expected new/updated/orphaned)")

    val ids = changes.select(col(idCol).as("_id")).distinct()
    val adds = changes.filter(col(changeCol).isin("new", "updated"))

    lazy val cents: Seq[Seq[Double]] =
      spark.read.parquet(s"$dir/centroids").collect() // nLists tiny rows
        .map(r => r.getAs[Int]("_list") -> r.getSeq[Double](1))
        .sortBy(_._1).map(_._2.toSeq).toSeq

    def encoded(seq: Long): DataFrame = {
      val cbRows = spark.read.parquet(s"$dir/codebooks").collect() // m*k tiny rows
        .map(r => (r.getAs[Int]("subspace"), r.getAs[Int]("code"), r.getSeq[Double](2)))
      val cbs = cbRows.groupBy(_._1).toSeq.sortBy(_._1)
        .map(_._2.sortBy(_._2).map(_._3.toSeq).toSeq)
      pqEncode(adds, cbs, idCol, vecCol)
        .select(col(idCol).as("_id"), col("codes"),
          graft.functions.VectorKernels.nearestCentroidCol(col("_v"), cents)
            .as("_list"))
        .withColumn("_seq", lit(seq))
    }

    // quantizer-drift tripwire (see IvfPqMaintenance.driftRatio): the
    // delta's mean own-centroid distance vs the stored build baseline.
    // One tiny agg over the delta; skipped for delete-only feeds and
    // indexes predating the baseline snapshot.
    def driftOf(nAdds: Long): Option[Double] = {
      if (nAdds == 0L ||
          !graft.sources.Sources.snapshotExists(spark, s"$dir/drift"))
        return None
      val base = graft.sources.Sources.readSnapshot(spark, s"$dir/drift")
        .first().getDouble(0)
      if (!(base > 0.0)) return None // degenerate corpus: every vector a centroid
      val m = adds.agg(
        avg(graft.functions.VectorKernels.minCentroidDistCol(col(vecCol), cents)))
        .first().getDouble(0)
      val ratio = m / base
      if (ratio > DriftWarnRatio) log.warn(
        f"IVF-PQ index $dir: apply drift ratio $ratio%.2f exceeds " +
          f"$DriftWarnRatio (delta mean own-centroid dist $m%.4g vs build " +
          f"$base%.4g) — the frozen quantizers no longer fit the feed; " +
          "schedule an offline retrain (writeIvfPqIndex over the current " +
          "corpus into the index root)")
      Some(ratio)
    }

    if (mode == "append") {
      val n = LsmTombstones.nextSeq(spark, dir)
      val nAdds = adds.count()
      LsmTombstones.append(spark, dir, ids, "_id", n)
      if (nAdds > 0) {
        graft.sources.Sources.publishMergeAppend(spark, codesDir, encoded(n), "_list")
        // bloom sidecar on the just-appended batch dir (idempotent):
        // the first rewrite-mode apply after the next compaction — and
        // any keyed audit read meanwhile — dir-skips it (VERDICT r14 #3)
        graft.sources.Sources.indexBatchKeys(spark, codesDir, "_id", fpp = graft.sources.Sources.BatchLookupFpp): Unit
      }
      // listing-only degradation check: loud when nobody is running
      // the compaction trigger (see IndexMaintenance)
      IndexMaintenance.warnIfDegraded(spark, dir, IvfPqTables,
        IndexMaintenance.MaintenancePolicy())
      val removed = ids.count()
      IvfPqMaintenance(removed, nAdds, driftOf(nAdds))
    } else {
      require(LsmTombstones.isEmpty(spark, dir),
        "applyIvfPqIndexChanges(mode=rewrite): index has live tombstones from " +
          "append-mode maintenance — run compactIvfPqIndex first (a rewrite " +
          "against raw appended content would resurrect dead rows)")
      // locate old rows of every changed id (new ids simply miss) —
      // the retraction set, with the partition values the delete needs
      val oldRows = graft.sources.Sources
        .readMergePartitionedKeyedFrame(spark, codesDir, "_list", "_id", ids)
        .select("_id", "_list")
        .localCheckpoint(false) // pin: the delete publish swaps the manifest under it
      val removed = graft.sources.Sources
        .publishMergeDeletes(spark, codesDir, oldRows, cfg, "_list")
      val nAdds = adds.count()
      if (nAdds > 0)
        graft.sources.Sources
          .publishMergePartitioned(spark, codesDir, encoded(0L), cfg, "_list"): Unit
      IvfPqMaintenance(removed, nAdds, driftOf(nAdds))
    }
  }

  /** Fold an append-maintained index back to the compact, bit-exact
    * rebuild state: tombstone kills applied, every partition one dir,
    * tombstones cleared. The full-pass cost is the amortized price of
    * the delta-proportional applies (Lucene's segment merge, an LSM
    * major compaction); production runs it on a segment-count/size
    * trigger, per partition group if desired. Folded rows are stamped
    * `_seq = ` the max consumed tombstone seq (never 0) so a reader
    * between the fold publish and the tombstone clear keeps every
    * compacted row live — see [[LexicalIndex.compactBm25Index]] for
    * the full compaction-visibility contract; it is identical here. */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit = {
    val dir = graft.sources.Sources.resolveSnapshot(spark, indexDir)
    if (!LsmTombstones.exists(spark, dir)) return
    val foldSeq = LsmTombstones.maxLiveSeq(spark, dir)
    val codesDir = s"$dir/codes"
    // transactional fold (r16): basis pinned before the read — a rival
    // apply landing mid-fold refuses the compaction, never folds away
    val basis = graft.sources.Sources.mergeCommittedVersion(spark, codesDir)
    val raw = graft.sources.Sources.readMergePartitioned(spark, codesDir, "_list")
    val live = LsmTombstones.filterLive(spark, dir, raw, "_id")
      .withColumn("_seq", lit(foldSeq))
      .localCheckpoint(false) // pin: the replace publish prunes dirs under it
    require(live.limit(1).count() > 0,
      "compactIvfPqIndex: every row is tombstoned — rebuild the index instead")
    val parts = raw.select("_list").distinct().collect().map(_.get(0)).toSeq // ≤ nLists
    graft.sources.Sources.publishMergeReplace(spark, codesDir, live, "_list", parts,
      basisVersion = if (basis > 0) Some(basis) else None)
    LsmTombstones.clear(spark, dir, foldSeq)
    // bloom sidecars on the folded dirs: rewrite-mode discovery's
    // keyed read then dir-skips (see Sources.indexBatchKeys)
    graft.sources.Sources.indexBatchKeys(spark, codesDir, "_id", fpp = graft.sources.Sources.BatchLookupFpp): Unit
  }

  /** LIVE logical state of the code table — index version
    * resolved, tombstone kills applied: `(_id, codes, _list)`. The SQL
    * read surface ([[graft.GraftSql.registerIvfPqIndex]]); probed-list
    * static pruning stays on the [[searchIvfPqIndex]] path. */
  def ivfPqCodesLive(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame = {
    val dir = graft.sources.Sources.resolveSnapshot(spark, indexDir)
    LsmTombstones.filterLive(spark, dir,
      graft.sources.Sources.readMergePartitioned(spark, s"$dir/codes", "_list"),
      "_id")
      .select("_id", "codes", "_list")
  }

  /** The index's coarse centroids `(_list, centroid)`, generation-
    * resolved — nLists tiny rows. */
  def ivfPqCentroidsLive(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame =
    spark.read.parquet(
      s"${graft.sources.Sources.resolveSnapshot(spark, indexDir)}/centroids")

  /** The index's PQ codebooks `(subspace, code, entry)`, generation-
    * resolved — m·k tiny rows. */
  def ivfPqCodebooksLive(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame =
    spark.read.parquet(
      s"${graft.sources.Sources.resolveSnapshot(spark, indexDir)}/codebooks")

  // ───────────── per-filter-partition indexes (round 16) ─────────────

  /** Cardinality cap for the partitioned-index family: the partition
    * values of one table are a driver-side list (index routing,
    * build fan-out), so the filter column must be low-cardinality by
    * contract — language, source, license class. Loud, not silent. */
  val MaxIndexPartitions: Int = 4096

  private def partSeg(filterCol: String, v: Any): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    require(v != null, "partitioned index: null filter value — route null " +
      "rows to an explicit sentinel value first")
    val s = String.valueOf(v)
    require(s.nonEmpty && ExternalCatalogUtils.escapePathName(s) == s,
      s"partitioned index: filter value '$s' does not round-trip Spark's " +
        "partition-path encoding — use a path-safe filter value")
    s"$filterCol=$s"
  }

  /** PERCENT-SCALE filtered ANN (VERDICT r15 #3): one IVF-PQ index per
    * value of a low-cardinality filter column, all encoded with ONE
    * shared set of quantizers trained on the whole corpus.
    *
    * [[searchIvfPqIndex]]'s `allowedIds` contract covers
    * shortlist-shaped filters only (the id set broadcasts); a
    * 10%-selective predicate over a 100 TB corpus has no broadcastable
    * id set. Partitioning the corpus on the filter column and
    * maintaining one index per partition turns that filter into pure
    * ROUTING: a search with `filterValues` fans out to exactly the
    * matching partition indexes and merges per-query top-k — no id
    * set is ever materialized, and non-matching partitions are never
    * opened.
    *
    * The SHARED quantizers are what make routing provably correct:
    * with identical centroids every partition search probes the same
    * coarse lists for a query, and with identical codebooks the ADC
    * distances are bit-identical — so the merged result equals
    * [[searchIvfPqIndex]] over a monolithic index with the partition
    * membership as `allowedIds`, exactly (IncrementalIvfPqSpec pins
    * the equivalence; the q_vec_ivfpq_partitioned oracle re-derives
    * it from the corpus). A per-partition retrain would break that
    * equivalence AND cross-partition comparability — retrain is a
    * root-level operation here (rebuild all partitions, one committed
    * version per partition root).
    *
    * Layout: `rootDir/<filterCol>=<value>/` each a full standalone
    * index root (its build committed as version 1, with its own
    * codes/centroids/codebooks/drift/tombstones), so every
    * maintenance entry point — [[applyIvfPqIndexChanges]],
    * [[compactIvfPqIndex]], generations — works per partition
    * unchanged. Returns the partition values written. */
  def writePartitionedIvfPqIndex(table: DataFrame, rootDir: String,
      filterCol: String, coarseIds: Seq[Long], pqIds: Seq[Long], m: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): Seq[String] = {
    val cents = table.filter(col(idCol).isin(coarseIds: _*))
      .select(col(idCol).cast("long"), col(vecCol)).collect() // nLists tiny rows
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val cbs = pqCodebooks(table, pqIds, m, idCol, vecCol)
    // driver-bounded: distinct VALUES of a low-cardinality column
    val values = table.select(col(filterCol)).distinct()
      .limit(MaxIndexPartitions + 1).collect().map(_.get(0))
    require(values.length <= MaxIndexPartitions,
      s"writePartitionedIvfPqIndex: > $MaxIndexPartitions distinct " +
        s"'$filterCol' values — that is not a routing column; partition on " +
        "a coarser attribute")
    // disjoint per-partition builds → family pool (VERDICT r16 #5)
    IndexMaintenance.inParallel(values.toSeq) { v =>
      val seg = partSeg(filterCol, v)
      IndexMaintenance.commitBuild(table.sparkSession, s"$rootDir/$seg")(
        writeIvfPqIndexWith(table.filter(col(filterCol) === lit(v)), _, cents, cbs,
          idCol, vecCol)): Unit
      seg
    }
  }

  /** Search a [[writePartitionedIvfPqIndex]] family: fan out to the
    * partitions named by `filterValues`, merge per-query top-k. Each
    * branch is an independent [[searchIvfPqIndex]] plan (static
    * probed-list pruning intact); the merge re-ranks the union by the
    * same (adc_dist, neighbor_id) order, so the result is exactly the
    * monolithic filtered search. A value with no partition dir fails
    * loudly — silence would make a typo'd filter look like an empty
    * corpus slice. */
  def searchPartitionedIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      rootDir: String, filterCol: String, filterValues: Seq[Any],
      queries: DataFrame, k: Int, nProbe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(filterValues.nonEmpty, "searchPartitionedIvfPqIndex: empty " +
      "filter — search the partitions you mean, or keep one unpartitioned " +
      "index for unfiltered search")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(rootDir), spark.sparkContext.hadoopConfiguration)
    val branches = filterValues.map { v =>
      val seg = partSeg(filterCol, v)
      val d = s"$rootDir/$seg"
      require(fs.exists(new org.apache.hadoop.fs.Path(d)),
        s"searchPartitionedIvfPqIndex: no index partition at $d — unknown " +
          s"'$filterCol' value '$v'")
      searchIvfPqIndex(spark, d, queries, k, nProbe, idCol, vecCol)
    }
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_dist"), col("neighbor_id"))
    branches.reduce(_ unionByName _)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("adc_dist"))
  }

  /** Route a row-level change feed to the partition indexes it
    * touches: one [[applyIvfPqIndexChanges]] per distinct `filterCol`
    * value in the delta (driver-bounded by the routing-column
    * cardinality contract). Rows must carry their CURRENT partition
    * value; a row whose filter value itself changed is two feed
    * entries — `orphaned` under the old value, `new` under the new —
    * the standard CDC contract for partitioned derived state. */
  def applyPartitionedIvfPqIndexChanges(
      spark: org.apache.spark.sql.SparkSession, rootDir: String,
      filterCol: String, changes: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", changeCol: String = "_change",
      mode: String = "rewrite"): Map[String, IvfPqMaintenance] = {
    val values = changes.select(col(filterCol)).distinct()
      .limit(MaxIndexPartitions + 1).collect().map(_.get(0))
    require(values.length <= MaxIndexPartitions,
      s"applyPartitionedIvfPqIndexChanges: > $MaxIndexPartitions distinct " +
        s"'$filterCol' values in one delta")
    // each branch applies to its own disjoint partition-index dir
    // (tombstone discipline per dir): a full-fan-out delta at the
    // partition cap was thousands of SERIAL multi-job applies —
    // route them through the bounded family pool instead
    IndexMaintenance.inParallel(values.toSeq) { v =>
      val seg = partSeg(filterCol, v)
      seg -> applyIvfPqIndexChanges(spark, s"$rootDir/$seg",
        changes.filter(col(filterCol) === lit(v)), idCol, vecCol, changeCol,
        mode)
    }.toMap
  }

  /** Maintain a [[writePartitionedIvfPqIndex]] FAMILY from a stream:
    * every micro-batch is routed per filter value
    * ([[applyPartitionedIvfPqIndexChanges]], append mode) and the
    * compaction trigger runs on each TOUCHED partition index — plus on
    * every partition when a batch is empty, so a quiet stream still
    * compacts an index left over threshold. Same exactly-once
    * composition as [[ivfPqIndexSink]] (checkpoint + idempotent
    * append re-apply); the stream must be the family's single logical
    * writer. Offline per-family rebuilds (a retrain of every
    * partition, one committed version each) between micro-batches are
    * picked up transparently — each partition dir resolves its own
    * live version per apply. */
  def partitionedIvfPqIndexSink(changes: DataFrame, rootDir: String,
      filterCol: String, checkpointDir: String, idCol: String = "vec_id",
      vecCol: String = "embedding", changeCol: String = "_change",
      maintain: Option[IndexMaintenance.MaintenancePolicy] =
        Some(IndexMaintenance.MaintenancePolicy())):
      org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val touched = applyPartitionedIvfPqIndexChanges(spark, rootDir,
          filterCol, batch, idCol, vecCol, changeCol, mode = "append").keys.toSeq
        maintain.foreach { p =>
          val segs =
            if (touched.nonEmpty) touched
            else { // quiet batch: sweep every partition index
              val fs = org.apache.hadoop.fs.FileSystem.get(
                new java.net.URI(rootDir), spark.sparkContext.hadoopConfiguration)
              val root = new org.apache.hadoop.fs.Path(rootDir)
              if (!fs.exists(root)) Seq.empty
              else fs.listStatus(root).toSeq.collect {
                case st if st.isDirectory &&
                    st.getPath.getName.startsWith(s"$filterCol=") =>
                  st.getPath.getName
              }
            }
          IndexMaintenance.inParallel(segs)(seg =>
            maintainIvfPqIfNeeded(spark, s"$rootDir/$seg", p)): Unit
        }
      }
      .start()

  /** Maintain the vector index FROM A STREAM — the IVF-PQ twin of
    * [[LexicalIndex.bm25IndexSink]]: every micro-batch of the
    * embedding change feed is one append-mode
    * [[applyIvfPqIndexChanges]] under a real checkpointed
    * StreamingQuery, with the compaction trigger run per batch. The
    * exactly-once composition is identical: checkpoint makes batch
    * REPLAY the failure mode, and an append-mode re-apply is logically
    * idempotent through the tombstone discipline (same ids re-killed
    * at the next generation, identical frozen-quantizer codes
    * re-inserted). Versions resolve per micro-batch, so an offline
    * retrain ([[writeIvfPqIndex]] into the root) between batches is
    * picked up transparently.
    * The stream must be the index's single logical writer
    * ([[LsmTombstones]]), which the checkpointed query naturally is. */
  def ivfPqIndexSink(changes: DataFrame, dir: String, checkpointDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      changeCol: String = "_change",
      maintain: Option[IndexMaintenance.MaintenancePolicy] =
        Some(IndexMaintenance.MaintenancePolicy())):
      org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // no isEmpty pre-check: it cost an extra Spark job per
        // micro-batch, and skipping the maintenance trigger on quiet
        // batches meant an over-threshold index never compacted on an
        // idle stream. applyIvfPqIndexChanges handles empty change
        // sets; maintainIvfPqIfNeeded is cheap listing-based health.
        applyIvfPqIndexChanges(batch.sparkSession, dir, batch,
          idCol, vecCol, changeCol, mode = "append"): Unit
        maintain.foreach(p => maintainIvfPqIfNeeded(
          batch.sparkSession, dir, p): Unit)
      }
      .start()
}
