package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite for training-data pipelines: exact, word-n-gram
  * Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design (the part that matters at 100 TB):
  *  - exact dedup is a hash-groupBy on a 128-bit fingerprint — one
  *    shuffle of (fingerprint, id), never the text;
  *  - n-gram Jaccard joins on shingles, so pair candidates are bounded
  *    by posting-list sizes, not |docs|²;
  *  - MinHash+LSH shuffles only (band_idx, band_hash, id) tuples —
  *    constant bytes per doc regardless of doc length — and verifies
  *    candidates with an exact Jaccard join;
  *  - SimHash reduces each doc to 64 bits per row (no shuffle), then
  *    finds near pairs by banding the fingerprint into 16-bit chunks
  *    (any pair within Hamming ≤ 3 shares at least one intact chunk).
  */
object Dedup {

  import TextAnalysis.{fingerprint, tokens}

  /** Hash family used by the sketching paths (MinHash, SimHash).
    *
    *  - [[Fast]]: xxhash64 — one 64-bit hash per token/shingle, the
    *    throughput choice.
    *  - [[Portable]]: a 56-bit value parsed from the first 14 hex chars
    *    of md5, with a second independent 53-bit word from the next 14
    *    — bit-reproducible in ANSI SQL (DuckDB:
    *    `('0x' || substr(md5(s), 1, 14))::BIGINT`), so the driver's
    *    DuckDB oracle can recompute the ENTIRE sketch pipeline and
    *    hash-gate it. All arithmetic stays strictly inside signed-64
    *    range (no wrapping, which DuckDB would reject). ~md5-vs-xxhash
    *    cost per token, same shuffle shape.
    */
  sealed trait HashMode
  case object Fast extends HashMode
  case object Portable extends HashMode

  /** Edge-count ceiling below which [[collapseNearDuplicates]] solves
    * components with a single driver-side union-find pass instead of
    * the distributed min-label loop (4M edges ≈ 64 MB — the same order
    * as a broadcast-join build side). Named so profiling tools that
    * report which solve path a run took reference THIS value rather
    * than duplicating the literal (ADVICE r13). */
  val DefaultMaxLocalEdges: Long = 4000000L

  /** Estimated-size ceiling (plan-stats bytes) below which
    * [[incrementalMinhashDedup]] BROADCASTS the accumulated signature
    * table into its two per-pair signature-fetch joins instead of
    * sort-merge-joining them (r19, guide §3.1/§8): under the bound the
    * candidate pairs never cross an exchange carrying a 64-long array.
    * Sizing: store side measured as parquet plan-stats bytes (64-bit
    * minhash minima barely compress, so compressed ≈ raw), batch side
    * as exact rows × the 576-byte signature row — at 256 MB the BUILT
    * relation is ~300 MB, inside guide §3.1's
    * "few hundred MB is usually fine" and far under the 8 GB / 512M
    * row broadcast cap (the bound is a MEMORY constant per executor,
    * not a scale fraction — hence a byte ceiling, not a row ratio).
    * A/B at sf10 (store grown to ~230 MB estimated by the last
    * cycle): shuffle write 3 238 → 2 575 MB. Above the bound (a
    * 100 TB-corpus store) or on estimation failure the r18 sort-merge
    * shape runs unchanged. Join strategy only — output identical. */
  val MinhashSigBroadcastBytes: Long = 256L * 1024 * 1024

  /** First 56 bits of md5 as a non-negative BIGINT (see [[Portable]]). */
  private def md5h56(c: Column): Column =
    conv(substr(md5(c), lit(1), lit(14)), 16, 10).cast("long")

  /** Independent second word: hex chars 15-28, reduced mod 2^53 so
    * `h1 + i * h2m` stays < 2^60 for i ≤ 63. */
  private def md5h53(c: Column): Column =
    conv(substr(md5(c), lit(15), lit(14)), 16, 10).cast("long") % lit(1L << 53)

  /** First-wins keyed dedup (reference semantics made deterministic:
    * min id survives — `subject_id_resolver.py:150-161` note in
    * SURVEY.md §2.7). */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy("_fp").orderBy(col(idCol))
    df.withColumn("_fp", fingerprint(col(textCol)))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_fp", "_rn")
  }

  /** Distinct word n-gram shingles per document: (id, shingle).
    * Shingle construction is a codegen'd kernel
    * ([[graft.functions.WordShingles]]) — the HOF form paid
    * interpreted-lambda time per token on every document. */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val t = tokens(col(textCol))
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("_id"), t.as("_t"))
      .filter(size(col("_t")) >= n)
      .select(col("_id"),
        explode(graft.functions.VectorKernels.wordShinglesCol(col("_t"), n))
          .as("shingle"))
  }

  /** Pairwise n-gram Jaccard over shingle-sharing candidates:
    * (id_a, id_b, n_common, n_a, n_b, jaccard) with jaccard ≥ threshold
    * and id_a < id_b.
    *
    * `maxPostingList` (0 = off, the exact default) drops shingles shared
    * by more than that many documents BEFORE the self-join: one stopword
    * 3-gram shared by 1M docs would otherwise contribute 10¹² candidate
    * pairs on its own. Capping makes `n_common` (and thus jaccard) an
    * underestimate for pairs that only share hot shingles — at scale
    * that is the right trade (hot shingles carry no signal), but it
    * diverges from the exact oracle, so it is opt-in. */
  // NOTE (r18, negative result worth keeping): rank-encoding the
  // shingle column (distinct vocabulary sort + zipWithIndex + mapping
  // join, as jaccardPairsPrefix does) was MEASURED on this family at
  // sf10 and REGRESSED shuffle write 11-47% (ngram 2318 → 3397 MB,
  // containment 2516 → 3668, minhash verify 3822 → 4232 / 1924 →
  // 2731): the posting self-join reuses one exchange for its two
  // sides, so the encode's full-table mapping join + near-unique-
  // vocabulary string sort cost MORE than the one string shuffle it
  // replaced. The prefix variant keeps the encoding because its df
  // ordering already paid the by-shingle shuffle and its per-doc
  // ARRAYS amortize it (7545 → 3355 MB, 0.44×). Measure, don't assume
  // (guide §1.1).
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
      threshold: Double, maxPostingList: Int = 0): DataFrame = {
    // lazy localCheckpoint: the shingle scan feeds three consumers
    // (sizes, a, b); the first stage to touch it materializes the
    // blocks (per-partition block locks make racing scans wait, not
    // recompute) and the plan is truncated — no separate count job
    val allSh = shingles(df, idCol, textCol, n)
      .localCheckpoint(false)
    val sh =
      if (maxPostingList <= 0) allSh
      else {
        val posting = allSh.groupBy("shingle").agg(count(lit(1)).as("_plen"))
          .filter(col("_plen") <= maxPostingList)
        allSh.join(posting, Seq("shingle")).drop("_plen")
      }
    val sizes = allSh.groupBy("_id").agg(count(lit(1)).as("_n"))
    val a = sh.select(col("_id").as("id_a"), col("shingle"))
    val b = sh.select(col("_id").as("id_b"), col("shingle"))
    val common = a.join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("_id").as("id_a"), col("_n").as("n_a")), "id_a")
      .join(sizes.select(col("_id").as("id_b"), col("_n").as("n_b")), "id_b")
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
  }

  /** Asymmetric CONTAINMENT pairs: `C(inner→outer) =
    * |shingles(inner) ∩ shingles(outer)| / |shingles(inner)|` — the
    * subset/quote detector symmetric Jaccard misses (a paragraph
    * quoted inside a long document has tiny Jaccard but containment
    * ≈ 1; dedup pipelines drop or link such near-subsets). Same
    * posting-list candidate join as [[jaccardPairs]] (cost bounded by
    * docs sharing shingles, hot-shingle cap available), n_common
    * computed once per unordered pair, then BOTH directions tested —
    * one output row per passing direction:
    * `(id_inner, id_outer, n_common, n_inner, n_outer, containment)`. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
      threshold: Double, maxPostingList: Int = 0): DataFrame = {
    // string shingles by MEASUREMENT — see the jaccardPairs note (r18)
    val allSh = shingles(df, idCol, textCol, n)
      .localCheckpoint(false)
    val sh =
      if (maxPostingList <= 0) allSh
      else {
        val posting = allSh.groupBy("shingle").agg(count(lit(1)).as("_plen"))
          .filter(col("_plen") <= maxPostingList)
        allSh.join(posting, Seq("shingle")).drop("_plen")
      }
    val sizes = allSh.groupBy("_id").agg(count(lit(1)).as("_n"))
    val a = sh.select(col("_id").as("id_a"), col("shingle"))
    val b = sh.select(col("_id").as("id_b"), col("shingle"))
    val common = a.join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("_id").as("id_a"), col("_n").as("n_a")), "id_a")
      .join(sizes.select(col("_id").as("id_b"), col("_n").as("n_b")), "id_b")
    val ab = common.select(
      col("id_a").as("id_inner"), col("id_b").as("id_outer"),
      col("n_common"), col("n_a").as("n_inner"), col("n_b").as("n_outer"),
      (col("n_common").cast("double") / col("n_a").cast("double")).as("containment"))
    val ba = common.select(
      col("id_b").as("id_inner"), col("id_a").as("id_outer"),
      col("n_common"), col("n_b").as("n_inner"), col("n_a").as("n_outer"),
      (col("n_common").cast("double") / col("n_b").cast("double")).as("containment"))
    ab.unionByName(ba).filter(col("containment") >= threshold)
  }

  /** Collapse SAFETY report: a near-dup cluster built by connected
    * components can be a CLIQUE (every member similar to every other
    * — collapse with confidence) or a CHAIN (A~B~C where A and C
    * share nothing — the classic transitive false-collapse). Per
    * multi-member cluster: member/edge/triangle counts, edge density
    * `E / C(n,2)`, and a `safe` verdict at `minDensity` — the
    * pre-collapse audit a production dedup pipeline runs before
    * deleting documents. Costs the CC labeling plus two joins of the
    * (small) pair/triangle sets against the label table; the corpus
    * itself is never touched. */
  def collapseSafety(docs: DataFrame, pairs: DataFrame, idCol: String,
      minDensity: Double = 0.6): DataFrame = {
    val collapsed = collapseNearDuplicates(docs, pairs, idCol)
      .select(col(idCol), col("cluster_id"))
    val members = collapsed.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") >= 2)
    val edgeC = pairs.select(col("id_a"))
      .join(collapsed.withColumnRenamed(idCol, "id_a"), "id_a")
      .groupBy("cluster_id").agg(count(lit(1)).as("n_edges"))
    val triC = GraphRank.triangles(pairs).select(col("id_a"))
      .join(collapsed.withColumnRenamed(idCol, "id_a"), "id_a")
      .groupBy("cluster_id").agg(count(lit(1)).as("n_triangles"))
    members
      .join(edgeC, Seq("cluster_id"), "left")
      .join(triC, Seq("cluster_id"), "left")
      .select(col("cluster_id"), col("n_members"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("density",
        col("n_edges").cast("double") /
          expr("n_members * (n_members - 1) div 2").cast("double"))
      .withColumn("safe", col("density") >= lit(minDensity))
  }

  /** Exact Jaccard pairs via PREFIX FILTERING (the AllPairs/PPJoin
    * family — Bayardo et al. WWW'07, Xiao et al. WWW'08): identical
    * output to [[jaccardPairs]], candidates generated from a fraction
    * of each document's shingles instead of all of them.
    *
    * The filter: order all shingles by (document frequency asc,
    * shingle) — a total order with the rarest first — and sort each
    * document's shingle set by it. Any pair with Jaccard ≥ t must
    * share a shingle within each side's first `|A| − ⌈t·|A|⌉ + 1`
    * shingles under ANY common total order, so the posting-list
    * self-join runs only over those prefixes; survivors are verified
    * with an exact intersection count over the FULL sets, restricted
    * to the candidates. At t = 0.5 the prefix is ~half of each set,
    * and because prefixes hold the RAREST shingles their posting
    * lists are the short ones — the join's candidate volume drops
    * superlinearly, which is the difference between feasible and not
    * at corpus scale (the hot-stopword shingles that explode
    * [[jaccardPairs]]'s join never enter the candidate stage here,
    * with no `maxPostingList` approximation).
    *
    * The ⌈t·n⌉ is computed with a 1e-6 downward slack so a floating
    * boundary can only LENGTHEN a prefix (more candidates), never
    * shorten one (missed pairs) — exactness is never at risk.
    *
    * Cost shape vs [[jaccardPairs]]: three extra bounded passes (df
    * counts, a per-doc prefix sort, candidate distinct) buy a
    * candidate join over prefix posting lists only. On a FLAT shingle
    * distribution (the synthetic sf0.1 corpus) that overhead loses
    * ~1.5× wall clock; on a ZIPFIAN corpus — every real one — the
    * plain join's candidate volume is dominated by Σ df² of the hot
    * shingles and the prefix plan's isn't (DedupSpec pins a 10×+
    * candidate reduction on a skewed fixture), which is the regime
    * the operator exists for. */
  def jaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String, n: Int,
      threshold: Double): DataFrame = {
    val allSh = shingles(df, idCol, textCol, n).localCheckpoint(false)
    val dfreq = allSh.groupBy("shingle").agg(count(lit(1)).as("_df"))
    // RANK-ENCODE the shingle vocabulary in the global (df asc, shingle
    // asc) total order (r18, guide §2.3 "shuffle keys and metadata
    // instead of payloads"): every downstream structure — the per-doc
    // sorted arrays, the prefix posting lists, the candidate equi-join
    // key, the verify intersection — carries an 8-byte LONG instead of
    // a word n-gram string. The encode is `monotonically_increasing_id`
    // over the SORTED distinct vocabulary (r19; the r18 form was an
    // RDD `rdd.zipWithIndex()` round-trip — an EAGER Spark job at plan
    // construction, a codegen break, and a stats-less LogicalRDD that
    // could never auto-broadcast, VERDICT r18 #3 / ADVICE r18). The id
    // is (partitionIndex << 33 | rowInPartition) evaluated after the
    // range-partitioned SortExec, so values strictly increase in
    // (df, shingle) order across and within partitions: INJECTIVE and
    // ORDER-CONSISTENT — never a hash (a collision would change exact
    // counts and could break the PPJoin+ positional bound), merely no
    // longer dense, which nothing downstream assumes (ranks are sort
    // keys and equi-join keys only). The whole build now stays in
    // Tungsten, costs no job until the first consumer runs, and keeps
    // plan statistics so a small vocabulary auto-broadcasts.
    val rankTable = dfreq.sort(col("_df"), col("shingle"))
      .select(col("shingle"), monotonically_increasing_id().as("_rank"))
    // Per-doc shingle-RANK array in the global total order — built
    // once, serving both stages (r16, VERDICT r15 #2): candidate
    // generation slices the prefix WITH POSITIONS off it, and
    // verification intersects two long-arrays per surviving pair in a
    // pipelined projection. The pre-r16 verify re-joined the full
    // posting lists per candidate (expand to |A| rows per pair, a
    // second (id, shingle) shuffle, a count groupBy) — 12.2 GB of
    // spill per rep at sf10, the suite's heaviest query.
    val docArr = allSh.join(rankTable, "shingle")
      .groupBy("_id")
      .agg(sort_array(collect_list(col("_rank"))).as("_sarr"))
      .withColumn("_n", size(col("_sarr")).cast("long"))
      .withColumn("_plen",
        (col("_n") -
          ceil(lit(threshold) * col("_n").cast("double") - lit(1e-6)) + 1)
          .cast("int"))
      .localCheckpoint(false) // feeds candidate gen + both verify joins
    val pref = docArr.select(col("_id"), col("_n"),
        posexplode(slice(col("_sarr"), lit(1), col("_plen"))))
      .select(col("_id"), col("_n"), col("pos").as("_pos"),
        col("col").as("shingle"))
    // PPJoin LENGTH FILTER: J(A,B) ≥ t forces t·max(|A|,|B|) ≤
    // min(|A|,|B|) (intersection ≤ min, union ≥ max) — size-
    // incompatible candidates die pre-aggregation; slack rounds
    // toward keeping so no true pair is ever cut.
    // PPJoin+ POSITIONAL FILTER (Xiao et al. WWW'08): positions in
    // the global order are order-consistent across docs, so every
    // common token ≤ the LAST prefix match is itself a prefix match
    // (counted in _c) and every one > it lies strictly after
    // (max _pa, max _pb) in both docs — overlap ≤ _c +
    // min(n_a−1−max_pa, n_b−1−max_pb). Pairs whose bound misses the
    // J ≥ t overlap floor α = ⌈t/(1+t)·(n_a+n_b)⌉ never reach the
    // verify join; α takes the downward slack so a float boundary
    // only ever KEEPS a pair.
    val alpha =
      ceil(lit(threshold / (1.0 + threshold)) *
        (col("_na") + col("_nb")).cast("double") - lit(1e-6))
    val cand = pref.select(col("_id").as("id_a"), col("shingle"),
        col("_n").as("_na"), col("_pos").as("_pa"))
      .join(pref.select(col("_id").as("id_b"), col("shingle"),
        col("_n").as("_nb"), col("_pos").as("_pb")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("_na"), col("_nb")).cast("double") >=
        lit(threshold) * greatest(col("_na"), col("_nb")).cast("double") - lit(1e-6))
      .groupBy("id_a", "id_b", "_na", "_nb")
      .agg(count(lit(1)).as("_c"), max(col("_pa")).as("_mpa"),
        max(col("_pb")).as("_mpb"))
      .filter((col("_c") +
        least(col("_na") - 1 - col("_mpa"), col("_nb") - 1 - col("_mpb")))
        .cast("double") >= alpha)
      .select("id_a", "id_b")
    // verify: exact intersection of the two full (distinct) rank
    // arrays — one array-bearing shuffle per candidate pair, no
    // posting-list re-expansion; ranks are injective for shingles so
    // the intersection count is the shingle intersection count
    cand
      .join(docArr.select(col("_id").as("id_a"), col("_sarr").as("_arrA"),
        col("_n").as("n_a")), "id_a")
      .join(docArr.select(col("_id").as("id_b"), col("_sarr").as("_arrB"),
        col("_n").as("n_b")), "id_b")
      .withColumn("n_common",
        size(array_intersect(col("_arrA"), col("_arrB"))).cast("long"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
  }

  /** The prefix stage of [[jaccardPairsPrefix]], exposed so its
    * candidate-volume guarantee is testable: each document keeps its
    * `|A| − ⌈t·|A|⌉ + 1` rarest shingles under the global
    * (df asc, shingle) order, each row carrying the doc's full size
    * `_n` so the length filter costs no extra join. Input: the full
    * (_id, shingle) table and the per-doc sizes. */
  private[graft] def prefixShingles(allSh: DataFrame, sizes: DataFrame,
      threshold: Double): DataFrame = {
    val dfreq = allSh.groupBy("shingle").agg(count(lit(1)).as("_df"))
    val wDoc = Window.partitionBy("_id").orderBy(col("_df").asc, col("shingle").asc)
    allSh.join(dfreq, "shingle").join(sizes, "_id")
      .withColumn("_rn", row_number().over(wDoc))
      .filter(col("_rn") <=
        col("_n") - ceil(lit(threshold) * col("_n").cast("double") - lit(1e-6)) + 1)
      .select(col("_id"), col("shingle"), col("_n"))
  }

  /** Candidate-pair volume of a posting-list self-join over the given
    * (_id, shingle) table: `Σ_shingle C(df, 2)` — the number of rows
    * the equi-join would materialize before any grouping. The metric
    * that decides feasibility at corpus scale. */
  private[graft] def candidateVolume(sh: DataFrame): Long =
    sh.groupBy("shingle").agg(count(lit(1)).as("_df"))
      .select(sum(expr("_df * (_df - 1) div 2")).as("v"))
      .collect()(0).getLong(0)

  /** Collapse near-duplicate PAIRS into clusters and elect one survivor
    * per cluster — the step a real dedup pipeline runs after
    * pair-finding (Jaccard/MinHash/SimHash all emit pairs; training
    * corpora need a keep/drop decision per document).
    *
    * Min-label connected components by label propagation, iterated to
    * a FIXPOINT: labels only decrease, so a DECIMAL label-sum compare
    * is a one-job global convergence test (same trick as
    * IdentityResolver's intra-batch grouping). The survivor of each
    * cluster is its minimum id.
    *
    * Scale: the loop never touches the corpus — edges are 2·|pairs|
    * rows and labels are bounded by pair participants, both ≪ |docs|
    * for any sane threshold; each hop shuffles only those. The corpus
    * is scanned once at the end, joined against the (small) label
    * table. Near-dup clusters have tiny diameters in practice, so the
    * hop count stays low; the fixpoint guard covers adversarial
    * chains.
    *
    * Output: `docs` columns + `cluster_id` (min id of the component)
    * + `kept` (true iff this doc is the survivor).
    *
    * Adaptive execution, same result either way: the PAIR set of a
    * near-dup pass is orders of magnitude below the corpus (a pair
    * needs Jaccard ≥ t), so when it fits comfortably on the driver
    * (≤ `maxLocalEdges`, default 4M ≈ 64 MB — the same order as a
    * broadcast-join build side) the components are solved with one
    * union-find pass and broadcast back, replacing an O(diameter)
    * job loop with a single collect. Past the threshold the
    * distributed min-label propagation loop runs — each hop shuffles
    * only the pair participants, never the corpus.
    */
  def collapseNearDuplicates(docs: DataFrame, pairs: DataFrame,
      idCol: String, maxLocalEdges: Long = DefaultMaxLocalEdges): DataFrame = {
    val spark = docs.sparkSession
    val half = pairs.select(col("id_a").cast("long").as("_src"),
      col("id_b").cast("long").as("_dst"))
      .distinct().localCheckpoint(false)
    val nEdges = half.count()
    val lab: DataFrame =
      if (nEdges <= maxLocalEdges) localComponents(spark, half.collect())
      else distributedComponents(half)
    docs.join(broadcastIfSmall(lab, nEdges <= maxLocalEdges),
        docs(idCol).cast("long") === lab("_cid"), "left")
      .select(docs.columns.map(docs(_)) :+
        coalesce(col("_label"), docs(idCol).cast("long")).as("cluster_id"): _*)
      .withColumn("kept", col(idCol).cast("long") === col("cluster_id"))
  }

  private def broadcastIfSmall(df: DataFrame, small: Boolean): DataFrame =
    if (small) org.apache.spark.sql.functions.broadcast(df) else df

  /** Union-find with path halving over a collected edge list; emits
    * (_cid, _label = min member id of the component). */
  private def localComponents(spark: org.apache.spark.sql.SparkSession,
      edges: Array[org.apache.spark.sql.Row]): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) {
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp); x = gp; p = parent.getOrDefault(x, x)
      }
      x
    }
    edges.foreach { r =>
      val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
      if (a != b) { if (a < b) parent.put(b, a) else parent.put(a, b) }
    }
    val minOf = new java.util.HashMap[Long, Long]()
    val members = new java.util.HashSet[Long]()
    edges.foreach { r => members.add(r.getLong(0)); members.add(r.getLong(1)) }
    members.forEach { m =>
      val root = find(m)
      minOf.merge(root, m, (x, y) => math.min(x, y))
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](members.size)
    members.forEach { m => out += ((m, minOf.get(find(m)))) }
    import spark.implicits._
    out.toSeq.toDF("_cid", "_label")
  }

  /** Distributed min-label propagation to a fixpoint (the > maxLocalEdges
    * path; labels only decrease so a DECIMAL label-sum compare is a
    * one-job global convergence test). */
  private def distributedComponents(half: DataFrame): DataFrame = {
    val edges = half.unionByName(
        half.select(col("_dst").as("_src"), col("_src").as("_dst")))
      .distinct().localCheckpoint(false)
    var lab = edges.select(col("_src").as("_cid")).distinct()
      .withColumn("_label", col("_cid"))
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("_label").cast("decimal(38,0)"))).first().getDecimal(0)
    def hop(prev: DataFrame): DataFrame = {
      val nbrMin = edges.join(prev, edges("_dst") === prev("_cid"))
        .groupBy("_src").agg(min("_label").as("_nbr"))
      prev.as("l")
        .join(nbrMin, col("l._cid") === nbrMin("_src"), "left")
        .select(col("l._cid").as("_cid"),
          least(col("l._label"), coalesce(col("_nbr"), col("l._label"))).as("_label"))
    }
    var prev = labelSum(lab)
    var hops = 0
    var converged = prev == null // empty pair set: nothing to propagate
    while (!converged && hops < 64) {
      // TWO hops per convergence check: labels are monotonically
      // non-increasing, so "sum unchanged across a double hop" still
      // implies a fixpoint, at half the driver-side job barriers. Lazy
      // checkpoint: the labelSum action materializes the hop result in
      // the same job (plan still truncates, no 2^N re-analysis).
      val next = hop(hop(lab)).localCheckpoint(false)
      val s = labelSum(next)
      converged = s.compareTo(prev) == 0
      prev = s
      lab = next
      hops += 2
    }
    // fail LOUD on cap truncation: silently returning partial labels
    // would split one near-dup cluster into several survivors
    if (!converged)
      throw new IllegalStateException(
        s"near-dup collapse did not converge within $hops hops — " +
          "component diameter exceeds the cap; raise it or pre-bucket the pairs")
    lab
  }

  /** MinHash signature: array of `numHashes` minima over a seeded
    * universal-hash family `a_i * xxhash64(shingle) + b_i` (wrapping
    * 64-bit arithmetic). Shingles are exploded and hashed ONCE, then a
    * codegen'd hash aggregate computes all minima — measured ~20×
    * faster than the equivalent higher-order-function fold, whose
    * interpreted lambdas dominate. Documents with fewer than `n`
    * tokens have no shingles and drop out. */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String, n: Int,
      numHashes: Int, mode: HashMode = Fast): DataFrame =
    signatureFromShingles(shingles(df, idCol, textCol, n), numHashes, mode)

  /** The 64-bit words one shingle contributes to a MinHash signature:
    * Fast one xxhash64, Portable the two md5 words. */
  private def shingleWords(shingle: Column, mode: HashMode): Seq[Column] = mode match {
    case Fast => Seq(xxhash64(shingle))
    case Portable => Seq(md5h56(shingle), md5h53(shingle))
  }

  /** Fast mode's universal-hash coefficients `(a_i odd, b_i)`, one
    * fixed seed for every caller, so signatures taken at different
    * times and on either path compare position by position. */
  private def fastCoefficients(numHashes: Int): IndexedSeq[(Long, Long)] = {
    val rnd = new scala.util.Random(20260812L)
    IndexedSeq.fill(numHashes)((rnd.nextLong() | 1L, rnd.nextLong()))
  }

  private def signatureFromShingles(sh: DataFrame, numHashes: Int,
      mode: HashMode, withN: Boolean = false): DataFrame = {
    // hash the shingle ONCE per row (projection below the aggregate);
    // the N min-aggs then fold cheap linear combinations of the words
    val hashed = sh.select(col("_id") +: shingleWords(col("shingle"), mode).zipWithIndex
      .map { case (w, i) => w.as(s"_h${i + 1}") }: _*)
    val aggs = mode match {
      case Fast =>
        fastCoefficients(numHashes).zipWithIndex.map { case ((a, b), i) =>
          min(col("_h1") * a + b).as(s"_m$i")
        }
      case Portable =>
        // Kirsch-Mitzenmacher family g_i = h1 + i * h2m over the two
        // independent md5 words — overflow-free, ANSI-reproducible
        (0 until numHashes).map(i =>
          min(col("_h1") + lit(i.toLong) * col("_h2")).as(s"_m$i"))
    }
    // `withN` folds the per-doc distinct-shingle count into the SAME
    // hash aggregate (r19, guide §2.4): the caller's separate
    // `sh.groupBy(_id).count` + join re-scanned the shingle table and
    // shuffled a doc-cardinality frame a second time for one long.
    val nAgg = if (withN) Seq(count(lit(1)).as("_n")) else Seq.empty
    val allAggs = aggs ++ nAgg
    val outCols = Seq(col("_id"),
      array((0 until numHashes).map(i => col(s"_m$i")): _*).as("signature")) ++
      (if (withN) Seq(col("_n")) else Seq.empty)
    hashed.groupBy("_id").agg(allAggs.head, allAggs.tail: _*)
      .select(outCols: _*)
  }


  /** Per-JVM count of LSH buckets dropped by a cap — the "no silent
    * truncation" ledger. Incremented executor-side inside the cap
    * filter itself (same job, zero extra passes); in local mode the
    * driver JVM sees the total, on a cluster each executor counts and
    * logs its own drops. (`Dataset.observe` would be the idiomatic
    * in-job channel, but its metrics are silently dropped when the
    * observed subtree is duplicated by the candidate self-join —
    * measured, not assumed — so the cap filter logs directly.) */
  val capEvents = new java.util.concurrent.atomic.LongAdder()
  private val capLogged = new java.util.concurrent.atomic.AtomicLong(0)

  /** Loud bucket cap: keep buckets with `_bsz` <= maxBucket; every
    * dropped bucket increments [[capEvents]] and WARNs (first 20, then
    * every 1000th — hot-skew corpora can cap thousands of buckets).
    * The filter runs on the bucket-SIZE frame (one row per bucket), so
    * the UDF cost is negligible and the data path stays codegen'd.
    * The filtered frame is EAGERLY localCheckpoint'ed: every call site
    * feeds the candidate self-join, which scans the capped frame on
    * BOTH sides — without the checkpoint the side-effecting filter
    * would execute once per subtree and double-count every drop. The
    * eager job completes before any consumer runs, so each dropped
    * bucket is counted exactly once per invocation (still at-least-once
    * under task retries/executor loss, like any executor-side ledger). */
  private def capBuckets(sizes: DataFrame, maxBucket: Int, what: String): DataFrame = {
    val keep = udf { (bsz: Long) =>
      val ok = bsz <= maxBucket
      if (!ok) capDropped(bsz, maxBucket, what)
      ok
    }
    sizes.filter(keep(col("_bsz"))).localCheckpoint()
  }

  /** Records one bucket of `bsz` rows dropped by the cap. */
  private def capDropped(bsz: Long, maxBucket: Int, what: String): Unit = {
    capEvents.increment()
    val n = capLogged.incrementAndGet()
    if (n <= 20 || n % 1000 == 0)
      org.slf4j.LoggerFactory.getLogger("graft.caps").warn(
        s"graft.cap.$what: bucket of $bsz rows exceeds cap $maxBucket — " +
          "dropped wholesale; its candidate pairs were NOT generated " +
          s"(drop #$n in this JVM)")
  }

  /** The LSH band keys of a `signature` column, one per band: Fast
    * re-hashes the band slice (and the band index) to one 64-bit value;
    * Portable joins the slice into a CSV string (exact, and trivially
    * reproducible in SQL via string_agg ORDER BY hash index). */
  private def bandKeys(bands: Int, rowsPerBand: Int, mode: HashMode): Column =
    transform(sequence(lit(0), lit(bands - 1)), b => {
      val band = slice(col("signature"), b * rowsPerBand + 1, lit(rowsPerBand))
      mode match {
        case Fast => xxhash64(band, b)
        case Portable => concat_ws(",", transform(band, x => x.cast("string")))
      }
    })

  /** LSH banding: candidate pairs whose signatures agree on at least
    * one band of `rowsPerBand` consecutive hashes. Shuffle payload is
    * (band_idx, band_hash, id) only.
    *
    * `maxBucket` caps band-bucket size: a degenerate bucket (e.g. an
    * all-identical corpus, or an adversarial band) would make the
    * self-join quadratic on that key; buckets above the cap are dropped
    * wholesale (candidates they would have produced are overwhelmingly
    * duplicates of pairs surfaced by other, selective bands). 0 = off.
    *
    * `sizeFilter` (the LOSSLESS set-similarity length filter, same
    * bound PPJoin uses): J(A,B) = |A∩B|/|A∪B| ≤ min(|A|,|B|)/max(|A|,
    * |B|), so when `signatures` carries a `_n` distinct-shingle-count
    * column and a threshold is given, any banded collision whose size
    * ratio falls below the threshold (minus a 1e-9 rounding slack) is
    * dropped AT the self-join — before the candidate `distinct` and
    * before [[verifyAgainstShingles]] expands the pair by its left side's
    * shingles. Verification is exact either way, so the filter only
    * removes pairs the verifier would reject; emitted pairs are
    * bit-for-bit unchanged (spec-pinned).
    *
    * NOTE (construction-time side effect): with `maxBucket > 0` the
    * returned DataFrame's CONSTRUCTION runs a Spark job — the banding
    * + bucket-size aggregation is eagerly localCheckpoint'ed inside
    * [[capBuckets]] so the cap ledger counts each dropped bucket
    * exactly once per invocation (the candidate self-join would
    * otherwise re-execute the side-effecting filter per subtree).
    * Plan-only inspection (`explain`) of the result therefore still
    * pays that one job and pins its checkpoint blocks until the
    * session GCs them; pass `maxBucket = 0` for a fully lazy plan. */
  def minhashCandidates(signatures: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucket: Int = 256, mode: HashMode = Fast,
      sizeThreshold: Double = 0.0, carryN: Boolean = false): DataFrame = {
    val sizeFilter = sizeThreshold > 0.0 && signatures.columns.contains("_n")
    // `_stored` rider (r19): the incremental path marks retained-store
    // signatures, and a stored×stored collision can never kill anything
    // (the kill ladder maps it to NULL), so those pairs are dropped AT
    // the self-join — before the candidate `distinct` and the verify
    // joins ever see them. Bucket-size counting (the cap) still runs
    // over ALL rows, matching the batch semantics exactly; the emitted
    // pair set only loses pairs the consumer provably ignores.
    val storedFilter = signatures.columns.contains("_stored")
    // (band_idx, band_hash, id) is tiny (`bands` rows/doc, no text) but
    // its lineage embeds the whole signature aggregation — and it feeds
    // FOUR scans below (bucket-size agg, cap join, self-join x and y).
    // Lazy checkpoint: the first scan materializes it inside its own
    // job (no separate checkpoint job), the other three reuse the blocks.
    val carry = Seq(col("_id")) ++
      (if (sizeFilter) Seq(col("_n")) else Seq.empty) ++
      (if (storedFilter) Seq(col("_stored")) else Seq.empty)
    val banded = signatures.select(carry :+
      posexplode(bandKeys(bands, rowsPerBand, mode)).as(Seq("band_idx", "band_hash")): _*)
      .localCheckpoint(false)
    val capped =
      if (maxBucket <= 0) banded
      else {
        // co-partitioned with the self-join key, so the cap costs one
        // map-side-combined aggregate, no extra wide shuffle
        val sizes = capBuckets(banded.groupBy("band_idx", "band_hash")
          .agg(count(lit(1)).as("_bsz")), maxBucket, "minhash")
        banded.join(sizes, Seq("band_idx", "band_hash")).drop("_bsz")
      }
    val joined = capped.as("x").join(capped.as("y"),
      col("x.band_idx") === col("y.band_idx") &&
        col("x.band_hash") === col("y.band_hash") &&
        col("x._id") < col("y._id"))
    val kept0 =
      if (!sizeFilter) joined
      else joined.filter(
        least(col("x._n"), col("y._n")).cast("double") >=
          greatest(col("x._n"), col("y._n")).cast("double") * lit(sizeThreshold) -
          lit(1e-9))
    val kept =
      if (!storedFilter) kept0
      else kept0.filter(!(col("x._stored") && col("y._stored")))
    // `carryN` (r19, guide §2.4): the signature aggregate already
    // computed each doc's distinct-shingle count (`_n`), and both
    // sides' counts sit ON the surviving join row — emitting them with
    // the pair lets [[verifyAgainstShingles]] skip its own per-doc
    // sizes re-aggregation (one shingle-table scan + exchange) and
    // replace TWO pair×sizes joins with one pair-keyed join. The
    // distinct is unchanged as a pair set: n_a/n_b are functions of
    // the ids.
    val outCols =
      if (carryN && sizeFilter)
        Seq(col("x._id").as("id_a"), col("y._id").as("id_b"),
          col("x._n").as("n_a"), col("y._n").as("n_b"))
      else Seq(col("x._id").as("id_a"), col("y._id").as("id_b"))
    kept.select(outCols: _*).distinct()
  }

  /** Exact Jaccard verification restricted to given candidate pairs,
    * against a precomputed shingle table (`shingles` output): expand
    * candidates by the left side's shingles, then an equi-join on
    * (right id, shingle) computes the intersection without ever
    * materializing all-pairs. Emits `(id_a, id_b, jaccard)` for the
    * pairs at or above `threshold`.
    *
    * When the candidate frame carries `n_a`/`n_b` (the signature
    * aggregate's per-doc distinct-shingle counts, emitted by
    * [[minhashCandidates]] `carryN` — identical by construction to
    * `sh.groupBy(_id).count`), the per-doc sizes re-aggregation and
    * both pair×sizes joins are skipped: the intersection count joins
    * the (pair-keyed) candidate frame once instead (r19, §2.4). The
    * jaccard arithmetic is bit-identical — same integers in, same one
    * IEEE division. */
  private[graft] def verifyAgainstShingles(sh: DataFrame, candidates: DataFrame,
      threshold: Double): DataFrame = {
    val carried = candidates.columns.contains("n_a") &&
      candidates.columns.contains("n_b")
    val pairs =
      if (carried) candidates.select("id_a", "id_b") else candidates
    val inter = pairs
      .join(sh.select(col("_id").as("id_a"), col("shingle")), "id_a")
      .join(sh.select(col("_id").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
    val withN =
      if (carried) inter.join(candidates, Seq("id_a", "id_b"))
      else {
        val sizes = sh.groupBy("_id").agg(count(lit(1)).as("_n"))
        inter
          .join(sizes.select(col("_id").as("id_a"), col("_n").as("n_a")), "id_a")
          .join(sizes.select(col("_id").as("id_b"), col("_n").as("n_b")), "id_b")
      }
    withN
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** MinHash+LSH near-dup detection, candidates verified with exact
    * n-gram Jaccard (verification touches only candidate pairs).
    * The shingle table feeds both the signatures and the verification,
    * so it is materialized once: by default as an executor-memory/disk
    * persist (right for a single job), or — pass `shingleStore` — as a
    * WRITTEN parquet intermediate. The written form is the 100 TB
    * shape: it survives executor loss without recomputing the corpus
    * scan, caps memory pressure at shuffle-file cost, and later jobs
    * (re-verification at a different threshold, contamination scans)
    * reuse it for free. */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String, n: Int = 3,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.8,
      maxBucket: Int = 256, mode: HashMode = Fast,
      shingleStore: Option[String] = None): DataFrame = {
    val raw = shingles(df, idCol, textCol, n)
    val sh = shingleStore match {
      case Some(dir) =>
        raw.write.mode("overwrite").parquet(dir)
        raw.sparkSession.read.parquet(dir)
      case None =>
        // lazy localCheckpoint (see jaccardPairs): materialized once by
        // the first consuming stage, no separate count job
        raw.localCheckpoint(false)
    }
    // _n (distinct shingle count per doc) enables the lossless length
    // filter inside the candidate join: J >= t forces t*max <= min, so
    // size-incompatible band collisions die before distinct+verify.
    // Folded into the signature aggregate itself (r19): the pre-r19
    // separate groupBy+join re-scanned the shingle table and shuffled
    // a second doc-cardinality frame for one count column.
    val sig = signatureFromShingles(sh, numHashes, mode, withN = true)
    // carryN: the verify stage consumes the candidate frame twice
    // (shingle expansion + the n_a/n_b attach); both consumers share
    // the distinct's exchange (identical subtree → ReusedExchange), so
    // only the cheap post-exchange dedup re-runs — no checkpoint job
    val cands = minhashCandidates(sig, bands, numHashes / bands, maxBucket, mode,
      sizeThreshold = threshold, carryN = true)
    verifyAgainstShingles(sh, cands, threshold)
  }

  /** Benchmark-contamination scan: corpus documents sharing at least
    * `minShared` word n-grams with any benchmark document — the
    * eval-set decontamination pass a training pipeline runs before
    * export. Same posting-list join shape as [[jaccardPairs]]: the
    * benchmark side is tiny (eval sets are thousands of docs), so at
    * scale the shingle join broadcasts it; candidates are bounded by
    * shared shingles, never |corpus| x |bench|. */
  def contamination(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 5, minShared: Long = 2L): DataFrame = {
    val cs = shingles(corpus, idCol, textCol, n).withColumnRenamed("_id", "doc_id")
    val bs = shingles(bench, idCol, textCol, n)
      .select(col("_id").as("bench_id"), col("shingle"))
    cs.join(bs, "shingle")
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Continuous decontamination — [[contamination]] driven by the
    * row-level merge-table change feed: each checkpointed cycle scans
    * ONLY the document rows that changed since the last cycle against
    * the (broadcastable) benchmark, and folds the result into a
    * durable per-doc contamination-STATUS snapshot with
    * delete-and-replace semantics: an updated document's old flags
    * drop and its re-scan's flags land, and a DELETED document's
    * flags drop too (the feed's orphaned keys are anti-joined away),
    * so the snapshot always equals what a full-batch
    * [[contamination]] over the LIVE table state would produce —
    * including delete workloads — which is exactly what the
    * `q_dedup_decontam_incremental` oracle checks. On the feed's
    * documented full-resync deliveries (first run, lagged past
    * retention) the snapshot is REBUILT from the full delta, the only
    * state consistent with an undiffable gap. At 100 TB the nightly
    * decontamination pass costs the changed rows, never the corpus.
    * At-least-once redelivery re-scans the same delta into the same
    * status rows (idempotent replace). Returns the refreshed status
    * snapshot, or None when nothing was published. */
  def decontaminateChanges(spark: org.apache.spark.sql.SparkSession,
      docsDir: String, checkpointDir: String, statusRoot: String,
      bench: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      n: Int = 4, minShared: Long = 1L,
      partitionCol: String = ""): Option[DataFrame] =
    graft.sources.Sources.processMergeRowChangesWithDeletes(spark, docsDir,
        checkpointDir, Seq(idCol), partitionCol) { (d, _) =>
      // contamination keys its output 'doc_id' (operator contract)
      val flags = contamination(d.delta, bench, idCol, textCol, n, minShared)
        .localCheckpoint(false)
      val refreshed =
        if (d.fullResync || !graft.sources.Sources.snapshotExists(spark, statusRoot))
          flags // the delta IS the live state — rebuild
        else {
          val cur = graft.sources.Sources.readSnapshot(spark, statusRoot)
          val retired = d.delta.select(col(idCol).as("doc_id"))
            .unionByName(d.orphanedKeys.select(col(idCol).as("doc_id")))
            .distinct()
          cur.join(retired, Seq("doc_id"), "left_anti").unionByName(flags)
        }
      graft.sources.Sources.publishSnapshot(refreshed, statusRoot)
      graft.sources.Sources.readSnapshot(spark, statusRoot)
    }

  /** Incremental MinHash dedup for continuous ingest: drop new
    * documents that near-duplicate anything in the ACCUMULATED corpus,
    * then fold the survivors' signatures into the store.
    *
    * The retained state is signatures only — `numHashes` longs per
    * document, never text or shingles. Candidates come from band
    * buckets (new vs stored ∪ intra-batch, bucket sizes counted over
    * both and capped at `maxBucket`); verification uses the
    * signature-agreement Jaccard ESTIMATE (fraction of equal minhash
    * components — the standard incremental trade-off: exact
    * verification would require retaining shingle sets). Intra-batch
    * duplicates collapse first-wins by id.
    *
    * Every batch reads the whole store, re-bands it to count bucket
    * sizes, and publishes stored ∪ new as a fresh snapshot, so a
    * batch costs O(|store| + |batch|). Two paths compute it, with the
    * same survivors and the same store rows and schema:
    *  - DRIVER, for a batch of at most [[DriverShardDocs]] documents
    *    against a store whose plan-stats size is at most
    *    [[DriverPath.DriverStoreBytes]], with an integral or string id: one
    *    bounded collect of the batch; the new signatures' shingle words
    *    from the engine's own expressions evaluated on the driver, their
    *    minima in Scala; one scan of the store's signatures and band
    *    keys; bucket sizes, the cap, candidate pairs, estimates and the
    *    kill ladder in Scala; one publish. Survivors come back as a
    *    local relation. A 200-document shard runs 3 Spark jobs instead
    *    of 22.
    *  - DISTRIBUTED otherwise ([[incrementalDistributed]]): the same
    *    steps as joins and aggregates.
    *
    * Returns the surviving rows of `batch`. Pair this with
    * foreachBatch for a streaming corpus ingest.
    */
  def incrementalMinhashDedup(batch: DataFrame, idCol: String, textCol: String,
      signatureStore: String, n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, maxBucket: Int = 256,
      mode: HashMode = Fast, maxStoreFiles: Int = 256): DataFrame = {
    val spark = batch.sparkSession
    val stored =
      if (!graft.sources.Sources.snapshotExists(spark, signatureStore)) None
      else Some(graft.sources.Sources.readSnapshot(spark, signatureStore))
    val probe =
      if (driverIdType(batch.schema(idCol).dataType) &&
          stored.forall(DriverPath.fits(_)))
        DriverPath.batchRows(batch, DriverShardDocs)
      else Left(batch)
    val survivors = probe match {
      case Right(rows) => incrementalOnDriver(rows, batch, idCol, textCol, signatureStore,
        n, numHashes, bands, threshold, maxBucket, mode, stored)
      case Left(_) => incrementalDistributed(batch, idCol, textCol, signatureStore,
        n, numHashes, bands, threshold, maxBucket, mode, stored)
    }
    // Retention/compaction policy: every publish unions the prior
    // store's partitions with the batch's, so files-per-version grows
    // ~linearly with batch count while version COUNT is already
    // bounded by publishSnapshot's 2-prior pruning. When the live
    // version's file count crosses `maxStoreFiles`, rewrite it through
    // Sources.compact (a fresh snapshot publish at ~128 MB/file) — a
    // long-running ingest then holds a bounded file count forever at
    // one amortized store rewrite per ~maxStoreFiles batches.
    if (maxStoreFiles > 0) {
      val live = graft.sources.Sources.resolveSnapshot(spark, signatureStore)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(live), spark.sparkContext.hadoopConfiguration)
      val nFiles = fs.listStatus(new org.apache.hadoop.fs.Path(live))
        .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      if (nFiles > maxStoreFiles)
        graft.sources.Sources.compact(spark, signatureStore)
    }
    survivors
  }

  /** Largest batch, in documents, that [[incrementalMinhashDedup]]
    * dedups on the driver. The batch's rows and its signatures are held
    * on the driver, so B bounds driver memory by the batch's text.
    * Measured on a 4-core host at B 60-word documents against a store
    * at [[DriverPath.DriverStoreBytes]]: 4.9–5.9 s on the driver against 6.4–8.2 s
    * distributed (`plans/r22/driver_bounds_at_b_and_s.txt`); the
    * driver's share grows with the batch, so B sits where it still
    * wins. Above B the extra cost is the bounded collect, one job. */
  val DriverShardDocs: Int = 10000

  /** Id types the driver path groups and orders exactly like Spark. */
  private def driverIdType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | StringType => true
      case _ => false
    }
  }

  /** The driver path of [[incrementalMinhashDedup]] (`rows`: the whole
    * batch). Each step mirrors [[incrementalDistributed]] clause for
    * clause: signatures grouped by id (null ids form one group), bucket
    * sizes over every stored and new row, pairs with `id_a < id_b` in
    * Spark's order from the uncapped buckets, stored×stored pairs
    * dropped, then the estimate over every stored and new signature of
    * both ids and the same kill ladder. */
  private def incrementalOnDriver(rows: Array[Row], batch: DataFrame,
      idCol: String, textCol: String, signatureStore: String, n: Int, numHashes: Int,
      bands: Int, threshold: Double, maxBucket: Int, mode: HashMode,
      stored: Option[DataFrame]): DataFrame = {
    val spark = batch.sparkSession
    // the shingle words, evaluated by the engine's own expressions: the
    // optimizer folds this projection into the local relation, no job
    val t = tokens(col(textCol))
    val sh = when(size(t) >= n, graft.functions.VectorKernels.wordShinglesCol(t, n))
    val hashed = DriverPath.localFrame(spark, rows.toSeq, batch.schema)
      .select(col(idCol), transform(sh, s => struct(shingleWords(s, mode): _*)))
      .collect()
    // the minima in Scala, per id over all of its documents
    val coef = fastCoefficients(numHashes)
    val (ca, cb) = (coef.map(_._1).toArray, coef.map(_._2).toArray)
    val sigs = mutable.LinkedHashMap.empty[Any, Array[Long]]
    for (r <- hashed if !r.isNullAt(1) && r.getSeq[Row](1).nonEmpty) {
      val m = sigs.getOrElseUpdate(r.get(0), Array.fill(numHashes)(Long.MaxValue))
      for (w <- r.getSeq[Row](1); i <- 0 until numHashes) {
        val v =
          if (mode == Fast) w.getLong(0) * ca(i) + cb(i)
          else w.getLong(0) + i.toLong * w.getLong(1)
        if (v < m(i)) m(i) = v
      }
    }
    val sigSchema = minhashSignature(batch, idCol, textCol, n, numHashes, mode).schema
    def sigFrame(ids: Iterable[Any]) =
      DriverPath.localFrame(spark, ids.map(id => Row(id, sigs(id).toSeq)).toSeq, sigSchema)

    // one scan: every stored and new signature with its band keys
    val all = (stored.map(_.select(col("_id"), col("signature"), lit(true).as("_stored"))) ++
      Some(sigFrame(sigs.keys).select(col("_id"), col("signature"), lit(false).as("_stored"))))
      .reduce(_ unionByName _)
      .select(col("_id"), col("signature"), col("_stored"),
        bandKeys(bands, numHashes / bands, mode).as("_keys"))
      .collect()
    val ids = all.map(_.get(0))
    val isStored = all.map(_.getBoolean(2))
    val sig = all.map(_.getSeq[Long](1).toArray)
    val buckets = all.map(_.getSeq[Any](3).zipWithIndex.map { case (k, b) => (b, k) })
    val bsz = mutable.HashMap.empty[(Int, Any), Long]
    for (bs <- buckets; k <- bs) bsz(k) = bsz.getOrElse(k, 0L) + 1
    if (maxBucket > 0)
      bsz.valuesIterator.filter(_ > maxBucket).foreach(capDropped(_, maxBucket, "minhash"))
    val kept = (k: (Int, Any)) => maxBucket <= 0 || bsz(k) <= maxBucket
    // members of the kept buckets a new signature falls in
    val members = mutable.HashMap.empty[(Int, Any), mutable.ArrayBuffer[Int]]
    for (r <- all.indices if !isStored(r); k <- buckets(r) if kept(k))
      members.getOrElseUpdate(k, mutable.ArrayBuffer.empty)
    for (r <- all.indices; k <- buckets(r)) members.get(k).foreach(_ += r)
    val idOrder = DriverPath.sparkOrdering(sigSchema("_id").dataType)
    val pairs = mutable.LinkedHashSet.empty[(Any, Any)]
    for (ms <- members.valuesIterator; x <- ms if !isStored(x); y <- ms) {
      val (a, b) = (ids(x), ids(y))
      if (a != null && b != null) {
        val c = idOrder.compare(a, b)
        if (c < 0) pairs += ((a, b)) else if (c > 0) pairs += ((b, a))
      }
    }
    // the estimate over every (stored or new) row of both ids, then the
    // kill ladder: a new doc dies if it matches a stored doc, or a
    // smaller-id new doc
    val rowsById = all.indices.groupBy(ids(_))
    val dead = mutable.HashSet.empty[Any]
    for ((a, b) <- pairs; x <- rowsById(a); y <- rowsById(b)) {
      val (sa, sb) = (sig(x), sig(y))
      var agree = 0
      for (i <- 0 until math.min(sa.length, sb.length)) if (sa(i) == sb(i)) agree += 1
      if (agree.toDouble / numHashes >= threshold) {
        if (isStored(x) && !isStored(y)) dead += b
        else if (!isStored(x)) dead += (if (isStored(y)) a else b)
      }
    }
    // idempotent store update, as on the distributed path: new ids the
    // store already holds are not written again
    val storedIds = all.indices.collect { case r if isStored(r) && ids(r) != null => ids(r) }.toSet
    val fresh = sigs.keys.filter(id => id == null || !(dead(id) || storedIds(id)))
    // stored ∪ fresh from the rows already on the driver, under the
    // union's schema: a local relation, which the publish writes from
    // the driver with no job instead of re-scanning the store
    val storeSchema = stored.fold(sigSchema)(
      _.select("_id", "signature").unionByName(sigFrame(Nil)).schema)
    def conform(from: org.apache.spark.sql.types.StructType): Row => Row = {
      val cs = storeSchema.fields.zip(from.fields)
        .map { case (to, f) => DriverPath.castTo(f.dataType, to.dataType) }
      r => Row(cs(0)(r.get(0)), cs(1)(r.get(1)))
    }
    val storeRows = stored.toSeq.flatMap { st =>
      val c = conform(st.select("_id", "signature").schema)
      all.indices.collect { case r if isStored(r) => c(all(r)) }
    } ++ {
      val c = conform(sigSchema)
      fresh.map(id => c(Row(id, sigs(id).toSeq)))
    }
    graft.sources.Sources.publishSnapshot(
      DriverPath.localFrame(spark, storeRows, storeSchema), signatureStore)
    val idAt = batch.schema.fieldIndex(idCol)
    DriverPath.localFrame(spark,
      rows.toSeq.filter(r => r.isNullAt(idAt) || !dead(r.get(idAt))), batch.schema)
  }

  /** The distributed path of [[incrementalMinhashDedup]] against the
    * store read as `storedOpt`, without the compaction that follows. */
  private[graft] def incrementalDistributed(batch: DataFrame, idCol: String, textCol: String,
      signatureStore: String, n: Int, numHashes: Int, bands: Int, threshold: Double,
      maxBucket: Int, mode: HashMode, storedOpt: Option[DataFrame]): DataFrame = {
    // lazy: the kill-set checkpoint below is the materializing action,
    // so signatures + candidates + kill set all land in ONE job
    val newSig = minhashSignature(batch, idCol, textCol, n, numHashes, mode)
      .localCheckpoint(false)
    val stored = storedOpt.getOrElse(newSig.limit(0))
    // candidate pairs via shared band buckets, new-vs-(stored + earlier
    // new): stored ids are flagged so any stored match kills the new
    // doc, while intra-batch ties keep the smaller id
    val all = stored.withColumn("_stored", lit(true))
      .unionByName(newSig.withColumn("_stored", lit(false)))
    // `_stored` rides into the candidate join so stored×stored
    // collisions (which the kill ladder ignores) die at the self-join
    // instead of shipping two 64-long signature arrays each through
    // the estimate joins below (r19, guide §2.3)
    val cands = minhashCandidates(
      all.select(col("_id"), col("signature"), col("_stored")), bands,
      numHashes / bands, maxBucket, mode)
    // Signature fetch: each estimate join must attach a 64-long array
    // (~520 B) per pair side; as sort-merge joins the SECOND one
    // re-shuffles every candidate pair ALREADY CARRYING side A's array
    // — the widest exchange of the incremental path (guide §8: the
    // heavy payload should cross once, decisions should ride keys).
    // When the accumulated signature table is small enough to
    // broadcast (estimated from plan stats: parquet-backed store +
    // sized checkpoint), BOTH fetches become broadcast hash joins and
    // no pair row ever crosses an exchange with an array attached.
    // Scale-gated, never assumed: above the bound (or on estimation
    // failure) the sort-merge shape runs unchanged — output identical
    // either way, this is join-strategy only (§3.1).
    // Gate sizing: `all` itself reports the lazy checkpoint's DEFAULT
    // stats (effectively infinite — measured, the naive gate never
    // fired), so size the two inputs separately: the store from its
    // parquet plan stats (real, compressed), the batch side as an
    // EXACT row count on the already-lazily-checkpointed signatures ×
    // their fixed row width — the count materializes blocks every
    // downstream consumer (banding, fetch, keepSig) reuses, and it
    // only runs at all once the store is already under the bound, so
    // the at-scale path pays neither the job nor the broadcast.
    val storedBytes = DriverPath.planBytes(stored)
    val fetchable = storedBytes <= BigInt(MinhashSigBroadcastBytes) &&
      storedBytes + BigInt(newSig.count()) * (64L + 8L * numHashes) <=
        BigInt(MinhashSigBroadcastBytes)
    def side(s: String): DataFrame = {
      val f = all.select(col("_id").as(s"id_$s"), col("signature").as(s"_s$s"),
        col("_stored").as(s"_st_$s"))
      if (fetchable) broadcast(f) else f
    }
    val est = cands.join(side("a"), "id_a").join(side("b"), "id_b")
    // signature-agreement estimate as a CODEGEN'D kernel (r19, guide
    // §4): the HOF form (`size(filter(zip_with(...)))`) evaluated
    // interpreted lambdas + three intermediate arrays per candidate
    // pair — the hottest remaining per-pair compute of the suite
    // (VERDICT r18 #1). agree_count counts the identical positions in
    // one primitive loop; the quotient and threshold are unchanged.
    val estSim = est.withColumn("_est",
      graft.functions.VectorKernels.agreeCountCol(col("_sa"), col("_sb"))
        .cast("double") / numHashes)
      .filter(col("_est") >= threshold)
    // a new doc dies if it matches a stored doc, or a smaller-id new doc
    val killed = estSim
      .select(when(col("_st_a") && !col("_st_b"), col("id_b"))
        .when(!col("_st_a") && col("_st_b"), col("id_a"))
        .when(!col("_st_a") && !col("_st_b"),
          greatest(col("id_a"), col("id_b"))).as("_dead"))
      .filter(col("_dead").isNotNull).distinct()
      // eager: the kill set must not lazily reference the store files —
      // the snapshot swap below replaces them before the caller runs
      // the returned plan
      .localCheckpoint(true)
    val survivors = batch.join(killed, batch(idCol) === killed("_dead"), "left_anti")
    val keepSig = newSig.join(killed, newSig("_id") === killed("_dead"), "left_anti")
    // Idempotent store update: a foreachBatch RETRY (the at-least-once
    // contract) re-presents ids the store already holds — anti-join
    // them out so replays never accumulate duplicate signature rows.
    val merged = stored.select("_id", "signature")
      .unionByName(keepSig.select("_id", "signature")
        .join(stored.select("_id"), Seq("_id"), "left_anti"))
    graft.sources.Sources.publishSnapshot(merged, signatureStore)
    survivors
  }

  /** Embedding-cosine near-duplicates, exact all-pairs baseline:
    * (id_a, id_b, cosine) with cosine ≥ threshold, id_a < id_b.
    * Quadratic by construction — the differential baseline and the
    * small-table path; use [[embeddingNearDupsLsh]] at scale. */
  def embeddingNearDups(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val a = emb.select(col(idCol).as("id_a"), col(vecCol).as("_va"))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("_vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", SimilaritySearch.cosine(col("_va"), col("_vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Scale path for embedding near-dup: random-hyperplane buckets (plus
    * margin-guided multiprobe fan-out) generate candidate pairs, exact
    * cosine verifies them — same candidates-then-verify shape as
    * [[minhashDedup]]. The bucket self-join shuffles (bucket, id) only;
    * `maxBucket` caps degenerate buckets. Recall depends on how close
    * the duplicate cosine is to 1 (sign-bit collision probability is
    * (1 - θ/π)^nBits) — intended for true near-duplicates (τ ≳ 0.9),
    * recall-pinned in DedupSpec.
    *
    * `prefixPrune` (0 = off) inserts a LOSSLESS Cauchy-Schwarz filter
    * between the candidate join and the exact rerank: per ROW the
    * engine precomputes the first-p prefix, the full norm and the
    * tail norm; per candidate PAIR, cosine ≤ (prefixDot + ‖a_tail‖·
    * ‖b_tail‖) / (‖a‖·‖b‖), so any pair whose bound falls below the
    * threshold (minus a 1e-9 double-rounding slack, ~10⁵ × the worst
    * 64-dim accumulation error) provably cannot pass the exact test
    * and is dropped AT THE SELF-JOIN, before the candidate `distinct`
    * (a ~487M-row shuffle at sf10) and the full-width rerank ever see
    * it. Survivors are re-scored from the raw vectors by the identical
    * kernel, so the output is bit-for-bit unchanged (spec-pinned). The
    * metadata rides through the join sides (p floats + 2 doubles per
    * (id, bucket) row), never joined against the pair set.
    *
    * NOTE (construction-time side effect): with `maxBucket > 0`,
    * constructing the returned DataFrame runs one Spark job (the
    * bucket-size aggregation is eagerly checkpointed inside
    * [[capBuckets]] so the cap ledger counts exactly once per
    * invocation); pass `maxBucket = 0` for a fully lazy plan. */
  def embeddingNearDupsLsh(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nBits: Int = 10, dim: Int = 64, nProbe: Int = 2,
      maxBucket: Int = 4096, prefixPrune: Int = 16): DataFrame = {
    import graft.functions.VectorKernels
    val planes = SimilaritySearch.randomPlanes(nBits, dim)
    val masks = array(planes.indices.map(j => lit(1L << j)): _*)
    val pruneOn = prefixPrune > 0 && prefixPrune < dim
    // The prune metadata rides THROUGH the bucket self-join (computed
    // per row here, exploded with the probes): attaching it to the
    // join sides costs p floats + 2 doubles per (id, bucket) row, and
    // lets the bound filter run on the raw join output — BEFORE the
    // candidate `distinct`, which at sf10 is a ~487M-row shuffle. The
    // v1 design (prune as joins against the distinct pair set) added
    // two 487M-row shuffles instead of removing any and measured
    // SLOWER with 13 GB of spill; this shape prunes where the rows
    // are born and distincts only survivors.
    val metaCols =
      if (!pruneOn) Seq.empty
      else Seq(
        slice(col(vecCol), 1, prefixPrune).as("_pref"),
        VectorKernels.normRangeCol(col(vecCol), 0, Int.MaxValue).as("_norm"),
        VectorKernels.normRangeCol(col(vecCol), prefixPrune, Int.MaxValue).as("_tnorm"))
    val base = emb.select(Seq(col(idCol).as("_id"),
      SimilaritySearch.lshBucket(col(vecCol), planes).as("_b0"),
      SimilaritySearch.planeDots(col(vecCol), planes).as("_dots")) ++ metaCols: _*)
    val carry = Seq(col("_id")) ++ (if (pruneOn)
      Seq(col("_pref"), col("_norm"), col("_tnorm")) else Seq.empty)
    val probed =
      if (nProbe <= 1) base.select(carry :+ col("_b0").as("_bucket"): _*)
      else {
        val flips = transform(
          slice(sort_array(zip_with(col("_dots"), sequence(lit(0), lit(nBits - 1)),
            (d, i) => struct(abs(d).as("m"), i.as("i")))), 1, nProbe - 1),
          s => s("i").cast("int"))
        base.select(carry :+
          explode(concat(array(col("_b0")),
            transform(flips, i => col("_b0").bitwiseXOR(element_at(masks, i + 1)))))
            .as("_bucket"): _*)
      }
    // (bucket, id, meta) is small but feeds four scans (size agg, cap
    // join, self-join x/y) — lazy checkpoint so the probe fan-out runs once
    val probedM = probed.localCheckpoint(false)
    val capped =
      if (maxBucket <= 0) probedM
      else {
        val sizes = capBuckets(probedM.groupBy("_bucket")
          .agg(count(lit(1)).as("_bsz")), maxBucket, "embedding_lsh")
        probedM.join(sizes, Seq("_bucket")).drop("_bsz")
      }
    // Canonical-bucket pair emission (r17 — kills the suite's last sf10
    // spiller): a pair co-occurring in k surviving buckets used to be
    // emitted k times and folded by a pair-set DISTINCT — a pair-scale
    // shuffle whose hash aggregate was the one remaining spill (1.06 GB
    // at sf10). Instead each id's SURVIVING (post-cap) bucket set is
    // rebuilt once (an id-cardinality groupBy, nProbe rows/id in, one
    // out), rides the join sides as nProbe longs, and a pair is kept
    // ONLY in the smallest shared bucket — emitted exactly once, so the
    // distinct (and its shuffle) disappears while the pair SET is
    // identical by construction (the intersection is the set of
    // surviving buckets both ids share; every emitted pair shares at
    // least the joined bucket). nProbe=1 needs none of this: one bucket
    // per id means one emission per pair already.
    val canonOn = nProbe > 1
    val sides =
      if (!canonOn) capped
      else {
        val aggs = Seq(collect_set(col("_bucket")).as("_bs")) ++ (if (pruneOn)
          Seq(first(col("_pref")).as("_pref"), first(col("_norm")).as("_norm"),
            first(col("_tnorm")).as("_tnorm")) else Seq.empty)
        capped.groupBy("_id").agg(aggs.head, aggs.tail: _*)
          .select(Seq(col("_id"), col("_bs"),
            explode(col("_bs")).as("_bucket")) ++ carry.drop(1): _*)
      }
    val joined = sides.as("x").join(sides.as("y"),
      col("x._bucket") === col("y._bucket") && col("x._id") < col("y._id"))
    val kept =
      if (!pruneOn) joined
      else joined.filter(
        VectorKernels.dotCol(col("x._pref"), col("y._pref")) +
          col("x._tnorm") * col("y._tnorm") >=
          col("x._norm") * col("y._norm") * lit(threshold) - lit(1e-9))
    val canon =
      if (!canonOn) kept
      else kept.filter(col("x._bucket") ===
        array_min(array_intersect(col("x._bs"), col("y._bs"))))
    val cands = canon.select(col("x._id").as("id_a"), col("y._id").as("id_b"))
    val va = emb.select(col(idCol).as("id_a"), col(vecCol).as("_va"))
    val vb = emb.select(col(idCol).as("id_b"), col(vecCol).as("_vb"))
    cands.join(va, "id_a").join(vb, "id_b")
      .withColumn("cosine", SimilaritySearch.cosine(col("_va"), col("_vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** DataFrame-level SimHash: explode tokens once, hash each token
    * once, and let a codegen'd 64-sum hash aggregate produce the bit
    * votes — the whole computation stays in whole-stage codegen.
    * Token-less documents drop out (no meaningful fingerprint). */
  def simhashTable(df: DataFrame, idCol: String, textCol: String,
      mode: HashMode = Fast): DataFrame = {
    val nBits = simhashBits(mode)
    val hashed = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("_id"), explode(tokens(col(textCol))).as("_tok"))
      .withColumn("_h", mode match {
        case Fast     => xxhash64(col("_tok"))
        case Portable => md5h56(col("_tok"))
      })
    val votes = (0 until nBits).map(i =>
      sum(when(shiftright(col("_h"), i).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)).as(s"_v$i"))
    hashed.groupBy("_id").agg(votes.head, votes.tail: _*)
      .select(col("_id"),
        (0 until nBits).map(i =>
          when(col(s"_v$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ bitwiseOR _)
          .as("_sh"))
      // 16 bytes/doc, but the lineage embeds the token explode + 64-sum
      // aggregate, and [[simhashPairs]] scans it four times (bucket
      // sizes, cap join, self-join x/y) — without this the whole
      // signature job re-runs per scan (driver's r2 bench: 28 s vs
      // 2.7 s once materialized). Lazy: no separate checkpoint job.
      .localCheckpoint(false)
  }

  /** Fast = 64-bit xxhash fingerprints (4 bands x 16 bits); Portable =
    * 56-bit md5-word fingerprints (4 bands x 14 bits) so every shift,
    * mask and popcount is reproducible in the DuckDB oracle. */
  private def simhashBits(mode: HashMode): Int = mode match {
    case Fast => 64
    case Portable => 56
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming (≤ 3
    * with 4 bands of 16 bits: pigeonhole guarantees a shared band).
    * `maxBucket` caps band-bucket size like [[minhashCandidates]]. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 4096, mode: HashMode = Fast): DataFrame = {
    val bandBits = simhashBits(mode) / 4
    val bandMask = (1L << bandBits) - 1
    val withHash = simhashTable(df, idCol, textCol, mode)
    val allBanded = withHash.select(col("_id"), col("_sh"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("_sh"), b * bandBits).bitwiseAND(bandMask)): _*)).as(Seq("band_idx", "band_val")))
    val banded =
      if (maxBucket <= 0) allBanded
      else {
        val sizes = capBuckets(allBanded.groupBy("band_idx", "band_val")
          .agg(count(lit(1)).as("_bsz")), maxBucket, "simhash")
        allBanded.join(sizes, Seq("band_idx", "band_val")).drop("_bsz")
      }
    banded.as("x").join(banded.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x._id") < col("y._id"))
      .select(col("x._id").as("id_a"), col("y._id").as("id_b"),
        col("x._sh").as("sh_a"), col("y._sh").as("sh_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }
}
