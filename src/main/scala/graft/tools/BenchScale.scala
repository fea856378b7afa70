package graft.tools

import org.apache.spark.sql.SparkSession

import graft.QueryMetrics.Rep

/** Standing scale-tier benchmark (VERDICT r13 top-next item): the
  * sf10 measurement as a REPEATABLE artifact instead of narrated
  * prose. The r13 round measured sf1→sf10 with `Bench` +
  * `SPARK_GRAFT_BENCH_ONLY`, but under the shared 1500 s budget the
  * >10 s queries degraded to 1-2 reps exactly where variance is
  * highest, and three published medians later re-measured ~40% lower
  * in warm A/Bs. This tool gives the scale tier its OWN budget
  * discipline: every query gets one warm-up plus a FIXED number of
  * timed reps (default 3, never degraded), and the artifact embeds
  * the full per-rep ledger (wall / GC / spill / shuffle-write per
  * rep) so any host-noise stall is classifiable from the artifact
  * alone — the same falsifiability posture `Bench` applies at gate
  * scale.
  *
  * Pinned inputs, so future rounds diff the artifact like BENCH_r*:
  *
  *  - data recipe: `GenScale /root/testdata/sf0.1 /tmp/graft_sf1 10`
  *    then `GenScale /tmp/graft_sf1 /tmp/graft_sf10 10` (GenScale is
  *    seedless-deterministic, so the tiers regenerate bit-identically
  *    from the driver's sf0.1 drop);
  *  - query subset: [[subset]] below — headline + the full dedup /
  *    merge-table / vector families + TPC-H-ish joins, excluding only
  *    the labeled-quadratic all-pairs baselines and gate-bit LSH
  *    configs (`q_dedup_embedding`, `q_dedup_embedding_lsh`): those
  *    are exact-oracle tools whose contracts say O(n²), so at sf10
  *    they measure the contract, not the engine.
  *
  * Round 15 adds the maintained-index pipeline as first-class ledger
  * rows (`x_bm25_*` / `x_ivfpq_*`: build, append-apply, search under
  * tombstones, compact, search compacted — fresh dirs per rep, the
  * ~1% change-feed recipe), so the LSM walls are a diffable
  * artifact instead of SCALING prose.
  *
  * Usage: `runMain graft.tools.BenchScale [sfDir] [outFile]`
  * (defaults `/tmp/graft_sf10`, `BENCH_sf10.json`). Reps via
  * `SPARK_GRAFT_SCALE_REPS` (default 3).
  */
object BenchScale {

  /** The pinned 47-query scale subset (see object scaladoc). Keep
    * STABLE across rounds — the artifact's value is the diff. */
  val subset: Seq[String] = Seq(
    // identity + pipeline
    "q_identity_resolve", "q_identity_evolution", "q_identity_incremental",
    "q_pipeline_validate", "q_fuzzy_center_resolve", "q_upsert_merged",
    "q_op_conflicts",
    // dedup family (production configs)
    "q_dedup_exact_groups", "q_dedup_first_wins", "q_dedup_ngram_jaccard",
    "q_dedup_jaccard_prefix", "q_dedup_containment", "q_dedup_minhash_lsh",
    "q_dedup_minhash_fast", "q_dedup_incremental", "q_dedup_simhash",
    "q_dedup_semantic", "q_dedup_collapse", "q_dedup_contamination",
    "q_dedup_decontam_incremental", "q_dedup_embedding_lsh_scale",
    // text / training-data
    "q_text_metrics", "q_text_langid", "q_text_winnow", "q_text_tfidf",
    "q_text_bpe_learn", "q_sample_split", "q_retrieval_hybrid",
    "q_graph_centrality",
    // vectors
    "q_vec_topk_cosine", "q_vec_ann_lsh", "q_vec_ann_ivf", "q_vec_pq_search",
    // merge-table storage family
    "q_merge_partitioned", "q_merge_keyed_lookup", "q_merge_compacted",
    "q_merge_range_scan", "q_merge_changefeed", "q_merge_delete",
    // joins / reporting / streaming-batch
    "q_h3_shipping_priority", "q_h5_region_revenue", "q_h10_returned_items",
    "q_asof_purchase", "q_range_join", "q_stream_windowed",
    "q_agg_hist_sketch", "q_rep_corr_matrix")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/tmp/graft_sf10"
    val outFile = if (args.length > 1) args(1) else "BENCH_sf10.json"
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "3").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    graft.Tables.lineitem(spark, sfDir).count() // session warm-up

    val metrics = graft.QueryMetrics.install(spark)
    def measure(f: => Long): (Rep, Long) = {
      val (rows, rep) = metrics.measure(f)
      graft.Bench.releaseState(spark)
      (rep, rows)
    }
    def ledger(r: Rep): String =
      f"wall=${r.wallS}%.2fs gc=${r.gcMs / 1000.0}%.2fs " +
        f"spill_disk=${r.diskSpillBytes / 1048576}MB shuffle_write=${r.shuffleWriteBytes / 1048576}MB"
    def runOnce(q: graft.queries.QueryDef): (Rep, Long) =
      measure(q.fn(spark, sfDir).count())

    def f2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val byName = graft.SparkEntry.allDefs.map(q => q.name -> q).toMap
    val missing = subset.filterNot(byName.contains)
    require(missing.isEmpty, s"subset names drifted from SparkEntry: $missing")

    // DEV-ONLY narrowing for iteration (`SPARK_GRAFT_SCALE_ONLY=a,b`):
    // the standing artifact is only comparable when produced by the
    // FULL pinned subset — a narrowed run is for perf work in flight,
    // never for committing as BENCH_sf10.json.
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val chosen = only match {
      case None => subset
      case Some(names) =>
        System.err.println(s"[bench-sf] DEV narrowed run: ${names.size} queries " +
          "- do NOT commit this artifact as the standing BENCH_sf10.json")
        subset.filter(names.contains)
    }
    val results = chosen.map { name =>
      val q = byName(name)
      val (warm, rows) = runOnce(q)
      System.err.println(f"[bench-sf] $name warm=${warm.wallS}%.2fs rows=$rows")
      val timed = (1 to reps).map { i =>
        val (r, _) = runOnce(q)
        System.err.println(s"[bench-sf] $name rep=$i ${ledger(r)}")
        r
      }
      val med = timed.map(_.wallS).sorted.apply(timed.length / 2)
      name -> (med, timed, rows)
    }

    // ---- maintained-index pipeline (r15: VERDICT r14 #5) ----
    // Build → append-apply → search-through-tombstones → compact →
    // search-compacted, each phase its own ledger row, FRESH dirs per
    // rep (no warm-index reuse — the walls ARE the product here).
    // Recipe: constant ~500-doc /
    // ~200-vec feed whatever the tier, nBuckets/nLists = 64.
    // plain (un-checkpointed) inputs: measure() unpersists every
    // persistent RDD between phases, which would orphan
    // localCheckpoint blocks mid-pipeline (CHECKPOINT_RDD_BLOCK_ID_
    // NOT_FOUND) — the recompute is a cheap column-pruned scan and is
    // part of what a real apply pays anyway
    import org.apache.spark.sql.functions.{col, lit, concat, reverse, when}
    val docs = graft.Tables.documents(spark, sfDir)
    val modBase = math.max(300L, docs.count() / 167L)
    val dm = col("doc_id") % modBase
    val bmBase = docs.filter(dm =!= 7)
    val bmFeed = docs.filter(dm === 7).withColumn("_change", lit("new"))
      .unionByName(docs.filter(dm === 13).withColumn("_change", lit("orphaned")))
      .unionByName(docs.filter(dm === 29)
        .withColumn("text", concat(col("text"), lit(" spark")))
        .withColumn("_change", lit("updated")))
    val emb = graft.Tables.embeddings(spark, sfDir)
    val vm = col("vec_id") % 300
    val vHigh = col("vec_id") >= 64
    val vBase = emb.filter(!vHigh || vm =!= 7)
    val vFeed = emb.filter(vHigh && vm === 7).withColumn("_change", lit("new"))
      .unionByName(emb.filter(vHigh && vm === 13).withColumn("_change", lit("orphaned")))
      .unionByName(emb.filter(vHigh && vm === 29)
        .withColumn("embedding", reverse(col("embedding")))
        .withColumn("_change", lit("updated")))
    // post-feed corpora: what the indexes logically serve after the
    // apply — the rebuild/retrain input (r15 generation-swap phases)
    val bmPost = docs.filter(dm =!= 13).withColumn("text",
      when(dm === 29, concat(col("text"), lit(" spark"))).otherwise(col("text")))
    val vPost = emb.filter(!(vHigh && vm === 13)).withColumn("embedding",
      when(vHigh && vm === 29, reverse(col("embedding"))).otherwise(col("embedding")))
    val phaseNames = Seq(
      "x_bm25_build", "x_bm25_apply_append", "x_bm25_search_lsm",
      "x_bm25_compact", "x_bm25_search_compacted",
      "x_bm25_rebuild_swap", "x_bm25_search_rebuilt",
      "x_ivfpq_build", "x_ivfpq_apply_append", "x_ivfpq_search_lsm",
      "x_ivfpq_compact", "x_ivfpq_search_compacted",
      "x_ivfpq_retrain_swap", "x_ivfpq_search_retrained")
    def indexPipelineRep(): Seq[(String, (Rep, Long))] = {
      import graft.operators.{LexicalIndex, SimilaritySearch}
      val bmDir = java.nio.file.Files.createTempDirectory("graft_bs_bm25").toString
      val ivDir = java.nio.file.Files.createTempDirectory("graft_bs_ivfpq").toString
      val out = Seq.newBuilder[(String, (Rep, Long))]
      out += "x_bm25_build" -> measure {
        LexicalIndex.writeBm25Index(bmBase, bmDir, nBuckets = 64); 1L }
      out += "x_bm25_apply_append" -> measure {
        LexicalIndex.applyBm25IndexChanges(spark, bmDir, bmFeed,
          mode = "append").docsTouched }
      def bmSearch() = LexicalIndex.searchBm25Index(
        spark, bmDir, Seq("merge", "spark", "vector"), k = 25).count()
      out += "x_bm25_search_lsm" -> measure(bmSearch())
      out += "x_bm25_compact" -> measure {
        LexicalIndex.compactBm25Index(spark, bmDir); 1L }
      out += "x_bm25_search_compacted" -> measure(bmSearch())
      // full rebuild as the next committed version (r15): the
      // re-bucketing/retention move — cost ≈ one build + one claim
      out += "x_bm25_rebuild_swap" -> measure {
        LexicalIndex.writeBm25Index(bmPost, bmDir, nBuckets = 64); 1L }
      out += "x_bm25_search_rebuilt" -> measure(bmSearch())
      out += "x_ivfpq_build" -> measure {
        SimilaritySearch.writeIvfPqIndex(vBase, ivDir,
          coarseIds = 0L until 64L, pqIds = 0L until 8L, m = 4); 1L }
      out += "x_ivfpq_apply_append" -> measure {
        SimilaritySearch.applyIvfPqIndexChanges(spark, ivDir, vFeed,
          mode = "append").added }
      def ivSearch() = SimilaritySearch.searchIvfPqIndex(
        spark, ivDir, emb.filter(col("vec_id") < 5), k = 5, nProbe = 4).count()
      out += "x_ivfpq_search_lsm" -> measure(ivSearch())
      out += "x_ivfpq_compact" -> measure {
        SimilaritySearch.compactIvfPqIndex(spark, ivDir); 1L }
      out += "x_ivfpq_search_compacted" -> measure(ivSearch())
      // quantizer retrain as the next committed version (r15): the
      // drift remedy — cost ≈ one build + one claim
      out += "x_ivfpq_retrain_swap" -> measure {
        SimilaritySearch.writeIvfPqIndex(vPost, ivDir,
          coarseIds = 0L until 64L, pqIds = 0L until 8L, m = 4); 1L }
      out += "x_ivfpq_search_retrained" -> measure(ivSearch())
      Seq(bmDir, ivDir).foreach { d =>
        import scala.jdk.CollectionConverters._
        val p = java.nio.file.Paths.get(d)
        val walk = java.nio.file.Files.walk(p)
        try walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
        finally walk.close()
      }
      out.result()
    }
    // narrowed dev runs skip the index pipeline too
    val idxResults = if (only.isDefined) Seq.empty else {
      val idxWarm = indexPipelineRep() // same warm-up discipline
      idxWarm.foreach { case (n, (r, _)) =>
        System.err.println(f"[bench-sf] $n warm=${r.wallS}%.2fs") }
      val idxReps = (1 to reps).map { i =>
        val rep = indexPipelineRep()
        rep.foreach { case (n, (r, _)) =>
          System.err.println(s"[bench-sf] $n rep=$i ${ledger(r)}") }
        rep.toMap
      }
      phaseNames.map { n =>
        val timed = idxReps.map(_(n)._1)
        val med = timed.map(_.wallS).sorted.apply(timed.length / 2)
        n -> (med, timed, idxReps.head(n)._2)
      }
    }

    // ---- keyed-lookup phase split (r18: VERDICT r17 #7) ----
    // the q_merge_keyed_lookup gate row rebuilds the merge table every
    // rep (seed write + MERGE publish + key-bloom sidecars dominate at
    // sf10 — the 899 MB shuffle is the publish); these rows give the
    // point-lookup claim ("opens only dirs whose bloom may contain a
    // key") its own number: build per rep, time the keyed read alone.
    val keyedPhases = Seq("x_keyed_lookup_build", "x_keyed_lookup_read")
    val keyedResults = if (only.isDefined) Seq.empty else {
      def keyedRep(): Seq[(String, (Rep, Long))] = {
        var dir = ""
        val b = measure {
          dir = graft.queries.SourceQueries.keyedLookupBuild(spark, sfDir); 1L }
        val r = measure {
          graft.queries.SourceQueries.keyedLookupRead(spark, sfDir, dir).count() }
        Seq("x_keyed_lookup_build" -> b, "x_keyed_lookup_read" -> r)
      }
      val warm = keyedRep()
      warm.foreach { case (n, (r, _)) =>
        System.err.println(f"[bench-sf] $n warm=${r.wallS}%.2fs") }
      val kReps = (1 to reps).map { i =>
        val rr = keyedRep()
        rr.foreach { case (n, (r, _)) =>
          System.err.println(s"[bench-sf] $n rep=$i ${ledger(r)}") }
        rr.toMap
      }
      keyedPhases.map { n =>
        val timed = kReps.map(_(n)._1)
        val med = timed.map(_.wallS).sorted.apply(timed.length / 2)
        n -> (med, timed, kReps.head(n)._2)
      }
    }

    val results2 = results ++ idxResults ++ keyedResults
    val total = results2.map(_._2._1).sum
    val qJson = results2.map { case (name, (med, timed, rows)) =>
      s""""$name":{"median":${f2(med)},"rows":$rows""" +
        s""","wall":[${timed.map(r => f2(r.wallS)).mkString(",")}]""" +
        s""","gc":[${timed.map(r => f2(r.gcMs / 1000.0)).mkString(",")}]""" +
        s""","spill_disk_mb":[${timed.map(_.diskSpillBytes / 1048576).mkString(",")}]""" +
        s""","shuffle_write_mb":[${timed.map(_.shuffleWriteBytes / 1048576).mkString(",")}]}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"bench_scale","value":${f2(total)},"unit":"sec","sf":"$sfDir",""" +
        s""""recipe":"GenScale /root/testdata/sf0.1 /tmp/graft_sf1 10; GenScale /tmp/graft_sf1 /tmp/graft_sf10 10",""" +
        s""""warmup":1,"reps":$reps,"degraded_queries":0,"cpus":$cpus,""" +
        s""""queries":$qJson}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      json.getBytes("UTF-8"))
    println(json.take(600))
    println(s"[bench-sf] total_median=${f2(total)}s written to $outFile")
    spark.stop()
  }
}
