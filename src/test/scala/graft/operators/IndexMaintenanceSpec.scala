package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The automated compaction trigger (VERDICT r14 #2): health reports
  * the LSM read-amp signals (generations per partition, tombstone
  * segments/rows/bytes), `maintainIfNeeded` compacts past thresholds
  * and is a pure read below them, and the compacted index answers the
  * same search as the corpus scan. */
class IndexMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_idx_maint").toString

  private def doc(i: Long) = (i, s"term$i spark merge vector doc$i")

  private val bm25Tables = Seq("postings" -> "_b", "forward" -> "_db", "doclen" -> "_db")

  /** The health of the index version `dir` resolves to. */
  private def health(dir: String, tables: Seq[(String, String)] = bm25Tables) =
    IndexMaintenance.health(spark, graft.sources.Sources.resolveSnapshot(spark, dir), tables)

  test("BM25: health tracks generations and tombstones; trigger fires past threshold") {
    val dir = freshDir()
    val v = LexicalIndex.writeBm25Index((1L to 40L).map(doc).toDF("doc_id", "text"),
      dir, nBuckets = 4)
    val h0 = health(dir)
    assert(h0.maxGenerations == 1 && h0.tombstoneSegments == 0 &&
      h0.tombstoneRows == 0L)

    // three append applies: each adds a write generation + a segment
    for (r <- 1 to 3) {
      val feed = Seq((40L + r, s"fresh doc number $r about spark", "new"),
        (r.toLong, "", "orphaned")).toDF("doc_id", "text", "_change")
      LexicalIndex.applyBm25IndexChanges(spark, dir, feed, mode = "append"): Unit
    }
    val h1 = health(dir)
    assert(h1.maxGenerations == 4) // base + 3 applies
    assert(h1.tombstoneSegments == 3)
    assert(h1.tombstoneRows == 6L) // 2 ids per apply
    assert(h1.tombstoneBytes > 0L)

    // below threshold (default policy allows 8): PURE no-op
    val preVersions = graft.sources.Sources
      .mergeVersions(spark, s"$v/postings")
    val (hc, ranDefault) = LexicalIndex.maintainBm25IfNeeded(spark, dir)
    assert(!ranDefault)
    assert(hc.maxGenerations == 4)
    assert(graft.sources.Sources.mergeVersions(spark, s"$v/postings")
      == preVersions)
    assert(LsmTombstones.exists(spark, v))

    // tight policy: the trigger fires and the index folds to one
    // generation with the kill set cleared
    val tight = IndexMaintenance.MaintenancePolicy(maxGenerations = 2)
    val (h2, ran) = LexicalIndex.maintainBm25IfNeeded(spark, dir, tight)
    assert(ran)
    assert(h2.breaches(tight).nonEmpty) // reported pre-maintenance state
    val h3 = health(dir)
    assert(h3.maxGenerations == 1 && h3.tombstoneSegments == 0 &&
      h3.tombstoneRows == 0L)

    // compacted index answers the corpus-scan search exactly
    val finalDocs = ((4L to 40L) ++ (41L to 43L)).map { i =>
      if (i <= 40L) doc(i) else (i, s"fresh doc number ${i - 40L} about spark")
    }.toDF("doc_id", "text")
    val q = Seq("spark", "term7")
    assert(LexicalIndex.searchBm25Index(spark, dir, q, k = 5)
      .collect().map(_.toSeq).toSeq ==
      TextAnalysis.bm25(finalDocs, "doc_id", "text", q, k = 5)
        .collect().map(_.toSeq).toSeq)

    // and re-running the trigger on the healthy index is a no-op
    val (_, again) = LexicalIndex.maintainBm25IfNeeded(spark, dir, tight)
    assert(!again)
  }

  test("IVF-PQ: trigger compacts past tombstone-segment threshold") {
    def vec(id: Long): Seq[Float] = {
      val lobe = if (id % 2 == 0) 0f else 100f
      Seq.tabulate(8)(i => lobe + ((id * 7 + i * 3) % 13).toFloat)
    }
    val dir = freshDir()
    SimilaritySearch.writeIvfPqIndex(
      (0L until 16L).map(id => (id, vec(id))).toDF("vec_id", "embedding"),
      dir, 0L until 4L, 0L until 4L, m = 4)
    for (r <- 16 to 18) {
      val feed = Seq((r.toLong, vec(r.toLong)))
        .toDF("vec_id", "embedding").withColumn("_change", lit("new"))
      SimilaritySearch.applyIvfPqIndexChanges(spark, dir, feed,
        mode = "append"): Unit
    }
    val h = health(dir, Seq("codes" -> "_list"))
    assert(h.tombstoneSegments == 3)
    val tight = IndexMaintenance.MaintenancePolicy(maxTombstoneSegments = 2)
    val (_, ran) = SimilaritySearch.maintainIvfPqIfNeeded(spark, dir, tight)
    assert(ran)
    val h2 = health(dir, Seq("codes" -> "_list"))
    assert(h2.maxGenerations == 1 && h2.tombstoneSegments == 0)
    // content equals a rebuild over the post-change corpus
    val reb = freshDir()
    SimilaritySearch.writeIvfPqIndex(
      (0L until 19L).map(id => (id, vec(id))).toDF("vec_id", "embedding"),
      reb, 0L until 4L, 0L until 4L, m = 4)
    def codes(d: String) = graft.sources.Sources
      .readMergePartitioned(spark, s"${graft.sources.Sources.resolveSnapshot(spark, d)}/codes",
        "_list")
      .select(col("_id").cast("long"), col("codes"), col("_list").cast("int"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toSeq, r.getInt(2)))
      .sortBy(x => (x._1, x._3)).toSeq
    assert(codes(dir) == codes(reb))
  }

  test("routed applies land in parallel on every partition; per-partition health is exact (VERDICT r16 #5)") {
    val root = freshDir() + "/fam"
    val docs = (1L to 30L).map { i =>
      (i, s"term$i spark family doc$i", if (i % 3 == 0) "de" else if (i % 3 == 1) "en" else "fr")
    }.toDF("doc_id", "text", "lang")
    val segs = LexicalIndex.writePartitionedBm25Index(docs, root, "lang", nBuckets = 4)
    assert(segs.toSet == Set("lang=en", "lang=de", "lang=fr"))

    // a routed delta touching every partition (the full-fan-out shape
    // the family pool exists for): one apply per partition, in parallel
    val delta = Seq(
      (31L, "fresh spark doc en", "en", "new"),
      (32L, "fresh spark doc de", "de", "new"),
      (2L, "", "fr", "orphaned")).toDF("doc_id", "text", "lang", "_change")
    val applied = LexicalIndex.applyPartitionedBm25IndexChanges(
      spark, root, "lang", delta, mode = "append")
    assert(applied.keySet == Set("lang=en", "lang=de", "lang=fr"))

    // each partition's live generation: exact generations and tombstones
    val h = segs.map(seg => seg -> health(s"$root/$seg")).toMap
    assert(h("lang=en").maxGenerations == 2) // base + 1 apply
    assert(h("lang=de").maxGenerations == 2)
    // fr's change was a pure retraction: tombstone only, no new postings
    assert(h("lang=fr").maxGenerations == 1)
    assert(h("lang=fr").tombstoneSegments == 1)
    assert(h("lang=fr").tombstoneBytes > 0L)
    assert(h("lang=fr").tombstoneRows == 1L)
    assert(h("lang=en").tombstoneRows == 1L) // 'new' tombstones its own id
    // parallel applies produced the same search results as the routed
    // semantics promise: partitioned search over en equals a fresh
    // index over the en slice
    val enDocs = docs.filter(col("lang") === "en").drop("lang")
      .union(Seq((31L, "fresh spark doc en")).toDF("doc_id", "text"))
    assert(LexicalIndex.searchPartitionedBm25Index(spark, root, "lang",
        Seq("en"), Seq("spark"), k = 5).collect().map(_.toSeq).toSeq ==
      TextAnalysis.bm25(enDocs, "doc_id", "text", Seq("spark"), k = 5)
        .collect().map(_.toSeq).toSeq)
  }

  test("later rebuilds reclaim superseded generations, not the maintenance loop; the live one and two below it are spared") {
    val dir = freshDir()
    val docs = (1L to 20L).map(doc).toDF("doc_id", "text")
    val gen1 = LexicalIndex.writeBm25Index(docs, dir, nBuckets = 4)
    val gen2 = LexicalIndex.writeBm25Index(docs, dir, nBuckets = 4)
    val gen3 = LexicalIndex.writeBm25Index(docs, dir, nBuckets = 4)
    val expected = TextAnalysis.bm25(docs, "doc_id", "text",
      Seq("spark", "term7"), k = 5).collect().map(_.toSeq).toSeq
    def searchNow() = LexicalIndex.searchBm25Index(spark, dir,
      Seq("spark", "term7"), k = 5).collect().map(_.toSeq).toSeq
    def names() = new java.io.File(dir).list().toSet

    // the maintenance loop deletes nothing at the root: an in-flight
    // reader of gen1 (the initial build) or gen2 keeps its files
    val before = names()
    LexicalIndex.maintainBm25IfNeeded(spark, dir): Unit
    assert(names() == before, s"${before -- names()}")
    assert(Seq(gen1, gen2).forall(new java.io.File(_).exists()),
      "superseded gen inside the window reclaimed")
    assert(searchNow() == expected)

    // version 4 moves the initial build out of the window, version 5
    // moves gen2 out: each goes with the rebuild that does so, and the
    // live generation serves identical results
    val gen4 = LexicalIndex.writeBm25Index(docs, dir, nBuckets = 4)
    assert(!new java.io.File(gen1).exists(), "the initial build kept at version 4")
    assert(new java.io.File(gen2).exists(), "gen2 reclaimed inside the window")
    val gen5 = LexicalIndex.writeBm25Index(docs, dir, nBuckets = 4)
    assert(!new java.io.File(gen2).exists(), "gen2 kept below the window")
    assert(Seq(gen3, gen4, gen5).forall(new java.io.File(_).exists()),
      "a generation inside the window deleted")
    assert(graft.sources.Sources.resolveSnapshot(spark, dir) == gen5)
    assert(searchNow() == expected)

    // maintenance (incl. compaction trigger) still works after the prune
    LexicalIndex.applyBm25IndexChanges(spark, dir,
      Seq((21L, "fresh spark doc", "new")).toDF("doc_id", "text", "_change"),
      mode = "append"): Unit
    assert(health(dir).maxGenerations == 2)
  }

  test("family-pool items run under their caller's job description") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        seen.add(Option(e.properties).map(_.getProperty("spark.job.description"))
          .orNull): Unit
      }
    }
    def call(desc: String): Seq[String] = {
      graft.QueryMetrics.drain(spark)
      seen.clear()
      spark.sparkContext.setJobDescription(desc)
      try IndexMaintenance.inParallel((1 to 4).toSeq) { i =>
        spark.range(10 * i).count()
      } finally spark.sparkContext.setJobDescription(null)
      graft.QueryMetrics.drain(spark)
      seen.toArray(Array.empty[String]).toSeq
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // the second call reuses the pool threads the first one created
      val a = call("family-call-a")
      val b = call("family-call-b")
      assert(a.size >= 4 && a.forall(_ == "family-call-a"), a)
      assert(b.size >= 4 && b.forall(_ == "family-call-b"), b)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
