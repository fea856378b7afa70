package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Streaming maintenance of the persisted BM25 index (VERDICT r14 #4):
  * a checkpointed StreamingQuery whose every micro-batch is an
  * append-mode apply must land the SAME logical state as the one-shot
  * batch apply, survive a restart without reprocessing, and absorb a
  * crash-redelivery (the same batch applied twice) as a no-op through
  * the tombstone discipline. */
class StreamingIndexSpec extends SparkSpec {
  import spark.implicits._

  private val baseDocs = Seq(
    (1L, "spark merge spark vector"),
    (2L, "merge of the merge tables"),
    (3L, "vector search over spark"),
    (4L, ""),
    (5L, "plain prose with no query terms"),
    (6L, "spark spark spark"),
    (7L, "the vector merge")).toDF("doc_id", "text")

  private def changes: DataFrame = Seq(
    (8L, "fresh spark document about vector merge", "new"),
    (2L, "", "orphaned"),
    (6L, "now about something else entirely", "updated"),
    (4L, "", "orphaned"),
    (9L, "second new doc mentioning spark and merge", "new"),
    (5L, "", "orphaned")).toDF("doc_id", "text", "_change")

  private val finalDocs = Seq(
    (1L, "spark merge spark vector"),
    (3L, "vector search over spark"),
    (6L, "now about something else entirely"),
    (7L, "the vector merge"),
    (8L, "fresh spark document about vector merge"),
    (9L, "second new doc mentioning spark and merge")).toDF("doc_id", "text")

  private def stats(dir: String): (Long, Long) = {
    val r = graft.sources.Sources.readSnapshot(spark,
      s"${graft.sources.Sources.resolveSnapshot(spark, dir)}/stats").first()
    (r.getLong(0), r.getLong(1))
  }

  /** Tombstone segment stats of the version index root `index` resolves to. */
  private def tombstoneSegs(index: String): (Int, Long) =
    LsmTombstones.segmentStats(spark, graft.sources.Sources.resolveSnapshot(spark, index))

  private def search(dir: String): Seq[Seq[Any]] =
    LexicalIndex.searchBm25Index(spark, dir,
        Seq("spark", "merge", "vector"), k = 10)
      .collect().map(_.toSeq).toSeq

  test("stream-maintained index equals the batch-maintained one; restart and redelivery are no-ops") {
    val root = Files.createTempDirectory("graft_stream_idx").toString
    LexicalIndex.writeBm25Index(baseDocs, s"$root/index", nBuckets = 8)

    // 3 feed files = 3 micro-batches (ids disjoint across files)
    changes.repartition(3).write.parquet(s"$root/feed")
    def runStream(): Unit = {
      val stream = spark.readStream.schema(changes.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/feed")
      val q = LexicalIndex.bm25IndexSink(stream, s"$root/index", s"$root/ckpt")
      try q.processAllAvailable() finally q.stop()
    }
    runStream()

    // batch-maintained twin over the identical feed
    val batchDir = Files.createTempDirectory("graft_stream_idx_batch").toString
    LexicalIndex.writeBm25Index(baseDocs, batchDir, nBuckets = 8)
    LexicalIndex.applyBm25IndexChanges(spark, batchDir, changes,
      mode = "append"): Unit

    val oracle = TextAnalysis.bm25(finalDocs, "doc_id", "text",
        Seq("spark", "merge", "vector"), k = 10)
      .collect().map(_.toSeq).toSeq
    assert(search(s"$root/index") == oracle)
    assert(search(batchDir) == oracle)
    assert(stats(s"$root/index") == stats(batchDir))

    // the stream really ran multiple micro-batch applies: one
    // tombstone generation per non-empty micro-batch
    val (segs, _) = tombstoneSegs(s"$root/index")
    assert(segs == 3)

    // RESTART against the same checkpoint with no new files: the
    // committed batches must not reprocess (state bit-unchanged)
    val statsBefore = stats(s"$root/index")
    val segsBefore = tombstoneSegs(s"$root/index")
    runStream()
    assert(stats(s"$root/index") == statsBefore)
    assert(tombstoneSegs(s"$root/index") == segsBefore)
    assert(search(s"$root/index") == oracle)

    // CRASH-REDELIVERY: a batch replayed after a crash-before-commit
    // re-runs the same apply — the tombstone discipline makes it a
    // logical no-op (same ids retracted at the next generation, the
    // identical rows re-inserted, stats delta nets to zero)
    val oneBatch = spark.read.parquet(s"$root/feed").limit(2)
    LexicalIndex.applyBm25IndexChanges(spark, s"$root/index",
      oneBatch, mode = "append"): Unit
    assert(search(s"$root/index") == oracle)
    assert(stats(s"$root/index") == statsBefore)

    // and compaction folds the stream's whole log to the rebuild state
    LexicalIndex.compactBm25Index(spark, s"$root/index")
    val reb = Files.createTempDirectory("graft_stream_idx_reb").toString
    LexicalIndex.writeBm25Index(finalDocs, reb, nBuckets = 8)
    assert(search(s"$root/index") == search(reb))
    assert(stats(s"$root/index") == stats(reb))
  }

  test("sink auto-maintenance: a tight policy compacts mid-stream, state stays exact") {
    val root = Files.createTempDirectory("graft_stream_idx_maint").toString
    LexicalIndex.writeBm25Index(baseDocs, s"$root/index", nBuckets = 8)
    changes.repartition(3).write.parquet(s"$root/feed")
    val stream = spark.readStream.schema(changes.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$root/feed")
    // threshold 1 generation: EVERY micro-batch crosses it, so the
    // sink's trigger compacts after each apply — the stream is the
    // single writer, which is what makes in-loop compaction safe
    val q = LexicalIndex.bm25IndexSink(stream, s"$root/index", s"$root/ckpt",
      maintain = Some(IndexMaintenance.MaintenancePolicy(maxGenerations = 1)))
    try q.processAllAvailable() finally q.stop()
    val h = IndexMaintenance.health(spark,
      graft.sources.Sources.resolveSnapshot(spark, s"$root/index"),
      Seq("postings" -> "_b", "forward" -> "_db", "doclen" -> "_db"))
    assert(h.maxGenerations == 1 && h.tombstoneSegments == 0)
    val oracle = TextAnalysis.bm25(finalDocs, "doc_id", "text",
        Seq("spark", "merge", "vector"), k = 10)
      .collect().map(_.toSeq).toSeq
    assert(search(s"$root/index") == oracle)
  }

  // ---- the IVF-PQ twin (SimilaritySearch.ivfPqIndexSink) ----

  private def vec(id: Long): Seq[Float] = {
    val lobe = if (id % 2 == 0) 0f else 100f
    Seq.tabulate(8)(i => lobe + ((id * 7 + i * 3) % 13).toFloat)
  }
  private def vecs(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(id => (id, vec(id))).toDF("vec_id", "embedding")
  }

  test("stream-maintained IVF-PQ index equals the batch-maintained one; redelivery is a no-op") {
    val baseIds = 0L until 16L
    val root = Files.createTempDirectory("graft_stream_ivf").toString
    SimilaritySearch.writeIvfPqIndex(vecs(baseIds), s"$root/index",
      coarseIds = 0L until 4L, pqIds = 0L until 4L, m = 4)

    val feed = vecs(Seq(16L, 17L)).withColumn("_change", lit("new"))
      .unionByName(vecs(Seq(5L, 9L)).withColumn("_change", lit("orphaned")))
    feed.repartition(2).write.parquet(s"$root/feed")
    val stream = spark.readStream.schema(feed.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$root/feed")
    val q = SimilaritySearch.ivfPqIndexSink(stream, s"$root/index", s"$root/ckpt")
    try q.processAllAvailable() finally q.stop()

    // batch-maintained twin over the identical feed
    val batchDir = Files.createTempDirectory("graft_stream_ivf_batch").toString
    SimilaritySearch.writeIvfPqIndex(vecs(baseIds), batchDir,
      coarseIds = 0L until 4L, pqIds = 0L until 4L, m = 4)
    SimilaritySearch.applyIvfPqIndexChanges(spark, batchDir, feed,
      mode = "append"): Unit

    def searchIvf(d: String): Seq[Seq[Any]] =
      SimilaritySearch.searchIvfPqIndex(spark, d, vecs(Seq(0L, 1L)),
          k = 4, nProbe = 2)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(searchIvf(s"$root/index") == searchIvf(batchDir))
    assert(!searchIvf(s"$root/index").exists(_(2) == 5L)) // orphan killed

    // crash-redelivery: one batch re-applied is a logical no-op
    val before = searchIvf(s"$root/index")
    val oneBatch = spark.read.parquet(s"$root/feed").limit(2)
    SimilaritySearch.applyIvfPqIndexChanges(spark, s"$root/index",
      oneBatch, mode = "append"): Unit
    assert(searchIvf(s"$root/index") == before)

    // compaction folds the stream's log to the bit-exact rebuild state
    SimilaritySearch.compactIvfPqIndex(spark, s"$root/index")
    val reb = Files.createTempDirectory("graft_stream_ivf_reb").toString
    val finalIds = (baseIds ++ Seq(16L, 17L)).filterNot(Seq(5L, 9L).contains)
    SimilaritySearch.writeIvfPqIndex(vecs(finalIds), reb,
      coarseIds = 0L until 4L, pqIds = 0L until 4L, m = 4)
    assert(searchIvf(s"$root/index") == searchIvf(reb))
  }

  test("an offline retrain BETWEEN micro-batches is picked up by the running sink") {
    // the scaladoc claim made executable: generations resolve per
    // micro-batch, so a retrain (atomic _gen swap) landing while the
    // checkpointed sink is idle between batches routes the NEXT batch
    // into the new generation — encoded with the NEW quantizers,
    // tombstoned in the NEW log; the dead generation sees nothing.
    val baseIds = 0L until 16L
    val root = Files.createTempDirectory("graft_stream_retrain").toString
    SimilaritySearch.writeIvfPqIndex(vecs(baseIds), s"$root/index",
      coarseIds = 0L until 4L, pqIds = 0L until 4L, m = 4)
    def searchIvf(d: String): Seq[Seq[Any]] =
      SimilaritySearch.searchIvfPqIndex(spark, d, vecs(Seq(0L, 1L)),
          k = 4, nProbe = 2)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq

    val feedSchema = vecs(Seq(0L)).withColumn("_change", lit("new")).schema
    // batch 1 lands pre-retrain; its file is the only one present
    vecs(Seq(16L, 17L)).withColumn("_change", lit("new"))
      .coalesce(1).write.parquet(s"$root/feed")
    val stream = spark.readStream.schema(feedSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$root/feed")
    val q = SimilaritySearch.ivfPqIndexSink(stream, s"$root/index", s"$root/ckpt")
    try {
      q.processAllAvailable()
      // the sink is idle between micro-batches: retrain offline over
      // the post-batch-1 corpus with DIFFERENT quantizer medoids
      val post1 = vecs(baseIds ++ Seq(16L, 17L))
      val gen = SimilaritySearch.writeIvfPqIndex(post1, s"$root/index",
        coarseIds = Seq(8L, 9L, 10L, 11L),
        pqIds = Seq(12L, 13L, 14L, 15L), m = 4)
      // batch 2 (a kill + an insert) arrives after the swap
      vecs(Seq(3L)).withColumn("_change", lit("orphaned"))
        .unionByName(vecs(Seq(18L)).withColumn("_change", lit("new")))
        .coalesce(1).write.mode("append").parquet(s"$root/feed")
      q.processAllAvailable()
      // batch 2 must live in the NEW generation: its tombstone log has
      // the kill, and the codes carry id 18 encoded with new quantizers
      assert(!LsmTombstones.isEmpty(spark, gen))
      // the maintained state equals a fresh build over the final
      // corpus with the NEW quantizers (frozen-quantizer identity)
      val reb = Files.createTempDirectory("graft_stream_retrain_reb").toString
      SimilaritySearch.writeIvfPqIndex(
        vecs((baseIds ++ Seq(16L, 17L, 18L)).filterNot(_ == 3L)), reb,
        coarseIds = Seq(8L, 9L, 10L, 11L), pqIds = Seq(12L, 13L, 14L, 15L),
        m = 4)
      assert(searchIvf(s"$root/index") == searchIvf(reb))
      assert(!searchIvf(s"$root/index").exists(_(2) == 3L))
    } finally q.stop()
  }

  test("stream-maintained PARTITIONED family equals the batch-routed one") {
    import org.apache.spark.sql.functions.col
    def withPart(df: DataFrame) =
      df.withColumn("part", (col("vec_id") % 2).cast("long"))
    val baseIds = 0L until 16L
    val root = Files.createTempDirectory("graft_stream_part").toString
    SimilaritySearch.writePartitionedIvfPqIndex(withPart(vecs(baseIds)),
      s"$root/index", "part", coarseIds = 0L until 4L, pqIds = 0L until 4L,
      m = 4): Unit
    val feed = withPart(
      vecs(Seq(16L, 17L)).withColumn("_change", lit("new"))
        .unionByName(vecs(Seq(5L, 8L)).withColumn("_change", lit("orphaned"))))
    feed.repartition(2).write.parquet(s"$root/feed")
    val stream = spark.readStream.schema(feed.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$root/feed")
    val q = SimilaritySearch.partitionedIvfPqIndexSink(stream, s"$root/index",
      "part", s"$root/ckpt")
    try q.processAllAvailable() finally q.stop()

    // batch-routed twin over the identical feed
    val batchRoot = Files.createTempDirectory("graft_stream_part_batch").toString
    SimilaritySearch.writePartitionedIvfPqIndex(withPart(vecs(baseIds)),
      batchRoot, "part", coarseIds = 0L until 4L, pqIds = 0L until 4L,
      m = 4): Unit
    SimilaritySearch.applyPartitionedIvfPqIndexChanges(spark, batchRoot,
      "part", feed, mode = "append"): Unit
    def searchPart(d: String): Seq[Seq[Any]] =
      SimilaritySearch.searchPartitionedIvfPqIndex(spark, d, "part",
          Seq(0L, 1L), vecs(Seq(0L, 1L)), k = 4, nProbe = 2)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(searchPart(s"$root/index") == searchPart(batchRoot))
    assert(searchPart(s"$root/index").nonEmpty)
    assert(!searchPart(s"$root/index").exists(r => r(2) == 5L || r(2) == 8L))
  }
}
