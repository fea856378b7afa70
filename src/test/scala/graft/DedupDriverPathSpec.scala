package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{DriverPath, Dedup}
import graft.operators.Dedup.{Fast, HashMode, Portable}
import graft.sources.Sources

/** The driver path of `Dedup.incrementalMinhashDedup` against its
  * distributed path, batch after batch on two stores that start equal:
  * the same survivors under the batch's schema, the same store rows
  * and schema after every publish, and the same number of dropped
  * buckets in the cap ledger. Covers Fast and Portable mode, string
  * ids, an empty store, replayed ids, intra-batch duplicates,
  * duplicate and null ids, documents shorter than n tokens, a bucket
  * above the cap, and the routes above the batch and store bounds. */
class DedupDriverPathSpec extends DriverPathHarness {
  import spark.implicits._

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "completely different content about spark catalyst plans and shuffle exchanges",
    "a third novel document discussing minhash signatures and band buckets",
    "parquet row groups carry min and max statistics for every column chunk",
    "identity registries link local subject ids to one global subject id",
    "the driver collects a small batch once and answers it without a job")
  /** `texts(i)` with its last word replaced: a near duplicate. */
  private def near(i: Int): String = texts(i).split(" ").dropRight(1).mkString(" ") + " again"

  private def docs(rows: (java.lang.Long, String)*): DataFrame = rows.toDF("doc_id", "text")

  private def newStore(): String = Files.createTempDirectory("graft_dedup_dp").toString + "/sigs"

  private def storeRows(dir: String): DataFrame =
    Sources.readSnapshot(spark, dir).select("_id", "signature")

  /** Each batch through both paths, on two stores that start empty. */
  private def same(batches: Seq[DataFrame], mode: HashMode, threshold: Double = 0.5,
      maxBucket: Int = 256): Seq[Long] = {
    val (onDriver, distributed) = (newStore(), newStore())
    for (batch <- batches) yield {
      val c0 = Dedup.capEvents.sum()
      val want = Dedup.incrementalDistributed(batch, "doc_id", "text", distributed,
        3, 64, 16, threshold, maxBucket, mode,
        Some(distributed).filter(Sources.snapshotExists(spark, _))
          .map(Sources.readSnapshot(spark, _)))
      val wantRows = rowsOf(want)
      val c1 = Dedup.capEvents.sum()
      val got = Dedup.incrementalMinhashDedup(batch, "doc_id", "text", onDriver,
        threshold = threshold, maxBucket = maxBucket, mode = mode)
      val c2 = Dedup.capEvents.sum()
      assertOnDriver(got)
      assert(got.schema == want.schema)
      assert(rowsOf(got) == wantRows)
      assert(c2 - c1 == c1 - c0, "cap ledger deltas differ")
      assertSameFrame(storeRows(onDriver), storeRows(distributed))
      c2 - c1
    }
  }

  private def mixedBatches: Seq[DataFrame] = Seq(
    // against an empty store: an intra-batch near duplicate (5 dies),
    // a document shorter than n tokens (6 survives, never stored)
    docs((1L, texts(0)), (2L, texts(1)), (3L, texts(2)), (4L, texts(3)),
      (5L, near(0)), (6L, "two words")),
    // a copy of a stored doc (7 dies), an intra-batch pair (9 dies), a
    // replayed stored id, null ids, a null text, a duplicated id
    docs((7L, texts(0)), (8L, texts(4)), (9L, near(4)), (2L, texts(1)),
      (null, texts(5)), (null, near(5)), (10L, null), (11L, texts(5)),
      (11L, "a second document under the same id with other words")),
    // the first batch replayed, then an empty batch
    docs((1L, texts(0)), (2L, texts(1)), (3L, texts(2)), (4L, texts(3)),
      (5L, near(0)), (6L, "two words")),
    docs())

  test("Fast mode: survivors, store rows and cap ledger match batch after batch") {
    same(mixedBatches, Fast)
    // a non-local batch goes through the bounded collect
    same(mixedBatches.map(_.repartition(2)), Fast)
  }

  test("Portable mode: survivors, store rows and cap ledger match batch after batch") {
    same(mixedBatches, Portable)
  }

  test("string ids order and group like Spark's") {
    val b1 = Seq(("b", texts(0)), ("a", near(0)), ("c", texts(1)), (null, texts(2)))
      .toDF("doc_id", "text")
    val b2 = Seq(("aa", texts(1)), ("B", texts(3)), ("b", texts(3))).toDF("doc_id", "text")
    same(Seq(b1, b2), Fast)
  }

  test("a bucket above maxBucket is dropped on both paths") {
    // five copies of one text put every band bucket at five rows
    val copies = docs((1 to 5).map(i => (Long.box(i.toLong), texts(0))): _*)
    val drops = same(Seq(copies, docs((6L, texts(0)), (7L, texts(1)))), Fast, maxBucket = 3)
    assert(drops.forall(_ == 16), s"cap drops per batch: $drops")
  }

  test("a driver-path shard runs two jobs: probe and store scan") {
    val dir = newStore()
    Dedup.incrementalMinhashDedup(docs((1L, texts(0)), (2L, texts(1))), "doc_id", "text", dir)
    // a file scan, as a shard read from storage: the probe is one job
    val shard = Files.createTempDirectory("graft_dedup_shard").toString + "/b"
    docs((3L, near(0)), (4L, texts(2))).write.parquet(shard)
    val batch = spark.read.parquet(shard)
    val (out, rep) = measured(
      Dedup.incrementalMinhashDedup(batch, "doc_id", "text", dir).collect())
    assert(out.map(_.getLong(0)).toSet == Set(4L))
    // the store publish writes stored ∪ fresh from the driver: no job
    assert(rep.jobs == 2, rep.jobSites.mkString("\n"))
  }

  /** Jobs of the routed call and of the distributed path alone, each on
    * its own copy of `seedStore` (None: no store), and the seeded
    * store's plan-stats size. */
  private def routedVsDistributed(batch: DataFrame, seedStore: Option[DataFrame])
      : (QueryMetrics.Rep, QueryMetrics.Rep, BigInt) = {
    val (routedDir, distDir) = (newStore(), newStore())
    seedStore.foreach { s =>
      Sources.publishSnapshot(s, routedDir)
      Sources.publishSnapshot(s, distDir)
    }
    val seededBytes = seedStore.fold(BigInt(0))(_ =>
      Sources.readSnapshot(spark, routedDir).queryExecution.optimizedPlan.stats.sizeInBytes)
    val (_, distributed) = measured(Dedup.incrementalDistributed(batch, "doc_id", "text",
      distDir, 3, 64, 16, 0.8, 256, Fast,
      seedStore.map(_ => Sources.readSnapshot(spark, distDir))).count())
    val (out, routed) = measured {
      val out = Dedup.incrementalMinhashDedup(batch, "doc_id", "text", routedDir)
      out.count()
      out
    }
    assert(!DriverPath.isLocal(out))
    assertSameFrame(storeRows(routedDir), storeRows(distDir))
    (routed, distributed, seededBytes)
  }

  test("above DriverShardDocs the distributed path runs, one bounded collect more") {
    val big = spark.range(Dedup.DriverShardDocs + 1).select(col("id").as("doc_id"),
      concat(lit("document "), col("id").cast("string"), lit(" with a few more words")).as("text"))
    val (routed, distributed, _) = routedVsDistributed(big, None)
    assertExtraJobs(routed, distributed, 1)
  }

  test("above DriverStoreBytes the distributed path runs, with no probe") {
    // 64 hash-like longs per row barely compress: ~0.5 KB per row
    val rows = (DriverPath.DriverStoreBytes / 400).toInt
    val store = spark.range(rows).select(col("id").as("_id"),
      array((0 until 64).map(i => xxhash64(col("id"), lit(i))): _*).as("signature"))
    val (routed, distributed, storeBytes) = routedVsDistributed(
      docs((-1L, texts(0)), (-2L, texts(1))).repartition(2), Some(store))
    assert(storeBytes > BigInt(DriverPath.DriverStoreBytes))
    assertExtraJobs(routed, distributed, 0)
  }
}
