package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryMetrics, SparkSpec}

/** Engine-written tables are read with the schema their manifest
  * records (merge tables) or the schema of one footer (snapshots), not
  * Spark's schema inference, which runs a Spark job on every read.
  * Each read below must give the schema and rows of the inferred read
  * of the same dirs, and building the frame must schedule no job. */
class ReadSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"graft_schema_$tag").toString + "/t"

  /** Jobs scheduled while `build` makes its frame (none may run it). */
  private def jobsToBuild[T](build: => T): (T, Long) = {
    val (df, r) = QueryMetrics.install(spark).measure(build)
    (df, r.jobs)
  }

  private def assertSame(got: DataFrame, inferred: DataFrame): Unit = {
    assert(got.schema == inferred.schema)
    assert(got.collect().map(_.toString).sorted.toSeq ==
      inferred.collect().map(_.toString).sorted.toSeq)
  }

  private def readText(path: String): String = {
    val p = java.nio.file.Paths.get(path)
    new String(Files.readAllBytes(p), "UTF-8").trim
  }

  /** The live manifest's entries: its lines after the format-version
    * line and the per-group schema lines. */
  private def liveEntries(dir: String): Seq[String] =
    readText(s"$dir/${Claims.live(dir)}").split("\n").toSeq
      .filterNot(l => l.startsWith("version\t") || l.startsWith("schema\t"))

  /** The live manifest's dirs read per batch dir with inference. */
  private def inferredMerge(dir: String): DataFrame = {
    val entries = liveEntries(dir)
    entries.groupBy(e => e.splitAt(e.lastIndexOf('/') + 1)._1).toSeq.sortBy(_._1)
      .map { case (parent, es) =>
        val base = if (parent.isEmpty) dir else s"$dir/${parent.stripSuffix("/")}"
        spark.read.option("basePath", base).parquet(es.map(e => s"$dir/$e"): _*)
      }.reduce(_ unionByName _)
  }

  private val cfg = graft.types.TableConfig("t", Seq("k"), Seq.empty)

  test("merge table: no inference job, same frame, empty reads keep the schema") {
    val dir = fresh("merge")
    Sources.publishMergePartitioned(spark, dir,
      (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v")
        .withColumn("p", (col("k") % 2).cast("int")), cfg, "p")
    Sources.publishMergePartitioned(spark, dir,
      (5L to 9L by 2L).map(i => (i, s"w$i")).toDF("k", "v").withColumn("p", lit(1)), cfg, "p")
    Sources.publishMergePartitioned(spark, dir,
      (20L to 23L).map(i => (i, s"x$i")).toDF("k", "v").withColumn("p", lit(2)), cfg, "p")
    val inferred = inferredMerge(dir)

    val (all, j1) = jobsToBuild(Sources.readMergePartitioned(spark, dir, "p"))
    assert(j1 == 0)
    assertSame(all, inferred)
    val (keyed, j2) = jobsToBuild(
      Sources.readMergePartitionedKeyed(spark, dir, "p", "k", Seq(7L, 21L)))
    assert(j2 == 0)
    assertSame(keyed, inferred.filter(col("k").isin(7L, 21L)))

    // every dir excluded by its sidecar: an empty frame of the same schema
    Sources.indexBatchKeys(spark, dir, "k")
    Sources.indexBatchStats(spark, dir, "k")
    val (noKey, j3) = jobsToBuild(
      Sources.readMergePartitionedKeyed(spark, dir, "p", "k", Seq(999L)))
    val (noRange, j4) = jobsToBuild(
      Sources.readMergePartitionedRange(spark, dir, "p", "k", Some(500L), None))
    assert(j3 == 0 && j4 == 0)
    assertSame(noKey, inferred.limit(0))
    assertSame(noRange, inferred.limit(0))
  }

  test("merge table whose later batch adds a column: each batch dir reads its own schema") {
    val dir = fresh("evolved")
    Sources.publishMergePartitioned(spark, dir,
      (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v")
        .withColumn("p", (col("k") % 2).cast("int")), cfg, "p")
    // an append writes its batch as given (a merge publish keeps the
    // table's columns), so the new dir carries the added column
    Sources.publishMergeAppend(spark, dir,
      (20L to 23L).map(i => (i, s"x$i", i * 3)).toDF("k", "v", "extra")
        .withColumn("p", lit(2)), "p")
    Sources.indexBatchKeys(spark, dir, "k")
    val entries = liveEntries(dir)
    def inferredDir(top: String) = spark.read.option("basePath", s"$dir/$top")
      .parquet(entries.filter(_.startsWith(top + "/")).map(e => s"$dir/$e"): _*)
    val Seq(older, newer) = entries.map(_.takeWhile(_ != '/')).distinct.sorted
    // a key in one batch dir alone reads that dir's schema, as inference does
    val (a, ja) = jobsToBuild(Sources.readMergePartitionedKeyed(spark, dir, "p", "k", Seq(3L)))
    val (b, jb) = jobsToBuild(Sources.readMergePartitionedKeyed(spark, dir, "p", "k", Seq(22L)))
    assert(ja == 0 && jb == 0)
    assertSame(a, inferredDir(older).filter(col("k") === 3L))
    assertSame(b, inferredDir(newer).filter(col("k") === 22L))
    assert(b.columns.toSeq == Seq("k", "v", "extra", "p"))
  }

  test("snapshot, snapshot group and version reads: no inference job, same frame") {
    val one = Seq((1, "a", Seq(1.5, 2.5), java.sql.Timestamp.valueOf("2024-01-02 03:04:05"),
        BigDecimal("12.34")), (2, null, Seq.empty[Double], null, null))
      .toDF("i", "s", "arr", "ts", "dec")
    val two = Seq(("x", 10L)).toDF("name", "n")

    val snap = fresh("snap")
    Sources.publishSnapshot(one, snap)
    Sources.publishSnapshot(one.filter(col("i") === 2), snap)
    val (live, j1) = jobsToBuild(Sources.readSnapshot(spark, snap))
    assert(j1 == 0)
    assertSame(live, spark.read.parquet(Sources.resolveSnapshot(spark, snap)))
    val v1 = Sources.snapshotVersions(spark, snap).head
    val v1Dir = new java.io.File(snap).listFiles().map(_.getPath)
      .filter(_.matches(s".*/v-0*$v1(-.*)?")).head
    val (old, j2) = jobsToBuild(Sources.readSnapshotVersion(spark, snap, v1))
    assert(j2 == 0)
    assertSame(old, spark.read.parquet(v1Dir))
    assert(old.count() == 2)

    val group = fresh("group")
    Sources.publishSnapshotGroup(Seq("one" -> one, "two" -> two), group)
    Sources.publishSnapshotGroup(Seq("one" -> one.limit(1), "two" -> two), group)
    val liveDir = Sources.resolveSnapshot(spark, group)
    val (m, j3) = jobsToBuild(Sources.readSnapshotGroup(spark, group, "one"))
    val (all, j4) = jobsToBuild(Sources.readSnapshotGroupAll(spark, group, Seq("one", "two")))
    assert(j3 == 0 && j4 == 0)
    assertSame(m, spark.read.parquet(s"$liveDir/one"))
    Seq("one", "two").foreach(k => assertSame(all(k), spark.read.parquet(s"$liveDir/$k")))
    val g1 = Sources.snapshotVersions(spark, group).head
    val g1Dir = new java.io.File(group).listFiles().map(_.getPath)
      .filter(_.matches(s".*/v-0*$g1(-.*)?")).head
    val (gOld, j5) = jobsToBuild(
      Sources.readSnapshotGroupVersion(spark, group, g1, Seq("one", "two")))
    assert(j5 == 0)
    Seq("one", "two").foreach(k => assertSame(gOld(k), spark.read.parquet(s"$g1Dir/$k")))
    assert(gOld("one").count() == 2)
  }

  test("a plain parquet dir read as a snapshot keeps inference") {
    val dir = fresh("plain")
    Seq((1, "a")).toDF("i", "s").write.parquet(dir)
    assertSame(Sources.readSnapshot(spark, dir), spark.read.parquet(dir))
  }
}
