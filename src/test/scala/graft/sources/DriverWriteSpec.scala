package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftbridge.TestFrames
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.DriverPathHarness
import graft.operators.DriverPath

/** A snapshot member that is a local relation under
  * `DriverPath.DriverStoreBytes` is written from the driver as one
  * parquet file, with no Spark job: `publishSnapshot` and
  * `publishSnapshotGroup` must read back the same rows under the same
  * schema as the `df.write` path, and a failure inside a member's
  * write must leave the live version readable and an unswapped dir
  * that a later publish reclaims. */
class DriverWriteSpec extends DriverPathHarness {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_driver_write").toString + "/t"

  private val wide = StructType(Seq(
    StructField("s", StringType), StructField("i", IntegerType),
    StructField("l", LongType), StructField("d", DateType),
    StructField("ts", TimestampType), StructField("m", DecimalType(12, 3)),
    StructField("a", ArrayType(LongType)),
    StructField("req", LongType, nullable = false),
    StructField("arr", ArrayType(LongType, containsNull = false), nullable = false)))

  private val wideRows = Seq(
    Row("x", 1, 2L, java.sql.Date.valueOf("2024-06-01"),
      java.sql.Timestamp.valueOf("2024-06-01 12:34:56.789"),
      new java.math.BigDecimal("12345.678"), Seq(1L, null, 3L), 7L, Seq(4L)),
    Row("ünïcode ß", Int.MinValue, Long.MaxValue, java.sql.Date.valueOf("1970-01-01"),
      java.sql.Timestamp.valueOf("1999-12-31 23:59:59"),
      new java.math.BigDecimal("-0.001"), Seq.empty[Long], -1L, Seq.empty[Long]),
    Row(null, null, null, null, null, null, null, 0L, Seq(1L, 2L)))

  /** Frames that cover every type a driver path publishes, nulls, an
    * encoder-built frame (non-nullable primitives) and an empty one. */
  private def frames: Seq[(String, DataFrame)] = Seq(
    "wide" -> DriverPath.localFrame(spark, wideRows, wide),
    "encoded" -> Seq((1, "a", 10L), (2, null, 20L)).toDF("k", "v", "n"),
    "projected" -> DriverPath.localFrame(spark, wideRows, wide)
      .selectExpr("s", "i + 1 AS j", "size(a) AS na"),
    "empty" -> DriverPath.localFrame(spark, Nil, wide))

  test("a local-relation snapshot publish runs no job and reads back like df.write") {
    for ((name, df) <- frames) {
      assertOnDriver(df, name)
      val (viaDriver, viaWrite) = (freshDir(), freshDir())
      val (_, rep) = measured(Sources.publishSnapshot(df, viaDriver))
      assert(rep.jobs == 0, s"$name: ${rep.jobSites.mkString("\n")}")
      // not a local relation: the df.write path
      Sources.publishSnapshot(df.repartition(2), viaWrite)
      assertSameFrame(Sources.readSnapshot(spark, viaDriver),
        Sources.readSnapshot(spark, viaWrite))
    }
  }

  test("a local-relation snapshot group publish runs no job and reads back like df.write") {
    val members = frames.map(_._1)
    val (viaDriver, viaWrite) = (freshDir(), freshDir())
    for (round <- 1 to 2) {
      val (_, rep) = measured(Sources.publishSnapshotGroup(frames, viaDriver))
      assert(rep.jobs == 0, s"round $round: ${rep.jobSites.mkString("\n")}")
      Sources.publishSnapshotGroup(frames.map { case (m, df) => m -> df.repartition(2) },
        viaWrite)
      val got = Sources.readSnapshotGroupAll(spark, viaDriver, members)
      val want = Sources.readSnapshotGroupAll(spark, viaWrite, members)
      members.foreach(m => assertSameFrame(got(m), want(m)))
    }
    // one file per driver-written member
    val live = new java.io.File(Sources.resolveSnapshot(spark, viaDriver))
    members.foreach { m =>
      val files = new java.io.File(live, m).listFiles().map(_.getName)
        .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
      assert(files.length == 1, s"$m: ${files.mkString(", ")}")
    }
  }

  test("a local relation above DriverStoreBytes is written by df.write") {
    // plan stats size a local relation at 8 bytes per row plus each
    // column's default width: 128 longs make a 1,032-byte row
    val width = 128
    val rows = (DriverPath.DriverStoreBytes / (8 + 8 * width)).toInt + 1
    val big = DriverPath.localFrame(spark,
      (0 until rows).map(i => Row.fromSeq(Seq.fill(width)(i.toLong))),
      StructType((0 until width).map(c => StructField(s"c$c", LongType))))
    assert(DriverPath.isLocal(big) && !DriverPath.fits(big))
    val dir = freshDir()
    val (_, rep) = measured(Sources.publishSnapshot(big, dir))
    assert(rep.jobs >= 1)
    assert(Sources.readSnapshot(spark, dir).count() == rows)
  }

  test("a failure inside a driver-written member leaves the live version; a later publish reclaims its dir") {
    val dir = freshDir()
    Sources.publishSnapshotGroup(Seq("p" -> Seq(1).toDF("x"), "q" -> Seq("a").toDF("y")), dir)
    // the sixth row holds an int where the schema says string: the
    // writer has written five rows when it fails
    val bad = TestFrames.unchecked(spark, StructType(Seq(StructField("y", StringType))),
      (1 to 10).map(i =>
        if (i == 6) InternalRow(i) else InternalRow(UTF8String.fromString(s"v$i"))))
    assert(DriverPath.isLocal(bad) && DriverPath.fits(bad))
    intercept[ClassCastException] {
      Sources.publishSnapshotGroup(Seq("p" -> Seq(2).toDF("x"), "q" -> bad), dir)
    }
    def live(): (Seq[Int], Seq[String]) = {
      val m = Sources.readSnapshotGroupAll(spark, dir, Seq("p", "q"))
      (m("p").as[Int].collect().toSeq, m("q").as[String].collect().toSeq)
    }
    assert(live() == (Seq(1), Seq("a")))
    val root = new java.io.File(dir)
    def versionDirs(): Set[String] =
      root.listFiles().map(_.getName).filter(_.startsWith("v-")).toSet
    val liveDir = new java.io.File(Sources.resolveSnapshot(spark, dir)).getName
    // the failed publish never claimed: its version dir (with the failed
    // member's partial file and its finished sibling) is gone, and no
    // claim names version 2
    assert(versionDirs() == Set(liveDir), s"${versionDirs()}")
    assert(!new java.io.File(root, "commit-000000000002").exists())
    // so the next publish lands at once, at version 2
    Sources.publishSnapshotGroup(Seq("p" -> Seq(3).toDF("x"), "q" -> Seq("c").toDF("y")), dir)
    assert(live() == (Seq(3), Seq("c")))
    assert(new java.io.File(Sources.resolveSnapshot(spark, dir)).getName
      .startsWith("v-000000000002-"))
    assert(versionDirs().size == 2, s"${versionDirs()}")
  }

  test("time travel reads the claimed dir and refuses an unclaimed leftover") {
    val dir = freshDir()
    for ((x, y) <- Seq(1 -> "a", 2 -> "b"))
      Sources.publishSnapshotGroup(Seq("p" -> Seq(x).toDF("x"), "q" -> Seq(y).toDF("y")), dir)
    // a publish wrote version 3 and failed in member q's write; its dir
    // delete failed too, so member p's files stay, claimed by nothing
    val leftover = "v-000000000003-00000000"
    Seq(3).toDF("x").write.parquet(s"$dir/$leftover/p")
    Sources.publishSnapshotGroup(Seq("p" -> Seq(4).toDF("x"), "q" -> Seq("d").toDF("y")), dir)
    assert(Sources.snapshotVersions(spark, dir) == Seq(1L, 2L, 3L))
    // version 3 is the claimed dir, never the same-numbered leftover
    val v3 = Sources.readSnapshotGroupVersion(spark, dir, 3L, Seq("p", "q"))
    assert(v3("p").as[Int].collect().toSeq == Seq(4) && v3("q").as[String].collect().toSeq == Seq("d"))
    // a version that no claim names is refused, naming the retained ones
    Seq(5).toDF("x").write.parquet(s"$dir/v-000000000005-00000000/p")
    val e = intercept[IllegalArgumentException] {
      Sources.readSnapshotGroupVersion(spark, dir, 5L, Seq("p", "q"))
    }
    assert(e.getMessage.contains("have: 1,2,3"), e.getMessage)
    intercept[IllegalArgumentException](Sources.readSnapshotVersion(spark, dir, 5L))
    val v2 = Sources.readSnapshotGroupVersion(spark, dir, 2L, Seq("p", "q"))
    assert(v2("p").as[Int].collect().toSeq == Seq(2) && v2("q").as[String].collect().toSeq == Seq("b"))
  }
}
