package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.DriverPathHarness
import graft.operators.DriverPath
import graft.types.TableConfig

/** A merge-table publish of at most `DriverPath.DriverBatchRows` rows
  * whose touched partitions hold at most `DriverPath.DriverMergeBytes`
  * of files runs on the driver: it must return the distributed path's
  * merged rows under its schema, leave a table that the plain and the
  * keyed reader read back exactly as the distributed path's, commit
  * through the same claim, and leave nothing behind when its write
  * fails. Above each bound, and for key or column types the Scala merge
  * does not cover, today's distributed plan runs, at a known number of
  * jobs. */
class MergeDriverPathSpec extends DriverPathHarness {
  import spark.implicits._

  private val cfg = TableConfig("t", Seq("k"), Seq.empty)

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"graft_mdp_$tag").toString + "/t"

  private def batchDirs(dir: String): Set[String] =
    new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("b-")).toSet

  /** Runs `seed` on two fresh tables (distributed), then publishes
    * `incoming` on the driver path into one and on the distributed
    * path into the other: the driver publish must run no job beyond
    * the bounded collect and agree with the distributed one on the
    * returned frame, the table read back, and a keyed read of `keys`. */
  private def agree(tag: String, incoming: DataFrame, keys: Seq[Any],
      c: TableConfig = cfg, p: String = "p")(seed: String => Unit): Unit = {
    val (onDriver, today) = (freshDir(s"${tag}_d"), freshDir(s"${tag}_t"))
    seed(onDriver); seed(today)
    val (_, probe) = measured(DriverPath.batchRows(incoming, DriverPath.DriverBatchRows))
    val (got, rep) = measured(Sources.publishMergePartitioned(spark, onDriver, incoming, c, p))
    assertOnDriver(got, tag)
    assertExtraJobs(rep, probe, 0)
    val want = Sources.publishMergePartitioned(spark, today, incoming, c, p, mayUseDriver = false)
    assertSameFrame(got, want)
    assertSameFrame(Sources.readMergePartitioned(spark, onDriver, p),
      Sources.readMergePartitioned(spark, today, p))
    assertSameFrame(Sources.readMergePartitionedKeyed(spark, onDriver, p, c.naturalKey.head, keys),
      Sources.readMergePartitionedKeyed(spark, today, p, c.naturalKey.head, keys))
  }

  private def seedWith(frames: DataFrame*)(c: TableConfig, p: String)(dir: String): Unit =
    frames.foreach(f =>
      Sources.publishMergePartitioned(spark, dir, f, c, p, mayUseDriver = false): Unit)

  test("inserts, updates, unchanged and untouched rows match the distributed merge") {
    val seed = Seq((1L, "a", 1.0, 1), (2L, "b", 2.0, 1), (3L, "c", 3.0, 2), (4L, "d", 4.0, 3))
      .toDF("k", "name", "v", "p")
    val incoming = Seq((1L, "a", 1.0, 1), (2L, "B", 2.0, 1), (5L, "e", 5.0, 2), (6L, "f", 6.0, 4))
      .toDF("k", "name", "v", "p")
    // a local batch is read with no job; any other costs the bounded collect
    agree("basic_local", incoming, Seq(1L, 2L, 4L, 5L, 6L, 99L))(seedWith(seed)(cfg, "p"))
    agree("basic", incoming.repartition(2), Seq(1L, 2L, 4L, 5L, 6L, 99L))(
      seedWith(seed)(cfg, "p"))
  }

  test("\"\" and null compare equal, and so do NaN and null, in the changed-field test") {
    val seed = Seq[(Long, Option[String], Option[Double], Int)](
      (1L, Some(""), Some(Double.NaN), 1), (2L, None, Some(1.0), 1),
      (3L, Some("x"), Some(Double.NaN), 1), (4L, Some("y"), Some(2.0), 1),
      (5L, Some(""), None, 1)).toDF("k", "name", "v", "p")
    val incoming = Seq[(Long, Option[String], Option[Double], Int)](
      (1L, None, Some(Double.NaN), 1), (2L, Some(""), Some(1.0), 1),
      (3L, Some("x"), None, 1), (4L, Some("y"), Some(Double.NaN), 1),
      (5L, Some("z"), Some(-0.0), 1), (6L, Some(""), Some(Double.NaN), 1))
      .toDF("k", "name", "v", "p")
    agree("norm", incoming, Seq(1L, 4L, 6L))(seedWith(seed)(cfg, "p"))
  }

  test("duplicate keys pair up in full; null keys never match") {
    val seed = Seq[(Option[Long], String, Int)](
      (Some(5L), "s1", 1), (Some(5L), "s2", 1), (None, "sn", 1), (Some(6L), "s6", 1))
      .toDF("k", "v", "p")
    val incoming = Seq[(Option[Long], String, Int)](
      (Some(5L), "i1", 1), (Some(5L), "i2", 1), (None, "in", 1), (Some(7L), "i7", 1),
      (Some(6L), "s6", 1)).toDF("k", "v", "p")
    agree("dups", incoming, Seq(5L, 6L, 7L))(seedWith(seed)(cfg, "p"))
    // a two-column key with a null part never matches either
    val two = TableConfig("t", Seq("k", "j"), Seq.empty)
    val seed2 = Seq[(Option[Long], Option[String], String, Int)](
      (Some(1L), None, "a", 1), (Some(1L), Some("x"), "b", 1)).toDF("k", "j", "v", "p")
    val inc2 = Seq[(Option[Long], Option[String], String, Int)](
      (Some(1L), None, "A", 1), (Some(1L), Some("x"), "B", 1)).toDF("k", "j", "v", "p")
    agree("dups2", inc2, Seq(1L), two)(seedWith(seed2)(two, "p"))
  }

  test("update_only drops inserts; immutable fields and system columns keep their value") {
    val c = TableConfig("t", Seq("k"), Seq("created"), strategy = "update_only")
    val seed = Seq((1L, "2020", "a", "u1", 1), (2L, "2021", "b", "u2", 1))
      .toDF("k", "created", "v", "updated_at", "p")
    val incoming = Seq((1L, "2099", "A", "u9", 1), (2L, "2099", "b", "u9", 1),
      (3L, "2099", "c", "u9", 1)).toDF("k", "created", "v", "updated_at", "p")
    // seeded as an upsert: an update_only seed into an empty table inserts nothing
    agree("upd_only", incoming, Seq(1L, 2L, 3L), c)(seedWith(seed)(cfg, "p"))
    val imm = TableConfig("t", Seq("k"), Seq("created"))
    agree("immutable", incoming, Seq(1L, 2L, 3L), imm)(seedWith(seed)(imm, "p"))
  }

  test("incoming without a current column, and with one current lacks") {
    val seed = Seq((1L, "a", 10L, 1), (2L, "b", 20L, 1)).toDF("k", "a", "b", "p")
    val incoming = Seq((1L, "A", true, 1), (3L, "c", false, 1)).toDF("k", "a", "x", "p")
    agree("columns", incoming, Seq(1L, 3L))(seedWith(seed)(cfg, "p"))
  }

  test("partition values that need escaping, and null and empty partition values") {
    val values = Seq[Option[String]](Some("a/b"), Some("c d"), Some("x:y=z"), Some(""), None,
      Some("plain"))
    val seed = values.zipWithIndex.map { case (v, i) => (i.toLong, s"s$i", v) }
      .toDF("k", "v", "p")
    val incoming = Seq[(Long, String, Option[String])]((0L, "A", Some("a/b")),
      (2L, "C", Some("x:y=z")), (3L, "D", Some("")), (4L, "E", None), (9L, "N", Some("n%1")),
      (10L, "M", Some("q?#"))).toDF("k", "v", "p")
    agree("escape", incoming, Seq(0L, 3L, 4L, 9L, 10L))(seedWith(seed)(cfg, "p"))
  }

  test("a null or empty partition value merges with the default partition's current rows") {
    // null and "" are both written to the default partition: its rows
    // that the batch does not send must survive the segment's rewrite
    val seed = Seq[(Long, String, Option[String])]((1L, "a", None), (2L, "b", Some("x")),
      (5L, "e", Some(""))).toDF("k", "v", "p")
    for ((tag, incoming) <- Seq(
        "null" -> Seq[(Long, String, Option[String])]((3L, "c", None)).toDF("k", "v", "p"),
        "empty" -> Seq[(Long, String, Option[String])]((4L, "d", Some(""))).toDF("k", "v", "p"),
        "update" -> Seq[(Long, String, Option[String])]((1L, "A", Some(""))).toDF("k", "v", "p"))) {
      var dirs = Seq.empty[String]
      agree(s"default_$tag", incoming, Seq(1L, 2L, 3L, 4L, 5L)) { dir =>
        dirs :+= dir
        seedWith(seed)(cfg, "p")(dir)
      }
      val sent = incoming.as[(Long, String, Option[String])].collect().map(_._1).toSet
      dirs.foreach { dir =>
        val got = Sources.readMergePartitioned(spark, dir, "p")
          .as[(Long, String, Option[String])].collect()
        assert(got.map(_._1).sorted.toSeq == (Set(1L, 2L, 5L) ++ sent).toSeq.sorted, tag)
      }
    }
  }

  test("a recorded partition type keeps its rows on both paths") {
    // each batch dir reads under the schema its manifest records, so
    // `p=01` stays the string '01' (inference: the int 1),
    // `p=2024-01-01` a string (a date) and `p=7` a long (an int): the
    // touched partition's current rows enter the merge on both paths
    def keys(dir: String): Seq[Long] =
      Sources.readMergePartitioned(spark, dir, "p").select("k").as[Long].collect().toSeq.sorted
    def check(tag: String, p: Any): Unit = {
      val seed = Seq((1L, "a"), (2L, "b")).toDF("k", "v").withColumn("p", lit(p))
      val incoming = Seq((2L, "B"), (3L, "c")).toDF("k", "v").withColumn("p", lit(p))
      var dirs = Seq.empty[String]
      agree(tag, incoming, Seq(1L, 2L, 3L, 4L)) { dir =>
        dirs :+= dir
        Sources.publishMergePartitioned(spark, dir, seed, cfg, "p", mayUseDriver = false): Unit
      }
      dirs.foreach(d => assert(keys(d) == Seq(1L, 2L, 3L), s"$tag: $d"))
    }
    check("date_string", "2024-01-01")
    check("long", 7L)
    check("zero_padded", "01")
  }

  test("a partition spread over several batch dirs is read from all of them") {
    agree("spread", Seq((1L, "A", 1), (3L, "c", 1), (4L, "d", 2)).toDF("k", "v", "p"),
        Seq(1L, 2L, 3L)) { dir =>
      Sources.publishMergePartitioned(spark, dir, Seq((1L, "a", 1), (9L, "z", 2)).toDF("k", "v", "p"),
        cfg, "p", mayUseDriver = false): Unit
      Sources.publishMergeAppend(spark, dir, Seq((2L, "b", 1)).toDF("k", "v", "p"), "p")
      assert(Sources.mergeGenerations(spark, dir, "p")("p=1") == 2)
    }
  }

  test("a rival commit between the basis read and the claim rebases in or refuses") {
    for (samePartition <- Seq(false, true)) {
      val dir = freshDir("rival")
      Sources.publishMergePartitioned(spark, dir,
        Seq((1L, "a", 1), (2L, "b", 2)).toDF("k", "v", "p"), cfg, "p"): Unit
      val rivalP = if (samePartition) 1 else 2
      val rivalErr = new java.util.concurrent.atomic.AtomicReference[Throwable]
      // the rival publishes (on the driver path: no job) while the
      // bounded collect of this publish's batch runs, after the basis read
      MergeDriverPathSpec.hook = () => {
        val t = new Thread(() =>
          try Sources.publishMergePartitioned(spark, dir,
            Seq((9L, "r", rivalP)).toDF("k", "v", "p"), cfg, "p"): Unit
          catch { case e: Throwable => rivalErr.set(e) })
        t.start(); t.join()
      }
      MergeDriverPathSpec.armed.set(true)
      val fire = udf(() => MergeDriverPathSpec.fireOnce()).asNondeterministic()
      val incoming = Seq((1L, "A", 1)).toDF("k", "v", "p").repartition(1).filter(fire())
      val before = batchDirs(dir)
      def rows(): Set[(Long, String, Int)] = Sources.readMergePartitioned(spark, dir, "p")
        .as[(Long, String, Int)].collect().toSet
      if (samePartition) {
        intercept[java.util.ConcurrentModificationException] {
          Sources.publishMergePartitioned(spark, dir, incoming, cfg, "p")
        }
        assert(rows() == Set((1L, "a", 1), (2L, "b", 2), (9L, "r", 1)))
        // the refused publish reclaimed its batch dir: only the rival's is new
        assert((batchDirs(dir) -- before).size == 1)
      } else {
        assertOnDriver(Sources.publishMergePartitioned(spark, dir, incoming, cfg, "p"))
        assert(rows() == Set((1L, "A", 1), (2L, "b", 2), (9L, "r", 2)))
      }
      assert(rivalErr.get == null, String.valueOf(rivalErr.get))
      assert(!MergeDriverPathSpec.armed.get, "the rival never ran")
    }
  }

  test("a failure mid-write leaves the live version and no batch dir behind") {
    val dir = freshDir("fail")
    Sources.publishMergePartitioned(spark, dir, Seq((1L, "a", "p1")).toDF("k", "v", "p"), cfg, "p")
    val (before, dirs, versions) = (Sources.readMergePartitioned(spark, dir, "p").collect().toSet,
      batchDirs(dir), Sources.mergeVersions(spark, dir))
    // partitions are written in segment order: p=p1 lands, then the
    // second segment's directory name is longer than a file name may be
    val tooLong = "z" * 300
    intercept[java.io.IOException] {
      Sources.publishMergePartitioned(spark, dir,
        Seq((2L, "b", "p1"), (3L, "c", tooLong)).toDF("k", "v", "p"), cfg, "p")
    }
    assert(Sources.readMergePartitioned(spark, dir, "p").collect().toSet == before)
    assert(batchDirs(dir) == dirs)
    assert(Sources.mergeVersions(spark, dir) == versions)
    // and the table stays publishable
    Sources.publishMergePartitioned(spark, dir, Seq((2L, "b", "p1")).toDF("k", "v", "p"), cfg, "p")
    assert(Sources.readMergePartitioned(spark, dir, "p").count() == 2)
  }

  /** The same publish into twin tables seeded alike, routed and with the
    * driver path off: the routed one must take today's plan (a
    * distributed result) at `extra` jobs more, and both tables must
    * read back alike. */
  private def today(tag: String, incoming: DataFrame, extra: Int, c: TableConfig = cfg)(
      seed: String => Unit): Unit = {
    val (routed, off) = (freshDir(s"${tag}_r"), freshDir(s"${tag}_o"))
    seed(routed); seed(off)
    val (got, rep) = measured(Sources.publishMergePartitioned(spark, routed, incoming, c, "p"))
    val (_, base) = measured(Sources.publishMergePartitioned(spark, off, incoming, c, "p",
      mayUseDriver = false))
    assert(!DriverPath.isLocal(got), tag)
    assertExtraJobs(rep, base, extra)
    // cells as strings: a binary cell's Row.toString is its identity
    val (a, b) = (Sources.readMergePartitioned(spark, routed, "p"),
      Sources.readMergePartitioned(spark, off, "p"))
    assert(a.schema == b.schema, tag)
    assert(rowsOf(a.select(a.columns.map(col(_).cast("string")): _*)) ==
      rowsOf(b.select(b.columns.map(col(_).cast("string")): _*)), tag)
  }

  test("above DriverBatchRows today's plan runs, one bounded collect more") {
    val n = DriverPath.DriverBatchRows + 1
    val big = spark.range(n).select(col("id").as("k"), lit("v").as("v"),
      (col("id") % 3).cast("int").as("p"))
    today("rows", big, extra = 1)(
      seedWith(Seq((1L, "a", 1), (2L, "b", 5)).toDF("k", "v", "p"))(cfg, "p"))
  }

  test("above DriverMergeBytes today's plan runs, the batch's rows standing in for the partition probe") {
    // one partition of random longs a quarter above the bound
    val rows = DriverPath.DriverMergeBytes * 5 / 4 / 8
    val seed = (dir: String) => Sources.publishMergeAppend(spark, dir,
      spark.range(rows).select(xxhash64(col("id")).as("k"), lit(1).as("p")), "p")
    // the batch's rows (a local relation, read with no job) stand in
    // for the two-job distinct probe of its partition values
    today("bytes", Seq((1L, 1), (2L, 2)).toDF("k", "p"), extra = -2)(seed)
  }

  test("key and column types the Scala merge does not cover take today's plan, no job more") {
    def seedOf(df: DataFrame): String => Unit = seedWith(df)(cfg, "p")
    today("float_key", Seq((1.5f, "a", 1)).toDF("k", "v", "p"), 0)(
      seedOf(Seq((1.5f, "x", 1), (2.5f, "y", 1)).toDF("k", "v", "p")))
    today("double_key", Seq((1.5, "a", 1)).toDF("k", "v", "p"), 0)(
      seedOf(Seq((1.5, "x", 1)).toDF("k", "v", "p")))
    today("binary_key", Seq((Array[Byte](1, 2), "a", 1)).toDF("k", "v", "p"), 0)(
      seedOf(Seq((Array[Byte](1, 2), "x", 1)).toDF("k", "v", "p")))
    today("array_key", Seq((Seq(1L, 2L), "a", 1)).toDF("k", "v", "p"), 0)(
      seedOf(Seq((Seq(1L, 2L), "x", 1)).toDF("k", "v", "p")))
    val withMap = TableConfig("t", Seq("k"), Seq("m"))
    today("map_column", Seq((1L, Map("a" -> 1), "a", 1)).toDF("k", "m", "v", "p"), 0, withMap)(
      seedWith(Seq((1L, Map("b" -> 2), "x", 1)).toDF("k", "m", "v", "p"))(withMap, "p"))
    today("type_mismatch", Seq((1L, 7, 1)).toDF("k", "v", "p"), 0)(
      seedOf(Seq((1L, 5L, 1)).toDF("k", "v", "p")))
  }
}

object MergeDriverPathSpec {
  @volatile var hook: () => Unit = () => ()
  val armed = new java.util.concurrent.atomic.AtomicBoolean(true)

  /** Runs [[hook]] the first time it is called after [[armed]] is set. */
  def fireOnce(): Boolean = {
    if (armed.compareAndSet(true, false)) hook()
    true
  }
}
