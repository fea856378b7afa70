package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.DriverPathHarness
import graft.operators.DriverPath
import graft.types.TableConfig

/** The row-level change feed computed on the driver
  * (`processMergeRowChangesWithDeletes` with the changed and old entry
  * files under `DriverPath.DriverMergeBytes`) against its distributed
  * plans: the same `delta` and `orphanedKeys`, row for row and schema
  * for schema, as local relations and with no job, over inserts,
  * updates, unchanged rows, retractions, "" and NaN against null, a
  * difference in an ignored field alone, null and repeated keys,
  * all-new partitions, whole-partition drops and manifests of several
  * dir groups. A publish racing the read leaves the delta at the
  * resolved version, a file deleted mid-read fails the cycle with its
  * checkpoint where it was, and above the bound (or for a schema the
  * driver delta does not cover) the distributed plans run at no extra
  * job. */
class ChangeFeedDriverPathSpec extends DriverPathHarness {
  import spark.implicits._

  HookFs.register(spark.sparkContext.hadoopConfiguration)

  private val cfg = TableConfig("t", Seq("k"), Seq.empty)

  private def root(tag: String): String =
    Files.createTempDirectory(s"graft_cfd_$tag").toString

  /** Rows of (k, name, score, updated_at, p); `k` may be null. */
  private def rows(rs: (java.lang.Long, String, java.lang.Double, String, Int)*): DataFrame =
    rs.toDF("k", "name", "score", "updated_at", "p")

  /** One delivery of the feed on checkpoint `ck`. */
  private def feed(dir: String, ck: String, mayUseDriver: Boolean): Option[Sources.RowDelta] =
    Sources.processMergeRowChangesWithDeletes(spark, dir, ck, Seq("k"), "p",
      mayUseDriver)((d, _) => d)

  /** Seeds a table with `seed`, checkpoints two consumers at it, runs
    * `change`, then delivers the change to both: one may use the driver
    * delta, one runs the distributed plans. The driver delivery must be
    * local relations built with no job, and equal the distributed one.
    * Returns the driver delivery's delta and orphaned keys, as rows. */
  private def agree(tag: String)(seed: String => Unit)(change: String => Unit)
      : (Seq[String], Seq[String]) = {
    val r = root(tag)
    val dir = s"$r/t"
    seed(dir)
    for (ck <- Seq("d", "t")) assert(feed(dir, s"$r/$ck", mayUseDriver = false).exists(_.fullResync))
    change(dir)
    val (got, rep) = measured(feed(dir, s"$r/d", mayUseDriver = true).get)
    assert(rep.jobs == 0, rep.jobSites.map(_.callSite).mkString("\n"))
    assertOnDriver(got.delta, s"$tag delta")
    assertOnDriver(got.orphanedKeys, s"$tag orphaned keys")
    val want = feed(dir, s"$r/t", mayUseDriver = false).get
    assert(!got.fullResync && !want.fullResync)
    assertSameFrame(got.delta, want.delta)
    assertSameFrame(got.orphanedKeys, want.orphanedKeys)
    (rowsOf(got.delta.select("k", "name")), rowsOf(got.orphanedKeys))
  }

  private def merge(dir: String, df: DataFrame): Unit =
    Sources.publishMergePartitioned(spark, dir, df, cfg, "p"): Unit

  private def replace(dir: String, df: DataFrame, partitions: Int*): Unit =
    Sources.publishMergeReplace(spark, dir, df, "p", partitions)

  test("inserts, updates and unchanged rows") {
    val (delta, orphans) = agree("upsert") { dir =>
      merge(dir, rows((1L, "a", 1.0, "t0", 1), (2L, "b", 2.0, "t0", 1), (3L, "c", 3.0, "t0", 1),
        (4L, "d", 4.0, "t0", 2)))
    } { dir =>
      merge(dir, rows((1L, "a", 1.0, "t0", 1), (2L, "B", 2.0, "t0", 1), (5L, "e", 5.0, "t0", 1)))
    }
    assert(delta == Seq("[2,B]", "[5,e]") && orphans.isEmpty)
  }

  test("orphans from a delete and a replace, over a manifest of several dir groups") {
    val (delta, orphans) = agree("orphans") { dir =>
      merge(dir, rows((1L, "a", 1.0, "t0", 1), (2L, "b", 2.0, "t0", 1), (3L, "c", 3.0, "t0", 2)))
      merge(dir, rows((4L, "d", 4.0, "t0", 2), (5L, "e", 5.0, "t0", 3)))
      Sources.publishMergeAppend(spark, dir, rows((6L, "f", 6.0, "t0", 3)), "p")
    } { dir =>
      Sources.publishMergeDeletes(spark, dir, Seq((1L, 1)).toDF("k", "p"), cfg, "p")
      replace(dir, rows((7L, "g", 7.0, "t0", 2), (4L, "d", 4.0, "t0", 2)), 2)
      merge(dir, rows((8L, "h", 8.0, "t0", 3)))
    }
    assert(delta == Seq("[7,g]", "[8,h]"))
    assert(orphans == Seq("[1]", "[3]"))
  }

  test("\"\" and NaN count as null, and a difference in an ignored field alone is no change") {
    val (delta, orphans) = agree("norm") { dir =>
      merge(dir, rows((1L, null, 1.0, "t0", 1), (2L, "n", Double.NaN, "t0", 1),
        (3L, "m", null, "t0", 1), (4L, "o", 1.0, "t0", 1), (5L, "z", 0.0, "t0", 1),
        (6L, "", null, "t0", 1)))
    } { dir =>
      replace(dir, rows((1L, "", 1.0, "t0", 1), (2L, "n", null, "t0", 1),
        (3L, "m", null, "t1", 1), (4L, "o", 2.0, "t0", 1), (5L, "z", -0.0, "t0", 1),
        (6L, null, Double.NaN, "t0", 1)), 1)
    }
    assert(delta == Seq("[4,o]") && orphans.isEmpty)
  }

  test("null keys on either side: dropped from the delta, kept among the orphans") {
    val (delta, orphans) = agree("nullkeys") { dir =>
      Sources.publishMergeAppend(spark, dir,
        rows((null, "old-null", 1.0, "t0", 1), (1L, "a", 1.0, "t0", 1), (2L, "b", 1.0, "t0", 1)), "p")
    } { dir =>
      replace(dir, rows((null, "new-null", 1.0, "t0", 1), (1L, "a", 1.0, "t0", 1),
        (3L, "c", 1.0, "t0", 1)), 1)
    }
    assert(delta == Seq("[3,c]"))
    assert(orphans == Seq("[2]", "[null]"))
  }

  test("a key repeated on either side keeps the anti-joins' rows") {
    val (delta, orphans) = agree("repeats") { dir =>
      Sources.publishMergeAppend(spark, dir, rows((1L, "a", 1.0, "t0", 1), (1L, "a2", 1.0, "t0", 1),
        (2L, "b", 1.0, "t0", 1), (7L, "q", 1.0, "t0", 1), (7L, "q", 1.0, "t0", 1)), "p")
    } { dir =>
      replace(dir, rows((1L, "a", 1.0, "t0", 1), (1L, "x", 1.0, "t0", 1),
        (2L, "b", 1.0, "t0", 1), (2L, "b", 1.0, "t0", 1)), 1)
    }
    assert(delta == Seq("[1,x]"))
    assert(orphans == Seq("[7]", "[7]"))
  }

  test("all-new partitions and whole-partition drops") {
    val seed = (dir: String) =>
      merge(dir, rows((1L, "a", 1.0, "t0", 1), (2L, "b", 2.0, "t0", 2), (3L, "c", 2.0, "t0", 2)))
    val (inserts, none) = agree("allnew")(seed) { dir =>
      merge(dir, rows((4L, "d", 1.0, "t0", 8), (5L, "e", 1.0, "t0", 9)))
    }
    assert(inserts == Seq("[4,d]", "[5,e]") && none.isEmpty)
    val (nothing, dropped) = agree("drops")(seed) { dir =>
      replace(dir, rows().limit(0), 2)
    }
    assert(nothing.isEmpty && dropped == Seq("[2]", "[3]"))
  }

  test("a publish racing the read: the delta is the resolved version's, the next cycle delivers the rival") {
    val r = root("race")
    val dir = s"${HookFs.Scheme}://$r/t"
    val ck = s"$r/ck"
    merge(dir, rows((1L, "a", 1.0, "t0", 1), (2L, "b", 1.0, "t0", 2)))
    assert(feed(dir, ck, mayUseDriver = true).exists(_.fullResync))
    merge(dir, rows((1L, "A", 1.0, "t0", 1), (3L, "c", 1.0, "t0", 1)))
    // the rival publishes while the feed reads its first data file
    HookFs.arm(_ => merge(dir, rows((2L, "B", 1.0, "t0", 2), (4L, "d", 1.0, "t0", 2))))
    try {
      val first = feed(dir, ck, mayUseDriver = true).get
      assert(!HookFs.pending, "the rival never ran")
      assertOnDriver(first.delta)
      assert(rowsOf(first.delta.select("k", "name")) == Seq("[1,A]", "[3,c]"))
      val next = feed(dir, ck, mayUseDriver = true).get
      assert(rowsOf(next.delta.select("k", "name")) == Seq("[2,B]", "[4,d]"))
      assert(feed(dir, ck, mayUseDriver = true).isEmpty)
    } finally HookFs.disarm()
  }

  test("a file deleted mid-read fails the cycle loudly and leaves the checkpoint where it was") {
    val r = root("vanish")
    val dir = s"${HookFs.Scheme}://$r/t"
    val ck = s"$r/ck"
    merge(dir, rows((1L, "a", 1.0, "t0", 1), (2L, "b", 1.0, "t0", 2)))
    assert(feed(dir, ck, mayUseDriver = true).exists(_.fullResync))
    val version = () => new String(Files.readAllBytes(java.nio.file.Paths.get(ck, "_version")))
    val before = version()
    merge(dir, rows((1L, "A", 1.0, "t0", 1), (2L, "B", 1.0, "t0", 2)))
    // on the first data file's open, every other data file of the table goes
    HookFs.arm { opened =>
      Files.walk(java.nio.file.Paths.get(r, "t")).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => p.toString.endsWith(".parquet") && p.getFileName.toString != opened.getName)
        .foreach(Files.delete)
    }
    try {
      val e = intercept[java.io.FileNotFoundException] {
        feed(dir, ck, mayUseDriver = true)
      }
      assert(e.getMessage.contains(".parquet"), e.getMessage)
      assert(!HookFs.pending, "the delete never ran")
    } finally HookFs.disarm()
    assert(version() == before)
  }

  /** The feed on twin checkpoints of a table built by `seed` and
    * `change`: the one that may use the driver must take the
    * distributed plans, at the distributed consumer's job count, and
    * deliver the same rows. */
  private def distributed(tag: String, keys: Seq[String] = Seq("k"))(seed: String => Unit)(
      change: String => Unit): Unit = {
    val r = root(tag)
    val dir = s"$r/t"
    seed(dir)
    def consume(ck: String, mayUseDriver: Boolean) =
      Sources.processMergeRowChangesWithDeletes(spark, dir, ck, keys, "p", mayUseDriver) {
        (d, _) =>
          (d, d.delta.count(), d.orphanedKeys.count())
      }.get
    for (ck <- Seq("r", "t")) consume(s"$r/$ck", mayUseDriver = false)
    change(dir)
    val ((got, n, o), routed) = measured(consume(s"$r/r", mayUseDriver = true))
    val ((want, wn, wo), today) = measured(consume(s"$r/t", mayUseDriver = false))
    assert(!DriverPath.isLocal(got.delta) && !DriverPath.isLocal(got.orphanedKeys), tag)
    assertExtraJobs(routed, today, 0)
    assert((n, o) == (wn, wo), tag)
    assert(got.delta.schema == want.delta.schema && got.orphanedKeys.schema == want.orphanedKeys.schema)
  }

  test("above DriverMergeBytes the distributed plans run, no job more") {
    // one partition of random longs a quarter above the bound
    val n = DriverPath.DriverMergeBytes * 5 / 4 / 8
    distributed("bytes") { dir =>
      Sources.publishMergeAppend(spark, dir, spark.range(n).select(xxhash64(col("id")).as("k"),
        lit(1).as("p")), "p")
    } { dir =>
      Sources.publishMergeAppend(spark, dir, Seq((1L, 1)).toDF("k", "p"), "p")
    }
  }

  test("a schema the driver delta does not cover, or dir groups under different schemas, stay distributed") {
    distributed("double_key") { dir =>
      Sources.publishMergeAppend(spark, dir, Seq((1.5, "a", 1)).toDF("k", "v", "p"), "p")
    } { dir =>
      Sources.publishMergeAppend(spark, dir, Seq((2.5, "b", 1)).toDF("k", "v", "p"), "p")
    }
    distributed("binary_key") { dir =>
      Sources.publishMergeAppend(spark, dir, Seq((Array[Byte](1), "a", 1)).toDF("k", "v", "p"), "p")
    } { dir =>
      Sources.publishMergeAppend(spark, dir, Seq((Array[Byte](2), "b", 1)).toDF("k", "v", "p"), "p")
    }
    distributed("evolved") { dir =>
      Sources.publishMergeAppend(spark, dir, Seq((1L, "a", 1)).toDF("k", "v", "p"), "p")
    } { dir =>
      Sources.publishMergeAppend(spark, dir, Seq((2L, "b", 7L, 1)).toDF("k", "v", "w", "p"), "p")
    }
    distributed("map_column") { dir =>
      Sources.publishMergeAppend(spark, dir, Seq((1L, Map("x" -> 1), 1)).toDF("k", "m", "p"), "p")
    } { dir =>
      Sources.publishMergeAppend(spark, dir, Seq((2L, Map("y" -> 2), 1)).toDF("k", "m", "p"), "p")
    }
  }

  test("map columns, at any depth, compare by their entries: a new entry order is no change") {
    // key 1 keeps its entries in another order, key 2 changes a value,
    // key 3 a value inside an array of maps, key 4 is new
    def row(k: Long, m: Seq[(String, Int)], nested: Seq[(String, Int)]) =
      (k, scala.collection.immutable.ListMap(m: _*), Seq(scala.collection.immutable.ListMap(nested: _*)), 1)
    val r = root("maps")
    val dir = s"$r/t"
    val cols = Seq("k", "m", "ms", "p")
    Sources.publishMergeAppend(spark, dir, Seq(row(1L, Seq("a" -> 1, "b" -> 2), Seq("x" -> 1)),
      row(2L, Seq("a" -> 1), Seq("x" -> 1)), row(3L, Seq("a" -> 1), Seq("x" -> 1, "y" -> 2)))
      .toDF(cols: _*), "p")
    assert(feed(dir, s"$r/ck", mayUseDriver = true).exists(_.fullResync))
    Sources.publishMergeAppend(spark, dir, Seq(row(1L, Seq("b" -> 2, "a" -> 1), Seq("x" -> 1)),
      row(2L, Seq("a" -> 9), Seq("x" -> 1)), row(3L, Seq("a" -> 1), Seq("y" -> 2, "x" -> 3)),
      row(4L, Seq("a" -> 1), Nil)).toDF(cols: _*), "p")
    // the driver delta declines map columns: the distributed plans deliver
    val got = feed(dir, s"$r/ck", mayUseDriver = true).get
    assert(!DriverPath.isLocal(got.delta))
    assert(got.delta.select("k").as[Long].collect().toSet == Set(2L, 3L, 4L))
  }
}
