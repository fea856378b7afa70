package graft.sources

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import org.apache.spark.sql.functions.col

import graft.DriverPathHarness
import graft.operators.DriverPath

/** The round-10 bulk index builders: ONE Spark job indexes N batch
  * dirs (footer-metadata sizing, no per-dir count pass), and the
  * sidecar bytes are IDENTICAL to the round-9 serial per-dir build —
  * bloom (same BloomFilterAggregate expression, same per-dir
  * n/numBits, commutative insertion) and zonemap (same min/max, same
  * repr writer). Un-indexed dirs of at most `DriverPath.DriverStoreBytes`
  * build their bloom filters on the driver with no job, through the
  * same aggregate, so the bytes are the same there too. */
class IndexBulkSpec extends DriverPathHarness {
  import spark.implicits._

  private def mkTable(tag: String): String = {
    val dir = Files.createTempDirectory(s"graft_idx_$tag").toString + "/t"
    val cfg = graft.types.TableConfig("t", Seq("k"), Seq.empty)
    // DISJOINT partitions per publish so the live manifest references
    // all three b- dirs: the builders index only manifest-referenced
    // dirs (r15 — a sidecar for a dir no reader can resolve is a
    // wasted full scan)
    def batch(lo: Long, hi: Long, pBase: Int) =
      (lo to hi).map(i => (i, s"name-$i", java.sql.Timestamp.valueOf(
        f"2024-01-${(i % 27) + 1}%02d 00:00:00"))).toDF("k", "name", "ts")
        .withColumn("ki", (org.apache.spark.sql.functions.col("k") * 7).cast("int"))
        .withColumn("p",
          (org.apache.spark.sql.functions.col("k") % 2 + pBase).cast("int"))
    Sources.publishMergePartitioned(spark, dir, batch(1, 40, 0), cfg, "p")
    Sources.publishMergePartitioned(spark, dir, batch(41, 80, 2), cfg, "p")
    Sources.publishMergePartitioned(spark, dir, batch(81, 120, 4), cfg, "p")
    dir
  }

  private def sidecars(dir: String, name: String): Map[String, Array[Byte]] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(dir)
    fs.listStatus(root).collect {
      case st if st.isDirectory && st.getPath.getName.startsWith("b-") =>
        val p = new org.apache.hadoop.fs.Path(st.getPath, name)
        val in = fs.open(p)
        val bytes = try {
          val buf = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
          buf.toByteArray
        } finally in.close()
        st.getPath.getName -> bytes
    }.toMap
  }

  /** A committed table of three batch dirs whose last one's `p=9`
    * partition holds one zero-row parquet file: every batch dir is
    * indexed, the empty one from a footer count of 0. */
  private def mkWithEmptyDir(tag: String): String = {
    val dir = Files.createTempDirectory(s"graft_idx_$tag").toString + "/t"
    val rows = (1L to 30L).map(i => (i, s"name-$i", (i * 7).toInt, (i % 2).toInt))
      .toDF("k", "name", "ki", "p")
    Sources.publishMergeAppend(spark, dir, rows.filter(col("p") === 0), "p")
    Sources.publishMergeAppend(spark, dir, rows.filter(col("p") === 1), "p")
    Sources.publishMergeAppend(spark, dir, rows.limit(1).withColumn("p", col("p") * 0 + 9), "p")
    // the last batch dir (numbered after commit 2) keeps its p=9
    // segment, now holding zero rows
    val empty = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("b-000000000003-")).head.toString + "/p=9"
    rows.drop("p").limit(0).coalesce(1).write.mode("overwrite").parquet(empty)
    dir
  }

  test("bulk bloom build is byte-identical to the serial build (long and string keys)") {
    // serial per-dir jobs, the one-job build and the driver build, over
    // long, int and string keys; then the same over a layout holding a
    // zero-row dir
    Seq("k", "ki", "name").foreach { keyCol =>
      val a = mkTable(s"ser_$keyCol")
      val b = mkTable(s"blk_$keyCol")
      val c = mkTable(s"drv_$keyCol")
      assert(Sources.indexBatchKeysSerial(spark, a, keyCol) == 3)
      assert(Sources.indexBatchKeys(spark, b, keyCol, 0.01, mayUseDriver = false) == 3)
      val (built, rep) = measured(Sources.indexBatchKeys(spark, c, keyCol))
      assert(built == 3 && rep.jobs == 0, rep.jobSites.mkString("\n"))
      val blobs = Seq(a, b, c).map { t =>
        val sc = sidecars(t, s"_keybloom-$keyCol")
        assert(sc.keySet.size == 3)
        // dir names differ across tables (uid suffix) — compare the
        // SORTED byte blobs (publish order fixes the content per slot)
        sc.toSeq.sortBy(_._1).map(_._2)
      }
      blobs.tail.foreach(_.zip(blobs.head).foreach { case (x, y) =>
        assert(java.util.Arrays.equals(x, y), s"bloom bytes differ for keyCol=$keyCol")
      })
      // the serial build cannot size a zero-row dir (its aggregate
      // returns null): the one-job and driver builds must agree there
      val (eb, ec) = (mkWithEmptyDir(s"eblk_$keyCol"), mkWithEmptyDir(s"edrv_$keyCol"))
      assert(Sources.indexBatchKeys(spark, eb, keyCol, 0.01, mayUseDriver = false) == 3)
      val (emptyBuilt, emptyRep) = measured(Sources.indexBatchKeys(spark, ec, keyCol))
      assert(emptyBuilt == 3 && emptyRep.jobs == 0, emptyRep.jobSites.mkString("\n"))
      val Seq(sb, sc) = Seq(eb, ec).map(t =>
        sidecars(t, s"_keybloom-$keyCol").toSeq.sortBy(_._1).map(_._2))
      assert(sb.size == 3)
      sb.zip(sc).foreach { case (x, y) =>
        assert(java.util.Arrays.equals(x, y), s"bloom bytes differ for keyCol=$keyCol (empty dir)")
      }
    }
  }

  test("bulk zonemap build is byte-identical to the serial build (long, string, timestamp)") {
    Seq("k", "name", "ts").foreach { statCol =>
      val a = mkTable(s"zser_$statCol")
      val b = mkTable(s"zblk_$statCol")
      assert(Sources.indexBatchStatsSerial(spark, a, statCol) == 3)
      assert(Sources.indexBatchStats(spark, b, statCol) == 3)
      val sa = sidecars(a, s"_zonemap-$statCol").toSeq.sortBy(_._1).map(_._2)
      val sb = sidecars(b, s"_zonemap-$statCol").toSeq.sortBy(_._1).map(_._2)
      sa.zip(sb).foreach { case (x, y) =>
        assert(new String(x, "UTF-8") == new String(y, "UTF-8"),
          s"zonemap differs for statCol=$statCol: " +
            s"'${new String(x, "UTF-8")}' vs '${new String(y, "UTF-8")}'")
      }
    }
  }

  // the listener bus is async; a short settle keeps the count exact
  private def waitForListeners(): Unit = Thread.sleep(500)

  /** Three batch dirs whose parquet files together exceed
    * `DriverPath.DriverStoreBytes` by a quarter: random longs do not
    * compress. */
  private def mkTableAboveDriverBound(): String = {
    import org.apache.spark.sql.functions.{lit, xxhash64}
    val dir = Files.createTempDirectory("graft_idx_big").toString + "/t"
    val rows = DriverPath.DriverStoreBytes * 5 / 4 / 8 / 3
    (0 until 3).foreach { b =>
      Sources.publishMergeAppend(spark, dir,
        spark.range(b * rows, (b + 1) * rows)
          .select(xxhash64(col("id")).as("k"), lit(b).as("p")), "p")
    }
    dir
  }

  test("bulk key index runs ONE Spark job for N dirs; idempotent re-run runs none") {
    // under DriverStoreBytes the filters build on the driver: no job
    val small = mkTable("onejob_small")
    val (built, underBound) = measured(Sources.indexBatchKeys(spark, small, "k"))
    assert(built == 3 && underBound.jobs == 0, underBound.jobSites.mkString("\n"))
    val dir = mkTableAboveDriverBound()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    assert(fs.getContentSummary(new org.apache.hadoop.fs.Path(dir)).getLength >
      DriverPath.DriverStoreBytes)
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(Sources.indexBatchKeys(spark, dir, "k") == 3)
      waitForListeners()
      assert(jobs == 1, s"expected exactly one job for 3 dirs, saw $jobs")
      jobs = 0
      assert(Sources.indexBatchKeys(spark, dir, "k") == 0) // all indexed
      waitForListeners()
      assert(jobs == 0, s"idempotent re-run must schedule no job, saw $jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("schema-evolution guard: a dir lacking the column fails loudly, never an empty sidecar") {
    val dir = Files.createTempDirectory("graft_idx_evo").toString + "/t"
    val cfg = graft.types.TableConfig("t", Seq("k"), Seq.empty)
    import org.apache.spark.sql.functions.col
    // first batch has no 'extra' column; second does
    Sources.publishMergePartitioned(spark, dir,
      (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v")
        .withColumn("p", (col("k") % 2).cast("int")), cfg, "p")
    Sources.publishMergePartitioned(spark, dir,
      (11L to 20L).map(i => (i, s"v$i", i * 2)).toDF("k", "v", "extra")
        .withColumn("p", (col("k") % 2).cast("int")), cfg, "p")
    // both bloom builds: on the driver and in one job
    Seq(true, false).foreach { onDriver =>
      val e1 = intercept[IllegalArgumentException] {
        Sources.indexBatchKeys(spark, dir, "extra", 0.01, mayUseDriver = onDriver)
      }
      assert(e1.getMessage.contains("no column 'extra'"))
    }
    val e2 = intercept[IllegalArgumentException] {
      Sources.indexBatchStats(spark, dir, "extra")
    }
    assert(e2.getMessage.contains("no column 'extra'"))
    // no half-written sidecars left behind
    assert(sidecars0(dir, "_keybloom-extra").isEmpty)
    assert(sidecars0(dir, "_zonemap-extra").isEmpty)
  }

  private def sidecars0(dir: String, name: String): Map[String, Array[Byte]] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(dir)).collect {
      case st if st.isDirectory && st.getPath.getName.startsWith("b-") &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, name)) =>
        st.getPath.getName -> Array.empty[Byte]
    }.toMap
  }

  test("keyed lookup and range scan behave identically over bulk-built sidecars") {
    val dir = mkTable("use")
    Sources.indexBatchKeys(spark, dir, "k")
    Sources.indexBatchStats(spark, dir, "k")
    val hit = Sources.readMergePartitionedKeyed(spark, dir, "p", "k", Seq(42L))
      .collect()
    assert(hit.map(_.getAs[Long]("k")).toSeq == Seq(42L))
    val ranged = Sources.readMergePartitionedRange(spark, dir, "p", "k",
        lower = Some(100L), upper = Some(110L))
      .select("k").collect().map(_.getLong(0)).sorted
    assert(ranged.toSeq == (100L to 110L))
  }

  test("concurrent AQE queries never see the shared session's AQE flag change while builds run") {
    val key = "spark.sql.adaptive.enabled"
    assert(spark.conf.get(key) == "true") // GraftSession default
    val tables = (1 to 3).map(i => mkTable(s"aqe$i"))
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val indexer = new Thread(() =>
      try tables.foreach { t =>
        builds.addAndGet(Sources.indexBatchKeys(spark, t, "k") +
          Sources.indexBatchStats(spark, t, "ts") +
          Sources.indexBatchKeys(spark, t, "name") +
          Sources.indexBatchStats(spark, t, "k")): Unit
      } catch { case t: Throwable => err.set(t) })
    indexer.start()
    var checks = 0
    while (indexer.isAlive) {
      assert(spark.conf.get(key) == "true")
      val q = spark.range(2000).groupBy((col("id") % 5).as("g")).count()
      assert(q.collect().length == 5)
      assert(q.queryExecution.executedPlan
        .isInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec])
      checks += 1
    }
    indexer.join()
    assert(err.get == null, String.valueOf(err.get))
    assert(builds.get == 4 * 3 * 3) // every build of every dir ran
    assert(checks > 0)
    assert(spark.conf.get(key) == "true")
  }
}
