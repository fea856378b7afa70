package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{IdentityResolver, SchemaValidator}
import graft.pipeline.Pipelines
import graft.sources.Sources
import graft.streaming.EventStream
import graft.types.{MappingConfig, TableConfig}

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("csv fragment round-trip keeps header + values") {
    val dir = Files.createTempDirectory("graft_csv").toString
    val df = Seq(("BS-1", "Blood"), ("BS-2", "Saliva")).toDF("sample_id", "sample_type")
    Sources.writeCsv(df, s"$dir/out")
    val back = Sources.readCsv(spark, s"$dir/out")
    assert(back.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("BS-1", "Blood"), ("BS-2", "Saliva")))
  }

  test("partitioned json sink writes one directory per key (S12)") {
    val dir = Files.createTempDirectory("graft_json").toString
    Sources.writePartitionedJson(
      Seq(("G1", "a"), ("G2", "b")).toDF("gsid", "payload"), s"$dir/subjects", "gsid")
    val dirs = new java.io.File(s"$dir/subjects").listFiles().map(_.getName).filter(_.startsWith("gsid="))
    assert(dirs.toSet == Set("gsid=G1", "gsid=G2"))
  }

  test("publishSnapshot swaps the live version atomically via the pointer") {
    val dir = Files.createTempDirectory("graft_snap").toString + "/table"
    Sources.publishSnapshot(Seq(1, 2, 3).toDF("x"), dir)
    assert(Sources.readSnapshot(spark, dir).count() == 3)
    Sources.publishSnapshot(Seq(4, 5).toDF("x"), dir)
    assert(Sources.readSnapshot(spark, dir).count() == 2)
    // pruning keeps the live version + two previous; older are deleted
    Sources.publishSnapshot(Seq(6).toDF("x"), dir)
    Sources.publishSnapshot(Seq(7, 8).toDF("x"), dir)
    val versions = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("v-")).sorted
    val vnums = versions.map(_.stripPrefix("v-").takeWhile(_.isDigit).toLong)
    assert(versions.length == 3 && !vnums.contains(1L), versions.mkString(","))
    assert(Sources.readSnapshot(spark, dir).count() == 2)
  }

  test("snapshot time travel: retained versions readable, pruned fails loudly") {
    val dir = Files.createTempDirectory("graft_tt").toString + "/table"
    Sources.publishSnapshot(Seq(1).toDF("x"), dir)        // v1
    Sources.publishSnapshot(Seq(2, 2).toDF("x"), dir)     // v2
    Sources.publishSnapshot(Seq(3, 3, 3).toDF("x"), dir)  // v3
    assert(Sources.snapshotVersions(spark, dir) == Seq(1L, 2L, 3L))
    // a job that pinned v2 still reads v2's data after v3 published
    assert(Sources.readSnapshotVersion(spark, dir, 2L).count() == 2)
    assert(Sources.readSnapshotVersion(spark, dir, 1L).count() == 1)
    Sources.publishSnapshot(Seq(4).toDF("x"), dir)        // v4 prunes v1
    assert(Sources.snapshotVersions(spark, dir) == Seq(2L, 3L, 4L))
    assert(Sources.readSnapshotVersion(spark, dir, 3L).count() == 3)
    intercept[IllegalArgumentException] {
      Sources.readSnapshotVersion(spark, dir, 1L)
    }
  }

  test("publishSnapshot never exposes a missing or partial table to a concurrent reader") {
    val dir = Files.createTempDirectory("graft_snap_conc").toString + "/table"
    Sources.publishSnapshot(Seq.fill(50)(1).toDF("x"), dir)
    @volatile var failure: Option[String] = None
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop && failure.isEmpty) {
        // resolve first so a failure can be judged against the
        // RETENTION contract: a resolved version must stay readable
        // until two further publishes complete; only a reader lagging
        // 3+ versions behind the live pointer may see pruning
        val resolved = Sources.resolveSnapshot(spark, dir)
        def vOf(p: String): Long = p.split("/v-").last.takeWhile(_.isDigit).toLong
        try {
          // every observed snapshot must be a COMPLETE version: 50 rows
          // of a single constant value, never empty, never mixed
          val rows = spark.read.parquet(resolved).collect()
          if (rows.length != 50 || rows.map(_.getInt(0)).distinct.length != 1)
            failure = Some(s"partial snapshot: ${rows.length} rows")
        } catch {
          case e: Throwable =>
            val live = vOf(Sources.resolveSnapshot(spark, dir))
            if (live - vOf(resolved) < 3)
              failure = Some(s"reader failed inside the retention window " +
                s"(resolved v${vOf(resolved)}, live v$live): ${e.getMessage}")
          // else: out-of-retention — the documented two-publish bound
        }
      }
    })
    reader.start()
    for (v <- 2 to 6 if failure.isEmpty)
      Sources.publishSnapshot(Seq.fill(50)(v).toDF("x"), dir)
    stop = true
    reader.join(30000)
    assert(failure.isEmpty, failure.getOrElse(""))
  }

  test("concurrent snapshot publishers never tear a version dir (distinct uid dirs)") {
    // Racing publishers SERIALIZE through the r17 dense-claim OCC: a
    // raced loser refuses loudly (ConcurrentModificationException) and
    // redrives — never a torn version dir, and (new in r17) never a
    // silent whole lost update either. Every observable snapshot is one
    // publisher's complete frame.
    val dir = Files.createTempDirectory("graft_snap_race").toString + "/table"
    Sources.publishSnapshot(Seq.fill(50)(0).toDF("x"), dir)
    @volatile var failure: Option[String] = None
    val refusals = new java.util.concurrent.atomic.AtomicInteger(0)
    val publishers = (1 to 3).map { k =>
      new Thread(() => {
        try {
          for (i <- 1 to 4 if failure.isEmpty) {
            var done = false
            while (!done && failure.isEmpty)
              try {
                Sources.publishSnapshot(Seq.fill(50)(k * 10 + i).toDF("x"), dir)
                done = true
              } catch {
                // the loud refuse path: re-derive (content is
                // independent here) and redrive
                case _: java.util.ConcurrentModificationException =>
                  refusals.incrementAndGet(): Unit
              }
          }
        } catch {
          case e: Throwable => failure = Some(s"publisher $k died: ${e.getMessage}")
        }
      })
    }
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop && failure.isEmpty) {
        try {
          val rows = Sources.readSnapshot(spark, dir).collect()
          if (rows.length != 50 || rows.map(_.getInt(0)).distinct.length != 1)
            failure = Some(s"torn snapshot: ${rows.length} rows, " +
              s"values ${rows.map(_.getInt(0)).distinct.toSeq}")
        } catch {
          case _: Throwable => () // retention lag is exercised by the spec above
        }
      }
    })
    (publishers :+ reader).foreach(_.start())
    publishers.foreach(_.join(60000))
    stop = true
    reader.join(30000)
    assert(failure.isEmpty, failure.getOrElse(""))
    // end state: complete, single-version table from some publisher,
    // and every publisher landed all 4 of its frames (12 publishes + 1
    // seed = committed version ≥ 13; with silent lost updates the
    // committed number would still advance, but a refused-and-redriven
    // publisher would have hung or dropped frames — the loop above
    // completing proves each refusal was loud and redrivable)
    val fin = Sources.readSnapshot(spark, dir).collect()
    assert(fin.length == 50 && fin.map(_.getInt(0)).distinct.length == 1)
    assert(Sources.snapshotReadBasis(spark, dir) >= 13L)
    info(s"observed ${refusals.get()} loud claim refusals across the race")
  }

  test("partitioned MERGE publish rewrites only touched partitions") {
    import graft.types.TableConfig
    val dir = Files.createTempDirectory("graft_pmerge").toString + "/table"
    val cfg = TableConfig("t", Seq("id"), Seq.empty)
    // the seed is the table's first publish: one batch dir
    Sources.publishMergePartitioned(spark, dir,
      Seq((1L, "c1", 10.0), (2L, "c1", 20.0), (3L, "c2", 30.0), (4L, "c3", 40.0))
        .toDF("id", "center", "v"), cfg, "center")
    val Seq(seed) = new java.io.File(dir).list().filter(_.startsWith("b-")).toSeq
    val untouchedFiles = new java.io.File(s"$dir/$seed/center=c3").listFiles()
      .map(f => f.getName -> f.lastModified).toMap

    // incoming touches c1 only: update id=1, insert id=5
    val incoming = Seq((1L, "c1", 11.0), (5L, "c1", 50.0)).toDF("id", "center", "v")
    Sources.publishMergePartitioned(spark, dir, incoming, cfg, "center")

    val back = Sources.readMergePartitioned(spark, dir, "center").collect()
      .map(r => r.getAs[Long]("id") -> (r.getAs[String]("center"), r.getAs[Double]("v"))).toMap
    assert(back == Map(
      1L -> ("c1", 11.0), 2L -> ("c1", 20.0), 5L -> ("c1", 50.0),
      3L -> ("c2", 30.0), 4L -> ("c3", 40.0)))
    // untouched partition directory, in the seed batch dir, kept its
    // exact files
    val afterFiles = new java.io.File(s"$dir/$seed/center=c3").listFiles()
      .map(f => f.getName -> f.lastModified).toMap
    assert(afterFiles == untouchedFiles)
  }

  test("change feed: partition-level and row-level deltas between retained versions") {
    import graft.types.TableConfig
    val dir = Files.createTempDirectory("graft_pmerge_cf").toString + "/table"
    val cfg = TableConfig("t", Seq("id"), Seq.empty)
    Sources.publishMergePartitioned(spark, dir,
      Seq((1L, "c1", 10.0), (2L, "c1", 20.0), (3L, "c2", 30.0), (4L, "c3", 40.0))
        .toDF("id", "center", "v"), cfg, "center")
    val incoming1 = Seq((1L, "c1", 11.0), (5L, "c2", 50.0)).toDF("id", "center", "v")
    Sources.publishMergePartitioned(spark, dir, incoming1, cfg, "center")
    val since = Sources.mergeVersions(spark, dir).max

    // second publish touches c1 only: update id=2, insert id=6, and
    // re-send id=1 bit-identical (must drop out of the row feed)
    val incoming2 = Seq((1L, "c1", 11.0), (2L, "c1", 21.0), (6L, "c1", 60.0))
      .toDF("id", "center", "v")
    Sources.publishMergePartitioned(spark, dir, incoming2, cfg, "center")

    // partition feed: only c1's current state, named by dir diff alone
    val part = Sources.readMergePartitionedChanges(spark, dir, since, "center").collect()
    assert(part.map(_.getAs[String]("center")).toSet == Set("c1"))
    assert(part.map(r => r.getAs[Long]("id") -> r.getAs[Double]("v")).toMap ==
      Map(1L -> 11.0, 2L -> 21.0, 6L -> 60.0))

    // row feed: unchanged id=1 dropped, update classified with fields
    val rows = Sources.mergeRowChangesSince(spark, dir, since, Seq("id"), "center")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("change_status"), r.getAs[Seq[String]]("changed_fields")))
      .toMap
    assert(rows == Map(2L -> ("updated", Seq("v")), 6L -> ("new", Seq.empty)))

    // compaction is invisible to the row feed (content-identical)...
    val since2 = Sources.mergeVersions(spark, dir).max
    Sources.compactMergePartitioned(spark, dir, "center")
    assert(Sources.mergeRowChangesSince(spark, dir, since2, Seq("id"), "center").isEmpty)
    // ...while the partition feed degrades to a full, still-correct read
    assert(Sources.readMergePartitionedChanges(spark, dir, since2, "center").count() == 6)

    // a pruned since-version fails loudly, never a silent full delta
    val ex = intercept[IllegalArgumentException] {
      Sources.mergeRowChangesSince(spark, dir, 0L, Seq("id"), "center")
    }
    assert(ex.getMessage.contains("not retained"))
  }

  test("incremental consumer: checkpointed deltas, idle skip, crash re-delivery") {
    import graft.types.TableConfig
    val base = Files.createTempDirectory("graft_pmerge_inc").toString
    val dir = base + "/table"
    val ck = base + "/ckpt"
    val cfg = TableConfig("t", Seq("id"), Seq.empty)
    def run() = Sources.processMergeChanges(spark, dir, ck, "center") {
      (df, v) => (df.count(), v)
    }

    // nothing published yet
    assert(run().isEmpty)
    Sources.publishMergePartitioned(spark, dir,
      Seq((1L, "c1", 10.0), (2L, "c2", 20.0)).toDF("id", "center", "v"), cfg, "center")
    Sources.publishMergePartitioned(spark, dir,
      Seq((3L, "c1", 30.0)).toDF("id", "center", "v"), cfg, "center")

    // first cycle: full state; second: idle skip
    assert(run().contains((3L, Sources.mergeVersions(spark, dir).max)))
    assert(run().isEmpty)

    // third cycle: only the rewritten partition's state (c1: ids 1,3,4)
    Sources.publishMergePartitioned(spark, dir,
      Seq((4L, "c1", 40.0)).toDF("id", "center", "v"), cfg, "center")
    assert(run().map(_._1).contains(3L))
    assert(run().isEmpty)

    // a crash inside f leaves the checkpoint alone -> re-delivery
    Sources.publishMergePartitioned(spark, dir,
      Seq((5L, "c2", 50.0)).toDF("id", "center", "v"), cfg, "center")
    intercept[RuntimeException] {
      Sources.processMergeChanges(spark, dir, ck, "center") {
        (_, _) => throw new RuntimeException("consumer died")
      }
    }
    assert(run().isDefined) // same delta delivered again
    assert(run().isEmpty)
  }

  test("prune deletes aged rotated manifests but spares a stalled publisher's young one") {
    import graft.types.TableConfig
    val dir = Files.createTempDirectory("graft_pmerge_grace").toString + "/table"
    val cfg = TableConfig("t", Seq("id"), Seq.empty)
    def batch(v: Double) = Seq((1L, "c1", v)).toDF("id", "center", "v")
    Sources.publishMergePartitioned(spark, dir, batch(1.0), cfg, "center") // manifest 1
    val root = new java.io.File(dir)
    // publisher B stalled between manifest write and pointer swap:
    // fully written manifest (number 2) + batch dir, both YOUNG
    new java.io.File(root, "b-000000000002-zz/center=c9").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "manifest-000000000002-zz"),
      "version\t1\nb-000000000002-zz/center=c9")
    // an in-flight dir referenced by NO manifest at all
    new java.io.File(root, "b-000000000777-inflight").mkdirs()
    for (v <- 2 to 6) // manifests 778.. (in-flight dir bumps the counter)
      Sources.publishMergePartitioned(spark, dir, batch(v.toDouble), cfg, "center")
    def manifests() = root.listFiles().map(_.getName)
      .filter(_.startsWith("manifest-")).sorted.toSeq
    // age every rotated manifest EXCEPT the stalled one past the grace
    val retainedNow = manifests().takeRight(3).toSet
    manifests().filterNot(retainedNow)
      .filterNot(_ == "manifest-000000000002-zz").foreach { m =>
        new java.io.File(root, m).setLastModified(
          System.currentTimeMillis() - 11L * 60 * 1000): Unit
      }
    val aged = manifests().filterNot(retainedNow)
      .filterNot(_ == "manifest-000000000002-zz")
    Sources.publishMergePartitioned(spark, dir, batch(7.0), cfg, "center")
    val after = manifests().toSet
    // aged rotated manifests died (bounded metadata), but...
    assert(aged.forall(m => !after.contains(m)), after.mkString(", "))
    // ...B's young-but-rotated manifest and its dir both survive: a
    // pointer swap landing now cannot reference deleted data
    assert(after.contains("manifest-000000000002-zz"), after.mkString(", "))
    assert(new java.io.File(root, "b-000000000002-zz").exists())
    // and the never-referenced in-flight dir is untouched
    assert(new java.io.File(root, "b-000000000777-inflight").exists())
  }

  test("partitioned MERGE publish never exposes a mid-rewrite or mixed table to a concurrent reader") {
    import graft.types.TableConfig
    val dir = Files.createTempDirectory("graft_pmerge_conc").toString + "/table"
    // partitions p=0..3, 25 ids each; every publish rewrites p=1..3
    // with a single new constant v — a consistent observation is
    // exactly one v across all of p=1..3, p=0 byte-stable, 100 rows
    def batch(v: Double, ps: Seq[Int]): org.apache.spark.sql.DataFrame =
      ps.flatMap(p => (0 until 25).map(i => (p * 100L + i, p, v)))
        .toDF("id", "p", "v")
    val cfg = TableConfig("t", Seq("id"), Seq.empty)
    Sources.publishMergePartitioned(spark, dir, batch(0.0, Seq(0, 1, 2, 3)), cfg, "p")
    @volatile var failure: Option[String] = None
    @volatile var stop = false
    def liveManifest(): Long = graft.sources.Claims.top(dir)
    val reader = new Thread(() => {
      while (!stop && failure.isEmpty) {
        val resolvedAtLeast = liveManifest() // lower bound on what the read resolves
        // a resolved manifest must stay readable until two further
        // publishes complete (same retention contract as the snapshot
        // reader spec); only a reader lagging 3+ manifests behind the
        // live pointer may observe pruning — as an exception OR as a
        // silently-partial listing (files vanish between listing and
        // scan), so the window check guards every verdict below
        def inWindow: Boolean = liveManifest() - resolvedAtLeast < 3
        try {
          val rows = Sources.readMergePartitioned(spark, dir, "p").collect()
          if (rows.length != 100) {
            if (inWindow) failure = Some(s"partial table: ${rows.length} rows")
          } else {
            val vs = rows.filter(_.getAs[Int]("p") != 0).map(_.getAs[Double]("v")).distinct
            val v0 = rows.filter(_.getAs[Int]("p") == 0).map(_.getAs[Double]("v")).distinct
            if (vs.length != 1) {
              if (inWindow)
                failure = Some(s"mixed partitions: saw versions ${vs.sorted.mkString(",")}")
            } else if (v0.toSeq != Seq(0.0))
              failure = Some(s"untouched partition changed: $v0")
          }
        } catch {
          case e: Throwable =>
            if (inWindow)
              failure = Some(s"reader failed inside the retention window: ${e.getMessage}")
        }
      }
    })
    reader.start()
    for (v <- 1 to 4 if failure.isEmpty)
      Sources.publishMergePartitioned(spark, dir, batch(v.toDouble, Seq(1, 2, 3)), cfg, "p")
    stop = true
    reader.join(60000)
    assert(failure.isEmpty, failure.getOrElse(""))
    // end state: live manifest reads v=4 on p=1..3, v=0 on p=0
    val fin = Sources.readMergePartitioned(spark, dir, "p").collect()
    assert(fin.length == 100)
    assert(fin.filter(_.getAs[Int]("p") != 0).forall(_.getAs[Double]("v") == 4.0))
  }

  test("stress: N publishers x M readers with active grace-window pruning stay consistent") {
    import graft.types.TableConfig
    // 3 publishers each own one partition and publish 4 versions of it
    // concurrently; 2 readers continuously assert snapshot consistency;
    // an ager thread keeps pushing ROTATED manifests past the grace
    // window so pruning (and its FileNotFound races) runs DURING the
    // publish/read traffic, not after it. The documented concurrent-
    // publisher degradation is a LOST UPDATE (a partition may read an
    // older of its own versions) — never a torn partition, a mixed
    // per-partition version set, a changed untouched partition, or a
    // row-count change.
    val dir = Files.createTempDirectory("graft_pmerge_stress").toString + "/table"
    def batch(v: Double, ps: Seq[Int]): org.apache.spark.sql.DataFrame =
      ps.flatMap(p => (0 until 25).map(i => (p * 100L + i, p, v)))
        .toDF("id", "p", "v")
    val cfg = TableConfig("t", Seq("id"), Seq.empty)
    Sources.publishMergePartitioned(spark, dir, batch(0.0, Seq(0, 1, 2, 3)), cfg, "p")
    @volatile var failure: Option[String] = None
    @volatile var stop = false
    def liveManifest(): Long = graft.sources.Claims.top(dir)

    val publishers = (1 to 3).map { k =>
      new Thread(() => {
        try {
          for (v <- 1 to 4 if failure.isEmpty)
            Sources.publishMergePartitioned(spark, dir,
              batch(v.toDouble, Seq(k)), cfg, "p")
        } catch {
          case e: Throwable => failure = Some(s"publisher $k died: ${e.getMessage}")
        }
      })
    }
    val readers = (1 to 2).map { _ =>
      new Thread(() => {
        while (!stop && failure.isEmpty) {
          val resolvedAtLeast = liveManifest()
          def inWindow: Boolean = liveManifest() - resolvedAtLeast < 3
          try {
            val rows = Sources.readMergePartitioned(spark, dir, "p").collect()
            if (rows.length != 100) {
              if (inWindow) failure = Some(s"partial table: ${rows.length} rows")
            } else {
              val perPart = rows.groupBy(_.getAs[Int]("p"))
                .map { case (p, rs) => p -> rs.map(_.getAs[Double]("v")).distinct.toSeq }
              perPart.find(_._2.length != 1).foreach { case (p, vs) =>
                if (inWindow) failure = Some(s"torn partition p=$p: versions $vs")
              }
              if (perPart(0) != Seq(0.0))
                failure = Some(s"untouched partition changed: ${perPart(0)}")
              perPart.values.flatten.find(v => v < 0.0 || v > 4.0).foreach(v =>
                failure = Some(s"phantom version $v"))
            }
          } catch {
            case e: Throwable =>
              if (inWindow)
                failure = Some(s"reader failed inside the retention window: ${e.getMessage}")
          }
        }
      })
    }
    val ager = new Thread(() => {
      val root = new java.io.File(dir)
      while (!stop) {
        // age only manifests STRICTLY OLDER than the live pointer's
        // predecessor — i.e. genuinely rotated ones. A written-but-
        // not-yet-swapped manifest (number >= live) must keep its
        // mtime: aging it would simulate a publisher stalled past the
        // grace window, which degrades by contract to a lost update.
        val live = liveManifest()
        Option(root.listFiles()).toSeq.flatten
          .filter(_.getName.startsWith("manifest-"))
          .filter(_.getName.stripPrefix("manifest-").takeWhile(_.isDigit).toLong < live - 1)
          .foreach(f =>
            f.setLastModified(System.currentTimeMillis() - 11L * 60 * 1000): Unit)
        Thread.sleep(20)
      }
    })
    (publishers ++ readers :+ ager).foreach(_.start())
    publishers.foreach(_.join(120000))
    stop = true
    (readers :+ ager).foreach(_.join(60000))
    assert(failure.isEmpty, failure.getOrElse(""))

    // end state: every partition is a single consistent version; the
    // untouched partition is byte-stable
    val fin = Sources.readMergePartitioned(spark, dir, "p").collect()
    assert(fin.length == 100)
    val finPer = fin.groupBy(_.getAs[Int]("p"))
      .map { case (p, rs) => p -> rs.map(_.getAs[Double]("v")).distinct.toSeq }
    assert(finPer(0) == Seq(0.0))
    (1 to 3).foreach(p => assert(finPer(p).length == 1, s"torn end state p=$p"))
    // bounded retention: a concurrent prune may defer (abort-on-doubt)
    // or race the ager's mtime clock, so the bound is asserted after
    // ONE quiescent publish — whose prune must deterministically
    // compact everything below the live−2 reader slack (the ager aged
    // it all). Rival same-numbered manifests (lost swap races) stay in
    // the slack band by design, so the invariant is on NUMBERS: every
    // survivor is within live−2, i.e. at most 3 distinct numbers.
    // One explicit final aging pass first: under the r16 OCC commit
    // publishers SERIALIZE, so the last swap coincides with the last
    // publisher finishing and the ager thread dies before it can age
    // the final swap's predecessor — which the prune then correctly
    // spares as young (the stalled-publisher contract). The pass ages
    // only genuinely-rotated manifests, same rule as the ager.
    locally {
      val live = liveManifest()
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("manifest-"))
        .filter(_.getName.stripPrefix("manifest-").takeWhile(_.isDigit).toLong < live - 1)
        .foreach(f =>
          f.setLastModified(System.currentTimeMillis() - 11L * 60 * 1000): Unit)
    }
    Sources.publishMergePartitioned(spark, dir, batch(4.0, Seq(1)), cfg, "p")
    val leftNums = new java.io.File(dir).listFiles().toSeq
      .map(_.getName).filter(_.startsWith("manifest-"))
      .map(_.stripPrefix("manifest-").takeWhile(_.isDigit).toLong)
    val live2 = liveManifest()
    assert(leftNums.nonEmpty && leftNums.forall(_ >= live2 - 2),
      s"quiescent prune did not compact: live=$live2, manifests=${leftNums.sorted}")
    assert(leftNums.distinct.length <= 3, s"numbers beyond the slack: ${leftNums.sorted}")
    val fin2 = Sources.readMergePartitioned(spark, dir, "p").collect()
    assert(fin2.length == 100 && fin2.filter(_.getAs[Int]("p") == 0)
      .forall(_.getAs[Double]("v") == 0.0))
  }

  test("S6/S7 real-path JDBC scan round-trips with predicate pushdown (embedded Derby)") {
    // Derby ships with Spark's jars — an in-JVM database, no network.
    val url = "jdbc:derby:memory:graftdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE samples (sample_id VARCHAR(20), center_id INT)")
      (1 to 50).foreach(i =>
        st.execute(s"INSERT INTO samples VALUES ('BS-$i', ${i % 5})"))
    } finally conn.close()

    val df = Sources.readJdbc(spark, url, "samples")
      .filter($"center_id" === 3)
      .select($"sample_id")
    assert(df.count() == 10)
    assert(df.collect().map(_.getString(0)).toSet ==
      (1 to 50).filter(_ % 5 == 3).map(i => s"BS-$i").toSet)

    // the predicate must reach the JDBC source, not a Spark-side Filter
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("PushedFilters") && scan.contains("CENTER_ID"),
      s"expected pushed JDBC filter in scan:\n$scan")
  }
}

class RestSourceSpec extends SparkSpec {

  private def rest = spark.read.format("graft.sources.RestDataSource")
    .option("client", "graft.sources.SyntheticRestPages").load()

  test("S4/S5 DSv2 REST source plans one partition per page") {
    assert(rest.rdd.getNumPartitions == 4)
    assert(rest.count() == 100)
    val rows = rest.collect()
    assert(rows.map(_.getString(0)).toSet == (0 until 100).map(n => s"REC-$n").toSet)
  }

  test("DSv2 REST source prunes columns at the reader") {
    val df = rest.select("record_id")
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("columns=record_id"), s"expected pruned scan:\n$scan")
    assert(df.count() == 100)
  }

  test("DSv2 REST source feeds the validator pipeline like any frame") {
    val grouped = rest.groupBy("center_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(grouped == (0 until 5).map(_ -> 20L).toMap)
  }

  test("transient page-fetch failures are retried with backoff and succeed") {
    graft.sources.FlakyRestPages.reset()
    val df = spark.read.format("graft.sources.RestDataSource")
      .option("client", "graft.sources.FlakyRestPages")
      .option("maxRetries", "3").option("retryBackoffMs", "1").load()
    // every page throws twice before succeeding; the read must still
    // return the complete export
    assert(df.count() == 100)
    assert(graft.sources.FlakyRestPages.totalFailures.get() >= 8) // 2 per page x 4
  }

  test("a permanent failure exhausts the retry budget and fails loudly") {
    graft.sources.FlakyRestPages.reset()
    val df = spark.read.format("graft.sources.RestDataSource")
      .option("client", "graft.sources.AlwaysFailingRestPages")
      .option("maxRetries", "2").option("retryBackoffMs", "1").load()
    val e = intercept[Exception] { df.count() }
    assert(e.getMessage != null)
  }
}

class ValidatePipelineSpec extends SparkSpec {
  import spark.implicits._

  private val mapping = MappingConfig.fromJson(
    """{"field_mapping": {"sample_id": "sample_id", "sample_type": "sample_type"},
      | "static_fields": {"batch": "v1"},
      | "subject_id_candidates": {"consortium_id": "consortium_id"},
      | "center_id_field": null, "default_center_id": 3}""".stripMargin)

  private val registry = IdentityResolver.Registry(
    Seq(("G-1", 3, java.sql.Date.valueOf("2020-01-01")))
      .toDF("global_subject_id", "center_id", "created_at"),
    Seq((3, "IBDGC001", "consortium_id", "G-1"))
      .toDF("center_id", "local_subject_id", "identifier_type", "global_subject_id"))

  test("validator pipeline: map → validate → resolve → conflicts (§3.1)") {
    val raw = Seq(
      ("IBDGC001", "BS-001", "Blood"),
      ("IBDGC002", "BS-002", "Blood"))
      .toDF("consortium_id", "sample_id", "sample_type")
    val r = Pipelines.validate(spark, raw, mapping,
      Seq(SchemaValidator.ColumnSpec("sample_id", required = true)),
      registry, "batch_1")
    assert(r.schemaResult.isValid)
    val bySample = r.mapped.collect().map(x => x.getAs[String]("sample_id") -> x).toMap
    assert(bySample("BS-001").getAs[String]("global_subject_id") == "G-1") // linked
    val g2 = bySample("BS-002").getAs[String]("global_subject_id")
    assert(g2 != null && g2.startsWith("GSID-") && g2 != "G-1")            // minted
    assert(r.conflicts.count() == 0)
  }

  test("validator pipeline resolution output is invariant to input partitioning") {
    // request_id is md5 of (batch, row content) — NOT
    // monotonically_increasing_id() — so the resolution log and its
    // correlation keys are identical for any layout of the same input
    // (cluster task retries / split changes cannot shift ids).
    val rows = (1 to 40).map(i => (s"IBDGC%03d".format(i % 7), s"BS-$i", "Blood"))
    def run(parts: Int): (Set[Seq[Any]], Set[Seq[Any]]) = {
      val raw = rows.toDF("consortium_id", "sample_id", "sample_type")
        .repartition(parts)
      val r = Pipelines.validate(spark, raw, mapping,
        Seq(SchemaValidator.ColumnSpec("sample_id", required = true)),
        registry, "batch_inv")
      val collected = r.resolutions.collect()
      (collected.map(_.toSeq).toSet,
        collected.map(_.getAs[org.apache.spark.sql.Row]("request_id"))
          .map(_.toSeq).toSet)
    }
    val (rowsA, idsA) = run(1)
    val (rowsB, idsB) = run(17)
    assert(rowsA == rowsB && rowsA.nonEmpty)
    assert(idsA == idsB)
    // and the ids themselves are reproducible content-hash pairs (two
    // domain-separated xxhash64 words in a 16-byte struct — r18
    // narrowed the old "<a>-<b>" string key), not counters
    assert(idsA.forall(id => id.length == 2 && id.forall(_.isInstanceOf[Long])))
  }

  test("validator pipeline fails fast on missing required column") {
    val raw = Seq(("IBDGC001", "Blood")).toDF("consortium_id", "sample_type")
    val r = Pipelines.validate(spark, raw, mapping,
      Seq(SchemaValidator.ColumnSpec("sample_id", required = true)), registry, "b")
    assert(!r.schemaResult.isValid)
    assert(r.schemaResult.errors.head.errorType == "missing_required_column")
  }

  test("V5: failure report document carries the error list; sink writes JSON") {
    val raw = Seq(("IBDGC001", "Blood")).toDF("consortium_id", "sample_type")
    val r = Pipelines.validate(spark, raw, mapping,
      Seq(SchemaValidator.ColumnSpec("sample_id", required = true)), registry, "b")
    val report = Pipelines.validationReport(spark, r, "b", "specimen", "src",
      "staging/b/specimen.csv", autoApprove = true, timestamp = "2024-01-01T00:00:00")
    val row = report.collect().head
    assert(row.getAs[String]("status") == "FAILED")
    assert(row.getAs[String]("validation_errors").contains("missing_required_column"))

    // the report row is a JSON document: one line-delimited record
    val dir = java.nio.file.Files.createTempDirectory("graft_report").toString
    report.coalesce(1).write.json(s"$dir/report")
    val back = Sources.readJsonLines(spark, s"$dir/report")
    assert(back.count() == 1 &&
      back.collect().head.getAs[String]("status") == "FAILED")
  }

  test("V5: success report auto-approval is withdrawn when conflicts exist") {
    // incoming center 5 vs registry center 3 for the same identifier
    val raw = Seq(("IBDGC001", "BS-1", "Blood")).toDF("consortium_id", "sample_id", "sample_type")
    val m5 = MappingConfig.fromJson(
      """{"field_mapping": {"sample_id": "sample_id"}, "static_fields": {},
        | "subject_id_candidates": {"consortium_id": "consortium_id"},
        | "center_id_field": null, "default_center_id": 5}""".stripMargin)
    val r = Pipelines.validate(spark, raw, m5,
      Seq(SchemaValidator.ColumnSpec("sample_id", required = true)), registry, "b")
    val report = Pipelines.validationReport(spark, r, "b", "lcl", "src",
      "k", autoApprove = true, timestamp = "t")
    val row = report.collect().head
    assert(row.getAs[Boolean]("has_conflicts"))
    assert(!row.getAs[Boolean]("auto_approved"))
    assert(row.getAs[String]("conflict_summary").contains("center_mismatch"))
    assert(row.getAs[Long]("gsid_existing_subjects") == 1L)
  }
}

class LoadPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("loader pipeline: coerce → project → merge with audit (§3.3)") {
    val current = Seq(("G-1", "BS-1", 10, true)).toDF("global_subject_id", "sample_id", "qty", "avail")
    val fragment = Seq(
      ("G-1", "BS-1", "12", "yes", "junk"),   // update qty 10→12, avail stays true
      ("G-2", "BS-2", "NA", "no", "junk"))    // insert with null qty
      .toDF("global_subject_id", "sample_id", "qty", "avail", "extraneous")
    val r = Pipelines.load(spark, current, fragment,
      TableConfig("t", Seq("global_subject_id", "sample_id"), Seq.empty),
      columnTypes = Map("qty" -> "int", "avail" -> "boolean"))
    val m = r.merged.collect().map(x => x.getString(1) -> x).toMap
    assert(m("BS-1").getAs[Int]("qty") == 12)
    assert(m("BS-2").isNullAt(m("BS-2").fieldIndex("qty")))
    assert(!m("BS-2").getAs[Boolean]("avail"))
    assert(!r.merged.columns.contains("extraneous"))   // schema projection
    val p = r.preview.collect()(0)
    assert(p.getLong(0) == 1L && p.getLong(1) == 1L)   // 1 insert, 1 update
  }
}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowed stats over a stream equal the batch plan (differential)") {
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(
      EventStream.Event(1, ts("2024-01-01 00:05:00"), 1, "click", 1.0),
      EventStream.Event(2, ts("2024-01-01 00:10:00"), 2, "click", 2.0),
      EventStream.Event(3, ts("2024-01-01 01:05:00"), 1, "buy", 5.0))
    val mem = MemoryStream[EventStream.Event]
    mem.addData(data: _*)
    val q = EventStream.windowedStats(mem.toDF()).writeStream
      .format("memory").queryName("win_out").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("win_out")
      .select("window_start", "event_type", "n", "total_value")
      .collect().map(_.toSeq).toSet
    val batch = EventStream.windowedStats(data.toDF())
      .select("window_start", "event_type", "n", "total_value")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.size == 2)
  }

  test("streaming dedup drops redelivered events (stream equals batch distinct)") {
    implicit val sqlCtx = spark.sqlContext
    val e1 = EventStream.Event(1, ts("2024-01-01 00:05:00"), 1, "click", 1.0)
    val e2 = EventStream.Event(2, ts("2024-01-01 00:10:00"), 2, "view", 2.0)
    val mem = MemoryStream[EventStream.Event]
    mem.addData(e1, e2, e1) // at-least-once redelivery of e1
    val q = EventStream.dedupEvents(mem.toDF()).writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("dedup_out").select("event_id").as[Long].collect().sorted
    assert(streamed.toSeq == Seq(1L, 2L))
    val batch = EventStream.dedupEvents(Seq(e1, e2, e1).toDF())
      .select("event_id").as[Long].collect().sorted
    assert(batch.toSeq == streamed.toSeq)
  }

  test("stream-stream interval join pairs in-horizon events and equals the batch plan") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = Seq(
      EventStream.Event(1, ts("2024-01-01 00:05:00"), 1, "click", 0.0),
      EventStream.Event(2, ts("2024-01-01 02:00:00"), 2, "click", 0.0))
    val buys = Seq(
      EventStream.Event(10, ts("2024-01-01 00:35:00"), 1, "purchase", 5.0), // in horizon
      EventStream.Event(11, ts("2024-01-01 01:30:00"), 1, "purchase", 5.0), // past 1h
      EventStream.Event(12, ts("2024-01-01 02:10:00"), 3, "purchase", 5.0)) // other user
    val ml = MemoryStream[EventStream.Event]
    val mr = MemoryStream[EventStream.Event]
    ml.addData(clicks: _*); mr.addData(buys: _*)
    val q = EventStream.intervalJoin(ml.toDF(), mr.toDF()).writeStream
      .format("memory").queryName("sj_out").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sj_out").select("l_id", "r_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == Set((1L, 10L)))
    val batch = EventStream.intervalJoin(clicks.toDF(), buys.toDF())
      .select("l_id", "r_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch == streamed)
  }

  test("foreachBatch MERGE sink upserts each micro-batch into the snapshot table") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_msink").toString
    val mem = MemoryStream[EventStream.Event]
    val q = EventStream.mergeSink(mem.toDF(), s"$dir/table",
      TableConfig("events", Seq("event_id"), Seq.empty), s"$dir/ckpt")
    try {
      mem.addData(EventStream.Event(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0),
                  EventStream.Event(2, ts("2024-01-01 00:01:00"), 2, "view", 2.0))
      q.processAllAvailable()
      // second micro-batch: update key 2, insert key 3
      mem.addData(EventStream.Event(2, ts("2024-01-01 00:02:00"), 2, "view", 9.0),
                  EventStream.Event(3, ts("2024-01-01 00:03:00"), 3, "buy", 3.0))
      q.processAllAvailable()
    } finally q.stop()
    val back = Sources.readSnapshot(spark, s"$dir/table").collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("value")).toMap
    assert(back == Map(1L -> 1.0, 2L -> 9.0, 3L -> 3.0))
  }

  test("streaming corpus ingest: foreachBatch + incremental minhash dedup") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_sing").toString
    val textA = "the quick brown fox jumps over the lazy dog near the river bank today"
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val keep = graft.operators.Dedup.incrementalMinhashDedup(
          batch, "doc_id", "text", s"$dir/sigs", threshold = 0.9)
        keep.write.mode("append").parquet(s"$dir/corpus")
      }
      .start()
    try {
      mem.addData((1L, textA),
        (2L, "some other writing about catalyst optimizer rules and codegen"))
      q.processAllAvailable()
      mem.addData((3L, textA), // dupe of batch 1 — must be dropped
        (4L, "novel third topic entirely about parquet row groups"))
      q.processAllAvailable()
    } finally q.stop()
    val corpus = spark.read.parquet(s"$dir/corpus")
      .select("doc_id").as[Long].collect().sorted
    assert(corpus.toSeq == Seq(1L, 2L, 4L))
  }

  test("streaming corpus curation: foreachBatch quality gates + incremental dedup") {
    // the full continuous-ingest shape: per micro-batch, model/heuristic
    // quality gates run as scan expressions, THEN the survivor set
    // passes incremental dedup against the accumulated store — cheap
    // per-row filters before the stateful operator, same order as the
    // batch curation plan
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_scur").toString
    val good = "the quick brown fox jumps over the lazy dog near the river bank today"
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        import org.apache.spark.sql.functions._
        val gated = batch.filter(
          graft.operators.TextAnalysis.tokenCount(col("text")) >= 5 &&
          graft.operators.TextAnalysis.repetitionRatio(col("text"), 3) <= 0.5)
        val keep = graft.operators.Dedup.incrementalMinhashDedup(
          gated, "doc_id", "text", s"$dir/sigs", threshold = 0.9)
        keep.write.mode("append").parquet(s"$dir/corpus")
      }
      .start()
    try {
      mem.addData((1L, good),
        (2L, "too short"),                       // fails the length gate
        (3L, "spam spam spam spam spam spam spam spam spam spam")) // repetition
      q.processAllAvailable()
      mem.addData((4L, good),                    // near-dup of 1 across batches
        (5L, "novel second topic entirely about parquet row groups and stats"))
      q.processAllAvailable()
    } finally q.stop()
    import spark.implicits._
    val corpus = spark.read.parquet(s"$dir/corpus")
      .select("doc_id").as[Long].collect().sorted
    assert(corpus.toSeq == Seq(1L, 5L))
  }

  test("stateful sessionization closes sessions at the gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.Event]
    mem.addData(
      EventStream.Event(1, ts("2024-01-01 00:00:00"), 7, "click", 1.0),
      EventStream.Event(2, ts("2024-01-01 00:01:00"), 7, "click", 2.0),
      EventStream.Event(3, ts("2024-01-01 02:00:00"), 7, "click", 3.0)) // gap > 30min
    val q = EventStream.sessionize(mem.toDS(), gapMs = 30 * 60 * 1000).writeStream
      .format("memory").queryName("sess_out").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val closed = spark.table("sess_out").as[EventStream.Session].collect()
    assert(closed.length == 1)
    assert(closed(0).n_events == 2 && closed(0).total_value == 3.0)
    assert(closed(0).session_end == ts("2024-01-01 00:01:00"))
  }

  test("readStream over a parquet directory drives the same windowed plan") {
    val dir = Files.createTempDirectory("graft_stream_src").toString
    val data = Seq(
      EventStream.Event(1, ts("2024-01-01 00:05:00"), 1, "click", 1.0),
      EventStream.Event(2, ts("2024-01-01 01:10:00"), 2, "click", 2.0))
    data.toDF().write.parquet(s"$dir/events")
    val stream = spark.readStream
      .schema(data.toDF().schema)
      .parquet(s"$dir/events")
    val q = EventStream.windowedStats(stream).writeStream
      .format("memory").queryName("file_win_out").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    assert(spark.table("file_win_out").count() == 2)
  }

  test("streaming histogram sketch: readStream equals batch; TV drift composes on top") {
    import org.apache.spark.sql.functions.{col, posexplode}
    val dir = Files.createTempDirectory("graft_stream_hist").toString
    val data = Seq(
      EventStream.Event(1, ts("2024-01-01 00:05:00"), 1, "click", 5.0),
      EventStream.Event(2, ts("2024-01-01 00:20:00"), 2, "click", 15.0),
      EventStream.Event(3, ts("2024-01-01 00:40:00"), 1, "click", 15.0),
      EventStream.Event(4, ts("2024-01-01 01:10:00"), 2, "view", 25.0))
    data.toDF().write.parquet(s"$dir/events")
    val stream = spark.readStream.schema(data.toDF().schema).parquet(s"$dir/events")
    // the TypedImperativeAggregate's serialize/merge must round-trip
    // through the streaming state store, not just the batch shuffle
    val q = EventStream.windowedHistogram(stream, 0.0, 10.0, 4).writeStream
      .format("memory").queryName("hist_win_out").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(col("window_start"), col("event_type"),
          posexplode(col("h")).as(Seq("slot", "cnt")))
        .filter(col("cnt") > 0).collect().map(_.toString).toSet
    val streamed = rows(spark.table("hist_win_out"))
    val batch = rows(EventStream.windowedHistogram(data.toDF(), 0.0, 10.0, 4))
    assert(streamed == batch && streamed.nonEmpty)
    // drift alarm composition: hour-0 clicks (1×[0,10) + 2×[10,20))
    // vs a uniform baseline — TV = |1·2−1·3| + |2·2−1·3| = 1+1 ⇒ 2/(2·3·2)
    val base = Seq(Tuple1(Array(0L, 1L, 1L, 0L, 0L, 0L))).toDF("hb")
    val drift = spark.table("hist_win_out")
      .filter(col("event_type") === "click")
      .crossJoin(base)
      .select(graft.functions.Histograms.tvDistance(col("h"), col("hb")).as("tv"))
      .collect()(0).getDouble(0)
    assert(drift == 2.0 / 12.0)
  }

  test("drift alarm runs on a readStream with a broadcast baseline, equals batch") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_stream_alarm").toString
    val data = Seq(
      EventStream.Event(1, ts("2024-01-01 00:05:00"), 1, "click", 5.0),
      EventStream.Event(2, ts("2024-01-01 00:20:00"), 2, "click", 15.0),
      EventStream.Event(3, ts("2024-01-01 01:40:00"), 1, "click", 95.0), // hour-1 drifts
      EventStream.Event(4, ts("2024-01-01 01:50:00"), 2, "click", 95.0))
    data.toDF().write.parquet(s"$dir/events")
    val baseline = data.toDF().groupBy("event_type")
      .agg(graft.functions.Histograms.histFixed(col("value"), 0.0, 10.0, 10).as("hb"))
    val stream = spark.readStream.schema(data.toDF().schema).parquet(s"$dir/events")
    val q = EventStream.driftAlarm(stream, baseline, 0.0, 10.0, 10, threshold = 0.4)
      .writeStream.format("memory").queryName("alarm_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSet
    val streamed = rows(spark.table("alarm_out"))
    val batch = rows(EventStream.driftAlarm(data.toDF(), baseline, 0.0, 10.0, 10, 0.4))
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("windowed kmv distinct streams: sketch state round-trips, equals batch") {
    val dir = Files.createTempDirectory("graft_stream_kmv").toString
    // hour 0: 6 distinct users (above k=4 → estimate path);
    // hour 1: 2 distinct users (below k → exact path)
    val data = (1 to 8).map(i => EventStream.Event(i.toLong,
      ts(f"2024-01-01 00:0$i%01d:00"), (i % 6).toLong + 1, "click", 1.0)) ++
      Seq(EventStream.Event(9, ts("2024-01-01 01:05:00"), 50, "click", 1.0),
        EventStream.Event(10, ts("2024-01-01 01:06:00"), 51, "click", 1.0))
    data.toDF().write.parquet(s"$dir/events")
    val stream = spark.readStream.schema(data.toDF().schema).parquet(s"$dir/events")
    val q = EventStream.windowedDistinct(stream, k = 4).writeStream
      .format("memory").queryName("kmv_win_out").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSet
    val streamed = rows(spark.table("kmv_win_out"))
    assert(streamed == rows(EventStream.windowedDistinct(data.toDF(), k = 4)))
    // the below-k window is EXACT by construction
    val hour1 = spark.table("kmv_win_out")
      .filter(org.apache.spark.sql.functions.col("window_start") === ts("2024-01-01 01:00:00"))
      .collect()(0).getAs[Long]("kmv_users")
    assert(hour1 == 2L)
  }

  test("windowed KLL quantiles stream: ladder state round-trips, equals batch, exact below k") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_stream_kll").toString
    // hour 0: values 1..8 BELOW the k=16 capacity (exact regime —
    // stream state serialize/merge must reproduce the multiset);
    // hour 1: 40 values through compaction (k=16) — streamed must
    // still equal the batch run bit-for-bit (same merge tree per the
    // single memory-sink pass)
    val data =
      (1 to 8).map(i => EventStream.Event(i.toLong,
        ts(f"2024-01-01 00:0$i%01d:00"), 1, "click", i.toDouble)) ++
      (1 to 40).map(i => EventStream.Event(100L + i,
        ts(f"2024-01-01 01:${i % 60}%02d:00"), 1, "view",
        ((i * 37) % 100).toDouble))
    data.toDF().write.parquet(s"$dir/events")
    val stream = spark.readStream.schema(data.toDF().schema).parquet(s"$dir/events")
    val q = EventStream.windowedQuantiles(stream, k = 16, probs = Seq(0.5, 0.75))
      .writeStream.format("memory").queryName("kll_win_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSet
    val streamed = rows(spark.table("kll_win_out"))
    assert(streamed.nonEmpty)
    // exact regime: hour-0 p50 of 1..8 = value at rank ceil(.5*8)=4,
    // p75 at rank 6
    val h0 = spark.table("kll_win_out")
      .filter(col("window_start") === ts("2024-01-01 00:00:00"))
      .collect()(0).getSeq[Double](2)
    assert(h0 == Seq(4.0, 6.0))
  }
}

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  test("compact rewrites many small files into few, content identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    val df = (1 to 5000).toDF("x")
    df.repartition(40).write.parquet(dir)
    def parquetFiles = new java.io.File(Sources.resolveSnapshot(spark, dir)).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles == 40)
    val before = spark.read.parquet(dir).collect().map(_.getInt(0)).sorted
    val n = graft.sources.Sources.compact(spark, dir, targetBytes = 1L << 30)
    assert(n == 1 && parquetFiles == 1)
    val after = Sources.readSnapshot(spark, dir).collect().map(_.getInt(0)).sorted
    assert(after.toSeq == before.toSeq)
  }
}
