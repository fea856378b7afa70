package graft.sources

import java.nio.file.Files

import graft.SparkSpec

/** Deterministic unit coverage for the merge-publish prune
  * invariants the N×M stress spec exercises statistically (the round-8
  * reader-data-loss race):
  *
  *  - retention is anchored to the HIGHEST CLAIM, so in-flight
  *    (written-but-unclaimed) manifests cannot consume the
  *    two-publish reader slack;
  *  - candidates younger than the grace window survive with dirs.
  */
class MergePruneSpec extends SparkSpec {

  private def fsRoot(): (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path, String) = {
    val dir = Files.createTempDirectory("graft_prune").toString + "/t"
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir), conf)
    (fs, new org.apache.hadoop.fs.Path(dir), dir)
  }

  /** manifest-<n>-test referencing `dirs` (format version 1, no schema
    * lines: the prune reads only the entries); dirs materialized with
    * one marker file each; mtime optionally aged past the grace window. */
  private def manifest(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, n: Int, dirs: Seq[String],
      aged: Boolean): String = {
    val name = f"manifest-$n%012d-test"
    dirs.foreach { d =>
      val out = fs.create(new org.apache.hadoop.fs.Path(root, s"$d/part-0"), true)
      out.write(1); out.close()
    }
    val out = fs.create(new org.apache.hadoop.fs.Path(root, name), true)
    out.write(("version\t1" +: dirs).mkString("\n").getBytes("UTF-8")); out.close()
    if (aged) {
      val f = new java.io.File(root.toUri.getPath, name)
      assert(f.setLastModified(System.currentTimeMillis() - 11L * 60 * 1000))
    }
    name
  }

  /** Commits manifest `name` as a publish does: its `commit-<n>` claim
    * names it. */
  private def claim(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, name: String): Unit = {
    fs.mkdirs(root): Unit
    Claims.plant(root.toUri.getPath, name.stripPrefix("manifest-").takeWhile(_.isDigit).toLong,
      name)
  }

  private def names(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Set[String] =
    fs.listStatus(root).map(_.getPath.getName).toSet

  test("prune keeps live-2 slack and deletes older aged manifests with their exclusive dirs") {
    val (fs, root, _) = fsRoot()
    (1 to 5).foreach(i => manifest(fs, root, i, Seq(s"b-$i/p=1"), aged = true))
    claim(fs, root, f"manifest-${5}%012d-test")
    Sources.pruneMergePartitioned(fs, root)
    val left = names(fs, root)
    // protected: numbers >= live-2 = 3; deleted: 1, 2 and their dirs
    assert(!left.contains(f"manifest-${1}%012d-test") && !left.contains("b-1"))
    assert(!left.contains(f"manifest-${2}%012d-test") && !left.contains("b-2"))
    (3 to 5).foreach { i =>
      assert(left.contains(f"manifest-$i%012d-test") && left.contains(s"b-$i"), s"lost $i")
    }
  }

  test("a dir referenced by a protected manifest survives even when an aged one references it") {
    val (fs, root, _) = fsRoot()
    manifest(fs, root, 1, Seq("b-1/p=1", "shared/p=1"), aged = true)
    (4 to 6).foreach(i => manifest(fs, root, i, Seq(s"b-$i/p=1", "shared/p=1"), aged = true))
    claim(fs, root, f"manifest-${6}%012d-test")
    Sources.pruneMergePartitioned(fs, root)
    val left = names(fs, root)
    assert(!left.contains("b-1") && left.contains("shared"), left.toSeq.sorted.mkString(","))
  }

  test("in-flight manifests above the live pointer do not consume the reader slack") {
    val (fs, root, _) = fsRoot()
    // live = 3; manifests 4 and 5 are written but NOT claimed (three
    // concurrent publishers). takeRight(3) would have retained {3,4,5}
    // and pruned 1 and 2 — dirs a reader that just resolved the
    // highest claim may still be scanning.
    (1 to 5).foreach(i => manifest(fs, root, i, Seq(s"b-$i/p=1"), aged = true))
    claim(fs, root, f"manifest-${3}%012d-test")
    Sources.pruneMergePartitioned(fs, root)
    val left = names(fs, root)
    (1 to 5).foreach { i =>
      assert(left.contains(f"manifest-$i%012d-test") && left.contains(s"b-$i"),
        s"in-flight erosion: lost $i (${left.toSeq.sorted.mkString(",")})")
    }
  }

  test("candidates younger than the grace window survive with their dirs") {
    val (fs, root, _) = fsRoot()
    manifest(fs, root, 1, Seq("b-1/p=1"), aged = true)
    manifest(fs, root, 2, Seq("b-2/p=1"), aged = false) // young straggler
    (5 to 7).foreach(i => manifest(fs, root, i, Seq(s"b-$i/p=1"), aged = true))
    claim(fs, root, f"manifest-${7}%012d-test")
    Sources.pruneMergePartitioned(fs, root)
    val left = names(fs, root)
    assert(!left.contains("b-1"))
    assert(left.contains(f"manifest-${2}%012d-test") && left.contains("b-2"))
  }

  test("merge time travel: retained prior manifests readable, pruned fails loudly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_mtt").toString + "/t"
    val cfg = graft.types.TableConfig("t", Seq("id"), Seq.empty)
    for (v <- 1 to 3)
      Sources.publishMergePartitioned(spark, dir,
        Seq((1L, 1, v.toDouble), (2L, 1, v.toDouble)).toDF("id", "p", "v"), cfg, "p")
    assert(Sources.mergeVersions(spark, dir) == Seq(1L, 2L, 3L))
    // a job that pinned manifest 2 still reads that state after 3 published
    val v2 = Sources.readMergePartitionedVersion(spark, dir, 2L)
      .collect().map(_.getAs[Double]("v")).toSeq
    assert(v2 == Seq(2.0, 2.0), v2)
    intercept[IllegalArgumentException] {
      Sources.readMergePartitionedVersion(spark, dir, 99L)
    }
  }

  test("delete publish: rows gone, emptied partition drops, feed classifies orphaned") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_mdel").toString + "/t"
    val cfg = graft.types.TableConfig("t", Seq("id"), Seq.empty)
    Sources.publishMergePartitioned(spark, dir,
      Seq((1L, 0, "a"), (2L, 0, "b"), (3L, 1, "c"), (4L, 2, "d"))
        .toDF("id", "p", "v"), cfg, "p")
    val v1 = Sources.mergeVersions(spark, dir).max
    // delete id=2 (partition 0 keeps id=1) and id=3 (EMPTIES partition 1)
    val n = Sources.publishMergeDeletes(spark, dir,
      Seq((2L, 0), (3L, 1)).toDF("id", "p"), cfg, "p")
    assert(n == 2L)
    val live = Sources.readMergePartitioned(spark, dir, "p")
      .select("id").as[Long].collect().toSet
    assert(live == Set(1L, 4L))
    // untouched partition 2 contributed zero I/O: its entry is unchanged
    // and the deleted rows' old version is still time-travelable
    val old = Sources.readMergePartitionedVersion(spark, dir, v1)
      .select("id").as[Long].collect().toSet
    assert(old == Set(1L, 2L, 3L, 4L))
    // the row-level feed sees exactly the two deletions as orphaned
    val diff = Sources.mergeRowChangesSince(spark, dir, v1, Seq("id"), "p")
      .select(col("id").cast("long"), col("change_status"))
      .as[(Long, String)].collect().toMap
    assert(diff == Map(2L -> "orphaned", 3L -> "orphaned"), diff.toString)
    // deleting a key that doesn't exist publishes nothing
    assert(Sources.publishMergeDeletes(spark, dir,
      Seq((99L, 0)).toDF("id", "p"), cfg, "p") == 0L)
    // and the table remains publishable after a delete
    Sources.publishMergePartitioned(spark, dir,
      Seq((5L, 1, "e")).toDF("id", "p", "v"), cfg, "p")
    assert(Sources.readMergePartitioned(spark, dir, "p")
      .select("id").as[Long].collect().toSet == Set(1L, 4L, 5L))
  }

  test("delete guards: exotic/null partition values and many-partition deletes refuse loudly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_mdelg").toString + "/t"
    val cfg = graft.types.TableConfig("t", Seq("id"), Seq.empty)
    Sources.publishMergePartitioned(spark, dir,
      Seq((1L, "a", 1), (2L, "b", 1), (3L, "c", 1)).toDF("id", "p", "v"), cfg, "p")
    // a value Spark would percent-encode ("x=y" → "x%3Dy") must be
    // refused — silently matching no segment would RETAIN rows meant
    // for GDPR erasure
    val e1 = intercept[IllegalArgumentException] {
      Sources.publishMergeDeletes(spark, dir,
        Seq((1L, "x=y")).toDF("id", "p"), cfg, "p")
    }
    assert(e1.getMessage.contains("round-trip"), e1.getMessage)
    // null partition value (Spark renders __HIVE_DEFAULT_PARTITION__)
    val e2 = intercept[IllegalArgumentException] {
      Sources.publishMergeDeletes(spark, dir,
        Seq((1L, null.asInstanceOf[String])).toDF("id", "p"), cfg, "p")
    }
    assert(e2.getMessage.contains("null partition value"), e2.getMessage)
    // empty string passes escapePathName's round-trip verbatim but the
    // writer renders it as the same default-partition sentinel as null —
    // it must be refused, not silently no-op'ed (r12 ADVICE)
    val e2b = intercept[IllegalArgumentException] {
      Sources.publishMergeDeletes(spark, dir,
        Seq((1L, "")).toDF("id", "p"), cfg, "p")
    }
    assert(e2b.getMessage.contains("empty-string partition value"), e2b.getMessage)
    // touched-partition cardinality above the bound = table rewrite in
    // disguise — refused before any driver-side materialization
    val e3 = intercept[IllegalArgumentException] {
      Sources.publishMergeDeletes(spark, dir,
        spark.range(Sources.MaxTouchedPartitions + 1)
          .select($"id", $"id".cast("string").as("p")), cfg, "p")
    }
    assert(e3.getMessage.contains("targeted"), e3.getMessage)
    // the table is untouched by all three refusals
    assert(Sources.readMergePartitioned(spark, dir, "p")
      .select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("vacuum reclaims aged unreferenced batch dirs, spares referenced and young ones") {
    val (fs, root, dir) = fsRoot()
    manifest(fs, root, 5, Seq("b-5/p=1"), aged = false)
    claim(fs, root, f"manifest-${5}%012d-test")
    def mkOrphan(name: String, old: Boolean): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(root, s"$name/p=1/part-0"), true)
      out.write(1); out.close()
      if (old) {
        assert(new java.io.File(root.toUri.getPath, name)
          .setLastModified(System.currentTimeMillis() - 25L * 3600 * 1000))
      }
    }
    mkOrphan("b-90", old = true)   // crashed publisher, stale → reclaimed
    mkOrphan("b-91", old = false)  // in-flight publish, fresh → spared
    // referenced dir b-5 is old but referenced → spared
    assert(new java.io.File(root.toUri.getPath, "b-5")
      .setLastModified(System.currentTimeMillis() - 25L * 3600 * 1000))
    val deleted = Sources.vacuumOrphans(spark, dir)
    assert(deleted == Seq("b-90"), deleted)
    val left = names(fs, root)
    assert(!left.contains("b-90") && left.contains("b-91") && left.contains("b-5"))
  }

  test("bloom key index: keyed read skips non-matching batch dirs, result-identical") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_kidx").toString + "/t"
    val cfg = graft.types.TableConfig("t", Seq("k"), Seq.empty)
    // two publishes with disjoint keys AND disjoint partitions, so the
    // live manifest references both batch dirs
    Sources.publishMergePartitioned(spark, dir,
      (0L until 50L).map(k => (k, (k % 2).toInt, s"a$k")).toDF("k", "p", "v"), cfg, "p")
    Sources.publishMergePartitioned(spark, dir,
      (100L until 150L).map(k => (k, 2 + (k % 2).toInt, s"b$k")).toDF("k", "p", "v"), cfg, "p")
    assert(Sources.indexBatchKeys(spark, dir, "k") == 2)
    assert(Sources.indexBatchKeys(spark, dir, "k") == 0) // idempotent

    // a key only batch 2 holds AND batch 1's filter excludes (Bloom
    // false positives are deterministic — fixed-seed hashes — so probe
    // with a key the sidecar actually rules out, not a hard-coded one)
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
      spark.sparkContext.hadoopConfiguration)
    val b1 = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).filter(_.getName.startsWith("b-000000000001")).head
    val in = fs.open(new org.apache.hadoop.fs.Path(b1, "_keybloom-k"))
    val bloom1 = try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
                 finally in.close()
    val probe = (100L until 150L).find(!bloom1.mightContainLong(_)).get
    val hit = Sources.readMergePartitionedKeyed(spark, dir, "p", "k", Seq(probe))
    assert(hit.collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSeq
      == Seq((probe, s"b$probe")))
    val touchedDirs = hit.inputFiles.map(f =>
      f.split("/").dropWhile(_ != "t").drop(1).head).toSet
    assert(touchedDirs.size == 1, s"read extra dirs: $touchedDirs")

    // result-identical to scan-then-filter for keys across both batches
    val keys: Seq[Any] = Seq(10L, 120L, 999L)
    val keyed = Sources.readMergePartitionedKeyed(spark, dir, "p", "k", keys)
      .select("k", "p", "v").orderBy("k").collect().toSeq
    val full = Sources.readMergePartitioned(spark, dir, "p")
      .filter(col("k").isin(keys: _*))
      .select("k", "p", "v").orderBy("k").collect().toSeq
    assert(keyed == full && keyed.size == 2, s"$keyed vs $full")

    // all-miss key set: empty result, zero data dirs opened
    val none = Sources.readMergePartitionedKeyed(spark, dir, "p", "k", Seq(999L))
    assert(none.count() == 0 && none.inputFiles.isEmpty)

    // FRAME key set, point-lookup regime (under the bound): same
    // result as the Seq API, sidecar pruning still applies
    val framePoint = Sources.readMergePartitionedKeyedFrame(spark, dir, "p", "k",
        Seq(10L, 120L, 999L).toDF("k"), maxPointLookup = 8192)
      .select("k", "p", "v").orderBy("k").collect().toSeq
    assert(framePoint == full, s"$framePoint vs $full")

    // FRAME key set, bulk regime (bound forced to 1): bloom-semi
    // scale path, identical rows — the key set never materializes
    // on the driver beyond the 2-row probe
    val frameBulk = Sources.readMergePartitionedKeyedFrame(spark, dir, "p", "k",
        Seq(10L, 120L, 999L).toDF("k"), maxPointLookup = 1)
      .select("k", "p", "v").orderBy("k").collect().toSeq
    assert(frameBulk == full, s"$frameBulk vs $full")
  }

  test("bloom key index covers the seed batch dir: new-key lookups skip the base (r15)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_kidx_seed").toString + "/t"
    val cfg = graft.types.TableConfig("t", Seq("k"), Seq.empty)
    // the table's first publish: one seed batch dir holding every
    // partition — every maintained index's base table between build and
    // first compaction, usually the dominant read
    Sources.publishMergePartitioned(spark, dir,
      (0L until 60L).map(k => (k, (k % 4).toInt, s"a$k")).toDF("k", "p", "v"), cfg, "p")
    assert(Sources.indexBatchKeys(spark, dir, "k") == 1) // the seed batch dir
    assert(Sources.indexBatchKeys(spark, dir, "k") == 0) // idempotent
    // a key the seed's sidecar excludes: ZERO data dirs opened
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
      spark.sparkContext.hadoopConfiguration)
    def bloomOf(top: String) = {
      val in = fs.open(new org.apache.hadoop.fs.Path(dir, s"$top/_keybloom-k"))
      try org.apache.spark.util.sketch.BloomFilter.readFrom(in) finally in.close()
    }
    val Seq(seed) = new java.io.File(dir).list().filter(_.startsWith("b-")).toSeq
    val seedBloom = bloomOf(seed)
    val probe = (1000L until 2000L).find(k => !seedBloom.mightContainLong(k)).get
    val none = Sources.readMergePartitionedKeyed(spark, dir, "p", "k", Seq(probe))
    assert(none.count() == 0 && none.inputFiles.isEmpty)
    // seed + a later batch: a later publish lands in its own b-dir; a
    // key only it holds reads ONLY it — the seed is dir-skipped
    Sources.publishMergePartitioned(spark, dir,
      Seq((probe, 9, "fresh")).toDF("k", "p", "v"), cfg, "p")
    assert(Sources.indexBatchKeys(spark, dir, "k") == 1) // just the new b-dir
    val hit = Sources.readMergePartitionedKeyed(spark, dir, "p", "k", Seq(probe))
    assert(hit.collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSeq
      == Seq((probe, "fresh")))
    val touched = hit.inputFiles.map(f =>
      f.split("/").dropWhile(_ != "t").drop(1).head).toSet
    assert(touched.nonEmpty && !touched(seed), s"read the seed dir: $touched")
    // result-identical to scan-then-filter across both batch dirs
    val keys: Seq[Any] = Seq(10L, probe, 999999L)
    val keyed = Sources.readMergePartitionedKeyed(spark, dir, "p", "k", keys)
      .select("k", "p", "v").orderBy("k").collect().toSeq
    val full = Sources.readMergePartitioned(spark, dir, "p")
      .filter(col("k").isin(keys: _*))
      .select("k", "p", "v").orderBy("k").collect().toSeq
    assert(keyed == full && keyed.size == 2, s"$keyed vs $full")
  }

  test("zone maps: range read skips disjoint batch dirs, handles string and date bounds") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_zidx").toString + "/t"
    val cfg = graft.types.TableConfig("t", Seq("k"), Seq.empty)
    def day(n: Int) = java.sql.Date.valueOf(f"2024-01-$n%02d")
    Sources.publishMergePartitioned(spark, dir,
      (0L until 50L).map(k => (k, (k % 2).toInt, s"a$k", day(1 + (k % 9).toInt)))
        .toDF("k", "p", "v", "d"), cfg, "p")
    Sources.publishMergePartitioned(spark, dir,
      (100L until 150L).map(k => (k, 2 + (k % 2).toInt, s"b$k", day(20 + (k % 9).toInt)))
        .toDF("k", "p", "v", "d"), cfg, "p")
    assert(Sources.indexBatchStats(spark, dir, "k") == 2)
    assert(Sources.indexBatchStats(spark, dir, "k") == 0) // idempotent
    Sources.indexBatchStats(spark, dir, "v")
    Sources.indexBatchStats(spark, dir, "d")

    // long range entirely in batch 2: batch 1 ([0,49]) skipped, no FPs
    val hit = Sources.readMergePartitionedRange(spark, dir, "p", "k",
      Some(120L), Some(125L))
    assert(hit.select("k").as[Long].collect().sorted.toSeq == (120L to 125L))
    val touched = hit.inputFiles.map(f =>
      f.split("/").dropWhile(_ != "t").drop(1).head).toSet
    assert(touched.size == 1, s"read extra dirs: $touched")

    // string bounds (binary UTF-8 order): only batch 2 holds b* values
    val sHit = Sources.readMergePartitionedRange(spark, dir, "p", "v",
      Some("b"), Some("c"))
    assert(sHit.count() == 50 &&
      sHit.inputFiles.forall(_.contains(touched.head)))

    // date watermark ("since last sync"): batch 1's days all < Jan 20
    val dHit = Sources.readMergePartitionedRange(spark, dir, "p", "d",
      Some(day(20)), None)
    assert(dHit.count() == 50 &&
      dHit.inputFiles.forall(_.contains(touched.head)))

    // straddling range ≡ scan-then-filter
    val both = Sources.readMergePartitionedRange(spark, dir, "p", "k",
      Some(40L), Some(110L)).select("k", "p", "v").orderBy("k").collect().toSeq
    val full = Sources.readMergePartitioned(spark, dir, "p")
      .filter(col("k") >= 40L && col("k") <= 110L)
      .select("k", "p", "v").orderBy("k").collect().toSeq
    assert(both == full && both.size == 21)

    // fully-outside range: empty result, zero files opened
    val none = Sources.readMergePartitionedRange(spark, dir, "p", "k",
      Some(500L), Some(600L))
    assert(none.count() == 0 && none.inputFiles.isEmpty)
  }

  test("merge-table compaction: one batch dir, identical content, table stays publishable") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_mcmp").toString + "/t"
    val cfg = graft.types.TableConfig("t", Seq("k"), Seq.empty)
    for (b <- 0 until 3)
      Sources.publishMergePartitioned(spark, dir,
        (0L until 20L).map(k => (b * 100L + k, (k % 2).toInt, s"v$b")).toDF("k", "p", "v"),
        cfg, "p")
    val before = Sources.readMergePartitioned(spark, dir, "p")
      .orderBy("k").collect().toSeq
    assert(Sources.compactMergePartitioned(spark, dir, "p") == 2) // p=0, p=1
    val after = Sources.readMergePartitioned(spark, dir, "p")
    assert(after.orderBy("k").collect().toSeq == before)
    // live manifest references exactly one batch dir, one file/partition
    val tops = after.inputFiles.map(f =>
      f.split("/").dropWhile(_ != "t").drop(1).head).toSet
    assert(tops.size == 1 && after.inputFiles.length == 2, s"$tops")
    // the table keeps accepting publishes after compaction
    Sources.publishMergePartitioned(spark, dir,
      Seq((999L, 1, "z")).toDF("k", "p", "v"), cfg, "p")
    val rows = Sources.readMergePartitioned(spark, dir, "p")
    assert(rows.count() == before.size + 1)
  }

  test("replace guards: exotic/empty/null partition values refuse loudly (ADVICE r14)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_replace_guard").toString + "/t"
    val base = Seq(("k1", "a", 1), ("k2", "b", 2)).toDF("id", "p", "v")
    Sources.publishMergePartitioned(spark, dir, base,
      graft.types.TableConfig("t", Seq("id"), Seq.empty), "p")
    // a value Spark would percent-encode on write silently matches no
    // manifest segment — the stale entries would survive beside the
    // replacement batch (duplicates after compaction). Refused instead.
    val exotic = intercept[IllegalArgumentException] {
      Sources.publishMergeReplace(spark, dir,
        Seq(("k3", "a:b", 3)).toDF("id", "p", "v"), "p", Seq("a:b"))
    }
    assert(exotic.getMessage.contains("round-trip"))
    val empty = intercept[IllegalArgumentException] {
      Sources.publishMergeReplace(spark, dir, base, "p", Seq(""))
    }
    assert(empty.getMessage.contains("empty-string"))
    val nul = intercept[IllegalArgumentException] {
      Sources.publishMergeReplace(spark, dir, base, "p", Seq(null))
    }
    assert(nul.getMessage.contains("null"))
    // path-safe replacement still works and drops every stale entry
    Sources.publishMergeReplace(spark, dir,
      Seq(("k9", "a", 9)).toDF("id", "p", "v"), "p", Seq("a"))
    val rows = Sources.readMergePartitioned(spark, dir, "p")
      .select("id", "p", "v").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(rows == Set(("k9", "a", 9), ("k2", "b", 2)))
    assert(Sources.readMergePartitioned(spark, dir, "p")
      .filter(col("p") === "a").count() == 1)
  }
}
