package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{DriverPath, IdentityResolver, IncrementalIdentity}
import graft.sources.Sources

/** The continuous-MDM composition: checkpointed row-level change-feed
  * consumption driving identity resolution.
  *
  *  - incremental over two publishes ≡ sequential two-batch resolve
  *    (exact frame equality, including an UPDATED fragment row whose
  *    partition also holds unchanged rows — the case partition-level
  *    delivery gets wrong);
  *  - the delta is row-exact: unchanged rows sharing a rewritten
  *    partition are NOT re-delivered;
  *  - crash before the registry publish (checkpoint not advanced) →
  *    clean redelivery; crash after the publish but before the
  *    checkpoint write → redelivered batch re-applies as a no-op
  *    (match-first idempotency), registry byte-identical;
  *  - no new publish → None, no writes;
  *  - publishSnapshotGroup: members always read from ONE version.
  */
class IncrementalIdentitySpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_incr_$tag").toString

  private val day1 = java.sql.Date.valueOf("2024-06-01")
  private val day2 = java.sql.Date.valueOf("2024-07-01")

  private def reg0: IdentityResolver.Registry = {
    val subjects = Seq(
      ("G1", 1, "2020-01-01"), ("G0", 0, "2020-02-01"))
      .toDF("global_subject_id", "center_id", "created_at")
      .withColumn("created_at", col("created_at").cast("date"))
    val localIds = Seq(
      (1, "a", "primary", "G1"), (0, "z", "primary", "G0"))
      .toDF("center_id", "local_subject_id", "identifier_type", "global_subject_id")
    IdentityResolver.Registry(subjects, localIds)
  }

  private def frag(rows: Seq[(Long, Int, String)]): DataFrame =
    rows.toDF("request_id", "center_id", "local_subject_id")
      .withColumn("identifier_type", lit("primary"))
      .withColumn("p", (col("request_id") % 2).cast("int"))

  private val cfg = graft.types.TableConfig("fragments", Seq("request_id"), Seq.empty)

  private val batch1 = Seq((101L, 1, "b"), (102L, 2, "c"))
  // 201 re-claims "b" from another center (conflict note), 202 claims
  // "z" with a real center (0→3 upgrade), 203 is brand new, and 102
  // is an UPDATE of an existing fragment row (center 2→4) whose
  // partition (p=0) also holds the unchanged 101 row
  private val batch2 = Seq((201L, 2, "b"), (202L, 3, "z"), (203L, 1, "d"), (102L, 4, "c"))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Sequential ground truth: resolve → links → applyBatch per batch,
    * directly (no tables, no checkpoints). */
  private def sequential(): IdentityResolver.Registry = {
    def step(reg: IdentityResolver.Registry, rows: Seq[(Long, Int, String)],
        asOf: java.sql.Date): IdentityResolver.Registry = {
      val cand = frag(rows)
      val res = IdentityResolver.resolve(cand, reg, deterministicMint = true,
        groupingIterations = 1).localCheckpoint(false)
      val links = IdentityResolver.links(cand, res, reg.localIds)
      val out = IdentityResolver.applyBatch(reg, res, links, asOf)
      IdentityResolver.Registry(
        out.subjects.localCheckpoint(false), out.localIds.localCheckpoint(false))
    }
    step(step(reg0, batch1, day1), batch2, day2)
  }

  test("incremental over the change feed equals sequential two-batch resolve") {
    val root = tmp("eq")
    val (fragDir, ckDir, regRoot) = (s"$root/f", s"$root/ck", s"$root/r")
    IncrementalIdentity.publishRegistry(reg0, regRoot)

    Sources.publishMergePartitioned(spark, fragDir, frag(batch1), cfg, "p")
    val c1 = IncrementalIdentity.resolveCycle(spark, fragDir, ckDir, regRoot,
      Seq("request_id"), day1, "p", groupingIterations = 1)(identity)
    assert(c1.isDefined && c1.get.resolutions.count() == 2)

    Sources.publishMergePartitioned(spark, fragDir, frag(batch2), cfg, "p")
    val c2 = IncrementalIdentity.resolveCycle(spark, fragDir, ckDir, regRoot,
      Seq("request_id"), day2, "p", groupingIterations = 1)(identity)
    // row-exact delta: 201/202/203 new + 102 updated; the unchanged
    // 101 row shares partition p=0 with 201/102 and must NOT reappear
    assert(c2.isDefined && c2.get.resolutions.count() == 4,
      s"expected 4 delta resolutions, got ${c2.map(_.resolutions.count())}")

    val inc = IncrementalIdentity.readRegistry(spark, regRoot)
    val seq = sequential()
    assert(sortedRows(inc.subjects) == sortedRows(seq.subjects))
    assert(sortedRows(inc.localIds) == sortedRows(seq.localIds))
    // the evolved registry reflects the batch-2 semantics themselves
    val g0 = inc.subjects.filter(col("global_subject_id") === "G0").collect()(0)
    assert(g0.getAs[Int]("center_id") == 3) // 0→3 upgrade via 202
    val bOwner = inc.subjects
      .join(inc.localIds.filter(col("local_subject_id") === "b"), "global_subject_id")
      .collect()(0)
    assert(bOwner.getAs[Boolean]("flagged_for_review")) // 201's center conflict
  }

  test("an events read, a merge publish, a key index and a cycle leave the session conf as it was") {
    val root = tmp("conf")
    val (fragDir, ckDir, regRoot) = (s"$root/f", s"$root/ck", s"$root/r")
    IncrementalIdentity.publishRegistry(reg0, regRoot)
    def unchanged(what: String)(f: => Any): Unit = {
      val before = spark.conf.getAll
      f
      assert(spark.conf.getAll == before, what)
    }
    unchanged("events read")(Tables.events(spark, sf0001).count())
    unchanged("merge publish")(
      Sources.publishMergePartitioned(spark, fragDir, frag(batch1), cfg, "p").count())
    unchanged("key index")(Sources.indexBatchKeys(spark, fragDir, "request_id"))
    unchanged("identity cycle")(IncrementalIdentity.resolveCycle(spark, fragDir, ckDir, regRoot,
      Seq("request_id"), day1, "p", groupingIterations = 1)(identity).map(_.resolutions.count()))
  }

  test("a cycle hands back the registry a fresh read returns, rows and schema") {
    val root = tmp("handback")
    val (fragDir, ckDir, regRoot) = (s"$root/f", s"$root/ck", s"$root/r")
    IncrementalIdentity.publishRegistry(reg0, regRoot)
    for ((batch, day) <- Seq(batch1 -> day1, batch2 -> day2)) {
      Sources.publishMergePartitioned(spark, fragDir, frag(batch), cfg, "p")
      val c = IncrementalIdentity.resolveCycle(spark, fragDir, ckDir, regRoot,
        Seq("request_id"), day, "p", groupingIterations = 1)(identity).get
      val fresh = IncrementalIdentity.readRegistry(spark, regRoot)
      for ((got, want) <- Seq(c.registry.subjects -> fresh.subjects,
          c.registry.localIds -> fresh.localIds)) {
        assert(DriverPath.isLocal(got), "the members written from the driver were re-read")
        assert(got.schema == want.schema, s"${got.schema.treeString} vs ${want.schema.treeString}")
        assert(sortedRows(got) == sortedRows(want))
      }
    }
  }

  test("third cycle with no new publish is a no-op returning None") {
    val root = tmp("noop")
    val (fragDir, ckDir, regRoot) = (s"$root/f", s"$root/ck", s"$root/r")
    IncrementalIdentity.publishRegistry(reg0, regRoot)
    Sources.publishMergePartitioned(spark, fragDir, frag(batch1), cfg, "p")
    assert(IncrementalIdentity.resolveCycle(spark, fragDir, ckDir, regRoot,
      Seq("request_id"), day1, "p", groupingIterations = 1)(identity).isDefined)
    val before = sortedRows(IncrementalIdentity.readRegistry(spark, regRoot).subjects)
    assert(IncrementalIdentity.resolveCycle(spark, fragDir, ckDir, regRoot,
      Seq("request_id"), day1, "p", groupingIterations = 1)(identity).isEmpty)
    assert(sortedRows(IncrementalIdentity.readRegistry(spark, regRoot).subjects) == before)
  }

  test("crash before the registry publish redelivers the delta cleanly") {
    val root = tmp("crash1")
    val (fragDir, ckDir, regRoot) = (s"$root/f", s"$root/ck", s"$root/r")
    IncrementalIdentity.publishRegistry(reg0, regRoot)
    Sources.publishMergePartitioned(spark, fragDir, frag(batch1), cfg, "p")
    assert(IncrementalIdentity.resolveCycle(spark, fragDir, ckDir, regRoot,
      Seq("request_id"), day1, "p", groupingIterations = 1)(identity).isDefined)
    Sources.publishMergePartitioned(spark, fragDir, frag(batch2), cfg, "p")
    // crash INSIDE the cycle body, before any registry write: the
    // checkpoint must not advance and the registry must be untouched
    val regBefore = sortedRows(IncrementalIdentity.readRegistry(spark, regRoot).subjects)
    intercept[RuntimeException] {
      IncrementalIdentity.resolveCycle(spark, fragDir, ckDir, regRoot,
        Seq("request_id"), day2, "p", groupingIterations = 1)(
        _ => throw new RuntimeException("boom"))
    }
    assert(sortedRows(IncrementalIdentity.readRegistry(spark, regRoot).subjects) == regBefore)
    // clean retry redelivers the same delta and converges to sequential
    val retry = IncrementalIdentity.resolveCycle(spark, fragDir, ckDir, regRoot,
      Seq("request_id"), day2, "p", groupingIterations = 1)(identity)
    assert(retry.isDefined && retry.get.resolutions.count() == 4)
    val inc = IncrementalIdentity.readRegistry(spark, regRoot)
    val seq = sequential()
    assert(sortedRows(inc.subjects) == sortedRows(seq.subjects))
    assert(sortedRows(inc.localIds) == sortedRows(seq.localIds))
  }

  test("crash after the registry publish but before the checkpoint is an idempotent re-apply") {
    val root = tmp("crash2")
    val (fragDir, ckDir, regRoot) = (s"$root/f", s"$root/ck", s"$root/r")
    IncrementalIdentity.publishRegistry(reg0, regRoot)
    Sources.publishMergePartitioned(spark, fragDir, frag(batch1), cfg, "p")
    assert(IncrementalIdentity.resolveCycle(spark, fragDir, ckDir, regRoot,
      Seq("request_id"), day1, "p", groupingIterations = 1)(identity).isDefined)
    val ckAfter1 = readCk(ckDir)
    Sources.publishMergePartitioned(spark, fragDir, frag(batch2), cfg, "p")
    assert(IncrementalIdentity.resolveCycle(spark, fragDir, ckDir, regRoot,
      Seq("request_id"), day2, "p", groupingIterations = 1)(identity).isDefined)
    val subjectsAfter2 = sortedRows(IncrementalIdentity.readRegistry(spark, regRoot).subjects)
    val idsAfter2 = sortedRows(IncrementalIdentity.readRegistry(spark, regRoot).localIds)
    // rewind the checkpoint to simulate the crash window: registry
    // published, checkpoint write lost — next run re-delivers batch 2
    // against the ALREADY-evolved registry
    writeCk(ckDir, ckAfter1)
    val redo = IncrementalIdentity.resolveCycle(spark, fragDir, ckDir, regRoot,
      Seq("request_id"), day2, "p", groupingIterations = 1)(identity)
    assert(redo.isDefined && redo.get.resolutions.count() == 4)
    // every re-presented identifier links to its minted gsid; the
    // same-day note guard blocks duplicate notes — byte-identical state
    assert(sortedRows(IncrementalIdentity.readRegistry(spark, regRoot).subjects)
      == subjectsAfter2)
    assert(sortedRows(IncrementalIdentity.readRegistry(spark, regRoot).localIds)
      == idsAfter2)
  }

  test("a delta above DriverBatchRows resolves on the distributed path, same fold") {
    val root = tmp("big")
    val (fragDir, ckDir, regRoot) = (s"$root/f", s"$root/ck", s"$root/r")
    IncrementalIdentity.publishRegistry(reg0, regRoot)
    val n = DriverPath.DriverBatchRows + 1
    // every row new except one re-presenting the registry's "a"
    val rows = (1 to n).map(i => (i.toLong, 1, if (i == 1) "A" else s"new-$i"))
    Sources.publishMergePartitioned(spark, fragDir, frag(rows), cfg, "p")
    val c = IncrementalIdentity.resolveCycle(spark, fragDir, ckDir, regRoot,
      Seq("request_id"), day1, "p", groupingIterations = 1)(identity)
    assert(c.isDefined && !graft.operators.DriverPath.isLocal(c.get.resolutions))
    val res = c.get.resolutions
    assert(res.count() == n)
    assert(res.filter(col("action") === "link_existing" && col("gsid") === "G1").count() == 1)
    val reg = IncrementalIdentity.readRegistry(spark, regRoot)
    assert(reg.subjects.count() == 2 + n - 1)
    // links are case-sensitive: "A" is a new key beside the registry's "a"
    assert(reg.localIds.count() == 2 + n)
  }

  test("publishSnapshotGroup: both members always resolve from one version") {
    val root = tmp("group")
    Sources.publishSnapshotGroup(
      Seq("a" -> Seq((1, "v1")).toDF("k", "tag"), "b" -> Seq((1, "v1")).toDF("k", "tag")),
      root)
    Sources.publishSnapshotGroup(
      Seq("a" -> Seq((1, "v2")).toDF("k", "tag"), "b" -> Seq((1, "v2")).toDF("k", "tag")),
      root)
    val m = Sources.readSnapshotGroupAll(spark, root, Seq("a", "b"))
    val tags = Seq(m("a"), m("b")).map(_.collect()(0).getAs[String]("tag"))
    assert(tags == Seq("v2", "v2"))
    // a stranded half-written version dir (crash mid-publish) is
    // invisible: the highest claim still names the complete version
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    Seq((1, "torn")).toDF("k", "tag").write
      .parquet(s"$root/v-000000000099-dead/a") // member b never written
    val m2 = Sources.readSnapshotGroupAll(spark, root, Seq("a", "b"))
    assert(Seq(m2("a"), m2("b")).map(_.collect()(0).getAs[String]("tag")) == Seq("v2", "v2"))
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, graft.sources.Claims.live(root))))
  }

  test("snapshot-group time travel: a retained prior version reads both members consistently") {
    val root = tmp("tt")
    (1 to 3).foreach { i =>
      Sources.publishSnapshotGroup(
        Seq("a" -> Seq((i, s"v$i")).toDF("k", "tag"),
          "b" -> Seq((i, s"v$i")).toDF("k", "tag")), root)
    }
    val versions = Sources.snapshotVersions(spark, root)
    assert(versions.contains(2L))
    val m = Sources.readSnapshotGroupVersion(spark, root, 2L, Seq("a", "b"))
    assert(m("a").collect()(0).getAs[String]("tag") == "v2")
    assert(m("b").collect()(0).getAs[String]("tag") == "v2")
    // pruned versions fail loudly
    intercept[IllegalArgumentException] {
      Sources.readSnapshotGroupVersion(spark, root, 99L, Seq("a"))
    }: Unit
  }

  test("snapshot-group stress: concurrent publishers never yield a mixed-version read") {
    val root = tmp("race")
    // seed so readers always have something to resolve
    Sources.publishSnapshotGroup(
      Seq("a" -> Seq((0, "seed")).toDF("k", "tag"), "b" -> Seq((0, "seed")).toDF("k", "tag")),
      root)
    val bad = new java.util.concurrent.atomic.AtomicInteger(0)
    val consistent = new java.util.concurrent.atomic.AtomicInteger(0)
    val publishing = new java.util.concurrent.atomic.AtomicBoolean(false)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readerFailure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    def vOf(p: String): Long = p.split("/v-").last.takeWhile(_.isDigit).toLong
    val reader = new Thread(() => {
      try {
        while (!stop.get()) {
          val began = publishing.get()
          // resolve first so a failed read can be judged against the
          // retention contract: only a reader lagging 3+ versions behind
          // the live pointer may see its version pruned mid-scan, and
          // then it reads again; any other failure fails the test
          val resolvedAtLeast = vOf(Sources.resolveSnapshot(spark, root))
          try {
            val m = Sources.readSnapshotGroupAll(spark, root, Seq("a", "b"))
            val ta = m("a").collect()(0).getAs[String]("tag")
            val tb = m("b").collect()(0).getAs[String]("tag")
            // both members must come from ONE version — a mismatch means
            // a reader observed a half-published group
            if (ta != tb) bad.incrementAndGet()
            else if (began) consistent.incrementAndGet()
          } catch {
            case _: Throwable
                if vOf(Sources.resolveSnapshot(spark, root)) - resolvedAtLeast >= 3 => ()
          }
        }
      } catch { case t: Throwable => readerFailure.set(t) }
    })
    reader.start()
    publishing.set(true)
    // two publisher threads, interleaved tagged versions; r18 fully
    // serializes snapshot publishes (an in-flight rival's claim
    // refuses loudly instead of racing swaps), so each publish runs
    // the documented refuse-and-redrive loop
    val pubs = (1 to 2).map(p => new Thread(() => {
      (1 to 6).foreach { i =>
        val tag = s"p$p-v$i"
        var done = false
        while (!done)
          try {
            Sources.publishSnapshotGroup(
              Seq("a" -> Seq((i, tag)).toDF("k", "tag"),
                "b" -> Seq((i, tag)).toDF("k", "tag")), root)
            done = true
          } catch {
            case _: java.util.ConcurrentModificationException => ()
          }
      }
    }))
    pubs.foreach(_.start()); pubs.foreach(_.join())
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (consistent.get() == 0 && readerFailure.get() == null &&
        System.nanoTime() < deadline)
      Thread.sleep(50)
    stop.set(true); reader.join()
    Option(readerFailure.get()).foreach(t => fail(s"reader thread failed: $t", t))
    assert(consistent.get() > 0,
      "the reader completed no consistent read after publishing began")
    assert(bad.get() == 0, s"${bad.get()} mixed-version reads observed")
    // the surviving pointer names a complete version (both members)
    val m = Sources.readSnapshotGroupAll(spark, root, Seq("a", "b"))
    assert(m("a").collect()(0).getAs[String]("tag")
      == m("b").collect()(0).getAs[String]("tag"))
  }

  private def readCk(ckDir: String): String = {
    val src = scala.io.Source.fromFile(s"$ckDir/_version", "UTF-8")
    try src.mkString finally src.close()
  }
  private def writeCk(ckDir: String, v: String): Unit = {
    val w = new java.io.FileWriter(s"$ckDir/_version")
    try w.write(v) finally w.close()
  }
}
