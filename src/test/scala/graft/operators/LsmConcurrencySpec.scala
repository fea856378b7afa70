package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The tombstone side-table under overlapping writers (VERDICT r14 #1):
  * the pre-r15 snapshot read-modify-write could silently drop a rival
  * apply's kills (last-writer-wins); the segmented design makes a lost
  * kill structurally impossible — every append writes its own
  * immutable segment and reads union them. These specs race real
  * concurrent appends and emulate the compaction crash window. */
class LsmConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_lsm_race").toString

  private def keysOf(dir: String): Set[String] =
    LsmTombstones.read(spark, dir)
      .map(_.select("k").collect().map(_.getString(0)).toSet)
      .getOrElse(Set.empty)

  test("two appends racing at the SAME seq both keep their kills") {
    // deterministic overlap: both writers observed the same nextSeq
    // (the worst interleaving for a read-modify-write design)
    for (round <- 1 to 5) {
      val dir = freshDir()
      LsmTombstones.append(spark, dir, Seq("seed").toDF("k"), "k", 1L)
      val seq = LsmTombstones.nextSeq(spark, dir)
      assert(seq == 2L)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val gate = new java.util.concurrent.CountDownLatch(1)
      val threads = Seq("a", "b").map { who =>
        new Thread(() => {
          try {
            gate.await()
            LsmTombstones.append(spark, dir,
              Seq(s"$who-$round").toDF("k"), "k", seq)
          } catch { case t: Throwable => errs.add(t): Unit }
        })
      }
      threads.foreach(_.start())
      gate.countDown()
      threads.foreach(_.join(120000))
      assert(errs.isEmpty, s"append threw: ${errs.peek()}")
      // NO kill lost — the r14 snapshot design loses one of these
      assert(keysOf(dir) == Set("seed", s"a-$round", s"b-$round"))
    }
  }

  test("interleaved multi-round appends from two writers lose nothing") {
    val dir = freshDir()
    val rounds = 6
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = Seq("a", "b").map { who =>
      new Thread(() => {
        try {
          for (r <- 1 to rounds) {
            val s = LsmTombstones.nextSeq(spark, dir)
            LsmTombstones.append(spark, dir, Seq(s"$who-$r").toDF("k"), "k", s)
          }
        } catch { case t: Throwable => errs.add(t): Unit }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(errs.isEmpty, s"append threw: ${errs.peek()}")
    val expect = (1 to rounds).flatMap(r => Seq(s"a-$r", s"b-$r")).toSet
    assert(keysOf(dir) == expect)
    // and the kill semantics hold across all the racy segments: a row
    // below ITS KEY's newest kill dies, a row at it survives
    val killSeq = LsmTombstones.read(spark, dir).get
      .filter(col("k") === "a-1").agg(max("_ts_seq")).first().getLong(0)
    val rows = Seq(("a-1", killSeq - 1), ("a-1", killSeq), ("never-killed", 0L))
      .toDF("k", "_seq")
    val live = LsmTombstones.filterLive(spark, dir, rows, "k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(live == Set(("a-1", killSeq), ("never-killed", 0L)))
  }

  test("folded rows survive still-live tombstones (compaction visibility)") {
    // the ADVICE r14 anomaly: fold published, clear not yet run — a
    // reader's filterLive must NOT kill the compacted rows
    val dir = freshDir()
    LsmTombstones.append(spark, dir, Seq("x", "y").toDF("k"), "k", 1L)
    LsmTombstones.append(spark, dir, Seq("x").toDF("k"), "k", 2L)
    val foldSeq = LsmTombstones.maxLiveSeq(spark, dir)
    assert(foldSeq == 2L)
    // compacted content is stamped AT the fold seq — every row live
    val folded = Seq(("x", foldSeq), ("y", foldSeq)).toDF("k", "_seq")
    val live = LsmTombstones.filterLive(spark, dir, folded, "k")
      .select("k").collect().map(_.getString(0)).toSet
    assert(live == Set("x", "y"))
    // the r14 stamp (0) would have killed both:
    val stamped0 = Seq(("x", 0L), ("y", 0L)).toDF("k", "_seq")
    assert(LsmTombstones.filterLive(spark, dir, stamped0, "k").count() == 0)
    // clear retires the consumed generations and floors the seq space
    LsmTombstones.clear(spark, dir, foldSeq)
    assert(LsmTombstones.isEmpty(spark, dir))
    assert(LsmTombstones.floor(spark, dir) == foldSeq)
    assert(LsmTombstones.nextSeq(spark, dir) == foldSeq + 1)
  }

  test("a crash between fold publish and clear leaves a correct, readable index") {
    // real BM25 index: append-apply, then compact — then RESTORE the
    // consumed tombstone segments (emulating clear-not-yet-run after
    // the fold publishes). Search must equal the rebuild either way.
    val docs = Seq((1L, "spark merge"), (2L, "vector search"),
      (3L, "merge vector spark")).toDF("doc_id", "text")
    // the committed version dir: the tombstone log lives there
    val dir = LexicalIndex.writeBm25Index(docs, freshDir(), nBuckets = 4)
    val changes = Seq((2L, "", "orphaned"),
      (3L, "spark only now", "updated"),
      (4L, "fresh vector doc", "new")).toDF("doc_id", "text", "_change")
    LexicalIndex.applyBm25IndexChanges(spark, dir, changes, mode = "append"): Unit
    // stash the live tombstone segments before compaction consumes them
    val tsRoot = java.nio.file.Paths.get(dir, "tombstones")
    val stash = Files.createTempDirectory("graft_lsm_stash")
    val segs = java.nio.file.Files.list(tsRoot).iterator()
    val segNames = scala.collection.mutable.ArrayBuffer.empty[String]
    while (segs.hasNext) {
      val p = segs.next()
      if (p.getFileName.toString.startsWith("seg-")) {
        segNames += p.getFileName.toString
        copyTree(p, stash.resolve(p.getFileName.toString))
      }
    }
    assert(segNames.nonEmpty)
    LexicalIndex.compactBm25Index(spark, dir)
    val finalDocs = Seq((1L, "spark merge"), (3L, "spark only now"),
      (4L, "fresh vector doc")).toDF("doc_id", "text")
    val q = Seq("spark", "vector")
    def search() = LexicalIndex.searchBm25Index(spark, dir, q, k = 10)
      .collect().map(_.toSeq).toSeq
    val oracle = TextAnalysis.bm25(finalDocs, "doc_id", "text", q, k = 10)
      .collect().map(_.toSeq).toSeq
    assert(search() == oracle)
    // crash emulation: consumed segments come back (floor already set)
    segNames.foreach(n => copyTree(stash.resolve(n), tsRoot.resolve(n)))
    assert(LsmTombstones.exists(spark, dir))
    assert(search() == oracle) // folded rows survive the stale kills
    // nextSeq never reissues a consumed generation despite the ghosts
    assert(LsmTombstones.nextSeq(spark, dir) >
      LsmTombstones.floor(spark, dir))
    // the next clear retires the ghosts idempotently
    LsmTombstones.clear(spark, dir, LsmTombstones.floor(spark, dir))
    assert(LsmTombstones.isEmpty(spark, dir))
    assert(search() == oracle)
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    java.nio.file.Files.walk(from).sorted().forEach { p =>
      val dst = to.resolve(from.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) {
        java.nio.file.Files.createDirectories(dst): Unit
      } else {
        java.nio.file.Files.createDirectories(dst.getParent)
        java.nio.file.Files.copy(p, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
      }
    }
  }
}
