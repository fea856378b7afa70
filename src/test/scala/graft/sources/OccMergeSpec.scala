package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.types.TableConfig

/** Optimistic-concurrency commit for merge-table DATA publishes
  * (VERDICT r15 #1): before r16, two concurrent publishers both read
  * manifest N, both wrote a rival N+1, and the last pointer swap
  * silently dropped the loser's batch (the documented whole lost
  * update). The claim-marker protocol must instead (a) land BOTH
  * batches when they touch disjoint partitions (rebase), (b) land both
  * batches of racing same-partition APPENDS (append content never
  * depends on current content), and (c) refuse loudly — never lose —
  * when racing merges touch the same partition. */
class OccMergeSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = TableConfig("occ_t", Seq("k"), Seq.empty)

  private def freshDir(): String =
    Files.createTempDirectory("graft_occ").toString

  private def rowsOf(dir: String): Set[(String, Int, String)] =
    Sources.readMergePartitioned(spark, dir, "p")
      .select(col("k"), col("p").cast("int"), col("v"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet

  test("racing merge publishes to DISJOINT partitions both land") {
    for (round <- 1 to 3) {
      val dir = freshDir()
      Sources.publishMergePartitioned(spark, dir,
        Seq(("seed1", 1, "s"), ("seed2", 2, "s")).toDF("k", "p", "v"),
        cfg, "p"): Unit
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val gate = new java.util.concurrent.CountDownLatch(1)
      val threads = Seq(1, 2).map { p =>
        new Thread(() => {
          try {
            gate.await()
            Sources.publishMergePartitioned(spark, dir,
              Seq((s"w$p-$round", p, "x")).toDF("k", "p", "v"), cfg, "p"): Unit
          } catch { case t: Throwable => errs.add(t): Unit }
        })
      }
      threads.foreach(_.start()); gate.countDown()
      threads.foreach(_.join(180000))
      assert(errs.isEmpty, s"disjoint publish threw: ${errs.peek()}")
      // pre-r16 this lost one writer's whole batch to the swap race
      assert(rowsOf(dir) == Set(("seed1", 1, "s"), ("seed2", 2, "s"),
        (s"w1-$round", 1, "x"), (s"w2-$round", 2, "x")))
    }
  }

  test("racing APPENDS to the same partition both land (rebase, never refuse)") {
    for (round <- 1 to 3) {
      val dir = freshDir()
      Sources.publishMergeAppend(spark, dir,
        Seq(("seed", 1, "s")).toDF("k", "p", "v"), "p")
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val gate = new java.util.concurrent.CountDownLatch(1)
      val threads = Seq("a", "b").map { who =>
        new Thread(() => {
          try {
            gate.await()
            Sources.publishMergeAppend(spark, dir,
              Seq((s"$who-$round", 1, "x")).toDF("k", "p", "v"), "p")
          } catch { case t: Throwable => errs.add(t): Unit }
        })
      }
      threads.foreach(_.start()); gate.countDown()
      threads.foreach(_.join(180000))
      assert(errs.isEmpty, s"append threw: ${errs.peek()}")
      assert(rowsOf(dir) == Set(("seed", 1, "s"),
        (s"a-$round", 1, "x"), (s"b-$round", 1, "x")))
    }
  }

  test("racing merges on the SAME partition: refuse-or-serialize, never a silent loss") {
    var sawConflict = false
    for (round <- 1 to 5) {
      val dir = freshDir()
      Sources.publishMergePartitioned(spark, dir,
        Seq(("seed", 1, "s")).toDF("k", "p", "v"), cfg, "p"): Unit
      val refused = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val gate = new java.util.concurrent.CountDownLatch(1)
      val threads = Seq("a", "b").map { who =>
        new Thread(() => {
          try {
            gate.await()
            Sources.publishMergePartitioned(spark, dir,
              Seq((s"$who-$round", 1, "x")).toDF("k", "p", "v"), cfg, "p"): Unit
          } catch {
            case _: java.util.ConcurrentModificationException =>
              refused.add(who): Unit // the loud path — caller re-derives
            case t: Throwable => errs.add(t): Unit
          }
        })
      }
      threads.foreach(_.start()); gate.countDown()
      threads.foreach(_.join(180000))
      assert(errs.isEmpty, s"unexpected error class: ${errs.peek()}")
      val present = rowsOf(dir)
      val refusedSet = { val it = refused.iterator(); val b = Set.newBuilder[String]
        while (it.hasNext) b += it.next(); b.result() }
      sawConflict ||= refusedSet.nonEmpty
      // THE invariant: a writer's batch is in the table iff its publish
      // returned success — absent-and-silent is the pre-r16 bug
      for (who <- Seq("a", "b")) {
        val landed = present.contains((s"$who-$round", 1, "x"))
        if (refusedSet.contains(who))
          assert(!landed, s"$who was refused but its rows landed")
        else
          assert(landed, s"$who succeeded but its batch was silently lost")
      }
      assert(present.contains(("seed", 1, "s")))
    }
    info(if (sawConflict) "observed >=1 real overlap refusal across rounds"
         else "races serialized every round (both publishes landed)")
  }

  test("publisher base = latest COMMITTED state, even when the pointer lags") {
    val dir = freshDir()
    Sources.publishMergeAppend(spark, dir, Seq(("one", 1, "a")).toDF("k", "p", "v"), "p")
    Sources.publishMergeAppend(spark, dir, Seq(("two", 1, "b")).toDF("k", "p", "v"), "p")
    // a `_current` pointer lagging at the oldest manifest, as a table
    // written before claims became the whole commit may hold it: nothing
    // resolves it any more
    val manifests = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("manifest-")).sorted
    assert(manifests.length >= 2)
    Files.write(java.nio.file.Paths.get(dir, "_current"),
      manifests.head.getBytes("UTF-8")): Unit
    // a reader resolves the highest claim...
    assert(rowsOf(dir) == Set(("one", 1, "a"), ("two", 1, "b")))
    // ...and so does the next PUBLISH: it folds in the committed state,
    // never rebases history from the stale pointer
    Sources.publishMergeAppend(spark, dir, Seq(("three", 1, "c")).toDF("k", "p", "v"), "p")
    assert(rowsOf(dir) == Set(("one", 1, "a"), ("two", 1, "b"), ("three", 1, "c")))
  }

  test("a claim that names no manifest is refused loudly by reads and publishes, naming it") {
    val dir = freshDir()
    Sources.publishMergePartitioned(spark, dir,
      Seq(("seed", 1, "s")).toDF("k", "p", "v"), cfg, "p"): Unit
    // claims are content-atomic, so no writer leaves such a claim: an
    // empty or garbage highest claim is a layout this engine does not know
    for (content <- Seq("", "garbage")) {
      val committed = Sources.mergeCommittedVersion(spark, dir)
      val claim = f"commit-${committed + 1}%012d"
      Claims.plant(dir, committed + 1, content)
      def refused(what: String)(f: => Any): Unit = {
        val e = intercept[IllegalStateException](f)
        assert(e.getMessage.contains(s"$dir/$claim"), s"$what: ${e.getMessage}")
      }
      refused("read")(rowsOf(dir))
      refused("merge")(Sources.publishMergePartitioned(spark, dir,
        Seq(("after", 1, "x")).toDF("k", "p", "v"), cfg, "p"))
      refused("append")(Sources.publishMergeAppend(spark, dir,
        Seq(("more", 2, "y")).toDF("k", "p", "v"), "p"))
      Files.delete(java.nio.file.Paths.get(dir, claim))
      assert(rowsOf(dir) == Set(("seed", 1, "s")))
    }
  }

  test("a refused publish leaves no orphan batch dir or loser manifest behind (ADVICE r16)") {
    val dir = freshDir()
    Sources.publishMergePartitioned(spark, dir,
      Seq(("seed", 1, "s")).toDF("k", "p", "v"), cfg, "p"): Unit
    def listing() = new java.io.File(dir).listFiles().map(_.getName).toSet
    val before = listing()
    // force a deterministic stale-snapshot refuse: derive a publish from
    // the current state, let a rival commit to the same partition first,
    // then commit the stale publish — publishMergePartitioned re-reads
    // at entry, so instead drive the refuse through publishMergeReplace
    // with a pinned stale basis (same commit path, same reclaim contract)
    val basis = Sources.mergeCommittedVersion(spark, dir)
    val stale = Sources.readMergePartitioned(spark, dir, "p")
      .filter(col("p") === 1).localCheckpoint(false)
    Sources.publishMergePartitioned(spark, dir,
      Seq(("rival", 1, "r")).toDF("k", "p", "v"), cfg, "p"): Unit
    val afterRival = listing()
    intercept[java.util.ConcurrentModificationException] {
      Sources.publishMergeReplace(spark, dir, stale, "p", Seq(1),
        basisVersion = Some(basis))
    }
    val afterRefuse = listing()
    // the refused publish must not add anything durable: no b-* dir, no
    // manifest, no commit marker beyond what the rival left
    assert(afterRefuse == afterRival,
      s"refuse left litter: ${(afterRefuse -- afterRival).mkString(", ")}")
    assert((afterRival -- before).exists(_.startsWith("b-")),
      "sanity: the rival's publish did add a batch dir")
    // table state is exactly the rival's merge result
    assert(rowsOf(dir) == Set(("seed", 1, "s"), ("rival", 1, "r")))
  }

  test("compaction (replace) racing an append: the appended batch survives") {
    // replace refuses only when a rival committed AFTER its read; an
    // append that lands first is IN its read; one that lands during the
    // replace either rebases the append or refuses the replace — the
    // appended rows must never vanish silently.
    for (round <- 1 to 3) {
      val dir = freshDir()
      Sources.publishMergeAppend(spark, dir,
        Seq(("seed", 1, "s"), ("seed2", 1, "t")).toDF("k", "p", "v"), "p")
      val gate = new java.util.concurrent.CountDownLatch(1)
      val replaceRefused = new java.util.concurrent.atomic.AtomicBoolean(false)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val tAppend = new Thread(() => {
        try { gate.await()
          Sources.publishMergeAppend(spark, dir,
            Seq((s"app-$round", 1, "x")).toDF("k", "p", "v"), "p")
        } catch { case t: Throwable => errs.add(t): Unit }
      })
      val tReplace = new Thread(() => {
        try { gate.await()
          // the transactional compaction pattern: snapshot the basis
          // BEFORE reading the content to fold
          val basis = Sources.mergeCommittedVersion(spark, dir)
          val cur = Sources.readMergePartitioned(spark, dir, "p")
            .filter(col("p") === 1).localCheckpoint(false)
          Sources.publishMergeReplace(spark, dir, cur, "p", Seq(1),
            basisVersion = Some(basis))
        } catch {
          case _: java.util.ConcurrentModificationException =>
            replaceRefused.set(true)
          case t: Throwable => errs.add(t): Unit
        }
      })
      Seq(tAppend, tReplace).foreach(_.start()); gate.countDown()
      Seq(tAppend, tReplace).foreach(_.join(180000))
      assert(errs.isEmpty, s"unexpected error: ${errs.peek()}")
      val present = rowsOf(dir)
      assert(present.contains((s"app-$round", 1, "x")),
        s"appended batch vanished (replaceRefused=${replaceRefused.get()})")
      assert(present.contains(("seed", 1, "s")) && present.contains(("seed2", 1, "t")))
    }
  }

  test("compaction commits a claim marker naming the live manifest") {
    val dir = freshDir()
    for (b <- 1 to 3)
      Sources.publishMergeAppend(spark, dir,
        Seq((s"k$b", b % 2, "v")).toDF("k", "p", "v"), "p")
    val before = Sources.mergeCommittedVersion(spark, dir)
    assert(Sources.compactMergePartitioned(spark, dir, "p") == 2)
    def text(name: String) =
      new String(Files.readAllBytes(java.nio.file.Paths.get(dir, name)), "UTF-8").trim
    // the compaction claimed the next dense number, and that claim, the
    // highest, names a complete manifest: the one readers now resolve
    assert(Sources.mergeCommittedVersion(spark, dir) == before + 1)
    val live = text(f"commit-${before + 1}%012d")
    assert(Claims.live(dir) == live && live.startsWith("manifest-"), live)
    assert(text(live).startsWith("version\t1"), live)
    assert(rowsOf(dir) == Set(("k1", 1, "v"), ("k2", 0, "v"), ("k3", 1, "v")))
  }

  test("compaction racing an append: the appended rows never vanish") {
    // rounds 1-2 append into the compacted partition p=1 (compaction
    // refuses if the append committed after its read, else the append
    // rebases onto it); round 3 appends into p=2, which is not live, so
    // either order must land both
    for (round <- 1 to 3) {
      val dir = freshDir()
      Sources.publishMergeAppend(spark, dir,
        Seq(("seed", 1, "s")).toDF("k", "p", "v"), "p")
      Sources.publishMergeAppend(spark, dir,
        Seq(("seed2", 1, "t")).toDF("k", "p", "v"), "p")
      val p = if (round == 3) 2 else 1
      val gate = new java.util.concurrent.CountDownLatch(1)
      val compactRefused = new java.util.concurrent.atomic.AtomicBoolean(false)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val tAppend = new Thread(() => {
        try { gate.await()
          Sources.publishMergeAppend(spark, dir,
            Seq((s"app-$round", p, "x")).toDF("k", "p", "v"), "p")
        } catch { case t: Throwable => errs.add(t): Unit }
      })
      val tCompact = new Thread(() => {
        try { gate.await()
          Sources.compactMergePartitioned(spark, dir, "p"): Unit
        } catch {
          case _: java.util.ConcurrentModificationException =>
            compactRefused.set(true)
          case t: Throwable => errs.add(t): Unit
        }
      })
      Seq(tAppend, tCompact).foreach(_.start()); gate.countDown()
      Seq(tAppend, tCompact).foreach(_.join(180000))
      assert(errs.isEmpty, s"unexpected error: ${errs.peek()}")
      if (round == 3) assert(!compactRefused.get(), "a disjoint append refused compaction")
      assert(rowsOf(dir) == Set(("seed", 1, "s"), ("seed2", 1, "t"),
        (s"app-$round", p, "x")),
        s"round $round lost rows (compactRefused=${compactRefused.get()})")
    }
  }

  test("a publisher whose basis claim is pruned mid-publish claims past the rivals, never the freed slot") {
    HookFs.register(spark.sparkContext.hadoopConfiguration)
    val local = s"${freshDir()}/t"
    val dir = s"${HookFs.Scheme}://$local"
    Sources.publishMergePartitioned(spark, dir,
      Seq(("seed", 1, "s")).toDF("k", "p", "v"), cfg, "p"): Unit
    // while the publish below reads its basis partition, rivals commit
    // to another partition and their prunes retire the basis claim and
    // the one above it: commit-2 is a free slot again
    HookFs.arm { _ =>
      for (v <- 2 to 5)
        Sources.publishMergePartitioned(spark, dir, Seq((s"r$v", 2, "r")).toDF("k", "p", "v"),
          cfg, "p"): Unit
      val aged = System.currentTimeMillis() - 11L * 60 * 1000
      new java.io.File(local).listFiles().foreach(_.setLastModified(aged): Unit)
      Sources.publishMergePartitioned(spark, dir, Seq(("r6", 2, "r")).toDF("k", "p", "v"),
        cfg, "p"): Unit
      assert(!new java.io.File(local, "commit-000000000002").exists(), "setup: slot not freed")
    }
    try Sources.publishMergePartitioned(spark, dir,
      Seq(("late", 1, "l")).toDF("k", "p", "v"), cfg, "p"): Unit
    finally HookFs.disarm()
    assert(!HookFs.pending, "the rivals never ran")
    // claiming the freed slot would have committed below the highest
    // claim, where no reader resolves it: the batch silently lost. The
    // rivals touched only p=2, so the publish rebased and landed on top
    assert(Claims.top(local) == 7)
    assert(rowsOf(dir) == Set(("seed", 1, "s"), ("late", 1, "l")) ++
      (2 to 6).map(v => (s"r$v", 2, "r")))
  }

  test("a crash before the merge claim: readers keep the old state, the next publish lands at once") {
    val dir = freshDir()
    Sources.publishMergePartitioned(spark, dir,
      Seq(("a", 1, "v1"), ("b", 2, "v1")).toDF("k", "p", "v"), cfg, "p"): Unit
    val c = Sources.mergeCommittedVersion(spark, dir)
    // the crashed publish wrote its batch dir and its manifest, then
    // died before taking commit-<c+1>
    val live = Claims.live(dir)
    val crashDir = f"b-${c + 1}%012d-crashed0"
    Seq(("a", "v9")).toDF("k", "v").write.parquet(s"$dir/$crashDir/p=1")
    val crashManifest = f"manifest-${c + 1}%012d-crashed0"
    val entries = Files.readString(java.nio.file.Paths.get(dir, live)).split("\n").toSeq
      .filterNot(_.endsWith("/p=1")) :+ s"$crashDir/p=1"
    Files.write(java.nio.file.Paths.get(dir, crashManifest),
      entries.mkString("\n").getBytes("UTF-8")): Unit
    // a fresh reader sees the old state: nothing committed the manifest
    assert(rowsOf(dir) == Set(("a", 1, "v1"), ("b", 2, "v1")))
    // the next publish takes the crashed publish's number at once
    Sources.publishMergePartitioned(spark, dir, Seq(("b", 2, "v2")).toDF("k", "p", "v"),
      cfg, "p"): Unit
    assert(Sources.mergeCommittedVersion(spark, dir) == c + 1)
    assert(rowsOf(dir) == Set(("a", 1, "v1"), ("b", 2, "v2")))
    // its litter is an attempt that can never commit (another manifest
    // holds its number); a lost attempt that is still running rebases
    // with the same batch dir, so the litter goes once past the grace
    def names() = new java.io.File(dir).list().toSet
    assert(names()(crashManifest) && names()(crashDir), "young litter was touched")
    val aged = System.currentTimeMillis() - 11L * 60 * 1000
    Seq(crashManifest, crashDir).foreach(n =>
      new java.io.File(dir, n).setLastModified(aged): Unit)
    Sources.publishMergePartitioned(spark, dir, Seq(("b", 2, "v3")).toDF("k", "p", "v"),
      cfg, "p"): Unit
    assert(!names()(crashManifest) && !names()(crashDir), s"litter survived: ${names()}")
    assert(rowsOf(dir) == Set(("a", 1, "v1"), ("b", 2, "v3")))
  }

  test("a crash after the merge claim: the claim is the commit, readers and the next publish see it") {
    val dir = freshDir()
    Sources.publishMergePartitioned(spark, dir,
      Seq(("a", 1, "v1"), ("b", 2, "v1")).toDF("k", "p", "v"), cfg, "p"): Unit
    val c = Sources.mergeCommittedVersion(spark, dir)
    // the crashed publish wrote its batch dir and manifest, took
    // commit-<c+1>, and died before its prune
    val live = Claims.live(dir)
    val crashDir = f"b-${c + 1}%012d-crashed1"
    Seq(("a", "v2")).toDF("k", "v").write.parquet(s"$dir/$crashDir/p=1")
    val lines = Files.readString(java.nio.file.Paths.get(dir, live)).split("\n").toSeq
    val schema = lines.find(_.startsWith("schema\t")).get.split("\t", 3)(2)
    val crashManifest = f"manifest-${c + 1}%012d-crashed1"
    Files.write(java.nio.file.Paths.get(dir, crashManifest), (lines.filterNot(_.endsWith("/p=1")) ++
      Seq(s"schema\t$crashDir\t$schema", s"$crashDir/p=1")).mkString("\n").getBytes("UTF-8")): Unit
    Claims.plant(dir, c + 1, crashManifest)
    // a fresh reader sees the new state at once
    assert(rowsOf(dir) == Set(("a", 1, "v2"), ("b", 2, "v1")))
    // the next publish builds on it with no wait, and its prune runs
    for (v <- Seq("v3", "v4", "v5"))
      Sources.publishMergePartitioned(spark, dir, Seq(("b", 2, v)).toDF("k", "p", "v"),
        cfg, "p"): Unit
    assert(Sources.mergeCommittedVersion(spark, dir) == c + 4)
    assert(rowsOf(dir) == Set(("a", 1, "v2"), ("b", 2, "v5")))
  }

  test("time travel and the change feed read the committed manifest, never a losing attempt's") {
    val dir = freshDir()
    Sources.publishMergePartitioned(spark, dir,
      Seq(("a", 1, "v1"), ("b", 2, "v1")).toDF("k", "p", "v"), cfg, "p"): Unit
    for (v <- Seq("v2", "v3"))
      Sources.publishMergePartitioned(spark, dir, Seq(("a", 1, v)).toDF("k", "p", "v"),
        cfg, "p"): Unit
    // a publisher that lost the claim for version 2 and crashed before
    // deleting its attempt: its manifest names only the partition it
    // rewrote (beside the committed one's version and schema lines),
    // and its uid sorts before the committed one's
    val committed2 = Files.readString(java.nio.file.Paths.get(dir, "commit-000000000002")).trim
    val lines2 = Files.readString(java.nio.file.Paths.get(dir, committed2)).split("\n")
    val loser = "manifest-000000000002-00000000"
    assert(loser < committed2)
    Files.write(java.nio.file.Paths.get(dir, loser), lines2.filter(l =>
      l.contains("\t") || l.endsWith("/p=1")).mkString("\n").getBytes("UTF-8")): Unit
    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Int, String)] =
      df.select(col("k"), col("p").cast("int"), col("v")).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(rows(Sources.readMergePartitionedVersion(spark, dir, 2L)) ==
      Set(("a", 1, "v2"), ("b", 2, "v1")))
    assert(rows(Sources.readMergePartitionedChanges(spark, dir, 2L, "p")) ==
      Set(("a", 1, "v3")))
  }
}
