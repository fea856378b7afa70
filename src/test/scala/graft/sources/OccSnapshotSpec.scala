package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{IdentityResolver, IncrementalIdentity}

/** Optimistic-concurrency commit for SNAPSHOT and snapshot-GROUP
  * publishes (VERDICT r16 #1): before r17 two racing snapshot
  * publishers degraded to a documented whole lost update — the last
  * pointer swap silently replaced the loser's table. The registry
  * evolution path ([[IncrementalIdentity.resolveCycle]]) publishes the
  * subjects+local_ids group through exactly this path, so a
  * double-fired scheduler was a lost registry fold. Now every publish
  * claims its version with a dense `commit-<n>` marker; a raced loser
  * REFUSES loudly (`ConcurrentModificationException`) — snapshot
  * content derives from the prior snapshot, so rebase is unsound and
  * refuse-and-redrive is the semantic (the reference's serializable
  * load txn, table-loader/services/loader.py:102). */
class OccSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_occ_snap").toString + "/t"

  test("racing snapshot publishes: one wins, the loser refuses loudly, a redrive lands") {
    for (round <- 1 to 3) {
      val dir = freshDir()
      Sources.publishSnapshot(Seq(0).toDF("x"), dir)
      val refused = new java.util.concurrent.ConcurrentLinkedQueue[Int]
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val gate = new java.util.concurrent.CountDownLatch(1)
      // both threads snapshot the SAME basis before the gate — the
      // transactional read-derive-publish shape a registry fold has
      val basis = Sources.snapshotReadBasis(spark, dir)
      val threads = Seq(1, 2).map { k =>
        new Thread(() => {
          try {
            gate.await()
            Sources.publishSnapshot(Seq(k).toDF("x"), dir,
              basis = Some(basis))
          } catch {
            case _: java.util.ConcurrentModificationException =>
              refused.add(k): Unit
            case t: Throwable => errs.add(t): Unit
          }
        })
      }
      threads.foreach(_.start()); gate.countDown()
      threads.foreach(_.join(120000))
      assert(errs.isEmpty, s"unexpected error class: ${errs.peek()}")
      // exactly one basis-pinned publish can land per basis
      assert(refused.size == 1,
        s"round $round: expected exactly 1 refusal, got ${refused.size}")
      val winner = Seq(1, 2).filterNot(k => refused.contains(k)).head
      val live = Sources.readSnapshot(spark, dir).collect().map(_.getInt(0)).toSeq
      assert(live == Seq(winner),
        s"live table is not the winner's complete frame: $live")
      // the refuse is redrivable: re-read the basis, re-derive, publish
      val loser = refused.peek()
      Sources.publishSnapshot(Seq(loser * 100).toDF("x"), dir,
        basis = Some(Sources.snapshotReadBasis(spark, dir)))
      assert(Sources.readSnapshot(spark, dir).collect()
        .map(_.getInt(0)).toSeq == Seq(loser * 100))
    }
  }

  test("a stale basis refuses even with no claim contention (rival landed before entry)") {
    val dir = freshDir()
    Sources.publishSnapshot(Seq(1, 2).toDF("x"), dir)
    val basis = Sources.snapshotReadBasis(spark, dir)
    // a rival commits AFTER this publish derived its content
    Sources.publishSnapshot(Seq(3).toDF("x"), dir)
    intercept[java.util.ConcurrentModificationException] {
      Sources.publishSnapshot(Seq(99).toDF("x"), dir, basis = Some(basis))
    }
    // the rival's table is intact — refused, not lost
    assert(Sources.readSnapshot(spark, dir).collect()
      .map(_.getInt(0)).toSeq == Seq(3))
    // group publishes carry the identical contract
    val gdir = freshDir()
    Sources.publishSnapshotGroup(Seq("a" -> Seq(1).toDF("x")), gdir)
    val gBasis = Sources.snapshotReadBasis(spark, gdir)
    Sources.publishSnapshotGroup(Seq("a" -> Seq(2).toDF("x")), gdir)
    intercept[java.util.ConcurrentModificationException] {
      Sources.publishSnapshotGroup(Seq("a" -> Seq(9).toDF("x")), gdir,
        basis = Some(gBasis))
    }
    assert(Sources.readSnapshotGroup(spark, gdir, "a").collect()
      .map(_.getInt(0)).toSeq == Seq(2))
  }

  test("a crash before the group claim blocks no publish, and that publish's prune reclaims the dir") {
    val dir = freshDir()
    Sources.publishSnapshotGroup(Seq("a" -> Seq(1).toDF("x"), "b" -> Seq(1).toDF("x")), dir)
    val committed = Sources.snapshotReadBasis(spark, dir)
    // crash window: the version dir written (member b only partly),
    // the claim never taken
    val crashed = crashedWrite(dir, committed + 1, "crashed0", 2, members = Seq("a"))
    assert(group(dir) == (Seq(1), Seq(1)), "a fresh reader saw the unclaimed dir")
    // the next publish lands at once, at the number the crash never took
    Sources.publishSnapshotGroup(Seq("a" -> Seq(3).toDF("x"), "b" -> Seq(3).toDF("x")), dir)
    assert(group(dir) == (Seq(3), Seq(3)))
    assert(Sources.snapshotReadBasis(spark, dir) == committed + 1)
    // another claim holds the crashed dir's number, so no writer can
    // commit it any more: the prune took it with no age test
    assert(!names(dir)(crashed), s"crashed dir survived: ${names(dir)}")
  }

  test("double-fired resolve cycle: the losing cycle refuses loudly; a redriven cycle converges (VERDICT r16 #1)") {
    val root = Files.createTempDirectory("graft_occ_cycle").toString
    val (fragDir, ckDir, regRoot) = (s"$root/f", s"$root/ck", s"$root/r")
    val day = java.sql.Date.valueOf("2024-06-01")
    val cfg = graft.types.TableConfig("fragments", Seq("request_id"), Seq.empty)
    val reg0 = IdentityResolver.Registry(
      Seq(("G1", 1, "2020-01-01")).toDF("global_subject_id", "center_id", "created_at")
        .withColumn("created_at", col("created_at").cast("date")),
      Seq((1, "a", "primary", "G1"))
        .toDF("center_id", "local_subject_id", "identifier_type", "global_subject_id"))
    IncrementalIdentity.publishRegistry(reg0, regRoot)
    def frag(rows: Seq[(Long, Int, String)]) =
      rows.toDF("request_id", "center_id", "local_subject_id")
        .withColumn("identifier_type", lit("primary"))
        .withColumn("p", (col("request_id") % 2).cast("int"))
    val batch = Seq((101L, 1, "b"), (102L, 2, "c"))
    Sources.publishMergePartitioned(spark, fragDir, frag(batch), cfg, "p"): Unit

    // sequential ground truth: ONE cycle folds the batch exactly once
    val seqRoot = s"$root/rseq"
    IncrementalIdentity.publishRegistry(reg0, seqRoot)
    val seqCk = s"$root/ckseq"
    IncrementalIdentity.resolveCycle(spark, fragDir, seqCk, seqRoot,
      Seq("request_id"), day, "p", groupingIterations = 1)(identity): Unit
    def rows(r: String) = {
      val m = IncrementalIdentity.readRegistry(spark, r)
      (m.subjects.collect().map(_.toString).toSeq.sorted,
        m.localIds.collect().map(_.toString).toSeq.sorted)
    }
    val expected = rows(seqRoot)

    // two schedulers double-fire the SAME cycle (same checkpoint, same
    // registry): pre-r17 the second publish silently replaced the
    // first's fold — now exactly one Cycle lands and the loser either
    // refuses loudly (raced past the winner's publish) or no-ops
    // (arrived after the winner's checkpoint advance)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = Seq("s1", "s2").map { who =>
      new Thread(() => {
        try {
          gate.await()
          val c = IncrementalIdentity.resolveCycle(spark, fragDir, ckDir,
            regRoot, Seq("request_id"), day, "p", groupingIterations = 1)(identity)
          outcomes.add(if (c.isDefined) s"$who:cycle" else s"$who:noop"): Unit
        } catch {
          case _: java.util.ConcurrentModificationException =>
            outcomes.add(s"$who:refused"): Unit
          case t: Throwable => errs.add(t): Unit
        }
      })
    }
    threads.foreach(_.start()); gate.countDown()
    threads.foreach(_.join(300000))
    assert(errs.isEmpty, s"unexpected error class: ${errs.peek()}")
    val byKind = { val it = outcomes.iterator(); val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next(); b.result() }.map(_.split(":")(1))
    // at least one fold lands; a second "cycle" outcome is the benign
    // interleaving where the loser read the WINNER'S registry before
    // resolving (fresh basis, idempotent re-apply — the crash-window
    // semantic); what can never happen is a silent lost or double fold,
    // which the registry equality below pins
    assert(byKind.count(_ == "cycle") >= 1,
      s"no scheduler landed the fold: $byKind")
    info(s"double-fire outcomes: $byKind")
    // the registry equals ONE sequential fold — never a double-mint,
    // never a lost fold
    assert(rows(regRoot) == expected, "registry diverged from the single fold")
    // a redriven cycle (the loser retrying after its refusal) is a
    // clean no-op: the winner advanced the checkpoint
    val redrive = IncrementalIdentity.resolveCycle(spark, fragDir, ckDir,
      regRoot, Seq("request_id"), day, "p", groupingIterations = 1)(identity)
    assert(redrive.isEmpty, "redriven cycle re-folded an already-folded batch")
    assert(rows(regRoot) == expected)

    // DETERMINISTIC interleaving of the same race: cycle B reads its
    // basis, then a rival scheduler runs the whole cycle to completion
    // before B publishes — B MUST refuse loudly (its fold derives from
    // the pre-rival registry), B's checkpoint must not advance, and a
    // redriven B converges against the winner's registry.
    val root2 = Files.createTempDirectory("graft_occ_cycle2").toString
    val (fragDir2, regRoot2) = (s"$root2/f", s"$root2/r")
    val (ckA, ckB) = (s"$root2/cka", s"$root2/ckb")
    IncrementalIdentity.publishRegistry(reg0, regRoot2)
    Sources.publishMergePartitioned(spark, fragDir2, frag(batch), cfg, "p"): Unit
    intercept[java.util.ConcurrentModificationException] {
      IncrementalIdentity.resolveCycle(spark, fragDir2, ckB, regRoot2,
        Seq("request_id"), day, "p", groupingIterations = 1) { delta =>
        // fires after B's basis read (the cycle body reads the basis
        // and registry before building candidates): the rival lands
        // the same fold first
        IncrementalIdentity.resolveCycle(spark, fragDir2, ckA, regRoot2,
          Seq("request_id"), day, "p", groupingIterations = 1)(identity): Unit
        delta
      }
    }
    val expected2 = rows(regRoot2)
    // B redrives: its checkpoint never advanced, so the delta is
    // redelivered; resolution against the winner's registry is the
    // match-first idempotent re-apply — registry unchanged
    val redriveB = IncrementalIdentity.resolveCycle(spark, fragDir2, ckB,
      regRoot2, Seq("request_id"), day, "p", groupingIterations = 1)(identity)
    assert(redriveB.isDefined, "loser's checkpoint advanced despite the refusal")
    assert(rows(regRoot2) == expected2,
      "redriven cycle was not an idempotent re-apply")
  }

  // ──────────────── claim-after-write: crash and race points ────────────────

  private def names(dir: String): Set[String] = new java.io.File(dir).list().toSet

  /** Both members of a two-member group's live version. */
  private def group(dir: String): (Seq[Int], Seq[Int]) = {
    val m = Sources.readSnapshotGroupAll(spark, dir, Seq("a", "b"))
    (m("a").as[Int].collect().toSeq, m("b").as[Int].collect().toSeq)
  }

  /** A publish's version dir `v-<n>-<uid>` as a write that has not
    * claimed leaves it: `value` in each of `members` (a single-frame
    * snapshot when `members` is empty). Returns the dir's name. */
  private def crashedWrite(dir: String, n: Long, uid: String, value: Int,
      members: Seq[String] = Nil): String = {
    val vdir = f"v-$n%012d-$uid"
    if (members.isEmpty) Seq(value).toDF("x").write.parquet(s"$dir/$vdir")
    else members.foreach(m => Seq(value).toDF("x").write.parquet(s"$dir/$vdir/$m"))
    vdir
  }

  test("a rival committing after the basis read refuses the publish, however early its write began") {
    val dir = freshDir()
    Sources.publishSnapshot(Seq(1).toDF("x"), dir)
    // rival A has written version 2 in full but not claimed it yet
    val vdirA = crashedWrite(dir, 2L, "rivala", 222)
    // B takes its read basis now: the committed version is still 1, and
    // B's content read resolves version 1
    val basis = Sources.snapshotReadBasis(spark, dir)
    assert(basis == 1L, s"test setup drifted: $basis")
    assert(Sources.readSnapshot(spark, dir).collect().map(_.getInt(0)).toSeq
      == Seq(1), "B's content read must resolve version 1")
    // A claims: its fold is live from this instant
    Claims.plant(dir, 2L, Claims.snapshot(vdirA))
    assert(Sources.readSnapshot(spark, dir).collect().map(_.getInt(0)).toSeq == Seq(222))
    // B derived from version 1: it must refuse, not replace A's fold
    intercept[java.util.ConcurrentModificationException] {
      Sources.publishSnapshot(Seq(99).toDF("x"), dir, basis = Some(basis))
    }
    assert(Sources.readSnapshot(spark, dir).collect().map(_.getInt(0)).toSeq
      == Seq(222), "rival A's fold was lost")
    // the refusal is redrivable with a fresh basis over A's fold
    Sources.publishSnapshot(Seq(300).toDF("x"), dir,
      basis = Some(Sources.snapshotReadBasis(spark, dir)))
    assert(Sources.readSnapshot(spark, dir).collect().map(_.getInt(0)).toSeq
      == Seq(300))
  }

  test("an unclaimed rival write blocks no publish; the rival's late claim refuses") {
    val dir = freshDir()
    Sources.publishSnapshotGroup(Seq("a" -> Seq(1).toDF("x"), "b" -> Seq(1).toDF("x")), dir)
    val basis = Sources.snapshotReadBasis(spark, dir)
    // rival A is mid-publish at version 2: written, not claimed
    val vdirA = crashedWrite(dir, 2L, "inflight", 222, Seq("a", "b"))
    // no publish waits on it: B lands at once, at version 2
    Sources.publishSnapshotGroup(Seq("a" -> Seq(3).toDF("x"), "b" -> Seq(3).toDF("x")), dir)
    assert(group(dir) == (Seq(3), Seq(3)))
    assert(!names(dir)(vdirA), "the dir no writer can commit any more was kept")
    // A, however slow, finishes and claims on its basis: version 2 is
    // taken, so it refuses loudly and leaves nothing behind
    val before = names(dir)
    intercept[java.util.ConcurrentModificationException] {
      Sources.publishSnapshotGroup(Seq("a" -> Seq(222).toDF("x"), "b" -> Seq(222).toDF("x")),
        dir, basis = Some(basis))
    }
    assert(names(dir) == before, s"the refused publish left ${names(dir) -- before}")
    assert(group(dir) == (Seq(3), Seq(3)), "the late claim landed")
  }

  test("a crash after the group claim: the claim is the commit, and publishing goes on at once") {
    val dir = freshDir()
    Sources.publishSnapshotGroup(Seq("a" -> Seq(1).toDF("x"), "b" -> Seq(1).toDF("x")), dir)
    // the crashed publish wrote version 2, claimed it, and died before
    // its prune
    val vdir = crashedWrite(dir, 2L, "crashed1", 2, Seq("a", "b"))
    Claims.plant(dir, 2L, Claims.snapshot(vdir))
    assert(group(dir) == (Seq(2), Seq(2)), "a fresh reader missed the committed version")
    for (v <- 3 to 5)
      Sources.publishSnapshotGroup(Seq("a" -> Seq(v).toDF("x"), "b" -> Seq(v).toDF("x")), dir)
    assert(group(dir) == (Seq(5), Seq(5)))
    // the prune the crash skipped runs with the next publishes: below
    // the two-publish window nothing is left
    assert(Sources.snapshotVersions(spark, dir) == Seq(3L, 4L, 5L))
    assert(names(dir).count(_.startsWith("v-")) == 3, s"${names(dir)}")
  }

  test("crash-loop litter is bounded: every crashed dir goes with the publish that takes its number") {
    val dir = freshDir()
    Sources.publishSnapshot(Seq(1).toDF("x"), dir)
    // a publisher crash-looping on basis 1: each attempt wrote version 2
    // and died before claiming it
    val crashDirs = Seq("crash1", "crash2", "crash3").map(crashedWrite(dir, 2L, _, 2))
    // a dir above the highest claim may be an in-flight write: never
    // touched, and no publish waits on any of them
    Sources.publishSnapshot(Seq(10).toDF("x"), dir)
    assert(crashDirs.forall(d => !names(dir)(d)), s"crashed version dirs survived: ${names(dir)}")
    val ahead = crashedWrite(dir, 4L, "ahead", 4)
    Sources.publishSnapshot(Seq(11).toDF("x"), dir)
    assert(names(dir)(ahead), "a dir above the highest claim was touched")
    Sources.publishSnapshot(Seq(12).toDF("x"), dir)
    assert(!names(dir)(ahead), s"${names(dir)}")
    assert(Sources.readSnapshot(spark, dir).collect().map(_.getInt(0)).toSeq == Seq(12))
    assert(names(dir).count(_.startsWith("v-")) == 3, s"${names(dir)}")
  }
}
