package graft

import java.sql.Date

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.{IdentityResolver, UpsertWriter}
import graft.types.TableConfig

class IdentityResolverSpec extends SparkSpec {
  import spark.implicits._
  import IdentityResolver._

  private def reg(
      subjects: Seq[(String, Int, String)],
      localIds: Seq[(Int, String, String, String)]) = Registry(
    subjects.map { case (g, c, d) => (g, c, Date.valueOf(d)) }
      .toDF("global_subject_id", "center_id", "created_at"),
    localIds.toDF("center_id", "local_subject_id", "identifier_type", "global_subject_id"))

  private val registry = reg(
    subjects = Seq(("G-OLD", 5, "2019-01-01"), ("G-NEW", 6, "2021-01-01"), ("G-SOLO", 7, "2020-06-01")),
    localIds = Seq(
      (5, "DUP-1", "primary", "G-OLD"),
      (6, "DUP-1", "primary", "G-NEW"),
      (7, "Solo-1", "primary", "G-SOLO")))

  private def resolveMap(cands: Seq[(Long, Int, String, String)]): Map[Long, Row] =
    resolve(cands.toDF("request_id", "center_id", "local_subject_id", "identifier_type"),
      registry).collect().map(r => r.getLong(0) -> r).toMap

  test("create / link / multi-gsid-oldest triage") {
    val out = resolveMap(Seq(
      (1L, 7, "never-seen", "primary"),          // create_new
      (2L, 7, "SOLO-1", "primary"),              // link (case-folded), same center
      (3L, 9, "Solo-1", "primary"),              // link with center conflict
      (4L, 5, "DUP-1", "primary")))              // multi-gsid → oldest G-OLD
    assert(out(1L).getAs[String]("action") == "create_new")
    assert(out(1L).getAs[String]("gsid").matches("^GSID-[0-9A-F]{16}$"))
    assert(out(1L).getAs[String]("match_strategy") == "no_match")
    assert(out(1L).getAs[Double]("confidence") == 1.0)

    assert(out(2L).getAs[String]("action") == "link_existing")
    assert(out(2L).getAs[String]("gsid") == "G-SOLO")
    assert(out(2L).getAs[Double]("confidence") == 1.0)
    assert(!out(2L).getAs[Boolean]("requires_review"))

    assert(out(3L).getAs[String]("action") == "link_existing")
    assert(out(3L).getAs[Double]("confidence") == 0.7)
    assert(out(3L).getAs[String]("conflict_resolution") == "center_mismatch")
    assert(out(3L).getAs[Boolean]("requires_review"))

    assert(out(4L).getAs[String]("action") == "conflict_resolved")
    assert(out(4L).getAs[String]("gsid") == "G-OLD")
    assert(out(4L).getAs[scala.collection.Seq[String]]("matched_gsids").toSeq == Seq("G-OLD", "G-NEW"))
    assert(out(4L).getAs[String]("conflict_resolution") == "used_oldest")
  }

  test("hot-key probe routes a 70%-hot batch through the salted join, output identical") {
    // 700 of 1000 requests carry ONE identifier (the SCALING.md hot-key
    // scenario); the probe must arm the salted fallback and the result
    // must be indistinguishable from the plain join
    val cands = ((1 to 700).map(i => (i.toLong, 5, "HOT-1", "primary")) ++
      (701 to 1000).map(i => (i.toLong, 5, s"COLD-$i", "primary")))
      .toDF("request_id", "center_id", "local_subject_id", "identifier_type")
    val hotReg = reg(
      subjects = Seq(("G-HOT", 5, "2019-01-01")),
      localIds = Seq((5, "hot-1", "primary", "G-HOT")))

    // the salted fallback lives on the distributed path only (a
    // 1000-row batch would otherwise resolve on the driver)
    def rows(threshold: Long) =
      resolveDistributed(cands, hotReg, deterministicMint = true, groupingIterations = 2,
        skewSaltThreshold = threshold, skewSalt = 8)
        .collect().map(_.toSeq).toSet

    val plain = rows(threshold = 0) // probe disabled → plain join
    assert(!IdentityResolver.lastResolveUsedSaltedJoin)
    val salted = rows(threshold = 100) // 700 ≥ 100 → salted path
    assert(IdentityResolver.lastResolveUsedSaltedJoin)
    assert(salted == plain && salted.nonEmpty)
    // a cold batch under the same threshold stays on the plain join
    rows(threshold = 701)
    assert(!IdentityResolver.lastResolveUsedSaltedJoin)
  }

  test("center 0 never conflicts (unknown-center ladder)") {
    val out = resolveMap(Seq(
      (1L, 0, "Solo-1", "primary"),   // incoming unknown vs real 7 → no conflict
      (2L, 7, "Solo-1", "primary")))
    assert(out(1L).getAs[Double]("confidence") == 1.0)
    assert(out(1L).getAs[String]("conflict_resolution") == null)
  }

  test("multi-gsid with center conflict takes the 0.7 branch (reference conditional)") {
    val out = resolveMap(Seq((1L, 9, "DUP-1", "primary")))
    assert(out(1L).getAs[String]("action") == "conflict_resolved")
    assert(out(1L).getAs[Double]("confidence") == 0.7)
    assert(out(1L).getAs[String]("conflict_resolution") == "used_oldest")
  }

  test("intra-batch convergence: unmatched requests sharing an identifier share a GSID") {
    val out = resolveMap(Seq(
      (1L, 5, "shared-new", "primary"),
      (1L, 5, "extra-1", "alias"),
      (2L, 5, "SHARED-NEW", "primary"),   // shares (case-folded) with request 1
      (3L, 5, "unrelated", "primary")))
    assert(out(1L).getAs[String]("gsid") == out(2L).getAs[String]("gsid"))
    assert(out(1L).getAs[String]("gsid") != out(3L).getAs[String]("gsid"))
  }

  test("chained intra-batch convergence: A~B via id1, B~C via id2 share one GSID") {
    val out = resolveMap(Seq(
      (1L, 5, "chain-x", "primary"),
      (1L, 5, "chain-y", "alias"),
      (2L, 5, "chain-y", "primary"),
      (2L, 5, "chain-z", "alias"),
      (3L, 5, "chain-z", "primary"),
      (4L, 5, "lonely", "primary")))
    val gsids = Seq(1L, 2L, 3L).map(out(_).getAs[String]("gsid"))
    assert(gsids.distinct.size == 1)
    assert(out(4L).getAs[String]("gsid") != gsids.head)
  }

  test("registry evolution: batch 2 links to batch 1's minted subject") {
    val cands1 = Seq(
      (1L, 5, "NEW-A", "primary"), (1L, 5, "NEW-B", "alias"))
      .toDF("request_id", "center_id", "local_subject_id", "identifier_type")
    val res1 = resolve(cands1, registry)
    val mintedGsid = res1.collect()(0).getAs[String]("gsid")
    val links1 = links(cands1, res1, registry.localIds)
    val registry2 = applyBatch(registry, res1, links1, java.sql.Date.valueOf("2024-06-01"))

    // batch 2 reuses NEW-B (case-folded) plus a fresh id → must LINK
    val cands2 = Seq(
      (9L, 5, "new-b", "primary"), (9L, 5, "NEW-C", "alias"))
      .toDF("request_id", "center_id", "local_subject_id", "identifier_type")
    val res2 = resolve(cands2, registry2).collect()(0)
    assert(res2.getAs[String]("action") == "link_existing")
    assert(res2.getAs[String]("gsid") == mintedGsid)

    // subjects grew by exactly the minted one; links carried both ids
    assert(registry2.subjects.count() == registry.subjects.count() + 1)
    assert(registry2.localIds.filter($"global_subject_id" === mintedGsid).count() == 2)
  }

  test("resolution log rows carry JSONB candidates and strategy") {
    val cands = Seq(
      (1L, 5, "Solo-1", "primary"), (1L, 5, "extra", "alias"))
      .toDF("request_id", "center_id", "local_subject_id", "identifier_type")
    val res = resolve(cands, registry)
    val log = resolutionLog(res, cands, "tester").collect()(0)
    assert(log.getAs[String]("local_subject_id") == "extra") // min (alias, extra)
    assert(log.getAs[String]("match_strategy") == "center_agnostic_match")
    assert(log.getAs[String]("candidate_ids").contains("\"Solo-1\""))
    assert(log.getAs[String]("created_by") == "tester")
  }

  test("fixpoint grouping converges arbitrarily long identifier chains") {
    // r1~r2 via x1, r2~r3 via x2, r3~r4 via x3, r4~r5 via x4: diameter 4
    val cands = Seq(
      (1L, 1, "x1", "primary"),
      (2L, 1, "x1", "primary"), (2L, 1, "x2", "secondary"),
      (3L, 1, "x2", "primary"), (3L, 1, "x3", "secondary"),
      (4L, 1, "x3", "primary"), (4L, 1, "x4", "secondary"),
      (5L, 1, "x4", "primary"))
      .toDF("request_id", "center_id", "local_subject_id", "identifier_type")
    val fixed = resolve(cands, registry, deterministicMint = true,
      groupingIterations = 0).collect()
    assert(fixed.map(_.getAs[String]("gsid")).distinct.length == 1) // ONE group
    // the default bounded depth (2 hops) cannot unify the whole chain
    val bounded = resolve(cands, registry, deterministicMint = true,
      groupingIterations = 2).collect()
    assert(bounded.map(_.getAs[String]("gsid")).distinct.length > 1)
  }

  test("withdrawn subjects: exact_withdrawn strategy + review; withdraw() appends dated note") {
    val wreg = Registry(
      Seq(("G-W", 5, Date.valueOf("2020-01-01"), true),
          ("G-A", 6, Date.valueOf("2020-01-01"), false))
        .toDF("global_subject_id", "center_id", "created_at", "withdrawn"),
      Seq((5, "W-1", "primary", "G-W"), (6, "A-1", "primary", "G-A"))
        .toDF("center_id", "local_subject_id", "identifier_type", "global_subject_id"))
    val out = resolve(
      Seq((1L, 5, "W-1", "primary"), (2L, 6, "A-1", "primary"))
        .toDF("request_id", "center_id", "local_subject_id", "identifier_type"),
      wreg).collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("match_strategy") == "exact_withdrawn")
    assert(out(1L).getAs[String]("gsid") == "G-W") // still links
    assert(out(1L).getAs[Boolean]("requires_review"))
    assert(out(2L).getAs[String]("match_strategy") == "center_agnostic_match")
    assert(!out(2L).getAs[Boolean]("requires_review"))

    val withdrawn = withdraw(wreg.subjects,
      Seq(("G-A", "consent revoked")).toDF("global_subject_id", "reason"),
      Date.valueOf("2024-05-01"))
      .collect().map(r => r.getAs[String]("global_subject_id") -> r).toMap
    assert(withdrawn("G-A").getAs[Boolean]("withdrawn"))
    assert(withdrawn("G-A").getAs[String]("review_notes") ==
      "Withdrawn on 2024-05-01. Reason: consent revoked")
    assert(withdrawn("G-W").getAs[Boolean]("withdrawn")) // untouched, stays true
  }

  test("requiringReview rolls up flagged-or-withdrawn subjects with center + id counts") {
    val subjects = Seq(
      ("G-W", 1, Date.valueOf("2020-01-01"), true, false, null.asInstanceOf[String]),
      ("G-F", 2, Date.valueOf("2020-01-02"), false, true, "conflict noted"),
      ("G-OK", 1, Date.valueOf("2020-01-03"), false, false, null.asInstanceOf[String]))
      .toDF("global_subject_id", "center_id", "created_at", "withdrawn",
        "flagged_for_review", "review_notes")
    val lids = Seq((1, "a", "primary", "G-W"), (1, "b", "secondary", "G-W"),
      (2, "c", "primary", "G-F"))
      .toDF("center_id", "local_subject_id", "identifier_type", "global_subject_id")
    val centers = Seq((1, "MSSM"), (2, "Yale")).toDF("center_id", "name")
    val out = requiringReview(subjects, lids, centers)
      .collect().map(r => r.getAs[String]("global_subject_id") -> r).toMap
    assert(out.keySet == Set("G-W", "G-F"))
    assert(out("G-W").getAs[String]("center_name") == "MSSM")
    assert(out("G-W").getAs[Long]("num_identifier_types") == 2L)
    assert(out("G-W").getAs[Long]("num_local_ids") == 2L)
    assert(out("G-F").getAs[String]("review_notes") == "conflict noted")
  }

  test("links: every identifier linked to chosen gsid with center ladder") {
    val cands = Seq(
      (1L, 0, "Solo-1", "primary"),       // existing center 7, incoming 0 → keep 7
      (1L, 0, "new-id", "alias"))         // no existing → incoming 0
      .toDF("request_id", "center_id", "local_subject_id", "identifier_type")
    val res = resolve(cands, registry)
    val l = links(cands, res, registry.localIds).collect()
      .map(r => r.getString(1) -> r.getInt(0)).toMap
    assert(l("Solo-1") == 7)
    assert(l("new-id") == 0)
  }
}

class IdentityRerunSpec extends SparkSpec {
  import spark.implicits._
  import IdentityResolver._

  test("re-presenting the same batch is a byte-identical registry no-op") {
    val registry = Registry(
      Seq(("G-A", 5, Date.valueOf("2019-01-01")),
          ("G-B", 0, Date.valueOf("2020-01-01")))
        .toDF("global_subject_id", "center_id", "created_at"),
      Seq((5, "a-1", "primary", "G-A"), (0, "b-1", "primary", "G-B"))
        .toDF("center_id", "local_subject_id", "identifier_type", "global_subject_id"))
    // link + center conflict, center 0->real upgrade, and a fresh mint
    val batch = Seq(
      (1L, 9, "A-1", "primary"),    // conflict vs G-A's center 5 → note
      (2L, 3, "B-1", "primary"),    // 0→3 upgrade on G-B
      (3L, 4, "new-1", "primary"))  // create_new
      .toDF("request_id", "center_id", "local_subject_id", "identifier_type")
    val day = Date.valueOf("2024-07-01")

    def applyOnce(reg: Registry): Registry = {
      val res = resolve(batch, reg, deterministicMint = true, groupingIterations = 1)
        .localCheckpoint(false)
      val lk = links(batch, res, reg.localIds)
      val out = applyBatch(reg, res, lk, day)
      Registry(out.subjects.localCheckpoint(false), out.localIds.localCheckpoint(false))
    }
    val once = applyOnce(registry)
    val twice = applyOnce(once)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSet
    assert(rows(twice.subjects) == rows(once.subjects))
    assert(rows(twice.localIds) == rows(once.localIds))
    assert(once.subjects.count() == 3L && twice.subjects.count() == 3L) // zero re-mints
    // the run-1 effects actually happened (this is not a no-op fixture)
    val s = once.subjects.collect().map(r =>
      r.getAs[String]("global_subject_id") -> r).toMap
    assert(s("G-A").getAs[Boolean]("flagged_for_review"))
    assert(s("G-A").getAs[String]("review_notes") ==
      "CENTER CONFLICT detected on 2024-07-01")
    assert(s("G-B").getAs[Int]("center_id") == 3)
  }

  test("same-day re-withdrawal does not duplicate the note; new date chains") {
    val subjects = Seq(("G-W", 5, Date.valueOf("2019-01-01")))
      .toDF("global_subject_id", "center_id", "created_at")
    val w = Seq(("G-W", "requested")).toDF("global_subject_id", "reason")
    val d1 = Date.valueOf("2024-07-01")
    val once = withdraw(subjects, w, d1).localCheckpoint(false)
    val again = withdraw(once, w, d1)
    val note1 = "Withdrawn on 2024-07-01. Reason: requested"
    assert(again.collect().head.getAs[String]("review_notes") == note1)
    val later = withdraw(again, w, Date.valueOf("2024-08-01"))
    assert(later.collect().head.getAs[String]("review_notes") ==
      note1 + "\nWithdrawn on 2024-08-01. Reason: requested")
  }
}

class UpsertWriterSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = TableConfig("t", Seq("k"), Seq("created_at"))

  test("merge: insert/update/unchanged/orphaned + immutable protection") {
    val current = Seq(
      ("k1", "v1", "2020-01-01"),
      ("k2", "v2", "2020-01-02"),
      ("k3", "v3", "2020-01-03")).toDF("k", "v", "created_at")
    val incoming = Seq(
      ("k1", "v1", "2021-01-01"),    // unchanged (created_at immutable, ignored in diff)
      ("k2", "v2b", "2021-01-02"),   // update
      ("k4", "v4", "2021-01-04"))    // insert
      .toDF("k", "v", "created_at")
    val r = UpsertWriter.merge(current, incoming, cfg, "tester", "b1")

    val merged = r.merged.collect().map(x => x.getString(0) -> (x.getString(1), x.getString(2))).toMap
    assert(merged("k1") == ("v1", "2020-01-01"))   // immutable kept
    assert(merged("k2") == ("v2b", "2020-01-02"))  // updated value, immutable kept
    assert(merged("k3") == ("v3", "2020-01-03"))   // orphan survives
    assert(merged("k4") == ("v4", "2021-01-04"))   // insert takes incoming

    val audit = r.audit.collect()
    assert(audit.length == 1)
    assert(audit(0).getAs[String]("record_key") == """{"k":"k2"}""")
    assert(audit(0).getAs[String]("field") == "v")
    assert(audit(0).getAs[String]("old_value") == "v2" && audit(0).getAs[String]("new_value") == "v2b")
    assert(audit(0).getAs[String]("changed_by") == "tester")

    val p = r.preview.collect()(0)
    assert((p.getLong(0), p.getLong(1), p.getLong(2), p.getLong(3)) == ((1L, 1L, 1L, 1L)))
  }

  test("update_only strategy drops inserts (subjects semantics)") {
    val cfg2 = TableConfig("subjects", Seq("k"), Seq("created_at"), strategy = "update_only")
    val current = Seq(("k1", "v1")).toDF("k", "v")
    val incoming = Seq(("k1", "v1b"), ("k9", "v9")).toDF("k", "v")
    val merged = UpsertWriter.merge(current, incoming, cfg2).merged.collect()
    assert(merged.map(_.getString(0)).toSet == Set("k1"))
    assert(merged(0).getString(1) == "v1b")
  }

  test("'' == null in diff (no spurious update)") {
    val current = Seq(("k1", null: String)).toDF("k", "v")
    val incoming = Seq(("k1", "")).toDF("k", "v")
    val p = UpsertWriter.merge(current, incoming, cfg).preview.collect()(0)
    assert(p.getLong(2) == 1L) // unchanged
  }

  test("dimension get-or-create resolves existing and mints sequential ids") {
    val dim = Seq((1, "Mount Sinai"), (2, "Cedars")).toDF("center_id", "name")
    val incoming = Seq((10L, "mount_sinai"), (11L, "Brand New"), (12L, "Another New"),
      (13L, "brand new")).toDF("input_id", "name")
    val r = graft.operators.DimensionUpsert.getOrCreate(dim, incoming)
    val by = r.resolved.collect().map(x =>
      x.getAs[Long]("input_id") -> (x.getAs[Int]("center_id"), x.getAs[Boolean]("is_new"))).toMap
    assert(by(10L) == (1, false))
    assert(by(11L) == (4, true))   // 'brand new' ranks after 'another new'
    assert(by(12L) == (3, true))
    assert(by(13L) == (4, true))   // same normalized name → same minted id
    assert(r.dim.count() == 4)
  }

  test("local_subject_ids center change = delete+insert with audit; dedup repair") {
    val current = Seq(
      (1, "L1", "primary", "G1"),
      (2, "L2", "primary", "G2"),
      (3, "L2", "primary", "G2b"),   // duplicate key → collapse
      (4, "L3", "primary", "G3"))
      .toDF("center_id", "local_subject_id", "identifier_type", "global_subject_id")
    val incoming = Seq(
      (9, "L1", "primary", "G1"),    // center change
      (2, "L2", "primary", "G2"),    // dedup repair to single row
      (4, "L3", "primary", "G3x"))   // gsid update
      .toDF("center_id", "local_subject_id", "identifier_type", "global_subject_id")
    val r = UpsertWriter.mergeLocalSubjectIds(current, incoming, "t", "b")

    val merged = r.merged.collect().map(x => (x.getString(1), x.getInt(0), x.getString(3))).toSet
    assert(merged == Set(("L1", 9, "G1"), ("L2", 2, "G2"), ("L3", 4, "G3x")))

    val audit = r.audit.collect().map(a => (a.getAs[String]("record_key"), a.getAs[String]("field"),
      a.getAs[String]("old_value"), a.getAs[String]("new_value"))).toSet
    assert(audit.contains(("""{"local_subject_id":"L1","identifier_type":"primary"}""",
      "center_id", "1", "9")))
    assert(audit.contains(("""{"local_subject_id":"L3","identifier_type":"primary"}""",
      "global_subject_id", "G3", "G3x")))
  }

  test("local_subject_ids: two centers linking one key in one batch keep min(center_id, gsid)") {
    val current = Seq((1, "K0", "primary", "G0"))
      .toDF("center_id", "local_subject_id", "identifier_type", "global_subject_id")
    val rows = Seq((7, "K", "primary", "G-B"), (3, "K", "primary", "G-Z"),
      (3, "K", "primary", "G-A"), (1, "K0", "primary", "G0"))
    // the same rows in any order and partitioning fold to one registry
    for (order <- Seq(rows, rows.reverse); parts <- Seq(1, 3)) {
      val incoming = order
        .toDF("center_id", "local_subject_id", "identifier_type", "global_subject_id")
        .repartition(parts)
      val merged = UpsertWriter.mergeLocalSubjectIds(current, incoming).merged.collect()
        .map(x => (x.getString(1), x.getInt(0), x.getString(3))).toSet
      assert(merged == Set(("K", 3, "G-A"), ("K0", 1, "G0")))
    }
  }
}
