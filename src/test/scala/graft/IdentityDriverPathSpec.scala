package graft

import java.sql.Date

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Sources
import graft.operators.{DriverPath, IdentityResolver, IncrementalIdentity}
import graft.operators.IdentityResolver.Registry

/** The driver path of `IdentityResolver.resolve` / `links` against the
  * distributed path: identical rows under an identical schema (types
  * and nullability) on every resolver fixture of IdentityResolverSpec,
  * IdentityRerunSpec and IncrementalIdentitySpec, plus numeric, string
  * and struct request ids, chains longer than the grouping depth,
  * fixpoint mode, multi-GSID and withdrawn subjects, center-0 upgrades,
  * case variants, duplicate registry keys and null keys. The random
  * mint is compared by structure: the same groups, each with one valid
  * GSID. */
class IdentityDriverPathSpec extends DriverPathHarness {
  import spark.implicits._
  import IdentityResolver._

  private def registry(
      subjects: Seq[(String, Int, String)],
      localIds: Seq[(Int, String, String, String)]): Registry = Registry(
    subjects.map { case (g, c, d) => (g, c, Date.valueOf(d)) }
      .toDF("global_subject_id", "center_id", "created_at"),
    localIds.toDF("center_id", "local_subject_id", "identifier_type", "global_subject_id"))

  private val resolverReg = registry(
    subjects = Seq(("G-OLD", 5, "2019-01-01"), ("G-NEW", 6, "2021-01-01"),
      ("G-SOLO", 7, "2020-06-01")),
    localIds = Seq((5, "DUP-1", "primary", "G-OLD"), (6, "DUP-1", "primary", "G-NEW"),
      (7, "Solo-1", "primary", "G-SOLO")))

  private val incrementalReg = registry(
    subjects = Seq(("G1", 1, "2020-01-01"), ("G0", 0, "2020-02-01")),
    localIds = Seq((1, "a", "primary", "G1"), (0, "z", "primary", "G0")))

  private val rerunReg = registry(
    subjects = Seq(("G-A", 5, "2019-01-01"), ("G-B", 0, "2020-01-01")),
    localIds = Seq((5, "a-1", "primary", "G-A"), (0, "b-1", "primary", "G-B")))

  private val withdrawnReg = Registry(
    Seq(("G-W", 5, Date.valueOf("2020-01-01"), true),
        ("G-A", 6, Date.valueOf("2020-01-01"), false))
      .toDF("global_subject_id", "center_id", "created_at", "withdrawn"),
    Seq((5, "W-1", "primary", "G-W"), (6, "A-1", "primary", "G-A"))
      .toDF("center_id", "local_subject_id", "identifier_type", "global_subject_id"))

  // duplicate registry keys: one identifier under two centers and two
  // GSIDs, one subject row twice (two created_at), a link to a GSID
  // with no subject row, a subject with a NULL created_at, and case
  // variants of one identifier under different GSIDs
  private val messyReg = Registry(
    Seq(("G-D1", 3, Date.valueOf("2020-01-01")), ("G-D1", 3, Date.valueOf("2019-05-05")),
        ("G-D2", 0, Date.valueOf("2020-01-01")), ("G-N", 4, null),
        ("G-C1", 2, Date.valueOf("2018-01-01")), ("G-C2", 8, Date.valueOf("2018-01-01")))
      .toDF("global_subject_id", "center_id", "created_at"),
    Seq((3, "dup", "primary", "G-D1"), (0, "dup", "primary", "G-D2"),
        (9, "dup", "primary", "G-D1"), (4, "orphan", "primary", "G-MISSING"),
        (4, "nulldate", "primary", "G-N"), (2, "Case-X", "primary", "G-C1"),
        (8, "CASE-x", "alias", "G-C2"), (0, "zero", "primary", "G-D2"),
        (5, "Straße", "primary", "G-C1"), (6, "İD", "primary", "G-C2"))
      .toDF("center_id", "local_subject_id", "identifier_type", "global_subject_id"))

  private def cands(rows: Seq[(Long, Int, String, String)]): DataFrame =
    rows.toDF("request_id", "center_id", "local_subject_id", "identifier_type")

  /** Resolve and link one batch on both paths; rows and schemas must
    * match, and the driver path must have run. `candidates` is tried
    * both as given and behind a repartition (not a local relation, so
    * it goes through the bounded collect). */
  private def same(candidates: DataFrame, reg: Registry, iterations: Int): Unit = {
    val want = resolveDistributed(candidates, reg, deterministicMint = true, iterations)
    val wantLinks = linksDistributed(candidates, want, reg.localIds, "graft")
    for (input <- Seq(candidates, candidates.repartition(3))) {
      val got = resolve(input, reg, deterministicMint = true, iterations)
      assertOnDriver(got)
      assertSameFrame(got, want)
    }
    val batch = materializeBatch(candidates).toOption.get
    val got = resolve(batch, reg, deterministicMint = true, iterations)
    val gotLinks = links(batch, got, reg.localIds)
    assertOnDriver(gotLinks, "links on the driver")
    assertSameFrame(gotLinks, wantLinks)
    // the fold, twice: the second re-applies the same batch to the
    // evolved registry (notes already present, centers upgraded)
    var onDriver = Registry(local(reg.subjects), local(reg.localIds))
    var distributed = reg
    for (_ <- 1 to 2) {
      onDriver = applyBatch(onDriver, got, gotLinks, foldDay)
      distributed = applyDistributed(distributed, want, wantLinks, foldDay)
      assertOnDriver(onDriver.subjects, "applyBatch on the driver")
      assertOnDriver(onDriver.localIds, "applyBatch on the driver")
      assertSameFrame(onDriver.subjects, distributed.subjects)
      assertSameFrame(onDriver.localIds, distributed.localIds)
    }
  }

  private val foldDay = Date.valueOf("2024-07-01")

  /** `df`'s rows as a local relation under its schema. */
  private def local(df: DataFrame): DataFrame =
    DriverPath.localFrame(spark, df.collect().toSeq, df.schema)

  test("resolver fixtures: triage, center ladder, multi-GSID, grouping") {
    val triage = cands(Seq(
      (1L, 7, "never-seen", "primary"), (2L, 7, "SOLO-1", "primary"),
      (3L, 9, "Solo-1", "primary"), (4L, 5, "DUP-1", "primary"),
      (5L, 0, "Solo-1", "primary"), (6L, 9, "DUP-1", "primary")))
    val sharing = cands(Seq(
      (1L, 5, "shared-new", "primary"), (1L, 5, "extra-1", "alias"),
      (2L, 5, "SHARED-NEW", "primary"), (3L, 5, "unrelated", "primary")))
    val chain = cands(Seq(
      (1L, 5, "chain-x", "primary"), (1L, 5, "chain-y", "alias"),
      (2L, 5, "chain-y", "primary"), (2L, 5, "chain-z", "alias"),
      (3L, 5, "chain-z", "primary"), (4L, 5, "lonely", "primary")))
    val evolution = cands(Seq((1L, 5, "NEW-A", "primary"), (1L, 5, "NEW-B", "alias")))
    val linkLadder = cands(Seq((1L, 0, "Solo-1", "primary"), (1L, 0, "new-id", "alias")))
    for (b <- Seq(triage, sharing, chain, evolution, linkLadder); it <- Seq(1, 2))
      same(b, resolverReg, it)
  }

  test("chains longer than the grouping depth, and fixpoint mode") {
    // diameter 4: depth 1 and 2 leave several groups, the fixpoint one
    val chain = cands(Seq(
      (1L, 1, "x1", "primary"),
      (2L, 1, "x1", "primary"), (2L, 1, "x2", "secondary"),
      (3L, 1, "x2", "primary"), (3L, 1, "x3", "secondary"),
      (4L, 1, "x3", "primary"), (4L, 1, "x4", "secondary"),
      (5L, 1, "x4", "primary")))
    for (it <- Seq(1, 2, 3, 0)) same(chain, resolverReg, it)
    val fixed = resolve(chain, resolverReg, deterministicMint = true, groupingIterations = 0)
    assert(fixed.select("gsid").distinct().count() == 1)
  }

  test("fixpoint mode does not stop when an identifier-less request leaves the label set") {
    // unmatched 10~15 share x and 15~20 share y; -10 carries only a
    // null identifier. On the first hop -10 leaves the label set (+10)
    // while 15 and 20 fall by 5 each (-10): a label-sum check sees no
    // change after one hop and would mint two GSIDs for one chain.
    val b = cands(Seq((10L, 5, "x", "primary"), (15L, 5, "x", "primary"),
      (15L, 5, "y", "alias"), (20L, 5, "y", "primary"), (-10L, 5, null, "primary")))
    val want = resolve(b, resolverReg, deterministicMint = true, groupingIterations = 0)
    assertOnDriver(want)
    val got = resolveDistributed(b, resolverReg, deterministicMint = true, 0)
    assertSameFrame(got, want)
    assert(got.filter(col("request_id") =!= -10).select("gsid").distinct().count() == 1)
  }

  test("the fixpoint cap fails loudly on the driver path too") {
    val long = cands((1 to 60).flatMap(i =>
      Seq((i.toLong, 1, s"c$i", "primary"), (i.toLong, 1, s"c${i + 1}", "alias"))))
    val e = intercept[IllegalStateException] {
      resolve(long, resolverReg, deterministicMint = true, groupingIterations = 0)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("withdrawn subjects, rerun and incremental fixtures") {
    same(cands(Seq((1L, 5, "W-1", "primary"), (2L, 6, "A-1", "primary"))), withdrawnReg, 2)
    same(cands(Seq((1L, 9, "A-1", "primary"), (2L, 3, "B-1", "primary"),
      (3L, 4, "new-1", "primary"))), rerunReg, 1)
    // the change-feed delta carries an extra partition column
    def frag(rows: Seq[(Long, Int, String)]) =
      rows.toDF("request_id", "center_id", "local_subject_id")
        .withColumn("identifier_type", lit("primary"))
        .withColumn("p", (col("request_id") % 2).cast("int"))
    same(frag(Seq((101L, 1, "b"), (102L, 2, "c"))), incrementalReg, 1)
    same(frag(Seq((201L, 2, "b"), (202L, 3, "z"), (203L, 1, "d"), (102L, 4, "c"))),
      incrementalReg, 1)
  }

  test("duplicate registry keys, case variants, center-0 upgrades, null keys") {
    val b = Seq[(java.lang.Long, Integer, String, String)](
      (1L, 3, "DUP", "primary"),      // two GSIDs, G-D1 twice with two dates
      (2L, 0, "dup", "primary"),      // center 0: link upgrades to the min center
      (3L, 4, "orphan", "primary"),   // links to a GSID with no subject row
      (4L, 4, "NullDate", "primary"), // NULL created_at sorts first
      (5L, 2, "case-x", "primary"),   // matches both case variants
      (6L, 0, "ZERO", "primary"),     // center 0 on both sides: never a conflict
      (7L, 7, "strasse", "primary"),  // no match: lower() does not fold ß
      (8L, 7, "straße", "primary"),
      (9L, 7, "i̇d", "primary"),       // lower('İD') is 'i̇d'
      (10L, null, "DUP", "alias"),    // null center
      (11L, 5, null, "primary"),      // null identifier: never matches
      (null, 5, "dup", "primary"),    // null request id: its own row, no mint
      (12L, 5, "fresh", "primary"), (12L, 6, "FRESH-2", "alias"),
      (13L, 5, "FRESH", "primary"))
    same(b.toDF("request_id", "center_id", "local_subject_id", "identifier_type"), messyReg, 2)
  }

  test("string and struct request ids, long registry centers") {
    same(Seq(("r-b", 5, "DUP-1", "primary"), ("r-a", 7, "new", "primary"),
        ("r-c", 7, "NEW", "alias"), ("r-0", 9, "Solo-1", "primary"))
      .toDF("request_id", "center_id", "local_subject_id", "identifier_type"),
      resolverReg, 2)
    // the Pipelines key: struct<a: bigint, b: bigint>
    val structIds = Seq((2L, -1L, 5, "x", "primary"), (1L, 9L, 5, "X", "alias"),
        (1L, 3L, 5, "Solo-1", "primary"), (-4L, 0L, 5, "y", "primary"))
      .toDF("a", "b", "center_id", "local_subject_id", "identifier_type")
      .select(struct(col("a"), col("b")).as("request_id"), col("center_id"),
        col("local_subject_id"), col("identifier_type"))
    same(structIds, resolverReg, 2)
    // a bigint center column in the registry widens the link center
    val longReg = Registry(resolverReg.subjects,
      resolverReg.localIds.withColumn("center_id", col("center_id").cast("long")))
    same(cands(Seq((1L, 0, "Solo-1", "primary"), (2L, 5, "DUP-1", "primary"),
      (3L, 3, "n", "primary"))), longReg, 1)
  }

  test("an empty batch resolves to no rows under the same schema") {
    same(cands(Seq.empty), resolverReg, 2)
  }

  test("random mint: same groups on both paths, one valid GSID per group") {
    val b = cands(Seq(
      (1L, 5, "m1", "primary"), (2L, 5, "M1", "primary"), (2L, 5, "m2", "alias"),
      (3L, 5, "m2", "primary"), (4L, 5, "lone", "primary"), (5L, 5, "Solo-1", "primary")))
    def groups(df: DataFrame): (Set[Set[Long]], Map[Long, (String, String)]) = {
      val rs = df.collect()
      assert(rs.filter(_.getAs[String]("action") == "create_new")
        .forall(_.getAs[String]("gsid").matches(graft.functions.Gsid.FormatRegex)))
      val minted = rs.filter(_.getAs[String]("action") == "create_new")
        .groupBy(_.getAs[String]("gsid")).values.map(_.map(_.getLong(0)).toSet).toSet
      val linked = rs.filter(_.getAs[String]("action") != "create_new")
        .map(r => r.getLong(0) -> (r.getAs[String]("action"), r.getAs[String]("gsid"))).toMap
      (minted, linked)
    }
    val got = resolve(b, resolverReg, deterministicMint = false, groupingIterations = 2)
    assertOnDriver(got)
    val want = resolveDistributed(b, resolverReg, deterministicMint = false, 2)
    assert(got.schema == want.schema)
    assert(groups(got) == groups(want))
    assert(groups(got)._1 == Set(Set(1L, 2L, 3L), Set(4L)))
  }

  test("a GSID minted by several requests takes the smallest request's center, on both paths") {
    // 1 and 2 share an identifier across two centers and mint one GSID
    val twins = cands(Seq((1L, 5, "t1", "primary"), (2L, 7, "T1", "alias"),
      (3L, 6, "other", "primary")))
    val res = resolve(twins, resolverReg, deterministicMint = true, groupingIterations = 1)
    val rows = res.collect().toSeq
    val minted = rows.filter(_.getLong(0) <= 2).map(_.getAs[String]("gsid")).distinct
    assert(minted.size == 1 && rows.forall(_.getAs[String]("action") == "create_new"))
    val lk = links(twins, res, resolverReg.localIds)
    for (order <- Seq(rows.sortBy(_.getLong(0)), rows.sortBy(-_.getLong(0)))) {
      val local = DriverPath.localFrame(spark, order, res.schema)
      for (input <- Seq(local, local.coalesce(1), local.repartition(3))) {
        val subjects = applyBatch(resolverReg, input, lk, foldDay).subjects
        val centers = subjects.filter(col("global_subject_id") === minted.head)
          .select("center_id").as[Int].collect().toSeq
        assert(centers == Seq(5), s"${order.map(_.getLong(0))}, " +
          s"${input.rdd.getNumPartitions} partitions: $centers")
      }
    }
  }

  /** A fragments table holding `rows` and a registry seeded with
    * `reg`, under a fresh root: (fragments, checkpoint, registry). */
  private def cycleTables(reg: Registry, rows: Seq[(Long, Int, String)])
      : (String, String, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft_idp_cycle").toString
    val (fragDir, ckDir, regRoot) = (s"$root/f", s"$root/ck", s"$root/r")
    IncrementalIdentity.publishRegistry(reg, regRoot)
    Sources.publishMergePartitioned(spark, fragDir,
      rows.toDF("request_id", "center_id", "local_subject_id")
        .withColumn("identifier_type", lit("primary"))
        .withColumn("p", (col("request_id") % 2).cast("int")),
      graft.types.TableConfig("fragments", Seq("request_id"), Seq.empty), "p")
    (fragDir, ckDir, regRoot)
  }

  private val cycleRows = Seq((1L, 9, "DUP-1"), (2L, 0, "Solo-1"), (3L, 5, "new-1"),
    (4L, 6, "NEW-1"), (5L, 7, "other"))

  test("a micro-batch cycle under the bound reads the registry once; the fold and publish run no job") {
    val (fragDir, ckDir, regRoot) = cycleTables(resolverReg, cycleRows)
    // the first cycle is a full resync: its delta is the whole table, a
    // distributed read, and its one job is the batch's bounded probe;
    // the registry is read on the driver
    val (cycle, rep) = measured(IncrementalIdentity.resolveCycle(spark, fragDir, ckDir,
      regRoot, Seq("request_id"), foldDay, "p")(identity))
    assert(cycle.exists(_.resolutions.count() == cycleRows.size))
    val sites = rep.jobSites.map(_.callSite)
    assert(sites.size == 1 && sites.forall(_.contains("DriverPath.scala")), sites.mkString("\n"))
    // a checkpointed cycle: the change feed, the registry read, resolve,
    // links, the fold and the publish all run on the driver, no job
    Sources.publishMergePartitioned(spark, fragDir,
      Seq((3L, 5, "renamed-1"), (6L, 8, "brand-new"), (1L, 9, "DUP-1"))
        .toDF("request_id", "center_id", "local_subject_id")
        .withColumn("identifier_type", lit("primary"))
        .withColumn("p", (col("request_id") % 2).cast("int")),
      graft.types.TableConfig("fragments", Seq("request_id"), Seq.empty), "p")
    val (next, steady) = measured(IncrementalIdentity.resolveCycle(spark, fragDir, ckDir,
      regRoot, Seq("request_id"), foldDay, "p")(identity))
    assert(steady.jobs == 0, steady.jobSites.map(_.callSite).mkString("\n"))
    // the unchanged row 1 is not delivered again
    assert(next.exists(_.resolutions.select("request_id").as[Long].collect().toSet == Set(3L, 6L)))
  }

  test("a registry above DriverStoreBytes folds and publishes at exactly today's job count") {
    // incompressible 1 MiB notes put the subjects member above the bound
    val rnd = new scala.util.Random(7)
    val width = 1 << 20
    val pad = (DriverPath.DriverStoreBytes / width).toInt + 4
    val blobs = (0 until pad).map(i => (s"G-PAD-$i", 3, Date.valueOf("2020-01-01"),
      rnd.alphanumeric.take(width).mkString))
    val big = Registry(
      resolverReg.subjects.withColumn("blob", lit(null).cast("string"))
        .unionByName(blobs.toDF("global_subject_id", "center_id", "created_at", "blob")),
      resolverReg.localIds)
    val (fRouted, ckRouted, rRouted) = cycleTables(big, cycleRows)
    val (fToday, ckToday, rToday) = cycleTables(big, cycleRows)
    val stored = IncrementalIdentity.readRegistry(spark, rRouted)
    assert(!DriverPath.fits(stored.subjects, stored.localIds))
    val (_, routed) = measured(IncrementalIdentity.resolveCycle(spark, fRouted, ckRouted,
      rRouted, Seq("request_id"), foldDay, "p")(identity))
    // the cycle as it ran before the registry had a driver path
    val (_, today) = measured(Sources.processMergeRowChanges(spark, fToday, ckToday,
        Seq("request_id"), "p") { (delta, _) =>
      val basis = Sources.snapshotReadBasis(spark, rToday)
      val reg = IncrementalIdentity.readRegistry(spark, rToday)
      val batch = materializeBatch(delta).toOption.get
      val res = resolve(batch, reg, deterministicMint = true, groupingIterations = 2)
      val evolved = applyDistributed(reg, res, links(batch, res, reg.localIds), foldDay)
      IncrementalIdentity.publishRegistry(evolved, rToday, Some(basis))
      IncrementalIdentity.readRegistry(spark, rToday)
    })
    assertExtraJobs(routed, today, 0)
    val (a, b) = (IncrementalIdentity.readRegistry(spark, rRouted),
      IncrementalIdentity.readRegistry(spark, rToday))
    assertSameFrame(a.subjects.drop("blob"), b.subjects.drop("blob"))
    assertSameFrame(a.localIds, b.localIds)
  }

  test("above DriverBatchRows the distributed path runs, one bounded collect more") {
    val n = DriverPath.DriverBatchRows + 1
    val big = spark.range(n).select(col("id").as("request_id"),
      lit(5).as("center_id"), concat(lit("id-"), col("id").cast("string")).as("local_subject_id"),
      lit("primary").as("identifier_type"))
    val (_, distributed) = measured(
      resolveDistributed(big, resolverReg, deterministicMint = true, 1).count())
    val (out, routed) = measured {
      val out = resolve(big, resolverReg, deterministicMint = true, groupingIterations = 1)
      assert(out.count() == n)
      out
    }
    assert(!DriverPath.isLocal(out))
    assertExtraJobs(routed, distributed, 1)
    assert(materializeBatch(big).isLeft)
  }
}
