package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Gsid
import DriverPath.{DriverBatchRows, castTo, isLocal, localFrame, sparkOrdering}

/** Set-based identity resolution (SURVEY.md §2.9) — the reference's
  * centerpiece "query".
  *
  * Re-expresses `gsid-service/services/identity_resolution.py:12-354`
  * (a per-request REST/SQL loop, ~2k IDs/s) as one set-based pass over
  * the whole batch: case-insensitive registry join → per-request
  * aggregation → action triage (create/link/conflict+oldest-wins) →
  * deterministic intra-batch grouping for new subjects.
  *
  * Two paths compute it, with identical rows and schema:
  *  - DRIVER, for batches of at most [[DriverBatchRows]] candidate
  *    rows ([[resolveOnDriver]]): one bounded collect of the batch,
  *    one filtered scan of `local_ids` on the normalized identifier,
  *    one scan of `subjects` filtered by the matched GSIDs, then the
  *    match sets, flags, grouping and mint in Scala. The result is a
  *    local relation, so its consumers ([[links]], [[applyBatch]],
  *    the registry publish) broadcast it. A micro-batch (REDCap sends
  *    50–200 rows) costs about three Spark jobs instead of the ~26
  *    the distributed plan spends on checkpoints, AQE stages and the
  *    hot-key gate — on a bulk-synchronous engine the fixed cost per
  *    job, not the data, is what bounds small-batch latency.
  *  - DISTRIBUTED, above that ([[resolveDistributed]]): the registry
  *    join shuffles both sides on the normalized identifier, with a
  *    salted fallback for hot identifiers; no driver-side loops.
  *
  * The fold ([[applyBatch]]) has the same two paths. When the
  * registry members, resolutions and links are all local relations —
  * what [[IncrementalIdentity]] hands over for a micro-batch against a
  * registry under [[DriverPath.DriverStoreBytes]], having read both
  * members once as rows — the resolve and links filters above run over
  * those rows with no job, the fold runs in Scala ([[applyOnDriver]])
  * and the evolved members come back as local relations, which the
  * snapshot publish writes from the driver with no job. The members
  * are still rewritten in full every cycle; ROADMAP O2's append is the
  * fix for table-sized registries.
  *
  * B = 10,000 rows: every collected row, registry match and resolution
  * row is held on the driver and each consumer plan carries the
  * resolutions as a local relation, so B bounds driver memory to a few
  * MB; measured on a 4-core host at B rows against a 100k-identifier
  * registry, the driver path took 4 jobs and 2.2 s against 31 jobs and
  * 2.5 s distributed — the driver's per-row share grows with the batch,
  * so B sits where it still wins (SCALING.md, round 21). Above B the extra cost
  * is the bounded collect: one single-task job, plus a second run of
  * any shuffle stage inside the caller's candidate lineage.
  *
  * Semantics preserved:
  *  - matching is center-agnostic and case-insensitive (`:55-71`);
  *  - 0 matches → `create_new` + mint; 1 → `link_existing`;
  *    ≥2 → `conflict_resolved`, matched GSIDs sorted by
  *    `(created_at, gsid)`, oldest wins (`:107-211`);
  *  - center-conflict ladder: both centers real and different →
  *    conflict; unknown (0) never conflicts (`:84-105`);
  *  - strategy no_match / center_agnostic_match / multiple_gsid_conflict
  *    and confidence 1.0 / 0.7 / 0.5 exactly as the reference's
  *    conditional (center conflicts take the 0.7 branch even for
  *    multi-GSID, `:299-308`).
  *
  * Batch-vs-sequential caveat (SURVEY.md §7.5.1): the reference sees
  * its own inserts because requests run sequentially. Here, unmatched
  * requests sharing an identifier are grouped (identifier → min
  * request leader, one iteration) and mint ONE GSID per group. Chained
  * sharing (A~B via id1, B~C via id2) converges per-iteration, which
  * covers everything the reference's own tests exercise.
  */
object IdentityResolver {

  final case class Registry(subjects: DataFrame, localIds: DataFrame)

  /** Registry-size floor (estimated bytes) above which [[links]]
    * semi-filters the registry to the batch's keys before its per-key
    * aggregation — below it the whole registry aggregates directly
    * (measured faster at gate scale; see the comment in [[links]]).
    * 64 MB ≈ the point where a per-cycle registry shuffle stops being
    * noise. */
  val LinksRegistryFilterBytes: Long = 64L * 1024 * 1024

  /** Optional subject columns (withdrawn / flagged_for_review /
    * review_notes — `01-schema.sql:26-29`) defaulted when the snapshot
    * doesn't carry them, so small registries stay minimal. */
  private def withSubjectFlags(subjects: DataFrame): DataFrame = {
    val c = subjects.columns.toSet
    val s1 = if (c("withdrawn")) subjects
             else subjects.withColumn("withdrawn", lit(false))
    val s2 = if (c("flagged_for_review")) s1
             else s1.withColumn("flagged_for_review", lit(false))
    if (c("review_notes")) s2
    else s2.withColumn("review_notes", lit(null).cast("string"))
  }

  /** Resolve a batch.
    *
    * `candidates` columns: request_id, center_id, local_subject_id,
    * identifier_type. `registry.localIds`: center_id, local_subject_id,
    * identifier_type, global_subject_id. `registry.subjects`:
    * global_subject_id, center_id, created_at.
    *
    * `deterministicMint = true` derives new GSIDs from the group's
    * minimum normalized identifier (`GSID-` + md5 — reproducible for
    * differential tests); `false` mints random format-valid GSIDs
    * (production semantics, one per group).
    */
  def resolve(
      candidates: DataFrame,
      registry: Registry,
      deterministicMint: Boolean = true): DataFrame =
    resolve(candidates, registry, deterministicMint, groupingIterations = 2)

  /** As [[resolve]], with explicit intra-batch grouping depth: each
    * iteration propagates group leaders one identifier-hop further
    * (iteration 1 merges direct sharers; 2 covers A~B~C chains — one
    * hop more than the reference's own tests need; raise it for deeper
    * chains, or pass ≤ 0 to iterate to a FIXPOINT, covering unbounded
    * chains at one comparison per hop).
    *
    * Batches of at most [[DriverBatchRows]] candidate rows resolve on
    * the driver ([[resolveOnDriver]]); larger ones, and candidate
    * schemas the driver path does not cover (non-integral center ids,
    * unorderable request ids), take [[resolveDistributed]]. Both
    * return the same rows under the same schema. */
  def resolve(
      candidates: DataFrame,
      registry: Registry,
      deterministicMint: Boolean,
      groupingIterations: Int): DataFrame = {
    val cand = candidateFrame(candidates)
    if (!driverTypes(cand.schema, registryIds(registry).schema))
      resolveDistributed(candidates, registry, deterministicMint, groupingIterations)
    else DriverPath.batchRows(cand, DriverBatchRows) match {
      case Right(rows) =>
        lastResolveUsedSaltedJoin = false
        resolveOnDriver(rows, cand, registry, deterministicMint, groupingIterations)
      case Left(_) =>
        resolveDistributed(candidates, registry, deterministicMint, groupingIterations)
    }
  }

  private val DefaultSkewSaltThreshold = 2000000L
  private val DefaultSkewSalt = 32
  private val MaxFixpointHops = 50
  private val MintPrefix = "NEW:"

  /** A candidate batch materialized once for several consumers
    * ([[resolve]], [[links]], the caller): Right(local relation) when
    * it holds at most [[DriverBatchRows]] rows, else Left(the frame,
    * lazily checkpointed) for the distributed path. */
  def materializeBatch(candidates: DataFrame): Either[DataFrame, DataFrame] =
    DriverPath.batchRows(candidates, DriverBatchRows) match {
      case Right(rows) => Right(localFrame(candidates.sparkSession, rows.toSeq, candidates.schema))
      case Left(_) => Left(candidates.localCheckpoint(false))
    }

  private def candidateFrame(candidates: DataFrame): DataFrame =
    candidates.select(
      col("request_id"), col("center_id"),
      col("local_subject_id"), col("identifier_type"),
      lower(col("local_subject_id")).as("_nid"))

  private def registryIds(registry: Registry): DataFrame =
    registry.localIds.select(lower(col("local_subject_id")).as("_nid"),
      col("center_id").as("_id_center"), col("global_subject_id").as("_gsid"))

  private def subjectFlags(registry: Registry): DataFrame =
    withSubjectFlags(registry.subjects).select(
      col("global_subject_id").as("_gsid"),
      col("created_at").as("_created_at"),
      coalesce(col("withdrawn"), lit(false)).as("_withdrawn"))

  private def probeSide(cand: DataFrame): DataFrame =
    cand.select(col("request_id"), col("center_id").as("_req_center"), col("_nid"))

  /** One row per request: its center, its registry match set and
    * flags (null when nothing matched) and `_n`, the match count. */
  private def requestAggregates(cand: DataFrame, matches: DataFrame): DataFrame = {
    // _n_matches = size(_matched): the collect_set is already the
    // distinct (created_at, gsid) set and created_at is functionally
    // dependent on gsid, so counting it is free — a countDistinct
    // alongside the other aggregates would force Expand (every match
    // row duplicated per aggregate group) and a second shuffle pass.
    val agg = matches.groupBy("request_id").agg(
      transform(
        sort_array(collect_set(struct(col("_created_at").as("c"), col("_gsid").as("g")))),
        x => x("g")).as("_matched"),
      sum(when(col("_id_center") =!= col("_req_center") &&
               col("_id_center") =!= 0 && col("_req_center") =!= 0, 1L).otherwise(0L))
        .as("_n_center_conflicts"),
      max(when(col("_withdrawn"), 1L).otherwise(0L)).as("_any_withdrawn"))
      .withColumn("_n_matches", size(col("_matched")))
    val requests = cand.groupBy("request_id").agg(max(col("center_id")).as("center_id"))
    requests.join(agg, Seq("request_id"), "left")
      .withColumn("_n", coalesce(col("_n_matches"), lit(0)))
  }

  /** The resolution rows from [[requestAggregates]] plus the minted
    * `_new_gsid` — shared by both paths, so they agree by construction
    * on action, strategy, confidence and review flags. */
  private def resolutionRows(reqs: DataFrame): DataFrame = {
    val n = col("_n")
    reqs.select(
      col("request_id"), col("center_id"),
      when(n === 0, lit("create_new"))
        .when(n === 1, lit("link_existing"))
        .otherwise(lit("conflict_resolved")).as("action"),
      when(n === 0, col("_new_gsid")).otherwise(element_at(col("_matched"), 1)).as("gsid"),
      when(n > 1, lit("multiple_gsid_conflict"))
        // single match against a withdrawn subject: still links (the
        // reference carries `withdrawn` through and records it —
        // identity_resolution.py:52-81) but under the schema's
        // 'exact_withdrawn' strategy (01-schema.sql:105)
        .when(n === 1 && coalesce(col("_any_withdrawn"), lit(0L)) > 0,
          lit("exact_withdrawn"))
        .when(n === 1, lit("center_agnostic_match"))
        .otherwise(lit("no_match")).as("match_strategy"),
      when(n <= 1 && coalesce(col("_n_center_conflicts"), lit(0L)) === 0, lit(1.0))
        .when(coalesce(col("_n_center_conflicts"), lit(0L)) > 0, lit(0.7))
        .otherwise(lit(0.5)).as("confidence"),
      when(n > 1, col("_matched")).otherwise(lit(null).cast("array<string>"))
        .as("matched_gsids"),
      when(n > 1, lit("used_oldest"))
        .when(n === 1 && coalesce(col("_n_center_conflicts"), lit(0L)) > 0,
          lit("center_mismatch")).as("conflict_resolution"),
      (n > 1 || coalesce(col("_n_center_conflicts"), lit(0L)) > 0 ||
        coalesce(col("_any_withdrawn"), lit(0L)) > 0).as("requires_review"))
  }

  private def unconverged(hops: Int) = new IllegalStateException(
    s"intra-batch grouping did not converge within $hops hops — " +
      "identifier chains deeper than the cap; raise the cap or " +
      "split the batch")

  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Whether the driver path covers these column types: integral
    * center ids on both sides, an orderable request id. */
  private def driverTypes(cand: StructType, ids: StructType): Boolean =
    integral(cand("center_id").dataType) && integral(ids("_id_center").dataType) &&
      RowOrdering.isOrderable(cand("request_id").dataType)

  private def asLong(v: Any): Long = v.asInstanceOf[Number].longValue

  private def castIntegral(v: Any, dt: DataType): Any =
    if (v == null) null
    else dt match {
      case ByteType => asLong(v).toByte
      case ShortType => asLong(v).toShort
      case IntegerType => asLong(v).toInt
      case _ => asLong(v)
    }

  /** The driver path of [[resolve]], for a batch of at most
    * [[DriverBatchRows]] rows (`rows`: [[candidateFrame]]'s columns).
    * Two bounded registry reads — the `local_ids` rows whose
    * normalized identifier the batch carries, then the `subjects`
    * rows of the GSIDs they name — and the rest in Scala with Spark's
    * semantics: the normalized identifier comes from Spark's own
    * `lower`, request ids, match sets and mint keys are ordered by
    * Spark's orderings (nulls first), and the join, aggregation and
    * grouping rules mirror [[resolveDistributed]] clause for clause. The
    * per-request aggregates go through the same [[resolutionRows]]
    * projection under the distributed plan's schema (taken from its
    * analysis, never executed), and come back as a local relation. */
  private def resolveOnDriver(rows: Array[Row], cand: DataFrame, registry: Registry,
      deterministicMint: Boolean, groupingIterations: Int): DataFrame = {
    val spark = cand.sparkSession
    val li = registryIds(registry)
    val subj = subjectFlags(registry)
    val reqSchema = DriverPath.schemaOf(("requestAggregates", cand.schema, li.schema, subj.schema))(
      requestAggregates(cand, probeSide(cand).join(li, "_nid").join(subj, "_gsid")).schema)
    // rows: 0 request_id, 1 center_id, 2 local_subject_id,
    // 3 identifier_type, 4 _nid
    val nids = rows.iterator.map(_.getString(4)).filter(_ != null).toSeq.distinct
    val idRows =
      if (nids.isEmpty) Array.empty[Row]
      else if (isLocal(registry.localIds)) localRegistryIds(registry.localIds, nids.toSet)
      else li.where(col("_nid").isin(nids: _*)).collect()
    val gsids = idRows.iterator.map(_.get(2)).filter(_ != null).toSeq.distinct
    val subjRows =
      if (gsids.isEmpty) Array.empty[Row]
      else if (isLocal(registry.subjects) && localFlagTypes(registry.subjects.schema))
        localSubjectFlags(registry.subjects, gsids.toSet)
      else subj.where(col("_gsid").isin(gsids: _*)).collect()
    val idsByNid = idRows.groupBy(_.getString(0))
    val subjByGsid = subjRows.groupBy(_.get(0))
    val pairOrder = sparkOrdering(StructType(Seq(
      StructField("c", subj.schema("_created_at").dataType),
      StructField("g", subj.schema("_gsid").dataType))))
    val centerOrder = sparkOrdering(cand.schema("center_id").dataType)

    final case class Agg(matched: Seq[Any], conflicts: Long, withdrawn: Long)
    val byRequest = rows.groupBy(_.get(0))
    // J1 + the per-request aggregation: one match per (candidate row,
    // local_ids row, subjects row) sharing _nid and then _gsid; null
    // keys never match, and the null request's group never joins back
    val aggs: Map[Any, Agg] = byRequest.collect { case (req, rs) if req != null =>
      val matches = for {
        r <- rs.toSeq if r.get(4) != null
        id <- idsByNid.getOrElse(r.getString(4), Array.empty[Row]).toSeq if id.get(2) != null
        s <- subjByGsid.getOrElse(id.get(2), Array.empty[Row]).toSeq
      } yield (r.get(1), id.get(1), s)
      req -> matches
    }.collect { case (req, ms) if ms.nonEmpty =>
      val conflicts = ms.count { case (reqCenter, idCenter, _) =>
        reqCenter != null && idCenter != null && asLong(idCenter) != asLong(reqCenter) &&
          asLong(idCenter) != 0 && asLong(reqCenter) != 0 }
      val withdrawn = if (ms.exists(_._3.getBoolean(2))) 1L else 0L
      val set = ms.map(m => Row(m._3.get(1), m._3.get(0))).distinct.sorted(pairOrder)
      req -> Agg(set.map(_.get(1)), conflicts.toLong, withdrawn)
    }.toMap

    // intra-batch grouping of the unmatched requests, on their ranks
    // in Spark's request_id order: min rank is min request_id
    val unmatched = byRequest.keys.filter(k => k != null && !aggs.contains(k)).toIndexedSeq
      .sorted(sparkOrdering(cand.schema("request_id").dataType))
    val nidsOf = unmatched.map(k => byRequest(k).flatMap(r => Option(r.getString(4))).distinct)
    def hop(prev: Array[Int]): Array[Int] = {
      val idLeader = scala.collection.mutable.HashMap.empty[String, Int]
      for (i <- prev.indices if prev(i) >= 0; nid <- nidsOf(i))
        idLeader(nid) = math.min(idLeader.getOrElse(nid, Int.MaxValue), prev(i))
      Array.tabulate(prev.length) { i =>
        val ls = nidsOf(i).flatMap(idLeader.get)
        if (ls.isEmpty) -1 else ls.min
      }
    }
    var leader = Array.tabulate(unmatched.length)(identity)
    if (groupingIterations > 0) {
      for (_ <- 1 to groupingIterations) leader = hop(leader)
    } else {
      var hops = 0
      var converged = false
      while (!converged && hops < MaxFixpointHops) {
        val next = hop(leader)
        converged = next.sameElements(leader)
        leader = next
        hops += 1
      }
      if (!converged) throw unconverged(hops)
    }
    val nidOrder = sparkOrdering(StringType)
    val mintKey: Map[Int, String] = leader.indices.filter(leader(_) >= 0)
      .groupBy(leader(_)).map { case (l, members) =>
        l -> members.flatMap(nidsOf(_)).minOption(nidOrder).orNull }
    val gsidOf: Map[Int, String] = mintKey.map { case (l, key) =>
      l -> (if (deterministicMint) Option(key).map(k => Gsid.deterministic(MintPrefix + k)).orNull
            else Gsid.mint()) }
    val newGsid: Map[Any, String] = unmatched.indices.collect {
      case i if leader(i) >= 0 => unmatched(i) -> gsidOf(leader(i)) }.toMap

    val interSchema = reqSchema.add("_new_gsid", StringType, nullable = true)
    val inter = byRequest.toSeq.map { case (req, rs) =>
      val center = rs.iterator.map(_.get(1)).filter(_ != null).maxOption(centerOrder).orNull
      val a = if (req == null) None else aggs.get(req)
      val values = Map[String, Any](
        "request_id" -> req, "center_id" -> center,
        "_matched" -> a.map(_.matched).orNull,
        "_n_center_conflicts" -> a.map(x => Long.box(x.conflicts)).orNull,
        "_any_withdrawn" -> a.map(x => Long.box(x.withdrawn)).orNull,
        "_n_matches" -> a.map(x => Int.box(x.matched.size)).orNull,
        "_n" -> a.map(_.matched.size).getOrElse(0),
        "_new_gsid" -> (if (req == null) null else newGsid.getOrElse(req, null)))
      Row.fromSeq(interSchema.fieldNames.toSeq.map(values))
    }
    val out = resolutionRows(localFrame(spark, inter, interSchema))
    localFrame(spark, out.collect().toSeq, out.schema)
  }

  /** [[registryIds]]' rows whose normalized identifier is in `nids`,
    * filtered in Scala over a local `local_ids` member's rows with
    * Spark's own `lower` expression. */
  private def localRegistryIds(localIds: DataFrame, nids: Set[String]): Array[Row] = {
    val s = localIds.schema
    val (li, ci, gi) = (s.fieldIndex("local_subject_id"), s.fieldIndex("center_id"),
      s.fieldIndex("global_subject_id"))
    val lower = org.apache.spark.sql.catalyst.expressions.Lower(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0, StringType, nullable = true))
    val nidOf: Row => String = r =>
      if (r.isNullAt(li)) null else lower.eval(
        org.apache.spark.sql.catalyst.InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(li)))).toString
    DriverPath.localRows(localIds).flatMap { r =>
      val n = nidOf(r)
      if (n != null && nids(n)) Some(Row(n, r.get(ci), r.get(gi))) else None
    }
  }

  /** Whether [[localSubjectFlags]] covers this subjects schema. */
  private def localFlagTypes(s: StructType): Boolean =
    s("global_subject_id").dataType == StringType &&
      (!s.fieldNames.contains("withdrawn") || s("withdrawn").dataType == BooleanType)

  /** [[subjectFlags]]' rows of the GSIDs in `gsids`, filtered in Scala
    * over a local `subjects` member's rows. */
  private def localSubjectFlags(subjects: DataFrame, gsids: Set[Any]): Array[Row] = {
    val s = subjects.schema
    val (gi, ci) = (s.fieldIndex("global_subject_id"), s.fieldIndex("created_at"))
    val wi = if (s.fieldNames.contains("withdrawn")) s.fieldIndex("withdrawn") else -1
    DriverPath.localRows(subjects).flatMap { r =>
      val g = r.get(gi)
      if (g == null || !gsids(g)) None
      else Some(Row(g, r.get(ci), wi >= 0 && !r.isNullAt(wi) && r.getBoolean(wi)))
    }
  }

  /** Diagnostic (spec-visible): whether the LAST resolve() call routed
    * the registry join through the salted fallback. */
  @volatile private[graft] var lastResolveUsedSaltedJoin: Boolean = false

  /** The distributed path of [[resolve]], whatever the batch size, with
    * the skew fallback explicit.
    *
    * SCALING.md names hot identifiers as the risk for the J1 registry
    * join: one identifier carried by millions of batch rows lands a
    * whole shuffle partition on one task. `skewSaltThreshold` arms a
    * HOT-KEY PROBE — one map-side-combining count over the batch's
    * normalized identifiers (batch-sized, never registry-sized) — and
    * when the hottest identifier reaches the threshold the join runs
    * through [[SkewJoin.saltedEquiJoin]] instead: the probe side
    * salts on `request_id` (deterministic xxhash64, no rand()), the
    * registry build side explodes `skewSalt`-fold, output identical,
    * hot key spread over `skewSalt` partitions. Pass
    * `skewSaltThreshold <= 0` to disable the probe (plain join,
    * zero extra jobs). AQE's skew-join split stays on either way;
    * this fallback covers the aggregation-side skew AQE cannot
    * re-split (the groupBy("_nid") inside the probe handles its own
    * skew via partial aggregation). */
  def resolveDistributed(
      candidates: DataFrame,
      registry: Registry,
      deterministicMint: Boolean,
      groupingIterations: Int,
      skewSaltThreshold: Long = DefaultSkewSaltThreshold,
      skewSalt: Int = DefaultSkewSalt): DataFrame = {

    // lazy checkpoint: the hot-key probe below is an extra aggregation
    // job over cand, and the J1 join + per-request aggregation consume
    // it again — without materialized blocks each consumer would
    // re-evaluate the caller's full candidate-building lineage
    // (mapping projection, id derivation, unions). Batch-sized state.
    val cand = candidateFrame(candidates).localCheckpoint(false)
    val li = registryIds(registry)
    val subj = subjectFlags(registry)

    // J1: center-agnostic, case-insensitive registry match — with the
    // hot-key probe + salted fallback described on resolveDistributed
    val probe = probeSide(cand)
    // Probe only when the batch COULD hold a hot key (r18, tightened
    // r19 per ADVICE r18): the hottest identifier's count is bounded
    // by the batch row count. Two-tier gate, cheapest sound bound
    // first:
    //  1. PLAN-STATS skip — rowCount when CBO stats carry one, else
    //     sizeInBytes but ONLY when no leaf of the plan is a
    //     file-source scan or a checkpointed RDD (file scans report
    //     compressed on-disk bytes, and a checkpoint carries the stats
    //     of the plan it truncated — a batch dominated by one hot
    //     identifier is maximally RLE/dictionary-compressible, exactly
    //     the batch the safeguard exists for could slip under a
    //     ≥1-byte/row assumption; in-memory leaves report
    //     UnsafeRow-shaped sizes where it always holds). Read from the
    //     CALLER's frame.
    //  2. EXACT-COUNT gate — when plan stats cannot rule the threshold
    //     out, ONE count() over the lazily-checkpointed `cand`: it
    //     materializes the blocks every downstream consumer reuses
    //     anyway and yields the exact row bound, so the full
    //     aggregation probe (a shuffle + several AQE stage-jobs) runs
    //     ONLY when the batch genuinely holds enough rows to reach the
    //     threshold — sound for any source format, no byte heuristics.
    // Estimation failure degrades to counting, never to skipping; a
    // wrong skip would merely skip the salt — the join output is
    // identical either way and AQE skew-split stays on.
    val planStatsSkip = try {
      val plan = candidates.queryExecution.optimizedPlan
      val stats = plan.stats
      stats.rowCount match {
        case Some(rows) => rows < BigInt(skewSaltThreshold)
        case None =>
          val sizeUntrusted = plan.collectLeaves().exists {
            case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
            case _: org.apache.spark.sql.execution.LogicalRDD => true
            case l => l.getClass.getName.contains("DataSourceV2")
          }
          !sizeUntrusted && stats.sizeInBytes < BigInt(skewSaltThreshold)
      }
    } catch { case scala.util.control.NonFatal(_) => false }
    val useSalted = skewSaltThreshold > 0 && !planStatsSkip &&
      cand.count() >= skewSaltThreshold && {
        val hottest = cand.groupBy("_nid").agg(count(lit(1)).as("c"))
          .agg(max("c")).first()
        !hottest.isNullAt(0) && hottest.getLong(0) >= skewSaltThreshold
      }
    lastResolveUsedSaltedJoin = useSalted
    val matches =
      (if (useSalted)
        SkewJoin.saltedEquiJoin(probe, li, "_nid", skewSalt,
          probeSaltSource = col("request_id"))
      else probe.join(li, "_nid"))
        .join(subj, "_gsid")

    // `reqs` (which contains the whole registry-match + aggregation
    // subtree) feeds the grouping loop below AND the final join; the
    // loop's iterated self-references would otherwise inline ~2^iters
    // copies of that subtree into one DAG (measured 5-7x slowdown at
    // sf0.1). LAZY localCheckpoint the two shared frames — both are
    // O(batch) rows, never registry-sized — so every downstream
    // consumer (and each loop hop) starts from truncated lineage.
    // Lazy, not eager: the plan truncates immediately either way, but
    // eager spends a whole Spark job per checkpoint — under a loaded
    // scheduler those fixed job barriers dominate (driver bench ran
    // this 10-20x local time); lazy folds materialization into the
    // first consuming job and later branches reuse the cached blocks.
    val reqs = requestAggregates(cand, matches).localCheckpoint(false)

    // intra-batch grouping of unmatched requests (see scaladoc):
    // iterated label propagation — leader(identifier) = min leader of
    // its requests; leader(request) = min leader of its identifiers.
    // Null identifiers never join, so a request holding only those
    // would leave the label set on the first hop; dropping them here
    // keeps the set fixed, which the fixpoint's sum check relies on.
    val unmatchedCand = cand.filter(col("_nid").isNotNull)
      .join(reqs.filter(col("_n") === 0).select("request_id"), Seq("request_id"), "left_semi")
      .localCheckpoint(false)
    var reqLeader = unmatchedCand.select(col("request_id"), col("request_id").as("_leader"))
      .distinct()
    def hop(prev: DataFrame): DataFrame = {
      val idLeader = unmatchedCand.join(prev, "request_id")
        .groupBy("_nid").agg(min("_leader").as("_id_leader"))
      unmatchedCand.join(idLeader, "_nid")
        .groupBy("request_id").agg(min("_id_leader").as("_leader"))
    }
    if (groupingIterations > 0) {
      for (i <- 1 to groupingIterations) {
        reqLeader = hop(reqLeader)
        // truncate lineage between iterations (except the last — the
        // final plan joins it once): without this the plan doubles per
        // hop and Catalyst/codegen time dwarfs the actual label work
        if (i < groupingIterations) reqLeader = reqLeader.localCheckpoint(false)
      }
    } else {
      // groupingIterations ≤ 0: iterate to a FIXPOINT — over a fixed
      // request set labels are monotonically non-increasing, so the
      // label SUM strictly decreases while anything changes and "sum
      // unchanged" is global convergence; covers arbitrarily long
      // identifier chains at ONE cheap aggregate job per hop (vs a
      // join + count). DECIMAL sum so the invariant can't be confused
      // by overflow at any batch size.
      // NON-NUMERIC request ids (Pipelines mints md5 hex strings) have
      // no numeric sum: for those the check sums xxhash64 of the label
      // — any label change alters the sum up to a ~2^-64 per-hop
      // collision (vastly safer than casting hex to decimal, which
      // yields NULL and NPE'd here before this guard).
      val numericLabels = reqLeader.schema("_leader").dataType
        .isInstanceOf[NumericType]
      def labelSum(df: DataFrame): java.math.BigDecimal = {
        val measure =
          if (numericLabels) sum(col("_leader").cast("decimal(38,0)"))
          // cast BEFORE summing: xxhash64 longs span the full 64-bit
          // range and their Long sum overflows (throws under ANSI)
          else sum(xxhash64(col("_leader")).cast("decimal(38,0)"))
        df.agg(coalesce(measure, lit(0).cast("decimal(38,0)")))
          .first().getDecimal(0)
      }
      var prevSum = labelSum(reqLeader)
      var hops = 0
      var converged = false
      while (!converged && hops < MaxFixpointHops) {
        // lazy: labelSum is the materializing action — one job per hop
        // instead of a checkpoint job plus the sum job
        val next = hop(reqLeader).localCheckpoint(false)
        val s = labelSum(next)
        converged = s.compareTo(prevSum) == 0
        prevSum = s
        reqLeader = next
        hops += 1
      }
      // fail LOUD if the cap truncated an unconverged chain — silent
      // truncation would mint multiple GSIDs for one linked group
      if (!converged) throw unconverged(hops)
    }
    val groupMint = unmatchedCand.join(reqLeader, "request_id")
      .groupBy("_leader").agg(min("_nid").as("_mint_key"))
    val mintBase = reqLeader.join(groupMint, "_leader")
    val minted =
      if (deterministicMint)
        mintBase.select(col("request_id"),
          Gsid.deterministic(concat(lit(MintPrefix), col("_mint_key"))).as("_new_gsid"))
      else {
        val perGroup = mintBase.select("_leader").distinct()
          .withColumn("_new_gsid", Gsid.generate())
        mintBase.join(perGroup, "_leader").select("request_id", "_new_gsid")
      }

    resolutionRows(reqs.join(minted, Seq("request_id"), "left"))
  }

  /** Step 4-5 of the reference (`identity_resolution.py:272-330`): one
    * `identity_resolutions` log row per request, with the JSONB
    * candidate payload. The reference keys the row by the request's
    * FIRST identifier; batch inputs have no positional order, so the
    * deterministic stand-in is min(identifier_type, local_subject_id)
    * (documented deviation). */
  def resolutionLog(resolutions: DataFrame, candidates: DataFrame,
      createdBy: String = "graft"): DataFrame = {
    val firstCand = candidates
      .groupBy("request_id")
      .agg(min(struct(col("identifier_type"), col("local_subject_id"))).as("_first"),
        to_json(sort_array(collect_set(struct(
          col("local_subject_id"), col("identifier_type"))))).as("candidate_ids"))
    resolutions.join(firstCand, "request_id")
      .select(
        col("_first.local_subject_id").as("local_subject_id"),
        col("_first.identifier_type").as("identifier_type"),
        col("center_id").as("input_center_id"),
        col("gsid"), col("gsid").as("matched_gsid"),
        col("action"), col("match_strategy"), col("confidence"),
        col("candidate_ids"),
        when(col("matched_gsids").isNotNull, to_json(col("matched_gsids")))
          .as("matched_gsids"),
        col("requires_review"),
        lit(createdBy).as("created_by"))
  }

  /** Registry evolution (§3.2 batch form): fold one resolved batch into
    * the registry snapshot — create_new subjects appended, identifier
    * links MERGEd with the local_subject_ids delete-and-replace
    * semantics. The returned snapshot is what the NEXT batch resolves
    * against, giving the reference's sequential-visibility behavior at
    * batch granularity.
    *
    * Subject-row updates applied per the reference's in-transaction
    * UPDATEs (`identity_resolution.py:139-211`):
    *  - center 0→real upgrade: a `link_existing` resolution carrying a
    *    real center onto an unknown-center (0) subject updates the
    *    subject row (`:139-154`; deterministic pick = min real center
    *    when several requests link the same subject in one batch);
    *  - review flags: center-mismatch links flag the chosen subject,
    *    multi-GSID conflicts flag ALL matched subjects (`:156-211`),
    *    appending a dated note to `review_notes`.
    *
    * Note appends are guarded by an already-present check, which makes
    * re-presenting the SAME batch on the same date a byte-identical
    * no-op (match-first resolution mints nothing on a rerun, and the
    * guard keeps the rerun from duplicating its own conflict notes) —
    * the idempotent-rerun property `q_identity_rerun` gates. A later
    * batch's note carries a different date, so real note chains still
    * append.
    *
    * When all four inputs are local relations (integral centers,
    * string keys) the fold runs on the driver ([[applyOnDriver]]) and
    * returns local relations; otherwise [[applyDistributed]] plans it.
    * Both return the same rows under the same schema. */
  def applyBatch(
      registry: Registry,
      resolutions: DataFrame,
      links: DataFrame,
      createdAt: java.sql.Date): Registry =
    if (applyOnDriverCovers(registry, resolutions, links))
      applyOnDriver(registry, resolutions, links, createdAt)
    else applyDistributed(registry, resolutions, links, createdAt)

  /** The distributed path of [[applyBatch]], whatever its inputs. */
  private[graft] def applyDistributed(
      registry: Registry,
      resolutions: DataFrame,
      links: DataFrame,
      createdAt: java.sql.Date): Registry = {
    val base = withSubjectFlags(registry.subjects)

    // one new subject per minted GSID, from the request with the
    // smallest request_id (Spark's order, nulls first): the reference
    // runs requests in order, so the first one creates the subject —
    // a group whose requests came from several centers must not take
    // whichever row a shuffle delivers first
    val newSubjects = resolutions.filter(col("action") === "create_new")
      .groupBy(col("gsid").as("global_subject_id"))
      .agg(min(struct(col("request_id"), col("center_id"))).as("_first"))
      .select(col("global_subject_id"), col("_first.center_id").as("center_id"),
        lit(createdAt).as("created_at"),
        lit(false).as("withdrawn"), lit(false).as("flagged_for_review"),
        lit(null).cast("string").as("review_notes"))

    // ONE per-gsid delta frame (r19, guide §2.4): the pre-r19 shape
    // aggregated `resolutions` twice (upgrades, flags) and joined each
    // against the registry separately — two shuffled aggregations and
    // two registry-wide joins per cycle, pure fixed job/exchange cost
    // at gate scale (the identity family's wall is its job count,
    // VERDICT r18 #2). The upgrade rows and note rows now union into
    // one aggregation (min skips the note rows' null center; collect_set
    // skips the upgrade rows' null note; `_notes` maps an empty note
    // set back to NULL, which is what drives flagged_for_review — a
    // subject with only an upgrade row must not be flagged) and the
    // registry is joined ONCE. Same values per subject by construction.
    val upgradeRows = resolutions
      .filter(col("action") === "link_existing" && col("center_id") =!= 0)
      .select(col("gsid").as("global_subject_id"),
        col("center_id").as("_uc"), lit(null).cast("string").as("_note"))
    val noteRows = resolutions
      .filter(col("requires_review") && col("action") =!= "create_new")
      .select(col("gsid").as("global_subject_id"),
        when(col("action") === "conflict_resolved",
          lit(s"MULTI-GSID CONFLICT detected on $createdAt"))
          .otherwise(lit(s"CENTER CONFLICT detected on $createdAt")).as("_note"))
      .unionByName(resolutions.filter(col("action") === "conflict_resolved")
        .select(explode(col("matched_gsids")).as("global_subject_id"),
          lit(s"MULTI-GSID CONFLICT detected on $createdAt").as("_note")))
      .withColumn("_uc", lit(null).cast(resolutions.schema("center_id").dataType))
      .select("global_subject_id", "_uc", "_note")
    val subjectDelta = upgradeRows.unionByName(noteRows)
      .groupBy("global_subject_id")
      .agg(min(col("_uc")).as("_new_center"),
        sort_array(collect_set(col("_note"))).as("_noteSet"))
      .withColumn("_notes",
        when(size(col("_noteSet")) > 0, concat_ws("\n", col("_noteSet"))))
      .drop("_noteSet")

    val updated = base
      .join(subjectDelta, Seq("global_subject_id"), "left")
      .withColumn("center_id",
        when(col("center_id") === 0 && col("_new_center").isNotNull, col("_new_center"))
          .otherwise(col("center_id")))
      .withColumn("review_notes",
        // already-present guard: a same-day rerun of the same batch
        // regenerates the identical note block and must not duplicate
        // it (idempotent rerun); a new date is a new string and chains
        when(col("_notes").isNotNull &&
            !coalesce(col("review_notes"), lit("")).contains(col("_notes")),
          concat_ws("\n", col("review_notes"), col("_notes")))
          .otherwise(col("review_notes")))
      .withColumn("flagged_for_review", col("flagged_for_review") || col("_notes").isNotNull)
      .drop("_new_center", "_notes")

    val subjects = updated.unionByName(newSubjects, allowMissingColumns = true)
    val localIds = UpsertWriter.mergeLocalSubjectIds(
      registry.localIds,
      links.select("center_id", "local_subject_id", "identifier_type", "global_subject_id"))
      .merged
    Registry(subjects, localIds)
  }

  /** Whether [[applyOnDriver]] covers these inputs: all four are local
    * relations (what [[graft.operators.IncrementalIdentity]] hands over
    * for a micro-batch against a registry under the driver bound), the
    * centers are integral and the keys are strings. */
  private def applyOnDriverCovers(registry: Registry, resolutions: DataFrame,
      links: DataFrame): Boolean = {
    val base = withSubjectFlags(registry.subjects).schema
    def strings(s: StructType, cs: String*) = cs.forall(c => s(c).dataType == StringType)
    Seq(registry.subjects, registry.localIds, resolutions, links).forall(isLocal) &&
      Seq(base, registry.localIds.schema, resolutions.schema, links.schema)
        .forall(s => integral(s("center_id").dataType)) &&
      strings(base, "global_subject_id", "review_notes") &&
      Seq("withdrawn", "flagged_for_review").forall(base(_).dataType == BooleanType) &&
      strings(resolutions.schema, "gsid", "action") &&
      Seq(registry.localIds.schema, links.schema).forall(
        strings(_, "local_subject_id", "identifier_type", "global_subject_id"))
  }

  /** The driver path of [[applyBatch]]: the same fold over the rows of
    * its four local inputs, in Scala, clause for clause with
    * [[applyDistributed]] — new subjects from each GSID's smallest
    * request, the per-subject upgrade center (min real center) and the
    * sorted, de-duplicated dated notes with the already-present guard,
    * and `UpsertWriter.mergeLocalSubjectIds`' delete-and-replace (one
    * min(center_id, gsid) row per key on each side, keys with a null
    * part never matching). Values are cast to the distributed plans'
    * schemas (taken from their analysis, never executed), with Spark's
    * own casts where a union or conditional widens a column, and come
    * back as local relations, which the registry publish writes from
    * the driver. */
  private def applyOnDriver(registry: Registry, resolutions: DataFrame,
      links: DataFrame, createdAt: java.sql.Date): Registry = {
    val spark = resolutions.sparkSession
    // the distributed plans' schemas: a function of the input schemas
    val inputs = (registry.subjects.schema, registry.localIds.schema, resolutions.schema,
      links.schema)
    lazy val want = applyDistributed(registry, resolutions, links, createdAt)
    val outS = DriverPath.schemaOf(("applyBatch.subjects", inputs))(want.subjects.schema)
    val outL = DriverPath.schemaOf(("applyBatch.localIds", inputs))(want.localIds.schema)
    val baseS = withSubjectFlags(registry.subjects).schema
    val resS = resolutions.schema
    val res = resolutions
      .select("request_id", "center_id", "action", "gsid", "matched_gsids", "requires_review")
      .collect()
    val multiNote = s"MULTI-GSID CONFLICT detected on $createdAt"
    val centerNote = s"CENTER CONFLICT detected on $createdAt"
    val resCenter = resS("center_id").dataType
    val centerOrder = sparkOrdering(resCenter)
    val upgrade = scala.collection.mutable.HashMap.empty[Any, Any]
    val notes = scala.collection.mutable.HashMap.empty[Any, Set[String]]
    def note(g: Any, n: String): Unit =
      if (g != null) notes(g) = notes.getOrElse(g, Set.empty[String]) + n
    for (r <- res) {
      val (c, action, g) = (r.get(1), r.get(2), r.get(3))
      if (action == "link_existing" && c != null && asLong(c) != 0 && g != null)
        upgrade(g) = upgrade.get(g).fold(c)(o => if (centerOrder.lt(c, o)) c else o)
      if (r.get(5) == true && action != null && action != "create_new")
        note(g, if (action == "conflict_resolved") multiNote else centerNote)
      if (action == "conflict_resolved" && !r.isNullAt(4))
        r.getSeq[Any](4).foreach(note(_, multiNote))
    }
    val noteBlock: Map[Any, String] = notes.map { case (g, ns) =>
      g -> ns.toSeq.sorted(sparkOrdering(StringType)).mkString("\n") }.toMap

    def castsFrom(from: StructType, to: StructType): Map[String, Any => Any] =
      to.fields.collect { case f if from.fieldNames.contains(f.name) =>
        f.name -> castTo(from(f.name).dataType, f.dataType) }.toMap
    val fromBase = castsFrom(baseS, outS)
    val upgradeCast = castTo(resCenter, outS("center_id").dataType)
    // withSubjectFlags' columns, appended in its order when missing
    val flagDefaults = Seq[(String, Any)]("withdrawn" -> false, "flagged_for_review" -> false,
      "review_notes" -> null).filterNot(c => registry.subjects.columns.contains(c._1)).map(_._2)
    // each output column's base position and cast (-1: not in base)
    val outAt = outS.fieldNames.map(baseS.fieldNames.indexOf(_))
    val outCast = outS.fieldNames.map(n => fromBase.getOrElse(n, (v: Any) => v))
    val Seq(gAt, cAt, rnAt, flAt) = Seq("global_subject_id", "center_id", "review_notes",
      "flagged_for_review").map(baseS.fieldIndex)
    val updated = DriverPath.localRows(registry.subjects).toSeq.map { r0 =>
      val v = (r0.toSeq ++ flagDefaults).toArray
      val g = v(gAt)
      val c = v(cAt)
      val block = if (g == null) None else noteBlock.get(g)
      val upgraded = c != null && asLong(c) == 0 && g != null && upgrade.contains(g)
      Row.fromSeq(outAt.indices.map { j =>
        val at = outAt(j)
        if (at == cAt && upgraded) upgradeCast(upgrade(g))
        else if (at == rnAt && block.isDefined) {
          val (rn, b) = (v(rnAt).asInstanceOf[String], block.get)
          outCast(j)(if (Option(rn).getOrElse("").contains(b)) rn
                     else if (rn == null) b else rn + "\n" + b)
        } else if (at == flAt && block.isDefined) outCast(j)(true)
        else if (at < 0) null
        else outCast(j)(v(at))
      })
    }
    // one new subject per minted GSID, from its smallest request
    val firstOrder = sparkOrdering(StructType(Seq(resS("request_id"), resS("center_id"))))
    val gsidCast = castTo(resS("gsid").dataType, outS("global_subject_id").dataType)
    val createdCast = castTo(DateType, outS("created_at").dataType)
    val created = res.filter(_.get(2) == "create_new").groupBy(_.get(3)).values.toSeq
      .map(_.minBy[Any](r => Row(r.get(0), r.get(1)))(firstOrder)).map { r =>
        val v = Map[String, Any]("global_subject_id" -> gsidCast(r.get(3)),
          "center_id" -> upgradeCast(r.get(1)), "created_at" -> createdCast(createdAt),
          "withdrawn" -> false, "flagged_for_review" -> false)
        Row.fromSeq(outS.fieldNames.toSeq.map(v.getOrElse(_, null)))
      }

    // mergeLocalSubjectIds: per (local_subject_id, identifier_type),
    // the min(center_id, gsid) row of each side; a key with a null part
    // never matches across sides
    val cols = Seq("center_id", "local_subject_id", "identifier_type", "global_subject_id")
    def side(df: DataFrame): (Map[(Any, Any), Row], Seq[Any => Any]) = {
      val s = df.schema
      val at = cols.map(s.fieldIndex)
      val order = sparkOrdering(StructType(Seq(s("center_id"), s("global_subject_id"))))
      val mins = DriverPath.localRows(df).toSeq.map(r => Row.fromSeq(at.map(r.get)))
        .groupBy(r => (r.get(1), r.get(2)))
        .map { case (k, rs) => k -> rs.minBy[Any](r => Row(r.get(0), r.get(3)))(order) }
      (mins, cols.map(c => castTo(s(c).dataType, outL(c).dataType)))
    }
    val (inc, incCast) = side(links)
    val (cur, curCast) = side(registry.localIds)
    def conform(r: Row, cs: Seq[Any => Any]) = Row.fromSeq(cs.zip(r.toSeq).map { case (f, v) => f(v) })
    def matchable(k: (Any, Any)) = k._1 != null && k._2 != null
    val merged = inc.toSeq.map { case (k, in) =>
      val ex = if (matchable(k)) cur.get(k) else None
      val Seq(c, l, t, g) = conform(in, incCast).toSeq
      val exOut = ex.map(conform(_, curCast))
      Row(if (c != null) c else exOut.map(_.get(0)).orNull, l, t,
        if (g != null) g else exOut.map(_.get(3)).orNull)
    } ++ cur.toSeq.collect { case (k, ex) if !matchable(k) || !inc.contains(k) =>
      conform(ex, curCast)
    }
    Registry(localFrame(spark, updated ++ created, outS), localFrame(spark, merged, outL))
  }

  /** Withdraw subjects (`gsid-service/api/routes.py:159-182`): set
    * `withdrawn` and append a dated reason to `review_notes`.
    * `withdrawals` columns: global_subject_id, optional reason. */
  def withdraw(subjects: DataFrame, withdrawals: DataFrame,
      asOf: java.sql.Date): DataFrame = {
    val w = (if (withdrawals.columns.contains("reason")) withdrawals
             else withdrawals.withColumn("reason", lit(null).cast("string")))
      .select(col("global_subject_id"), col("reason"))
      .dropDuplicates("global_subject_id")
      .withColumn("_w_note",
        concat(lit(s"Withdrawn on $asOf"),
          when(col("reason").isNotNull, concat(lit(". Reason: "), col("reason")))
            .otherwise(lit(""))))
    withSubjectFlags(subjects)
      .join(w.select("global_subject_id", "_w_note"), Seq("global_subject_id"), "left")
      .withColumn("withdrawn", col("withdrawn") || col("_w_note").isNotNull)
      .withColumn("review_notes",
        // same-day re-withdrawal is a no-op (see applyBatch's guard)
        when(col("_w_note").isNotNull &&
            !coalesce(col("review_notes"), lit("")).contains(col("_w_note")),
          concat_ws("\n", col("review_notes"), col("_w_note")))
          .otherwise(col("review_notes")))
      .drop("_w_note")
  }

  /** `v_subjects_requiring_review` (`01-schema.sql:628-646`): subjects
    * flagged for review or withdrawn, with center name and identifier
    * rollup counts. `centers` columns: center_id, name. */
  def requiringReview(subjects: DataFrame, localIds: DataFrame,
      centers: DataFrame): DataFrame =
    withSubjectFlags(subjects)
      .filter(col("flagged_for_review") || col("withdrawn"))
      .join(broadcast(centers.select(col("center_id"), col("name").as("center_name"))),
        Seq("center_id"), "left")
      .join(localIds.select("global_subject_id", "identifier_type", "local_subject_id"),
        Seq("global_subject_id"), "left")
      .groupBy("global_subject_id", "center_id", "center_name", "flagged_for_review",
        "review_notes", "withdrawn", "created_at")
      // size(collect_set) not countDistinct: TWO distinct columns would
      // plan Expand with a ×2 row blow-up before the shuffle; both sets
      // are bounded (identifier types, aliases per subject), so
      // collecting them in one pass is strictly cheaper.
      .agg(size(collect_set("identifier_type")).cast("long").as("num_identifier_types"),
        size(collect_set("local_subject_id")).cast("long").as("num_local_ids"))

  /** Step 3 of the reference (`identity_resolution.py:213-268`): link
    * every candidate identifier to its request's chosen GSID, with the
    * center-preference ladder against the existing registry row.
    * The reference's `LIMIT 1` (no ORDER BY) existing-row pick is made
    * deterministic here as min(center_id, gsid). Link lookup is
    * case-SENSITIVE like the reference (only matching is folded).
    *
    * When both `candidates` and `resolutions` are already local
    * relations of at most [[DriverBatchRows]] rows (what
    * [[materializeBatch]] and the driver path of [[resolve]] return),
    * the links are computed on the driver from one filtered scan of
    * `localIds` and come back as a local relation under the
    * distributed plan's schema; otherwise the distributed plan runs.
    */
  def links(candidates: DataFrame, resolutions: DataFrame, localIds: DataFrame,
      createdBy: String = "graft"): DataFrame = {
    val onDriver = isLocal(candidates) && isLocal(resolutions) &&
      integral(candidates.schema("center_id").dataType) &&
      integral(localIds.schema("center_id").dataType)
    val rows =
      if (!onDriver) Array.empty[Row]
      else candidates.select("request_id", "center_id", "local_subject_id", "identifier_type")
        .collect()
    if (onDriver && rows.length <= DriverBatchRows)
      linksOnDriver(rows, candidates, resolutions, localIds, createdBy)
    else linksDistributed(candidates, resolutions, localIds, createdBy)
  }

  /** Per (local_subject_id, identifier_type): the center of the
    * min(center_id, gsid) registry row. */
  private def existingCenters(registrySide: DataFrame): DataFrame =
    registrySide
      .groupBy("local_subject_id", "identifier_type")
      .agg(min(struct(col("center_id"), col("global_subject_id"))).as("_ex"))
      .select(col("local_subject_id"), col("identifier_type"),
        col("_ex.center_id").as("_ex_center"))

  private def linkRows(candidates: DataFrame, resolutions: DataFrame,
      existing: DataFrame, createdBy: String): DataFrame =
    candidates
      .join(resolutions.select(col("request_id"), col("gsid")), "request_id")
      .join(existing, Seq("local_subject_id", "identifier_type"), "left")
      .withColumn("link_center_id",
        when(col("_ex_center").isNotNull && col("_ex_center") =!= 0 && col("center_id") === 0,
          col("_ex_center"))
          .otherwise(col("center_id")))
      .select(
        col("link_center_id").as("center_id"),
        col("local_subject_id"), col("identifier_type"),
        col("gsid").as("global_subject_id"),
        lit(createdBy).as("created_by"))
      .dropDuplicates("center_id", "local_subject_id", "identifier_type", "global_subject_id")

  private[graft] def linksDistributed(candidates: DataFrame, resolutions: DataFrame,
      localIds: DataFrame, createdBy: String): DataFrame = {
    // LARGE registries are semi-filtered to the batch's keys BEFORE
    // the per-key aggregation (r19, guide §3.2): `existing` is
    // consumed only left-joined onto the batch's candidates, so
    // registry rows whose key no candidate carries are dropped either
    // way — filtering first turns a REGISTRY-wide shuffled aggregation
    // per cycle into one bounded by the batch (the batch-key side
    // broadcasts at any realistic batch/registry ratio, so the
    // registry is scanned, never shuffled; no distinct on the build
    // side — LEFT SEMI ignores build-side duplicates and the dedup
    // would cost its own exchange). Gated on the registry's estimated
    // size because the filter was MEASURED to regress small registries
    // (sf0.1: the extra broadcast build + stage barriers cost more
    // than aggregating the whole few-MB registry — q_identity_rerun
    // 2.80 → 3.38 s with it unconditional), while past the gate the
    // aggregation's shuffle grows with the registry and the filter's
    // cost stays batch-shaped. Estimation failure keeps the plain
    // aggregation (identical output either way).
    val filterableRegistry = (try localIds.queryExecution.optimizedPlan
        .stats.sizeInBytes
      catch { case scala.util.control.NonFatal(_) => BigInt(0) }) >=
      BigInt(LinksRegistryFilterBytes)
    val registrySide =
      if (!filterableRegistry) localIds
      else localIds.join(candidates.select("local_subject_id", "identifier_type"),
        Seq("local_subject_id", "identifier_type"), "left_semi")
    linkRows(candidates, resolutions, existingCenters(registrySide), createdBy)
  }

  /** The driver path of [[links]] (`rows`: request_id, center_id,
    * local_subject_id, identifier_type of every candidate row): the
    * same inner join on request_id, left join on the exact
    * (local_subject_id, identifier_type) key, center ladder and
    * de-duplication as [[linkRows]], with the registry read as the
    * rows whose local_subject_id the batch carries. */
  private def linksOnDriver(rows: Array[Row], candidates: DataFrame,
      resolutions: DataFrame, localIds: DataFrame, createdBy: String): DataFrame = {
    val schema = DriverPath.schemaOf(("linkRows", candidates.schema, resolutions.schema,
        localIds.schema, createdBy))(
      linkRows(candidates, resolutions, existingCenters(localIds), createdBy).schema)
    val chosen: Map[Any, Seq[Any]] = resolutions.select("request_id", "gsid").collect().toSeq
      .filter(_.get(0) != null).groupMap(_.get(0))(_.get(1))
    val ids = rows.iterator.map(_.get(2)).filter(_ != null).toSeq.distinct
    val registryRows =
      if (ids.isEmpty) Array.empty[Row]
      else if (isLocal(localIds) && localIds.schema("local_subject_id").dataType == StringType &&
          candidates.schema("local_subject_id").dataType == StringType) {
        val (idSet, s) = (ids.toSet, localIds.schema)
        val at = Seq("local_subject_id", "identifier_type", "center_id", "global_subject_id")
          .map(s.fieldIndex)
        DriverPath.localRows(localIds).collect {
          case r if !r.isNullAt(at.head) && idSet(r.get(at.head)) => Row.fromSeq(at.map(r.get))
        }
      } else localIds.where(col("local_subject_id").isin(ids: _*))
        .select("local_subject_id", "identifier_type", "center_id", "global_subject_id")
        .collect()
    val exOrder = sparkOrdering(StructType(Seq(
      StructField("c", localIds.schema("center_id").dataType),
      StructField("g", localIds.schema("global_subject_id").dataType))))
    val exCenter: Map[(Any, Any), Any] = registryRows.toSeq
      .filter(r => r.get(0) != null && r.get(1) != null)
      .groupBy(r => (r.get(0), r.get(1)))
      .map { case (k, rs) => k -> rs.map(r => Row(r.get(2), r.get(3))).min(exOrder).get(0) }
    val centerType = schema("center_id").dataType
    val out = for {
      r <- rows.toSeq if r.get(0) != null
      gsid <- chosen.getOrElse(r.get(0), Nil)
    } yield {
      val center = r.get(1)
      val ex = exCenter.getOrElse((r.get(2), r.get(3)), null)
      val linkCenter =
        if (ex != null && asLong(ex) != 0 && center != null && asLong(center) == 0) ex
        else center
      Row(castIntegral(linkCenter, centerType), r.get(2), r.get(3), gsid, createdBy)
    }
    localFrame(candidates.sparkSession, out.distinct, schema)
  }
}
