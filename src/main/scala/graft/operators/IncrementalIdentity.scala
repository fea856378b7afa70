package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Sources

/** Continuous identity resolution — §2.9's resolver driven by the
  * merge-table change feed instead of a corpus rescan.
  *
  * The reference approximates continuous MDM with cron re-extracts
  * (`docs/developers/architecture/data-flow.md:496-523`): every cycle
  * re-pulls the fragment tables and re-runs resolution over
  * EVERYTHING. At 100 TB that rescan is the cost ceiling. This
  * operator composes two primitives the engine already has —
  * [[Sources.processMergeRowChanges]] (checkpointed ROW-level CDC
  * over a [[Sources.publishMergePartitioned]] fragments table) and
  * [[IdentityResolver]] (set-based resolve → links → applyBatch) —
  * so each cycle reads ONLY the rows that changed since the last
  * checkpoint, resolves them against the current registry snapshot,
  * and publishes the evolved registry. RESOLVING is bounded by the
  * changed data; READING the registry and WRITING it are not: every
  * cycle rewrites both registry members (subjects, local_ids) in
  * full, and the fold ([[IdentityResolver.applyBatch]], with
  * [[UpsertWriter.mergeLocalSubjectIds]]' delete-and-replace) passes
  * over the whole local_ids member. So a cycle's cost grows with the
  * registry. ROADMAP O2's versioned log (add/remove actions over data
  * files) is the fix for table-sized registries: a cycle would then
  * write only the rows it changes.
  *
  * Row-level (not partition-level) delivery is load-bearing here:
  * partition-level CDC re-delivers whole rewritten partitions, and an
  * already-resolved identifier arriving BESIDE a new center's claim
  * of the same identifier changes the batch's link statement (the
  * link merge is delete-and-replace per identifier — two centers in
  * one batch is a different input than one center re-presenting).
  * With the row diff, each cycle's batch is exactly the rows a
  * sequential operator would have seen, so incremental ≡ sequential
  * EXACTLY (the `q_identity_incremental` gate proves it against the
  * same oracle the two-batch evolution gate uses).
  *
  * Correctness under redelivery (the crash story):
  *  - the change feed is AT-LEAST-ONCE: its checkpoint advances only
  *    after the cycle body returns, so a crash anywhere inside the
  *    body re-delivers the same delta next run;
  *  - redelivery is absorbed by resolution's match-first idempotency
  *    (the `q_identity_rerun` property): a re-presented identifier
  *    links to its already-minted GSID, mints nothing, re-merges
  *    identical link rows, and the dated-note guard keeps same-day
  *    reruns from duplicating review notes.
  *  - the registry snapshot itself is published with
  *    [[Sources.publishSnapshotGroup]]: subjects and local_ids move
  *    under ONE claimed commit, so a crash can never leave
  *    subjects from cycle N beside local_ids from N−1 (a torn
  *    registry would re-mint duplicate subject rows on redelivery).
  *
  * Scale shape, three tiers:
  *  - a micro-batch (at most [[DriverPath.DriverBatchRows]]
  *    changed rows) against a registry whose two members' files
  *    together fit [[DriverPath.DriverStoreBytes]]: the change feed's
  *    delta, when its changed and old files fit
  *    [[DriverPath.DriverMergeBytes]], is diffed on the driver and
  *    arrives as a local relation
  *    ([[Sources.processMergeRowChangesWithDeletes]]); both members are
  *    read once on the driver with Spark's own parquet reader
  *    ([[Sources.readOnDriver]]); resolve, links and the fold run on
  *    the driver over those rows, and the evolved members, local
  *    relations, are written from the driver and handed back as the
  *    cycle's registry without a re-read. A 300-row cycle against a
  *    12k-subject registry runs no job;
  *  - a micro-batch against a larger registry: resolve and links on
  *    the driver against filtered scans of the registry, the fold and
  *    the member writes distributed;
  *  - a larger delta: [[IdentityResolver]]'s distributed J1 (shuffle
  *    on normalized identifier, auto-armed salted skew fallback).
  * The registry read is a claim-resolved parquet scan and the
  * publish rewrites the registry snapshot on every tier.
  */
object IncrementalIdentity {

  /** Registry group-member names under the registry snapshot root. */
  private val SubjectsMember = "subjects"
  private val LocalIdsMember = "local_ids"

  /** One completed incremental cycle: the batch's resolution rows,
    * the fragments-table version the checkpoint advanced to, and the
    * registry state AFTER the fold (same frames just published). */
  final case class Cycle(
      resolutions: DataFrame,
      consumedVersion: Long,
      registry: IdentityResolver.Registry)

  /** Seed (or forcibly reset) the registry snapshot group.
    * `basis`: the [[Sources.snapshotReadBasis]] of the registry the
    * published state was DERIVED from — with it, a rival cycle
    * committing in between refuses loudly instead of having this
    * publish silently replace its fold (see [[resolveCycle]]). */
  def publishRegistry(reg: IdentityResolver.Registry, registryRoot: String,
      basis: Option[Long] = None): Unit =
    Sources.publishSnapshotGroup(
      Seq(SubjectsMember -> reg.subjects, LocalIdsMember -> reg.localIds),
      registryRoot, basis)

  /** The live registry snapshot, both members resolved from ONE read of
    * its highest claim (mutually consistent by construction). */
  def readRegistry(spark: SparkSession, registryRoot: String): IdentityResolver.Registry = {
    val m = Sources.readSnapshotGroupAll(spark, registryRoot,
      Seq(SubjectsMember, LocalIdsMember))
    IdentityResolver.Registry(m(SubjectsMember), m(LocalIdsMember))
  }

  /** Run ONE checkpointed incremental-resolution cycle.
    *
    * `fragmentsDir` is a [[Sources.publishMergePartitioned]] table of
    * fragment rows keyed by `naturalKey`; `toCandidates` maps the
    * delta frame to the resolver's candidate schema (request_id,
    * center_id, local_subject_id, identifier_type). Returns None when
    * nothing was published since the checkpoint (no work, no writes).
    *
    * Ordering inside the cycle (each step's failure mode is benign):
    *  1. read delta (row-level changes since the checkpoint),
    *  2. resolve against the live registry snapshot, materialize the
    *     resolution rows (they feed links + applyBatch + the caller),
    *  3. publish the evolved registry against the committed version
    *     read before step 2 (one group claim, taken after both members
    *     are written: a crash before it leaves the old registry and an
    *     unclaimed dir that blocks no later cycle; a crash after it
    *     re-applies an idempotent batch on redelivery; a rival cycle
    *     that committed first refuses this one),
    *  4. advance the change-feed checkpoint (inside
    *     processMergeRowChanges, after this body returns).
    */
  def resolveCycle(
      spark: SparkSession,
      fragmentsDir: String,
      checkpointDir: String,
      registryRoot: String,
      naturalKey: Seq[String],
      asOf: java.sql.Date,
      partitionCol: String = "",
      deterministicMint: Boolean = true,
      groupingIterations: Int = 2)(
      toCandidates: DataFrame => DataFrame): Option[Cycle] =
    Sources.processMergeRowChanges(spark, fragmentsDir, checkpointDir,
        naturalKey, partitionCol) {
      (delta, version) =>
        // pin the read basis BEFORE reading the registry: two schedulers
        // double-firing a cycle both fold the same delta into the same
        // registry state — without the pin the second publish silently
        // replaces the first's fold (the lost-update class the merge
        // tables' OCC closed in r16); with it, the loser refuses with
        // ConcurrentModificationException, its checkpoint does not
        // advance, and a re-driven cycle re-reads the winner's registry
        // and converges (usually to a no-op: resolution is match-first
        // idempotent over an already-folded batch). The basis is the
        // registry's committed version: the publish claims the number
        // after it, so a rival that commits during this cycle — however
        // early its write began — refuses it (Sources.snapshotReadBasis).
        val basis = Sources.snapshotReadBasis(spark, registryRoot)
        val stored = readRegistry(spark, registryRoot)
        // the delta is read ONCE: a micro-batch comes back as a local
        // relation and resolves on the driver; a larger one is
        // checkpointed, so links and the registry writes reuse its
        // blocks instead of re-scanning the batch dirs and redoing the
        // change-feed anti-join. Either way resolve and links see the
        // same rows.
        val (candidates, res, reg) = IdentityResolver.materializeBatch(toCandidates(delta)) match {
          case Right(local) =>
            // a registry under the driver bound is read once on the
            // driver, both members as local relations, with no job:
            // resolve, links and the fold then filter and fold their
            // rows in Scala, and the publish writes the evolved members
            // from the driver
            val reg = Sources.readOnDriver(spark, Seq(stored.subjects, stored.localIds),
                DriverPath.DriverStoreBytes) match {
              case Some(Seq(subjects, localIds)) => IdentityResolver.Registry(subjects, localIds)
              case _ => stored
            }
            (local, IdentityResolver.resolve(local, reg, deterministicMint, groupingIterations),
              reg)
          case Left(materialized) =>
            // checkpointed: resolutions feed links, applyBatch AND the
            // caller — without truncation each consumer re-runs the
            // whole resolve lineage (batch-sized, never registry-sized)
            (materialized, IdentityResolver.resolveDistributed(materialized, stored,
              deterministicMint, groupingIterations).localCheckpoint(false), stored)
        }
        val links = IdentityResolver.links(candidates, res, reg.localIds)
        val evolved = IdentityResolver.applyBatch(reg, res, links, asOf)
        publishRegistry(evolved, registryRoot, basis = Some(basis))
        // hand back the PUBLISHED state, not the lazy plan: the caller's
        // reads must not re-trigger the apply lineage. Members written
        // from the driver are that state already, as the re-read would
        // give them; members written by a job are re-read
        val members = Seq(evolved.subjects, evolved.localIds)
        val published =
          if (members.forall(Sources.writesOnDriver)) {
            val Seq(subjects, localIds) = members.map(Sources.asWrittenOnDriver)
            IdentityResolver.Registry(subjects, localIds)
          } else readRegistry(spark, registryRoot)
        Cycle(res, version, published)
    }
}
