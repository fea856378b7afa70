package graft.operators

import org.apache.spark.sql.SparkSession

import graft.sources.Sources

/** Operational hygiene for the append-maintained (LSM) indexes —
  * VERDICT r14 #2: between compactions every append-apply adds one
  * write generation per touched partition and one tombstone segment,
  * and reads pay one more dir open per generation. The read-amp curve
  * is measured shallow (SCALING.md round 14), but at 100 TB "run
  * compaction sometimes" must be CODE, not a runbook: this module
  * exposes the health numbers an operator would page on and a
  * threshold trigger the appliers/schedulers call.
  *
  * The reference has nothing to mirror here (it keeps no indexes at
  * all — every report re-derives from the corpus); the posture is the
  * standard LSM one (RocksDB's compaction trigger on L0 file count,
  * Lucene's TieredMergePolicy segment budget): a LISTING-ONLY probe
  * cheap enough for every apply, and a fuller report (with the one
  * delta-scale tombstone count job) for the maintenance decision.
  * Superseded versions of a fully rebuilt index are pruned by the build
  * that commits ([[commitBuild]]). */
object IndexMaintenance {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Commit a full build of the index at `dir` as the next snapshot
    * version of its root ([[Sources.commitSnapshot]]): `write` builds
    * the whole layout (data tables, quantizers or stats, an empty
    * tombstone log) complete and cold into the version dir
    * `<dir>/v-<n>-<uid>` it is given, then one `commit-<n>` claim makes
    * it live. An initial build is version 1; a rebuild (retrained
    * quantizers, re-bucketed postings, a retention purge) is the same
    * operation. Rebuilding IN PLACE would tear the index under
    * concurrent readers — a searcher that read the new codes against
    * the old codebooks computes garbage distances, silently — while
    * every reader and maintenance entry point resolves the root with
    * [[Sources.resolveSnapshot]], so a reader mid-search keeps the
    * version it resolved and the next resolve gets the new one.
    * Retention is the snapshot prune: the live version and the two below
    * it stay.
    *
    * Writer discipline: a build writes only its own version dir, so it
    * may overlap live SEARCHES freely, and two builds that race commit
    * one and refuse the other (`ConcurrentModificationException`). A
    * rebuild must not overlap incremental APPLIES of the outgoing
    * version — their updates survive in the old dir but are not in the
    * rebuild input (the documented lost update of rebuilding from a
    * moving corpus); quiesce the applier across the cutover, as a
    * checkpointed change-feed consumer naturally does between
    * micro-batches. `dir` is the index root, never a version dir a
    * resolve returned. Returns the committed version dir. */
  private[graft] def commitBuild(spark: SparkSession, dir: String)(
      write: String => Unit): String = {
    require(!new org.apache.hadoop.fs.Path(dir).getName.matches("v-\\d+-.+"),
      s"$dir is itself an index version dir — build against the index root " +
        "(the dir holding the commit claims), not the version it resolves to")
    Sources.commitSnapshot(spark, dir, None)(write)
  }

  /** One data table of an index. `maxGenerations` = the most batch
    * dirs any single partition stitches together (its scan opens that
    * many parquet dirs); `batchDirs` = distinct live batch dirs
    * table-wide. */
  final case class TableHealth(
      table: String, partitions: Int, maxGenerations: Int, batchDirs: Int)

  /** Full health of one maintained index. `tombstoneRows` is the live
    * kill-set size (delta-scale count job); everything else is
    * listing-only. */
  final case class IndexHealth(
      indexDir: String,
      tables: Seq[TableHealth],
      tombstoneSegments: Int,
      tombstoneRows: Long,
      tombstoneBytes: Long) {
    def maxGenerations: Int = (tables.map(_.maxGenerations) :+ 0).max

    /** Human-readable threshold breaches, empty when healthy. */
    def breaches(policy: MaintenancePolicy): Seq[String] = {
      val b = Seq.newBuilder[String]
      if (maxGenerations > policy.maxGenerations)
        b += s"maxGenerations $maxGenerations > ${policy.maxGenerations}"
      if (tombstoneSegments > policy.maxTombstoneSegments)
        b += s"tombstoneSegments $tombstoneSegments > ${policy.maxTombstoneSegments}"
      if (tombstoneRows > policy.maxTombstoneRows)
        b += s"tombstoneRows $tombstoneRows > ${policy.maxTombstoneRows}"
      b.result()
    }
  }

  /** Compaction thresholds. Defaults follow the measured round-14
    * read-amp curve: searches stayed flat through 8 live generations,
    * so 8 is the compact point — past it every partition scan opens
    * >8 dirs and the forward/doclen keyed reads touch every one.
    * `maxTombstoneRows` bounds the broadcast kill join every read
    * pays (a 1M-key broadcast is ~tens of MB — well inside executor
    * budget, loud before it isn't). */
  final case class MaintenancePolicy(
      maxGenerations: Int = 8,
      maxTombstoneSegments: Int = 8,
      maxTombstoneRows: Long = 1000000L)

  /** Full health report. `tables` = (name, partitionCol) of each data
    * table under `indexDir`. One tiny Spark job (the tombstone count);
    * the rest is manifest/dir listings. */
  def health(spark: SparkSession, indexDir: String,
      tables: Seq[(String, String)]): IndexHealth = {
    val th = tables.map { case (t, pc) =>
      val gens = Sources.mergeGenerations(spark, s"$indexDir/$t", pc)
      TableHealth(t, gens.size, (gens.values.toSeq :+ 0).max,
        Sources.mergeBatchDirCount(spark, s"$indexDir/$t", pc))
    }
    val (segs, bytes) = LsmTombstones.segmentStats(spark, indexDir)
    val rows = LsmTombstones.read(spark, indexDir).map(_.count()).getOrElse(0L)
    IndexHealth(indexDir, th, segs, rows, bytes)
  }

  /** Per-partition concurrency for FAMILY operations (the partitioned
    * index families' routed applies, builds and maintenance sweeps —
    * each touches one disjoint partition-index dir, so they compose
    * safely). A full-fan-out delta at the partition cap was previously
    * thousands of SERIAL multi-job applies (VERDICT r16); a small pool
    * keeps the driver loop off the critical path without flooding the
    * scheduler. */
  val FamilyApplyParallelism: Int = 8

  /** Shared daemon pool behind [[inParallel]]: a cached executor, so
    * the partitioned streaming sinks (one family call per micro-batch)
    * reuse threads instead of building and tearing down a fixed pool
    * per batch. At most [[FamilyApplyParallelism]] workers are
    * submitted per call, so the pool's live thread count is bounded by
    * the busiest concurrent callers, never by item count. */
  private lazy val familyPool =
    java.util.concurrent.Executors.newCachedThreadPool(
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-family-${n.getAndIncrement()}")
          t.setDaemon(true); t
        }
      })

  /** Run disjoint per-partition tasks on a bounded worker set
    * (work-stealing over a shared index counter), preserving input
    * order in the result. Tasks MUST touch disjoint state (the family
    * contract: one partition-index dir each); Spark job submission is
    * thread-safe and the scheduler interleaves the branches' jobs.
    * Fails fast: on the first task failure no further items start,
    * in-flight items finish, and the first exception is rethrown
    * unwrapped. Serial for a single item — same stack traces, no pool
    * overhead.
    *
    * Items run under the CALLER's Spark local properties and active
    * session, captured per call the way Spark's own exchange threads
    * capture them: a cached pool thread otherwise keeps the job group,
    * description and tags of whichever caller created it. */
  def inParallel[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    if (items.lengthCompare(1) <= 0) return items.map(f)
    val idx = items.toIndexedSeq
    val results = new Array[Any](idx.size)
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    def work(): Unit = {
      var i = next.getAndIncrement()
      while (i < idx.size && failure.get() == null) {
        try results(i) = f(idx(i))
        catch { case t: Throwable => failure.compareAndSet(null, t): Unit }
        i = next.getAndIncrement()
      }
    }
    val session = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val workers = (1 to math.min(idx.size, FamilyApplyParallelism)).map(_ =>
      session match {
        case Some(s: org.apache.spark.sql.classic.SparkSession) =>
          org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(s, familyPool)(work())
        case _ => familyPool.submit(new Runnable { def run(): Unit = work() })
      })
    workers.foreach(_.get())
    if (failure.get() != null) throw failure.get()
    results.toSeq.asInstanceOf[Seq[B]]
  }

  /** The threshold trigger: report health, compact via `compact` when
    * any threshold is breached. Returns the pre-maintenance health and
    * whether compaction ran — callers log/ship both. Below threshold
    * it is a pure read (no publish, no state change). */
  def maintainIfNeeded(spark: SparkSession, indexDir: String,
      tables: Seq[(String, String)], policy: MaintenancePolicy)(
      compact: => Unit): (IndexHealth, Boolean) = {
    val h = health(spark, indexDir, tables)
    val why = h.breaches(policy)
    if (why.isEmpty) (h, false)
    else {
      log.info(s"index maintenance: compacting $indexDir (${why.mkString("; ")})")
      compact
      (h, true)
    }
  }

  /** Listing-only degradation check appliers run on EVERY apply: WARN
    * (once per breach, not per job) when the index is past 2× any
    * listing-derivable threshold — the operator signal that the
    * maintenance trigger is not being run. No Spark job. */
  def warnIfDegraded(spark: SparkSession, indexDir: String,
      tables: Seq[(String, String)], policy: MaintenancePolicy): Unit = {
    val maxGens = tables.map { case (t, pc) =>
      (Sources.mergeGenerations(spark, s"$indexDir/$t", pc).values.toSeq :+ 0).max
    }.max
    val (segs, _) = LsmTombstones.segmentStats(spark, indexDir)
    val msgs = Seq.newBuilder[String]
    if (maxGens > 2 * policy.maxGenerations)
      msgs += s"$maxGens live generations (policy ${policy.maxGenerations})"
    if (segs > 2 * policy.maxTombstoneSegments)
      msgs += s"$segs tombstone segments (policy ${policy.maxTombstoneSegments})"
    msgs.result().foreach(m => log.warn(
      s"index $indexDir is past 2x its maintenance threshold: $m — " +
        "run the compaction trigger (maintainIfNeeded)"))
  }
}
