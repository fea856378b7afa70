package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, StructType}

/** The plumbing of the operators' driver paths: a small batch is read
  * with one bounded collect, computed in Scala with Spark's own
  * expressions and orderings, and handed back as a local relation
  * under the schema of the distributed plan it stands in for (taken
  * from that plan's analysis, never executed). On a bulk-synchronous
  * engine the fixed cost per job, not the data, bounds small-batch
  * latency; the distributed plan stays for everything above the bound.
  * Used by [[IdentityResolver]], [[IncrementalIdentity]] (a registry
  * whose two members' files total at most [[DriverStoreBytes]] is read
  * on the driver), [[Dedup.incrementalMinhashDedup]], and in
  * [[graft.sources.Sources]] by the snapshot publishes, the merge-table
  * publish (`publishMergePartitioned`: a batch of at most
  * [[DriverBatchRows]] rows against touched partitions of at most
  * [[DriverMergeBytes]] file bytes merges in Scala and is written from
  * the driver), the key index (`indexBatchKeys`: un-indexed dirs of at
  * most [[DriverStoreBytes]] file bytes are read and their bloom
  * filters built on the driver) and the row-level change feed
  * (`processMergeRowChangesWithDeletes`: changed and old entry files of
  * at most [[DriverMergeBytes]] are read and diffed on the driver).
  * Every one of these reads of files is `Sources.scanOnDriver`: Spark's
  * own parquet reader run on the calling thread, its rows handed on as
  * Catalyst rows ([[localRelation]]). */
private[graft] object DriverPath {

  /** Largest stored table, in plan-stats bytes, that a driver path
    * reads onto the driver or writes from it: the incremental dedup
    * signature store, the identity registry's two members together,
    * and a local-relation member of a snapshot publish. Never above
    * [[Dedup.MinhashSigBroadcastBytes]]: under that bound the
    * distributed dedup plan broadcasts the whole store anyway, so the
    * driver already holds it once per batch. Measured at the bound
    * (31k signatures, same file): a 200-document shard took 2.3–2.6 s
    * on the driver against 5.1–6.8 s distributed, most of it the store
    * scan (SCALING.md, round 22). The key index applies it to the
    * un-indexed dirs' parquet file bytes: at the bound it builds in
    * 0.10–0.13 s against 0.59–0.76 s for its job
    * (plans/r26/driver_bounds_at_b_and_s.txt). */
  val DriverStoreBytes: Long = math.min(16L * 1024 * 1024, Dedup.MinhashSigBroadcastBytes)

  /** Largest parquet file bytes of the touched partitions that a
    * merge-table publish reads onto the driver, merges there and writes
    * back from it. Half of [[DriverStoreBytes]]: the one touched
    * partition is written by one writer on either path, and the driver
    * adds a single-threaded read, row conversions and merge that grow
    * with the partition while the job's fixed cost does not. For a
    * 300-row batch into one partition the driver path took 0.53–0.68 s
    * against 0.72–0.77 s at 8 MiB, 0.76–0.99 s against 0.96–1.16 s at
    * 12 MiB, and at 16 MiB from 10% faster to 30% slower across two
    * runs (plans/r26/merge_crossover.txt). The row-level change feed
    * applies it to the changed and old files it diffs on the driver:
    * delivering a 300-row change of one fragment-shaped partition took
    * 0.26–0.32 s against 0.40–0.47 s distributed with 8 MiB of such
    * files, and 0.67–0.90 s against 0.70–0.94 s (the driver's median
    * the slower) with 16 MiB (plans/r28/feed_bound_at_s.txt). */
  val DriverMergeBytes: Long = DriverStoreBytes / 2

  /** Largest incoming batch, in rows, that a driver path collects: the
    * identity resolve's candidates ([[IdentityResolver]]'s header says
    * why this value) and a merge-table publish's incoming rows. */
  val DriverBatchRows: Int = 10000

  /** Plan-stats size of `df`; unknown counts as unbounded. A file scan
    * reports its files' bytes; a local relation its rows times Spark's
    * default row width. */
  def planBytes(df: DataFrame): BigInt =
    try df.queryExecution.optimizedPlan.stats.sizeInBytes
    catch { case _: Throwable => BigInt(Long.MaxValue) }

  /** Whether `dfs` together fit [[DriverStoreBytes]]. */
  def fits(dfs: DataFrame*): Boolean =
    dfs.map(planBytes).sum <= BigInt(DriverStoreBytes)

  /** The frame's rows when it holds at most `limit` (Right), else the
    * frame itself (Left). A local relation is read in place, with no
    * job; any other plan costs one bounded collect — one task over one
    * coalesced partition that stops after `limit`+1 rows. The probe
    * does not checkpoint: a lazy local checkpoint that a job computes
    * only in part runs a second job to finish it, which above the
    * bound would double the probe's cost. */
  def batchRows(df: DataFrame, limit: Int): Either[DataFrame, Array[Row]] = {
    val rows =
      if (isLocal(df)) df.collect()
      else df.coalesce(1).limit(limit + 1).collect()
    if (rows.length <= limit) Right(rows) else Left(df)
  }

  /** True when the frame's optimized plan is a local relation: its
    * rows are on the driver and collecting them runs no job. */
  def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** `rows`, Catalyst rows of `schema` read on the driver, as a local
    * relation built straight from them (`Bridge.localRelation`): no
    * job, and [[localRows]] converts them to external rows once, when
    * first asked. */
  def localRelation(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame = {
    val df = Bridge.localRelation(spark, schema, rows)
    converted.put(df, new External(schema, rows))
    df
  }

  /** The rows of a local relation, as `collect()` returns them: those
    * of a frame [[localRelation]] made are converted once and kept,
    * any other's are collected (no job). A driver path that filters a
    * large local relation — a registry member — in Scala skips Spark's
    * per-query conversions of every row. */
  def localRows(df: DataFrame): Array[Row] =
    Option(converted.get(df)).fold(df.collect())(_.rows)

  private final class External(schema: StructType, data: Seq[InternalRow]) {
    lazy val rows: Array[Row] = {
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      data.iterator.map(toRow(_).asInstanceOf[Row]).toArray
    }
  }

  // frames are immutable, so their rows can be kept for as long as the
  // frame is reachable; keyed by identity (Dataset keeps Object.equals)
  private val converted = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, External]())

  /** Spark's cast from `from` to `to` over external values (what a
    * union or a conditional inserts when it widens a column), the
    * identity when the types are equal. */
  def castTo(from: DataType, to: DataType): Any => Any =
    if (from == to) identity
    else {
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(from)
      val toScala = CatalystTypeConverters.createToScalaConverter(to)
      val tz = Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
      v => if (v == null) null
           else toScala(Cast(Literal(toCatalyst(v), from), to, tz).eval())
    }

  /** The schema `plan` analyzes to, kept by `key`: a driver path that
    * answers under a distributed plan's schema builds and analyzes that
    * plan (tens of frames) for its schema alone, which costs more than
    * the micro-batch itself. The schema is a function of the input
    * schemas, so `key` must carry every one of them. */
  def schemaOf(key: Any)(plan: => StructType): StructType =
    schemas.computeIfAbsent(key, _ => plan)

  private val schemas = new java.util.concurrent.ConcurrentHashMap[Any, StructType]()

  /** `rows` as a local relation under `schema`. */
  def localFrame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** Spark's ascending order (nulls first) over external values of `dt`. */
  def sparkOrdering(dt: DataType): Ordering[Any] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    val ord = PhysicalDataType.ordering(dt)
    new Ordering[Any] {
      def compare(a: Any, b: Any): Int =
        if (a == null) { if (b == null) 0 else -1 }
        else if (b == null) 1
        else ord.compare(toCatalyst(a), toCatalyst(b))
    }
  }
}
