package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loader for the driver's synthetic testdata layout
  * (`<sfDir>/<table>.parquet`, see TESTDATA.md).
  *
  * Kept deliberately thin: `spark.read.parquet` gives Catalyst full
  * pushdown/pruning; callers filter/select on the returned DataFrame and
  * the scan only reads what the plan needs.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame =
    spark.read.parquet(s"$sfDir/$table.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")

  /** `events.ts` has shipped in two parquet layouts across testdata
    * generations: INT64 TIMESTAMP(NANOS) — which Spark's vectorized
    * reader rejects, so it is read as raw nanos and truncated to
    * microseconds (exactly what DuckDB does when casting ns → µs) —
    * and native microsecond TIMESTAMP(_NTZ). Branch on the loaded
    * type so every layout presents the same engine-facing schema:
    * `ts` as TIMESTAMP (session time zone is pinned to UTC, so the
    * NTZ → TZ cast is value-preserving). */
  def events(s: SparkSession, d: String): DataFrame = normalizeEventTs(rawEvents(s, d))

  /** The nanos layout reads as raw longs under
    * `spark.sql.legacy.parquet.nanosAsLong`, which
    * [[GraftSession.configure]] sets. */
  private def rawEvents(s: SparkSession, d: String): DataFrame = load(s, d, "events")

  private def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _                => df
    }
  }

  /** Incremental pull ("Modified > last_sync", the LabKey-style sync
    * in docs/data-flow.md) planned against the PHYSICAL events
    * layout: the since-filter must reach the parquet scan as a pushed
    * filter (row-group statistics pruning — at 100 TB an unpushed
    * "since last sync" reads every row group). In the INT64-nanos
    * layout only the raw long column takes a pushed filter (a
    * predicate on the derived timestamp wraps it in
    * `timestamp_micros(... div 1000)`); in the native layout the
    * timestamp column itself does, provided the comparison happens
    * BEFORE the NTZ → TZ cast. Output: [[events]]' columns plus the
    * epoch-nanos long `ts_ns`. */
  def eventsSince(s: SparkSession, d: String, lastSync: java.sql.Timestamp): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = rawEvents(s, d)
    raw.schema("ts").dataType match {
      case LongType =>
        val ns = lastSync.getTime * 1000000L + lastSync.getNanos % 1000000L
        normalizeEventTs(raw.withColumn("ts_ns", col("ts")).filter(col("ts_ns") > lit(ns)))
      case TimestampNTZType =>
        normalizeEventTs(raw.filter(col("ts") > lit(lastSync.toLocalDateTime)))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
      case _ =>
        normalizeEventTs(raw.filter(col("ts") > lit(lastSync)))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
