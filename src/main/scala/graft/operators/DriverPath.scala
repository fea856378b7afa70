package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.types.{DataType, StructType}

/** The plumbing of the operators' driver paths: a small batch is read
  * with one bounded collect, computed in Scala with Spark's own
  * expressions and orderings, and handed back as a local relation
  * under the schema of the distributed plan it stands in for (taken
  * from that plan's analysis, never executed). On a bulk-synchronous
  * engine the fixed cost per job, not the data, bounds small-batch
  * latency; the distributed plan stays for everything above the bound.
  * Used by [[IdentityResolver]] and [[Dedup.incrementalMinhashDedup]]. */
private[graft] object DriverPath {

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
