package graft

import org.apache.spark.sql.DataFrame

import graft.operators.DriverPath

/** Differential harness for an operator's driver path against its
  * distributed path: the driver path must return the distributed
  * path's rows under the same schema (types and nullability) as a local
  * relation, and above its bound route to the distributed path at a
  * known number of extra jobs. */
trait DriverPathHarness extends SparkSpec {

  def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  def assertSameFrame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema, s"${got.schema.treeString} vs ${want.schema.treeString}")
    assert(rowsOf(got) == rowsOf(want))
  }

  def assertOnDriver(df: DataFrame, what: String = "the driver path"): Unit =
    assert(DriverPath.isLocal(df), s"$what did not run")

  /** `body`'s result and the jobs it ran. */
  def measured[T](body: => T): (T, QueryMetrics.Rep) =
    QueryMetrics.install(spark).measure(body)

  def assertExtraJobs(routed: QueryMetrics.Rep, distributed: QueryMetrics.Rep,
      extra: Int): Unit =
    assert(routed.jobs == distributed.jobs + extra,
      s"${routed.jobSites.mkString("\n")}\nvs\n${distributed.jobSites.mkString("\n")}")
}
