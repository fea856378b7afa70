package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 registers a [[QueryDef]]
  * in one of the `graft.queries.*Queries` objects; this object is just
  * the aggregation point the driver calls.
  */
object SparkEntry {

  /** All declared queries, in registration order. */
  def allDefs: Seq[QueryDef] =
    CoreQueries.defs ++ FunctionQueries.defs ++ OperatorQueries.defs ++
      IdentityQueries.defs ++ UpsertQueries.defs ++ ReportingQueries.defs ++
      TextQueries.defs ++ VectorQueries.defs ++ PipelineQueries.defs ++
      ExtraQueries.defs ++ SourceQueries.defs ++ TemporalQueries.defs ++
      SqlSurfaceQueries.defs ++ HeadlineQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_join_dims")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. A
    * DEFERRED oracle whose query has not run yet (see QueryDef) is
    * omitted here too — [[Verify]] forces thunks itself, after running
    * the queries, with per-entry failure sentinels. */
  def oracleSql: Map[String, String] =
    allDefs.flatMap(q =>
      try q.oracle.map(q.name -> _)
      catch { case _: Throwable => None }).toMap

  /** Declared reason for every def that ships WITHOUT an oracle —
    * self-explaining gates (Verify dumps these as oracle_reasons.json
    * next to oracle_sql.json). Empty map = every query is oracled. */
  def oracleReasons: Map[String, String] =
    allDefs.filter(_.oracleThunk.isEmpty)
      .map(q => q.name -> q.reason.getOrElse("undeclared")).toMap
}
