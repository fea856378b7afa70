package org.apache.spark.sql.graftbridge

import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** Minimal accessor for Spark's `private[sql]` Column ↔ Expression
  * bridge, needed to expose custom Catalyst expressions as `Column`s
  * (the supported spark-4 path; `new Column(expr)` was removed), for
  * session cloning, and for writing a local relation from the driver. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A session sharing `s`'s SparkContext with its own copy of `s`'s
    * SQL conf, temp views and functions: a conf set on the clone is
    * invisible to `s` and to every other session. */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Write the rows of `df`, whose optimized plan is a local relation,
    * as ONE parquet file in `dir` (which must exist), from the calling
    * thread: Spark's own parquet output writer, prepared exactly as a
    * `df.write.parquet` task prepares it (session conf, codec, the
    * schema footer key), but no job, no output committer and no
    * `_temporary` dir — the file is created at its final name. The
    * name has `df.write`'s shape. On failure the partial file is
    * removed and the error rethrown. Returns the file's path. */
  def writeLocalParquet(df: DataFrame, dir: String): String = {
    val rows: Seq[InternalRow] = df.queryExecution.optimizedPlan match {
      case l: LocalRelation => l.data
      case other => throw new IllegalArgumentException(
        s"writeLocalParquet needs a local relation, got ${other.nodeName}")
    }
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val schema = df.schema
    val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(Map.empty))
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val jobId = new JobID(
      new java.text.SimpleDateFormat("yyyyMMddHHmmss", java.util.Locale.US)
        .format(new java.util.Date), 0)
    val attempt = new TaskAttemptID(new TaskID(jobId, TaskType.MAP, 0), 0)
    val conf = job.getConfiguration
    conf.set("mapreduce.job.id", jobId.toString)
    conf.set("mapreduce.task.id", attempt.getTaskID.toString)
    conf.set("mapreduce.task.attempt.id", attempt.toString)
    conf.setBoolean("mapreduce.task.ismap", true)
    conf.setInt("mapreduce.task.partition", 0)
    val ctx = new TaskAttemptContextImpl(conf, attempt)
    val file = s"${dir.stripSuffix("/")}/part-00000-${java.util.UUID.randomUUID()}-c000" +
      factory.getFileExtension(ctx)
    val writer = factory.newInstance(file, schema, ctx)
    try {
      rows.foreach(writer.write)
      writer.close()
    } catch {
      case t: Throwable =>
        try writer.close() catch { case s: Throwable => t.addSuppressed(s) }
        val path = new org.apache.hadoop.fs.Path(file)
        try path.getFileSystem(conf).delete(path, false): Unit
        catch { case s: Throwable => t.addSuppressed(s) }
        throw t
    }
    file
  }
}
