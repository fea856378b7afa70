package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.functions.col

class QueryMetricsSpec extends SparkSpec {

  /** An independent count of the same events, registered by the test. */
  private final class Counts extends SparkListener {
    val jobs, stages, tasks, shuffleWrite, input = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(): Unit }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet(): Unit
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      shuffleWrite.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      input.addAndGet(e.taskMetrics.inputMetrics.bytesRead): Unit
    }
  }

  private def query(): Long =
    Tables.customer(spark, sf0001).groupBy((col("c_custkey") % 7).as("k")).count()
      .join(spark.range(7).withColumnRenamed("id", "k"), "k").collect().length.toLong

  test("counts equal an independent listener's on a fixed query, a call site per job") {
    val m = QueryMetrics.install(spark)
    query() // warm: codegen and footers
    QueryMetrics.drain(spark) // no earlier event may reach the new listener
    val c = new Counts
    spark.sparkContext.addSparkListener(c)
    val (n, r) =
      try m.measure(query())
      finally {
        QueryMetrics.drain(spark)
        spark.sparkContext.removeSparkListener(c)
      }
    assert(n == 7L)
    assert(r.jobs > 0 && r.tasks > 0)
    assert(r.jobs == c.jobs.get && r.stages == c.stages.get && r.tasks == c.tasks.get)
    assert(r.shuffleWriteBytes == c.shuffleWrite.get && r.inputBytes == c.input.get)
    assert(r.inputBytes > 0 && r.shuffleWriteBytes > 0)
    assert(r.jobSites.map(_.jobId) == r.jobSites.map(_.jobId).sorted.distinct)
    assert(r.jobSites.size == r.jobs && r.jobSites.forall(_.callSite.contains(" at ")))
  }

  test("installing twice registers one listener and counts nothing twice") {
    val m = QueryMetrics.install(spark)
    assert(QueryMetrics.install(spark) eq m)
    QueryMetrics.drain(spark) // no earlier event may reach the new listener
    val c = new Counts
    spark.sparkContext.addSparkListener(c)
    val (_, r) =
      try m.measure(spark.range(1000).selectExpr("sum(id)").collect())
      finally {
        QueryMetrics.drain(spark)
        spark.sparkContext.removeSparkListener(c)
      }
    assert(r.jobs == c.jobs.get && r.tasks == c.tasks.get)
    assert(r.jobs >= 1)
  }

  test("a Profile run of q_identity_incremental reports nonzero jobs and tasks") {
    val lines = Seq.newBuilder[String]
    tools.Profile.run(spark, sf0001, Seq("q_identity_incremental"))(lines += _)
    val out = lines.result()
    val header = out.head.split(",")
    val rows = out.filter(_.startsWith("q_identity_incremental,")).map(_.split(","))
      .filter(_.length == header.length)
    assert(rows.map(_(1)) == "warm" +: (1 to tools.Profile.Reps).map(_.toString),
      out.mkString("\n"))
    val rep = header.zip(rows(1)).toMap
    assert(rep("jobs").toInt > 0 && rep("tasks").toInt > 0, out.mkString("\n"))
    // the call-site table lists rep 1's jobs, one line each
    val sites = out.dropWhile(_ != "query,job,stages,call_site").drop(1)
    assert(sites.size == rep("jobs").toInt, out.mkString("\n"))
  }
}
