package graft.tools

import org.apache.spark.sql.SparkSession

import graft.{Bench, GraftSession, QueryMetrics, SparkEntry, Tables}

/** Per-rep counters for named queries, measured the way `Bench` runs
  * them: one warm run, then [[Reps]] timed reps, with cached plans and
  * persisted RDDs released after every run.
  *
  * Prints, on stdout, one CSV row per run (the warm run included, so
  * its `compilations` column shows the cold codegen cost) and then the
  * per-job call-site table of each query's first timed rep. Jobs,
  * stages, tasks and bytes do not depend on host noise, which makes
  * them the before/after evidence for job-count and shuffle changes;
  * `avg_par` far below the core count marks a driver-bound query.
  *
  * Usage: `runMain graft.tools.Profile q_a q_b …`, reading
  * `SPARK_GRAFT_SF_DIR` (required) and `SPARK_GRAFT_CPUS` as `Bench`
  * does, and `SPARK_GRAFT_EXTRA_CONF="k=v;k=v"` for session settings
  * to A/B without an edit (for example
  * `spark.sql.adaptive.coalescePartitions.initialPartitionNum=256`).
  */
object Profile {

  val Reps = 3

  private val header = "query,rep,wall_s,jobs,stages,tasks,task_run_s,task_cpu_s," +
    "avg_par,shuffle_read_mb,shuffle_write_mb,fetch_wait_s,input_mb,spill_mem_mb," +
    "spill_disk_mb,gc_s,compilations"

  private def row(query: String, rep: String, r: QueryMetrics.Rep): String = {
    def mb(b: Long) = "%.1f".formatLocal(java.util.Locale.ROOT, b / 1048576.0)
    def f(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    Seq(query, rep, f(r.wallS), r.jobs, r.stages, r.tasks, f(r.taskRunMs / 1e3),
      f(r.taskCpuNs / 1e9), f(r.avgPar), mb(r.shuffleReadBytes), mb(r.shuffleWriteBytes),
      f(r.fetchWaitMs / 1e3), mb(r.inputBytes), mb(r.memSpillBytes), mb(r.diskSpillBytes),
      f(r.gcMs / 1e3), r.compilations).mkString(",")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("Profile: set SPARK_GRAFT_SF_DIR to a generated sf dir"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.split("=", 2))
      .collect { case Array(k, v) => (k.trim, v.trim) }
    val spark = extra.foldLeft(GraftSession.configure(
        SparkSession.builder().master(s"local[$cpus]"), cpus)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, sfDir, args.toSeq)(println) finally spark.stop()
  }

  /** Profile `queries` on `spark`, handing each output line to `out`. */
  def run(spark: SparkSession, sfDir: String, queries: Seq[String])(
      out: String => Unit): Unit = {
    val byName = SparkEntry.allDefs.map(q => q.name -> q).toMap
    val unknown = queries.filterNot(byName.contains)
    require(queries.nonEmpty && unknown.isEmpty,
      s"usage: Profile <query…> (unknown: ${unknown.mkString(", ")})")
    val metrics = QueryMetrics.install(spark)
    Tables.lineitem(spark, sfDir).count() // session warm-up, as in Bench

    out(header)
    val sites = queries.flatMap { name =>
      val q = byName(name)
      val runs = ("warm" +: (1 to Reps).map(_.toString)).iterator.map { label =>
        val (ok, r) = metrics.measure {
          try { q.fn(spark, sfDir).count(); true }
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[profile] FAILED $name: $e"); false }
        }
        Bench.releaseState(spark)
        out(if (ok) row(name, label, r) else s"$name,$label,FAILED")
        (ok, r)
      }.takeWhile(_._1).map(_._2).toVector
      runs.lift(1).toSeq.flatMap(_.jobSites.map(name -> _))
    }
    out("")
    out("query,job,stages,call_site")
    sites.foreach { case (name, j) => out(s"$name,${j.jobId},${j.stages},${j.callSite}") }
  }
}
