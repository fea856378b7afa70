package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call into the engine. `op` is the harness's operation
  * index (-1 during set-up); counters are what the span itself saw,
  * children excluded. */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
    val startNs: Long, val startMs: Long) {
  var endNs: Long = 0L
  var endMs: Long = 0L
  val fs: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  var writtenBytes: Long = 0L
  var planningMs: Double = 0.0
  var filesRead: Long = 0L
  val scanRoots: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  val extras: mutable.Map[String, Double] = mutable.Map.empty
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** Outside-in tracer. Disabled, `span` only runs its body. Enabled, it
  * records a span per public engine call and ties Spark and filesystem
  * counters to it:
  *  - jobs carry the open span's id as a local property, so a job
  *    belongs to exactly one span;
  *  - stage task metrics roll up to the job that first ran the stage;
  *  - query-execution callbacks (planning time, scan files) and
  *    filesystem counter deltas are drained at every span boundary and
  *    belong to the innermost span open in the interval just closed. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val PropKey = "perfbench.span"
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val stack = mutable.Stack[Span]()
  var op: Int = -1

  final case class Job(id: Int, span: Int, startMs: Long, var endMs: Long,
      callSite: String, stages: Seq[Int])
  final case class StageM(var runMs: Long = 0, var cpuNs: Long = 0, var gcMs: Long = 0,
      var shuffleWrite: Long = 0, var spillDisk: Long = 0)
  private final case class QeEvent(planningMs: Double, files: Long, roots: Seq[String])

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageM]()
  private val qeEvents = new ConcurrentLinkedQueue[QeEvent]()
  private var lastFs = FsCounters.snapshot()
  private var lastWritten = 0L

  private def writtenNow(): Long =
    FileSystem.getStatistics("file", classOf[CountingRawLocalFileSystem]).getBytesWritten

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        val span = p.flatMap(x => Option(x.getProperty(PropKey))).map(_.toInt).getOrElse(-1)
        // the result stage is named after the job's call site
        val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
        jobs.put(e.jobId, Job(e.jobId, span, e.time, e.time, site, e.stageIds))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          val s = stages.computeIfAbsent(e.stageInfo.stageId, _ => StageM())
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spillDisk += m.diskBytesSpilled
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qeEvents.add(summarize(qe))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        qeEvents.add(summarize(qe))
    })
    lastWritten = writtenNow()
  }

  private def summarize(qe: QueryExecution): QeEvent = {
    val planning = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    val scans = try nodes(qe.executedPlan).collect { case s: FileSourceScanExec => s }
                catch { case scala.util.control.NonFatal(_) => Nil }
    val files = scans.flatMap(_.metrics.get("numFiles").map(_.value)).sum
    val roots = scans.flatMap(s =>
      try s.relation.location.rootPaths.map(_.toString)
      catch { case scala.util.control.NonFatal(_) => Nil })
    QeEvent(planning, files, roots)
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Deliver everything since the last boundary to the innermost open span. */
  private def boundary(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    val fsNow = FsCounters.snapshot()
    val wNow = writtenNow()
    val target = stack.headOption
    target.foreach { s =>
      fsNow.foreach { case (k, v) => s.fs(k) += v - lastFs(k) }
      s.writtenBytes += wNow - lastWritten
    }
    var e = qeEvents.poll()
    while (e != null) {
      target.foreach { s =>
        s.planningMs += e.planningMs
        s.filesRead += e.files
        s.scanRoots ++= e.roots
      }
      e = qeEvents.poll()
    }
    lastFs = fsNow
    lastWritten = wNow
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      boundary()
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), op,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack.push(s)
      val sc = spark.sparkContext
      sc.setLocalProperty(PropKey, s.id.toString)
      try body
      finally {
        boundary()
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack.pop()
        sc.setLocalProperty(PropKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** The most recent span of `name`, for facets the harness adds. */
  def last(name: String): Option[Span] = spans.reverseIterator.find(_.name == name)

  private def jobsOf(s: Span): Seq[Job] = jobs.values.asScala.filter(_.span == s.id).toSeq

  /** Every facet of one span. */
  /** Stage id -> the first job that ran it (read once the run is over). */
  private lazy val firstJobOfStage: Map[Int, Int] = jobs.values.asScala.toSeq.sortBy(_.id)
    .flatMap(j => j.stages.map(_ -> j.id)).groupMapReduce(_._1)(_._2)((a, _) => a)

  def facets(s: Span): Map[String, Double] = {
    val js = jobsOf(s).sortBy(_.id)
    val mine = js.flatMap(j => j.stages.filter(st => firstJobOfStage.get(st).contains(j.id)))
    val sm = mine.flatMap(st => Option(stages.get(st)))
    // wall not covered by any job of this span: planning + driver-side protocol
    val covered = js.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, hi), (a, b)) =>
        if (a >= hi) (acc + (b - a), b)
        else if (b > hi) (acc + (b - hi), b)
        else (acc, hi)
      }._1
    val taskS = sm.map(_.runMs).sum / 1e3
    Map(
      "wall_ms" -> s.wallMs,
      "jobs" -> js.size.toDouble,
      "driver_ms" -> math.max(0.0, s.wallMs - covered),
      "planning_ms" -> s.planningMs,
      "task_s" -> taskS,
      "cpu_s" -> sm.map(_.cpuNs).sum / 1e9,
      "avg_par" -> (if (s.wallMs > 0) taskS / (s.wallMs / 1e3) else 0.0),
      "shuffle_mb" -> sm.map(_.shuffleWrite).sum / 1e6,
      "spill_mb" -> sm.map(_.spillDisk).sum / 1e6,
      "gc_s" -> sm.map(_.gcMs).sum / 1e3,
      "fs_ops" -> s.fs.values.sum.toDouble,
      "written_mb" -> s.writtenBytes / 1e6,
      "files_read" -> s.filesRead.toDouble) ++ s.extras
  }

  /** Jobs of a span, counted by the source file in their call site (a
    * Java file for jobs started from a helper thread, such as a broadcast). */
  def jobsBySource(s: Span): Map[String, Int] =
    jobsOf(s).map { j =>
      val m = """at (\S+\.(?:scala|java)):\d+""".r.findFirstMatchIn(j.callSite)
      m.map(_.group(1)).getOrElse("other")
    }.groupMapReduce(identity)(_ => 1)(_ + _)
}
