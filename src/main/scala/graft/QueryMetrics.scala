package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLongArray

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The engine's one Spark listener: cumulative job, stage and task
  * counters for a SparkContext, read as per-run deltas by
  * [[QueryMetrics.measure]]. `Bench`, `BenchScale`, `StressSkew` and
  * `tools.Profile` all measure through it, so a counter means the same
  * thing in every artifact.
  *
  * Install with [[QueryMetrics.install]]: a second install on the same
  * context returns the listener already registered, so nothing is
  * counted twice. Runs are measured one at a time; jobs that other
  * threads run during a measured run are counted into it.
  */
final class QueryMetrics private (private val sc: SparkContext) extends SparkListener {
  import QueryMetrics._

  private val totals = new AtomicLongArray(NCounters)
  // call sites are kept only while a run is open, so an installed
  // listener holds no per-job state between runs
  @volatile private var sites: ConcurrentLinkedQueue[JobSite] = null

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    totals.incrementAndGet(Jobs)
    val open = sites
    if (open != null) {
      // the result stage (highest id) is named after the job's call site
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("?")
      open.add(JobSite(e.jobId, e.stageInfos.size, site))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    totals.incrementAndGet(Stages)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    totals.incrementAndGet(Tasks)
    val m = e.taskMetrics
    if (m != null) {
      totals.addAndGet(TaskRunMs, m.executorRunTime)
      totals.addAndGet(TaskCpuNs, m.executorCpuTime)
      totals.addAndGet(ShuffleRead, m.shuffleReadMetrics.totalBytesRead)
      totals.addAndGet(ShuffleWrite, m.shuffleWriteMetrics.bytesWritten)
      totals.addAndGet(FetchWaitMs, m.shuffleReadMetrics.fetchWaitTime)
      totals.addAndGet(Input, m.inputMetrics.bytesRead)
      totals.addAndGet(MemSpill, m.memoryBytesSpilled)
      totals.addAndGet(DiskSpill, m.diskBytesSpilled)
    }
  }

  private def snapshot(): Array[Long] = {
    val s = Array.tabulate(NCounters)(totals.get)
    s(GcMs) = jvmGcMillis()
    s(Compilations) = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    s
  }

  /** Run `body` and return its result with the counters it moved. The
    * listener bus is drained before and after, so no event of an
    * earlier run lands in this one and none of this run's is left for
    * the next. The wall covers `body` alone. An exception from `body`
    * propagates and the run is not reported. */
  def measure[T](body: => T): (T, Rep) = {
    drain(sc)
    val open = new ConcurrentLinkedQueue[JobSite]()
    sites = open
    try {
      val before = snapshot()
      val t0 = System.nanoTime()
      val result = body
      val wallS = (System.nanoTime() - t0) / 1e9
      drain(sc)
      val after = snapshot()
      val d = Array.tabulate(NCounters)(i => after(i) - before(i))
      (result, Rep(wallS, d(Jobs), d(Stages), d(Tasks), d(TaskRunMs), d(TaskCpuNs),
        d(ShuffleRead), d(ShuffleWrite), d(FetchWaitMs), d(Input), d(MemSpill),
        d(DiskSpill), d(GcMs), d(Compilations), open.asScala.toVector))
    } finally sites = null
  }
}

object QueryMetrics {

  /** One Spark job of a measured run: its id, the number of stages it
    * planned (skipped ones included) and its call site. */
  final case class JobSite(jobId: Int, stages: Int, callSite: String)

  /** The counters one measured run moved. Task fields are sums over
    * the run's finished tasks; `gcMs` (collector time) and
    * `compilations` (generated-class compilations, i.e. codegen cache
    * misses) are whole-JVM deltas, which in local mode cover the
    * driver and every executor thread. */
  final case class Rep(
      wallS: Double,
      jobs: Long,
      stages: Long,
      tasks: Long,
      taskRunMs: Long,
      taskCpuNs: Long,
      shuffleReadBytes: Long,
      shuffleWriteBytes: Long,
      fetchWaitMs: Long,
      inputBytes: Long,
      memSpillBytes: Long,
      diskSpillBytes: Long,
      gcMs: Long,
      compilations: Long,
      jobSites: Seq[JobSite]) {
    /** Average number of cores the run kept busy: task run time over
      * wall. Far below the core count means the driver bounds the run. */
    def avgPar: Double = if (wallS > 0) taskRunMs / 1e3 / wallS else 0.0
  }

  private val Jobs = 0
  private val Stages = 1
  private val Tasks = 2
  private val TaskRunMs = 3
  private val TaskCpuNs = 4
  private val ShuffleRead = 5
  private val ShuffleWrite = 6
  private val FetchWaitMs = 7
  private val Input = 8
  private val MemSpill = 9
  private val DiskSpill = 10
  private val GcMs = 11
  private val Compilations = 12
  private val NCounters = 13

  @volatile private var installed: QueryMetrics = null

  /** The listener registered on `spark`'s context, registering it on
    * first use (and again after the context is replaced). */
  def install(spark: SparkSession): QueryMetrics = synchronized {
    val sc = spark.sparkContext
    if (installed == null || (installed.sc ne sc)) {
      installed = new QueryMetrics(sc)
      sc.addSparkListener(installed)
    }
    installed
  }

  private def jvmGcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum

  /** Drain the async listener bus: `onTaskEnd` events are delivered
    * asynchronously, so without a drain the tail of one run's events
    * lands in the next run's deltas. `SparkContext.listenerBus` is
    * `private[spark]`, which compiles to a public JVM method, so plain
    * reflection reaches it; `waitUntilEmpty(timeout)` returns as soon
    * as the bus is idle (usually <1 ms). Falls back to a short sleep
    * if the internal shape ever changes or the drain times out,
    * logging once so a reflection regression is visible. Fatal errors
    * propagate; an interrupt is re-flagged, not swallowed. */
  def drain(spark: SparkSession): Unit = drain(spark.sparkContext)

  @volatile private var drainFallbackLogged = false
  private def drain(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      val ms = bus.getClass.getMethods.filter(_.getName == "waitUntilEmpty")
      ms.find(_.getParameterCount == 1) match {
        case Some(m) => m.invoke(bus, java.lang.Long.valueOf(3000L))
        case None => ms.find(_.getParameterCount == 0).foreach(_.invoke(bus))
      }
    } catch {
      case _: InterruptedException => Thread.currentThread().interrupt()
      case scala.util.control.NonFatal(e) =>
        if (!drainFallbackLogged) {
          drainFallbackLogged = true
          System.err.println(s"[metrics] listener-bus drain fell back to sleep(250): $e")
        }
        Thread.sleep(250)
    }
}
