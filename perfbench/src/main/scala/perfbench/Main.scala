package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark harness: one JVM, one client thread, one closed loop.
  *
  *   Main --workload W --in DIR --work DIR --out FILE --seconds S
  *        --trace 0|1 --gen-seconds G --gen-cpu-seconds C [--corrupt 1]
  *
  * `--in` holds the generator's inputs and truth.json for W. The harness
  * seeds the workload's tables under `--work`, warms up, then runs the
  * closed loop, its fixed iterations and then more until S seconds have
  * passed, checking every output against the truth, and writes one JSON
  * artifact to `--out`. With
  * `--corrupt 1` every engine output is altered before its check, so
  * every check must fail: the negative test of the checks themselves. */
object Main {

  final case class Args(workload: String, in: String, work: String, out: String,
      seconds: Int, trace: Boolean, genSeconds: Double, genCpuSeconds: Double,
      seed: Long, corrupt: Boolean)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("in"), m("work"), m("out"), m("seconds").toInt,
      m.getOrElse("trace", "0") == "1",
      m.getOrElse("gen-seconds", "0").toDouble, m.getOrElse("gen-cpu-seconds", "0").toDouble,
      m.getOrElse("seed", "0").toLong,
      m.getOrElse("corrupt", "0") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    val work = new File(a.work).getAbsoluteFile
    Files.createDirectories(work.toPath)
    val builder = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      // containment only: every byte Spark writes stays under --work
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toURI.toString)
    if (a.trace)
      builder
        .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
        .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[CountingLocalFs].getName)
    val spark = GraftSession.configure(builder, cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sessionJitS = Stats.jitCpuS()
    val sessionCpuS = Stats.processCpuS() - sessionJitS

    val runId = s"${a.workload}-${a.seed}-${if (a.trace) "traced" else "untraced"}-" +
      java.util.UUID.randomUUID().toString.take(8)
    val tracer = new Tracer(spark, a.trace)
    val truth = new ObjectMapper().readTree(new File(a.in, "truth.json"))
    val ctx = new Ctx(spark, tracer, a.in, truth, a.corrupt)
    val wl: Workload = a.workload match {
      case "ingest_cycles" => new IngestCycles(ctx)
      case "validate_load" => new ValidateLoad(ctx)
      case "dedup_corpus" => new DedupCorpus(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    val (_, seeding) = Stats.timed(wl.seed(new File(work, "tables").getAbsolutePath))
    val (_, warm) = Stats.timed(wl.warmUp())
    val cpu0 = Stats.cpuTicks()
    val loopStart = System.nanoTime()
    wl.loop(loopStart + a.seconds * 1000000000L)
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val cpu1 = Stats.cpuTicks()

    val e2e = mutable.LinkedHashMap[String, Double]()
    // set-up: generation + session start + seeding + warm-up, as wall
    // seconds and as CPU seconds (generator + this process, JIT excluded)
    e2e("setup_wall_s") = a.genSeconds + sessionS + seeding.wall + warm.wall
    e2e("setup_s") = a.genCpuSeconds + sessionCpuS + seeding.cpu + warm.cpu
    e2e("fail_frac") = ctx.failed.toDouble / math.max(1, ctx.attempted)
    e2e("peak_rss_mb") = peakRssMb()
    val op = wl.op
    val (workOps, units) = wl.work
    e2e("op_p50_s") = Stats.median(op.wall)
    e2e("op_cpu_s") = Stats.median(op.cpu)
    e2e("op_wall_nosteal_s") = Stats.median(op.wallNoSteal)
    e2e("work_per_s") = units / Stats.median(workOps.wall)
    e2e("work_per_cpu_s") = units / Stats.median(workOps.cpu)
    e2e("work_per_wall_nosteal_s") = units / Stats.median(workOps.wallNoSteal)
    e2e ++= wl.endToEnd()

    val layers = mutable.LinkedHashMap[String, Double]()
    val bySource = mutable.LinkedHashMap[String, Any]()
    if (a.trace) {
      for (name <- wl.spanNames) {
        val calls = tracer.spans.filter(s => s.name == name && s.op >= 0 && s.op < wl.fixedOps)
        val fs = calls.map(tracer.facets)
        for (facet <- fs.flatMap(_.keys).distinct.sorted)
          layers(s"$name.$facet") = Stats.median(fs.map(_.getOrElse(facet, 0.0)))
        bySource(name) = calls.map(tracer.jobsBySource)
          .foldLeft(Map.empty[String, Int])((acc, m) =>
            m.foldLeft(acc) { case (x, (k, v)) => x.updated(k, x.getOrElse(k, 0) + v) })
      }
    }

    val rt = Runtime.getRuntime
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace, "run_id" -> runId,
      "host" -> Map(
        "nproc" -> cores, "heap_max_mb" -> rt.maxMemory() / 1048576L,
        "jvm" -> System.getProperty("java.vm.version"), "spark" -> spark.version,
        "hadoop" -> org.apache.hadoop.util.VersionInfo.getVersion,
        "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.arch")}"),
      "inputs" -> (wl.inputs() ++ Map(
        "input_bytes_per_heap" -> wl.inputs().getOrElse("input_bytes", 0L).toString.toDouble /
          rt.maxMemory())),
      "setup" -> Map("gen_s" -> a.genSeconds, "gen_cpu_s" -> a.genCpuSeconds,
        "session_s" -> sessionS, "session_cpu_s" -> sessionCpuS,
        "session_jit_s" -> sessionJitS,
        "seed_s" -> seeding.wall, "seed_cpu_s" -> seeding.cpu, "seed_jit_s" -> seeding.jit,
        "warm_up_s" -> warm.wall, "warm_up_cpu_s" -> warm.cpu, "warm_up_jit_s" -> warm.jit),
      "loop_s" -> loopS,
      // share of the host's CPU time the hypervisor gave to other guests
      // while the loop ran: high values explain slow runs
      "loop_steal_frac" -> Stats.stealFrac(cpu0, cpu1),
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failures" -> ctx.failures.take(20).toSeq,
      "end_to_end" -> e2e.toMap,
      "samples" -> wl.samples(),
      "per_layer" -> layers.toMap)
    if (a.trace) {
      out("fixed_ops") = wl.fixedOps
      out("jobs_by_source") = bySource.toMap
      out("spans") = tracer.spans.map(s => Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "run_id" -> runId, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "facets" -> tracer.facets(s))).toSeq
    }
    Files.write(Paths.get(a.out), Json.write(out.toMap).getBytes("UTF-8"))
    spark.stop()
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** What every workload shares: the session, the tracer, the inputs and
  * the tally of checked operations. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val in: String,
    val truth: JsonNode, val corrupt: Boolean) {
  var attempted = 0
  var failed = 0
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def path(rel: String): String = new File(in, rel).getAbsolutePath

  /** Count one operation; it fails if `check` throws or returns a
    * non-empty list of problems. */
  def checked(what: String)(check: => Seq[String]): Unit = {
    attempted += 1
    val problems =
      try check
      catch { case scala.util.control.NonFatal(e) => Seq(s"threw $e") }
    if (problems.nonEmpty) {
      failed += 1
      failures += s"$what: ${problems.take(3).mkString("; ")}"
    }
  }

  /** Bytes of every generated input file (the truth record excluded). */
  def inputBytes: Long =
    Stats.bytesUnder(new File(in)) - Stats.bytesUnder(new File(in, "truth.json"))
}

trait Workload {
  /** Seed every table this workload needs under `dir`. */
  def seed(dir: String): Unit
  /** One unmeasured, checked operation on the seeded state. */
  def warmUp(): Unit
  /** The closed loop, until `deadlineNs` (System.nanoTime). */
  def loop(deadlineNs: Long): Unit
  /** Workload-specific end-to-end metrics, by their published names. */
  def endToEnd(): Map[String, Double]
  /** The operation behind the shared `op_*` metrics, and the operation
    * and units of work behind `work_per_*` (README.md, "End-to-end
    * metrics"), each from the first `fixedOps` loop iterations only. */
  def op: Series
  def work: (Series, Double)
  def samples(): Map[String, Seq[Double]]
  def inputs(): Map[String, Any]
  /** Span names this workload records. run.py picks which of a span's
    * facets to report. */
  def spanNames: Seq[String]
  /** Loop iterations every run makes, whatever `--seconds` says. The
    * shared end-to-end metrics and the per-layer medians use only these,
    * so two runs (and two commits) measure the same operations and the
    * traced counts repeat. */
  def fixedOps: Int
}

object Stats {
  def median(xs: Iterable[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile (0 for an empty sample). */
  def percentile(xs: Iterable[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.toIndexedSeq.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** The aggregate `cpu` line of /proc/stat (ticks per state), or empty. */
  def cpuTicks(): Seq[Long] =
    try scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+").drop(1).map(_.toLong).toSeq
    catch { case scala.util.control.NonFatal(_) => Nil }

  /** Stolen ticks (the 8th state) over all ticks between two samples. */
  def stealFrac(a: Seq[Long], b: Seq[Long]): Double =
    if (a.size < 8 || b.size < 8) 0.0
    else {
      val d = b.zip(a).map { case (x, y) => x - y }
      val total = d.take(8).sum
      if (total > 0) d(7).toDouble / total else 0.0
    }

  def bytesUnder(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used so far, all threads. */
  def processCpuS(): Double = os.getProcessCpuTime / 1e9

  /** CPU seconds of the JIT compiler threads so far. They compile the
    * JVM's hot code in the background, and for the first minutes of a
    * JVM they use about half of its CPU: JVM warm-up, not engine work.
    * The harness starts the JVM with a fixed set of compiler threads
    * (-XX:-UseDynamicNumberOfCompilerThreads), so none exits and takes
    * its count with it. */
  def jitCpuS(): Double =
    Option(new File("/proc/self/task").listFiles()).toSeq.flatten.map { t =>
      try {
        val name = Files.readString(new File(t, "comm").toPath)
        if (!name.startsWith("C1 Compiler") && !name.startsWith("C2 Compiler")) 0L
        else {
          val stat = Files.readString(new File(t, "stat").toPath)
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          f(11).toLong + f(12).toLong // utime + stime
        }
      } catch { case scala.util.control.NonFatal(_) => 0L }
    }.sum / TicksPerSecond

  /** Run `body`, measuring its wall time, the engine and the JIT CPU
    * time the process spent meanwhile, and the time the hypervisor stole
    * per CPU. */
  def timed[T](body: => T): (T, Timing) = {
    val (c0, j0) = (processCpuS(), jitCpuS())
    val s0 = cpuTicks()
    val t = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - t) / 1e9
    val jit = jitCpuS() - j0
    val cpu = processCpuS() - c0 - jit
    val s1 = cpuTicks()
    val steal = if (s0.size > 7 && s1.size > 7)
      (s1(7) - s0(7)) / TicksPerSecond / Runtime.getRuntime.availableProcessors() else 0.0
    (r, Timing(wall, cpu, jit, steal))
  }

  /** /proc/stat counts in USER_HZ, 100 on Linux. */
  private val TicksPerSecond = 100.0

  /** The highest percentile with at least ten samples beyond it (the
    * median when there are fewer than twenty samples). */
  def tail(xs: Iterable[Double]): Double =
    percentile(xs, math.max(0.5, 1.0 - 10.0 / math.max(1, xs.size)))
}

/** One measured operation: wall seconds, engine and JIT CPU seconds,
  * and seconds stolen by the hypervisor (per CPU) while it ran. */
final case class Timing(wall: Double, cpu: Double, jit: Double, steal: Double)

/** The timings of one kind of operation, in order. */
final class Series {
  private val xs = mutable.ArrayBuffer[Timing]()
  def +=(t: Timing): Unit = xs += t
  def size: Int = xs.size
  def wall: Seq[Double] = xs.map(_.wall).toSeq
  def cpu: Seq[Double] = xs.map(_.cpu).toSeq
  /** Wall time less the time the hypervisor stole from it. */
  def wallNoSteal: Seq[Double] = xs.map(t => t.wall - t.steal).toSeq
  /** The first `n` operations only. */
  def take(n: Int): Series = { val s = new Series; xs.take(n).foreach(s += _); s }
  def export(name: String): Map[String, Seq[Double]] = Map(
    s"${name}_s" -> wall, s"${name}_cpu_s" -> cpu, s"${name}_jit_s" -> xs.map(_.jit).toSeq,
    s"${name}_steal_s" -> xs.map(_.steal).toSeq)
}

/** Minimal JSON writer for the artifact (maps, sequences, numbers, strings). */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case a: Array[_] => write(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
