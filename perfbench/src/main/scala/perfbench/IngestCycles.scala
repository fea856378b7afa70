package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.operators.{IdentityResolver, IncrementalIdentity}
import graft.sources.Sources
import graft.types.TableConfig

/** ingest_cycles: a registry and a fragments merge table 100x a batch,
  * then cycles of publish -> index -> resolveCycle, each followed by a
  * burst of single-key lookups; every `CompactEvery`th cycle compacts. */
final class IngestCycles(ctx: Ctx) extends Workload {
  import IngestCycles._
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val batches: Seq[JsonNode] = ctx.truth.get("batches").elements().asScala.toSeq
  private val cfg = TableConfig("fragments", Seq("frag_id"), Seq.empty)

  private var dir = ""
  private var next = 0
  private var measured = 0
  private val cycles = new Series
  private val lookups = new Series
  private val compactions = new Series
  private var diskMb = 0.0

  private def fragDir = s"$dir/fragments"
  private def regRoot = s"$dir/registry"
  private def ckDir = s"$dir/checkpoint"

  private def csv(rel: String, schema: StructType): DataFrame =
    Sources.readCsv(spark, ctx.path(rel), Some(schema))

  def seed(d: String): Unit = {
    dir = d
    next = 0
    tracer.op = -1
    IncrementalIdentity.publishRegistry(IdentityResolver.Registry(
      csv("registry_subjects.csv", SubjectSchema), csv("registry_local_ids.csv", LinkSchema)),
      regRoot)
    Sources.publishMergePartitioned(spark, fragDir, csv("history.csv", FragSchema), cfg, "p")
    Sources.indexBatchKeys(spark, fragDir, "frag_id")
    // the registry already holds the history's resolution: start the
    // change feed's checkpoint at the seeded table version
    Sources.processMergeRowChanges(spark, fragDir, ckDir, Seq("frag_id"), "p")((_, v) => v)
  }

  // one warm-up cycle: the first cycle of a JVM runs the engine's code
  // cold (class loading, interpreted code) at about twice a later
  // cycle's cost. The cost keeps falling for a few more cycles while the
  // JIT compiles; the fixed measured cycles sit at the same point of
  // that curve in every run.
  def warmUp(): Unit = cycle(sample = false, lookupCount = WarmLookups)

  def loop(deadlineNs: Long): Unit = {
    measured = 0
    while (next < batches.size &&
        (measured < MinCycles || System.nanoTime() < deadlineNs)) {
      tracer.op = measured
      cycle(sample = true)
      measured += 1
    }
    diskMb = (Stats.bytesUnder(new java.io.File(fragDir)) +
      Stats.bytesUnder(new java.io.File(regRoot))) / 1e6
  }

  private def cycle(sample: Boolean, lookupCount: Int = Int.MaxValue): Unit = {
    val b = batches(next)
    val idx = b.get("batch").asInt
    next += 1
    val incoming = csv(f"batches/batch-$idx%04d.csv", FragSchema)
    val asOf = java.sql.Date.valueOf(b.get("as_of").asText)
    val (cyc, t) = Stats.timed {
      tracer.span("sources.publish") {
        Sources.publishMergePartitioned(spark, fragDir, incoming, cfg, "p")
      }
      tracer.span("sources.index_keys") { Sources.indexBatchKeys(spark, fragDir, "frag_id") }
      tracer.span("operators.resolve_cycle") {
        IncrementalIdentity.resolveCycle(spark, fragDir, ckDir, regRoot, Seq("frag_id"),
          asOf, "p")(toCandidates)
      }
    }
    if (sample) cycles += t
    ctx.checked(s"cycle $idx") {
      cyc match {
        case None => Seq("no delta delivered")
        case Some(c) =>
          val engine = c.resolutions.select("request_id", "gsid", "action").collect()
            .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
          val got = if (!ctx.corrupt) engine else {
            val (f, (_, a)) = engine.minBy(_._1)
            engine.updated(f, ("GSID-CORRUPTED", a))
          }
          val want = b.get("expect").elements().asScala.map(e =>
            e.get(0).asText -> (e.get(1).asText, e.get(2).asText)).toMap
          val wrong = want.collect { case (f, w) if !got.get(f).contains(w) =>
            s"$f got ${got.get(f)} want $w" }.toSeq.sorted
          val size = if (got.size != want.size) Seq(s"${got.size} resolutions, want ${want.size}")
                     else Nil
          val subjects = c.registry.subjects.count()
          val count = if (subjects != b.get("subjects_after").asLong)
            Seq(s"registry holds $subjects subjects, want ${b.get("subjects_after").asLong}")
            else Nil
          size ++ count ++ wrong
      }
    }
    for (l <- b.get("lookups").elements().asScala.take(lookupCount)) lookup(l, sample)
    if (sample && measured % CompactEvery == CompactEvery - 1) {
      val (n, t) = Stats.timed {
        tracer.span("sources.compact") { Sources.compactMergePartitioned(spark, fragDir, "p") }
      }
      compactions += t
      ctx.checked(s"compact after $idx") {
        if (n > 0 && !ctx.corrupt) Nil else Seq("compacted nothing")
      }
    }
  }

  private def lookup(want: JsonNode, sample: Boolean): Unit = {
    val key = want.get(0).asText
    val (rows, t) = Stats.timed {
      tracer.span("sources.lookup") {
        Sources.readMergePartitionedKeyed(spark, fragDir, "p", "frag_id", Seq(key)).collect()
      }
    }
    if (sample) lookups += t
    if (tracer.enabled) tracer.last("sources.lookup").foreach { sp =>
      val read = sp.scanRoots.flatMap(r => r.split('/').find(_.startsWith("b-"))).distinct.size
      val live = Sources.mergeBatchDirCount(spark, fragDir, "p")
      sp.extras("dir_skip_frac") = if (live > 0) 1.0 - read.toDouble / live else 0.0
    }
    ctx.checked(s"lookup $key") {
      val expect = (0 until want.size).map(i => want.get(i).asText)
      rows.toSeq match {
        case Seq(r) =>
          val engine = FragSchema.fieldNames.toSeq.map(f => String.valueOf(r.getAs[Any](f)))
          val got = if (ctx.corrupt) engine.updated(5, "-1") else engine
          if (got == expect) Nil else Seq(s"got $got want $expect")
        case rs => Seq(s"${rs.size} rows, want 1")
      }
    }
  }

  private def batchRows: Double = batches.head.get("rows").asDouble

  def endToEnd(): Map[String, Double] = Map(
    "cycle_p50_s" -> Stats.median(cycles.wall),
    "ingest_rows_per_s" -> batchRows / Stats.median(cycles.wall),
    "lookup_p50_ms" -> Stats.median(lookups.wall) * 1e3,
    "lookup_tail_ms" -> Stats.tail(lookups.wall) * 1e3,
    "ingest_disk_mb" -> diskMb)

  def op: Series = cycles.take(MinCycles)
  def work: (Series, Double) = (op, batchRows)

  def samples(): Map[String, Seq[Double]] =
    cycles.export("cycle") ++ lookups.export("lookup") ++ compactions.export("compact")

  def inputs(): Map[String, Any] = Map(
    "registry_subjects" -> ctx.truth.get("registry_subjects").asLong,
    "history_rows" -> ctx.truth.get("history_rows").asLong,
    "batch_rows" -> batchRows.toLong,
    "cycles" -> measured, "lookups" -> lookups.size,
    "input_bytes" -> ctx.inputBytes)

  val spanNames: Seq[String] = Seq("sources.publish", "sources.index_keys",
    "operators.resolve_cycle", "sources.lookup", "sources.compact")
  val fixedOps: Int = MinCycles
}

object IngestCycles {
  /** Fixed measured cycles (see `Workload.fixedOps`); compaction runs
    * after every `CompactEvery`th measured cycle, so once in them.
    * The warm-up cycle issues only `WarmLookups` of its lookups. */
  val MinCycles = 3
  val CompactEvery = 3
  val WarmLookups = 5

  val FragSchema: StructType = StructType(Seq(
    StructField("frag_id", StringType), StructField("center_id", IntegerType),
    StructField("local_subject_id", StringType), StructField("identifier_type", StringType),
    StructField("sample_id", StringType), StructField("value", LongType),
    StructField("p", IntegerType)))
  val SubjectSchema: StructType = StructType(Seq(
    StructField("global_subject_id", StringType), StructField("center_id", IntegerType),
    StructField("created_at", DateType)))
  val LinkSchema: StructType = StructType(Seq(
    StructField("center_id", IntegerType), StructField("local_subject_id", StringType),
    StructField("identifier_type", StringType), StructField("global_subject_id", StringType)))

  def toCandidates(delta: DataFrame): DataFrame =
    delta.select(col("frag_id").as("request_id"), col("center_id"),
      col("local_subject_id"), col("identifier_type"))
}
