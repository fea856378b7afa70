package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.operators.{IdentityResolver, IncrementalIdentity, SchemaValidator}
import graft.pipeline.Pipelines
import graft.sources.Sources
import graft.types.{MappingConfig, TableConfig}

/** validate_load: one large raw fragment, read -> validate -> report ->
  * load (merge + snapshot publish), repeated against the same registry
  * and current table so every pass does identical work. */
final class ValidateLoad(ctx: Ctx) extends Workload {
  import ValidateLoad._
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val truth = ctx.truth

  private var dir = ""
  private var registry: IdentityResolver.Registry = _
  private var current: DataFrame = _
  private var passes = 0
  private val passOps = new Series

  def seed(d: String): Unit = {
    dir = d
    tracer.op = -1
    IncrementalIdentity.publishRegistry(IdentityResolver.Registry(
      Sources.readCsv(spark, ctx.path("registry_subjects.csv"), Some(IngestCycles.SubjectSchema)),
      Sources.readCsv(spark, ctx.path("registry_local_ids.csv"), Some(IngestCycles.LinkSchema))),
      s"$dir/registry")
    Sources.publishSnapshot(
      Sources.readCsv(spark, ctx.path("current.csv"), Some(CurrentSchema)), s"$dir/current")
    registry = IncrementalIdentity.readRegistry(spark, s"$dir/registry")
    current = Sources.readSnapshot(spark, s"$dir/current")
  }

  def warmUp(): Unit = pass(sample = false)

  def loop(deadlineNs: Long): Unit = {
    passes = 0
    while (passes < MinPasses || System.nanoTime() < deadlineNs) {
      tracer.op = passes
      pass(sample = true)
      passes += 1
    }
  }

  private def pass(sample: Boolean): Unit = {
    val batchId = "perfbench"
    val ((report, load), t) = Stats.timed {
      val raw = Sources.readCsv(spark, ctx.path("raw.csv"))
      val r = tracer.span("pipeline.validate") {
        Pipelines.validate(spark, raw, Mapping, Specs, registry, batchId)
      }
      val report = tracer.span("pipeline.report") {
        Pipelines.validationReport(spark, r, batchId, "specimen", "perfbench",
          s"staging/$batchId/specimen.csv", autoApprove = true,
          timestamp = "2024-06-01T00:00:00").collect()
      }
      val load = tracer.span("pipeline.load") {
        Pipelines.load(spark, current, r.mapped, TableConfig.builtIn("specimen"),
          Map("volume_ml" -> "double precision"),
          excluded = Pipelines.TableExcludeFields("specimen"), batchId = batchId,
          targetDir = Some(s"$dir/specimen"), dryRun = false)
      }
      (report, load)
    }
    if (sample) passOps += t
    ctx.checked("validation report") {
      val row = report.head
      val want = truth.get("report")
      val counts = want.fieldNames().asScala.filter(_ != "conflicts").toSeq.flatMap { f =>
        val got = row.getAs[Any](f).toString.toLong + (if (ctx.corrupt) 1 else 0)
        if (got == want.get(f).asLong) None else Some(s"$f=$got want ${want.get(f).asLong}")
      }
      val conflicts = new ObjectMapper().readTree(row.getAs[String]("conflict_summary"))
      val conf = if (conflicts == want.get("conflicts")) Nil
                 else Seq(s"conflicts $conflicts want ${want.get("conflicts")}")
      counts ++ conf
    }
    ctx.checked("load") {
      val p = load.preview.collect().head
      val want = truth.get("load")
      Seq("inserted", "updated", "unchanged", "orphaned").flatMap { f =>
        val got = p.getAs[Long](f) + (if (ctx.corrupt) 1 else 0)
        if (got == want.get(f).asLong) None else Some(s"$f=$got want ${want.get(f).asLong}")
      }
    }
  }

  private def rows: Long = truth.get("rows").asLong

  def endToEnd(): Map[String, Double] =
    Map("validate_rows_per_s" -> rows / Stats.median(passOps.wall))
  def op: Series = passOps.take(MinPasses)
  def work: (Series, Double) = (op, rows.toDouble)
  def samples(): Map[String, Seq[Double]] = passOps.export("pass")
  def inputs(): Map[String, Any] = Map("raw_rows" -> rows,
    "duplicates" -> truth.get("duplicates").asLong,
    "current_rows" -> truth.get("current_rows").asLong,
    "passes" -> passes, "input_bytes" -> ctx.inputBytes)
  val spanNames: Seq[String] = Seq("pipeline.validate", "pipeline.report", "pipeline.load")
  val fixedOps: Int = MinPasses
}

object ValidateLoad {
  val MinPasses = 1

  val Mapping: MappingConfig = MappingConfig.fromJson(
    """{"field_mapping": {"sample_id": "sample", "tissue_type": "tissue",
      |   "volume_ml": "volume", "collection_date": "collected"},
      | "subject_id_candidates": {"subject_ref": "primary"},
      | "center_id_field": "center", "default_center_id": 0}""".stripMargin)
  val Specs: Seq[SchemaValidator.ColumnSpec] = Seq(
    SchemaValidator.ColumnSpec("sample_id", required = true),
    SchemaValidator.ColumnSpec("subject_ref", required = true))
  val CurrentSchema: StructType = StructType(Seq(
    StructField("global_subject_id", StringType), StructField("sample_id", StringType),
    StructField("tissue_type", StringType), StructField("volume_ml", DoubleType),
    StructField("collection_date", StringType)))
}
