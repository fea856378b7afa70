package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Sources
import graft.types.{MappingConfig, TableConfig}

/** End-to-end pipelines (SURVEY.md §3) wiring the operators into the
  * reference's three entry points. Each stage is a DataFrame
  * transformation; the whole pipeline is ONE lineage with a handful of
  * actions (writes), not the reference's eight process/REST boundaries.
  */
object Pipelines {

  final case class ValidateResult(
      mapped: DataFrame,
      schemaResult: SchemaValidator.ValidationResult,
      resolutions: DataFrame,
      localIds: DataFrame,
      conflicts: DataFrame,
      warnings: Seq[String])

  /** §3.1 fragment-validator: raw CSV → mapped → schema-validated →
    * GSID-resolved → conflicts detected → staged.
    *
    * The reference's stage 4 (a 20-worker REST fan-out per row) is the
    * IdentityResolver batch join; stage 5's NocoDB full-table scan is
    * the registry DataFrame the caller passes in.
    */
  def validate(
      spark: SparkSession,
      raw: DataFrame,
      mapping: MappingConfig,
      schemaSpecs: Seq[SchemaValidator.ColumnSpec],
      registry: IdentityResolver.Registry,
      batchId: String,
      deterministicMint: Boolean = true): ValidateResult = {

    // 1-2: mapping projection (P1-P3)
    val m = FieldMapper.applyMapping(raw, mapping)

    // 3: schema validation (V1-V2) — fail fast like the reference
    val sv = SchemaValidator.validate(m.df, schemaSpecs)
    if (!sv.isValid)
      return ValidateResult(m.df, sv, emptyResolutions(spark), emptyLocalIds(spark),
        emptyConflicts(spark), m.warnings)

    // 4: identity resolution (§2.9) — candidates from the configured
    // subject-id columns, one row per (row, candidate column).
    // Request ids are CONTENT-derived (hash over batch id + every
    // mapped column), not monotonically_increasing_id(): the same
    // input always yields the same ids regardless of partitioning,
    // task retries, or split planning, so resolution-log correlation
    // keys are stable across runs on a cluster. Content-identical
    // duplicate rows deliberately collapse to ONE logical resolution
    // request — they are indistinguishable and resolve identically
    // (resolve() is per-request-id), and each copy still receives its
    // gsid through the join-back below.
    //
    // The key is TWO independent structural xxhash64 passes (domain-
    // separated by the batch-id literal), 128 bits total: collision-
    // safe like the md5(to_json(...)) it replaces, but hashing the
    // columns structurally — the JSON serialization of every column
    // per row was the single hottest expression in the validate
    // pipeline (BENCH r4→r5 regression), and its row-format cost grows
    // with column count, which at 100 TB is pure waste for an
    // engine-internal correlation key that no oracle ever recomputes.
    // The key is a STRUCT of the two longs (r18, guide §2.3 narrower
    // types): the pre-r18 form concatenated them into a ~40-byte
    // string, which then rode every resolve/join/groupBy exchange as
    // the request key — 16 bytes and no per-row string building buys
    // the same 128-bit collision safety (the key is engine-internal:
    // no oracle recomputes it, every consumer treats it opaquely).
    val allCols = m.df.columns.map(col).toSeq
    val withRow = m.df.withColumn("_row_id",
      struct(
        xxhash64(lit(s"$batchId:a") +: allCols: _*).as("a"),
        xxhash64(lit(s"$batchId:b") +: allCols: _*).as("b")))
    val centerCol = mapping.centerIdField
      .map(c => coalesce(col(c).cast("int"), lit(mapping.defaultCenterId)))
      .getOrElse(lit(mapping.defaultCenterId))
    val candidates = mapping.subjectIdCandidates.map { case (column, idType) =>
      withRow.filter(col(column).isNotNull && trim(col(column)) =!= "")
        .select(col("_row_id").as("request_id"), centerCol.as("center_id"),
          col(column).cast("string").as("local_subject_id"), lit(idType).as("identifier_type"))
    }.reduceOption(_ unionByName _)
      .getOrElse(spark.emptyDataFrame)

    // Materialization barrier: every downstream consumer (mapped,
    // links, conflicts, the V5 report's four aggregates) embeds this
    // frame's lineage — without the checkpoint each one re-runs the
    // whole resolution join. The reference has a hard boundary here
    // anyway (stage 4 is a REST round-trip per batch). Lazy: the first
    // consuming job materializes it; later branches reuse the blocks.
    // _mult = how many input rows each logical request stands for:
    // content-identical duplicates collapse to one resolution, but the
    // reference's validation report counts PER INPUT ROW — the report
    // weights by this multiplicity to keep that contract (1 for
    // everything except true duplicate rows).
    val mult = withRow.groupBy(col("_row_id").as("request_id"))
      .agg(count(lit(1)).as("_mult"))
    val resolutions = IdentityResolver.resolve(candidates, registry, deterministicMint)
      .join(mult, Seq("request_id"), "left")
      .withColumn("_mult", coalesce(col("_mult"), lit(1L)))
      .localCheckpoint(false)
    val mapped = withRow.join(
      resolutions.select(col("request_id").as("_row_id"), col("gsid").as("global_subject_id")),
      Seq("_row_id"), "left")

    // side output: the local_subject_ids fragment (validator.py:111-115).
    // LAZY checkpoint: consumers that never touch localIds (the plain
    // validate path) pay nothing, but the first consumer materializes it
    // and every later branch (the V5 report's lids/confs aggregates)
    // reuses the cached RDD instead of re-running the links join — the
    // same materialization discipline as `resolutions` above, minus the
    // eager job (r3's report re-ran the pipeline 4x: 33 s vs 4.4 s).
    val localIds = IdentityResolver.links(candidates, resolutions, registry.localIds)
      .localCheckpoint(false)

    // 5: conflict detection (J5) vs the registry — derived from the
    // checkpointed localIds so its lineage shares the materialization
    val conflicts = ConflictDetector.detect(
      localIds, registry.localIds, batchId)

    ValidateResult(mapped.drop("_row_id"), sv, resolutions, localIds, conflicts, m.warnings)
  }

  final case class LoadResult(
      merged: DataFrame,
      audit: DataFrame,
      preview: DataFrame)

  /** §3.3 table-loader: staged fragment → exclusions → type coercion →
    * schema projection → MERGE with audit. `dryRun` computes
    * everything but publishes nothing (U7). */
  def load(
      spark: SparkSession,
      current: DataFrame,
      fragment: DataFrame,
      cfg: TableConfig,
      columnTypes: Map[String, String],  // reference-style type names per column
      excluded: Seq[String] = Seq.empty,
      resolvedExclusions: Option[DataFrame] = None, // (local_subject_id, identifier_type)
      batchId: String = "",
      targetDir: Option[String] = None,
      dryRun: Boolean = true): LoadResult = {

    // exclusion filters (P7/U4): rows whose id was resolved away
    val afterExclusion = resolvedExclusions match {
      case Some(ex) if fragment.columns.contains("local_subject_id") =>
        fragment.join(ex, Seq("local_subject_id", "identifier_type"), "left_anti")
      case _ => fragment
    }

    // type coercion (F1-F7) + column exclusion (P4) + schema projection (P5)
    val coerced = afterExclusion.select(afterExclusion.columns.map { c =>
      columnTypes.get(c)
        .map(t => graft.functions.Coercions.coerceTo(col(c), t).as(c))
        .getOrElse(col(c))
    }: _*)
    val projected = FieldMapper.projectToSchema(
      FieldMapper.dropExcluded(coerced, excluded ++ TableConfig.systemColumns.toSeq),
      current.columns.toSeq)

    val result = UpsertWriter.merge(current, projected, cfg, batchId = batchId)
    if (!dryRun) targetDir.foreach(dir => Sources.publishSnapshot(result.merged, dir))
    LoadResult(result.merged, result.audit, result.preview)
  }

  /** Per-table fields excluded from the database load
    * (`fragment-validator/services/validator.py:201-219`). */
  val TableExcludeFields: Map[String, Seq[String]] = Map(
    "lcl" -> Seq("consortium_id", "center_id"),
    "olink" -> Seq("subject_id", "center_id"),
    "enteroid" -> Seq("subject_id", "center_id"),
    "sequence" -> Seq("subject_id", "center_id"),
    "genotype" -> Seq("subject_id", "center_id"),
    "specimen" -> Seq("subject_id", "center_id"),
    "local_subject_ids" -> Seq.empty)

  /** V5: the validation report document (`validator.py:180-264`),
    * materialized as ONE data row so it can flow to a JSON report
    * sink and the driver gate alike. Success shape:
    * status/approval/row stats + the gsid_resolution and
    * conflict_summary rollups; failure shape (schema errors) carries
    * the error list instead. `timestamp` is caller-supplied — the
    * reference stamps datetime.now(), which a deterministic engine
    * must take as input. */
  def validationReport(
      spark: SparkSession,
      r: ValidateResult,
      batchId: String,
      tableName: String,
      sourceName: String,
      s3Key: String,
      autoApprove: Boolean,
      timestamp: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => bcast}

    if (!r.schemaResult.isValid) {
      import spark.implicits._
      return Seq((
        "FAILED", batchId, timestamp,
        r.schemaResult.errors.map(e => s"""{"type":"${e.errorType}","column":"${e.column}"}""")
          .mkString("[", ",", "]"),
        r.warnings.map(w => "\"" + w + "\"").mkString("[", ",", "]")))
        .toDF("status", "batch_id", "timestamp", "validation_errors",
          "validation_warnings")
    }

    val cols = r.mapped.columns.toSeq
    val excludeFromLoad = TableExcludeFields
      .getOrElse(tableName, Seq("consortium_id"))
      .filter(cols.contains)

    // per-INPUT-ROW counts (reference contract): weight each logical
    // resolution by the number of content-identical input rows it
    // stands for (_mult, attached in validate; 1 when absent so
    // resolutions built outside the pipeline still report sanely)
    val w =
      if (r.resolutions.columns.contains("_mult")) col("_mult") else lit(1L)
    // sum over ZERO rows is NULL, and resolutions CAN be empty (the
    // failed-schema-validation early return) — every counter must
    // still report 0 there, matching the old count()-based contract
    def sum0(c: Column): Column = coalesce(sum(c), lit(0L))
    val res = r.resolutions.agg(
      sum0(w).as("gsid_total_rows"),
      sum0(when(col("gsid").isNotNull, w).otherwise(0L)).as("gsid_resolved"),
      sum0(when(col("gsid").isNull, w).otherwise(0L)).as("gsid_unresolved"),
      countDistinct("gsid").as("gsid_unique"),
      sum0(when(col("action") === "create_new", w).otherwise(0L)).as("gsid_new_subjects"),
      sum0(when(col("action") === "link_existing", w).otherwise(0L)).as("gsid_existing_subjects"),
      sum0(when(col("action") === "conflict_resolved", w).otherwise(0L)).as("gsid_multi_conflicts"),
      sum0(when(col("conflict_resolution") === "center_mismatch", w).otherwise(0L))
        .as("gsid_center_conflicts"))
    val rows = r.mapped.agg(count(lit(1)).as("row_count"))
    val lids = r.localIds.agg(count(lit(1)).as("local_id_records_count"))
    val confs = ConflictDetector.summary(r.conflicts).agg(
      coalesce(sum("n"), lit(0L)).as("n_conflicts"),
      coalesce(to_json(map_from_entries(sort_array(collect_list(
        struct(col("conflict_type"), col("n")))))), lit("{}")).as("conflict_summary"))

    rows.crossJoin(bcast(res)).crossJoin(bcast(lids)).crossJoin(bcast(confs))
      .select(
        lit("VALIDATED").as("status"),
        lit(batchId).as("batch_id"),
        lit(tableName).as("table_name"),
        lit(sourceName).as("source"),
        lit(timestamp).as("timestamp"),
        (lit(autoApprove) && col("n_conflicts") === 0L).as("auto_approved"),
        lit(s3Key).as("s3_location"),
        col("row_count"),
        lit(cols.length).as("column_count"),
        lit(cols.map(c => "\"" + c + "\"").mkString("[", ",", "]")).as("columns"),
        lit(excludeFromLoad.map(c => "\"" + c + "\"").mkString("[", ",", "]"))
          .as("exclude_from_load"),
        (col("n_conflicts") > 0L).as("has_conflicts"),
        col("conflict_summary"),
        col("gsid_total_rows"), col("gsid_resolved"), col("gsid_unresolved"),
        col("gsid_unique"), col("gsid_new_subjects"), col("gsid_existing_subjects"),
        col("gsid_multi_conflicts"), col("gsid_center_conflicts"),
        col("local_id_records_count"))
  }

  private def emptyResolutions(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq.empty))
  private def emptyLocalIds(spark: SparkSession): DataFrame = emptyResolutions(spark)
  private def emptyConflicts(spark: SparkSession): DataFrame = emptyResolutions(spark)
}
