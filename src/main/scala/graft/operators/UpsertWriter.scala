package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.types.TableConfig

/** Join-based MERGE with per-field audit (SURVEY.md §2.8 U1/U2/U6/U7).
  *
  * Re-expresses the reference's UniversalUpsertStrategy
  * (`table-loader/services/load_strategies.py:92-194,497-704`): fetch
  * current state by natural key, classify insert/update/unchanged,
  * diff per field (excluding natural-key + immutable + excluded
  * fields, None==None equal), bulk-insert new, update changed, audit
  * every change. Here the whole strategy is ONE full-outer join that
  * yields the post-merge snapshot, the audit rows, and the dry-run
  * preview counts — snapshot-in/snapshot-out (mutable-store semantics
  * on immutable files, SURVEY.md §7.5.3). At scale the join shuffles
  * both sides on the natural key; the audit is a projection of the same
  * join, so the plan reuses one exchange.
  *
  * `update_only` strategy (subjects, U2): incoming rows without a
  * current match are dropped instead of inserted
  * (`table_configs.json:37-45`).
  *
  * [[mergedOnDriver]] computes the same post-merge rows in Scala for a
  * micro-batch whose touched state is already on the driver (the
  * merge-table publish's driver path).
  */
object UpsertWriter {

  final case class MergeResult(
      merged: DataFrame,      // post-merge table snapshot
      audit: DataFrame,       // exploded per-field audit rows (U6)
      preview: DataFrame)     // single-row counts (U7 dry-run)

  private def normTyped(c: Column, dt: DataType): Column =
    dt match {
      case StringType => when(c === "", lit(null)).otherwise(c)
      case DoubleType | FloatType => when(isnan(c), lit(null)).otherwise(c)
      case _ => c
    }

  def merge(
      current: DataFrame,
      incoming: DataFrame,
      cfg: TableConfig,
      changedBy: String = "graft",
      batchId: String = ""): MergeResult = {

    val key = cfg.naturalKey
    val curCols = current.columns.toSeq
    val incCols = incoming.columns.toSeq
    // fields an update may touch (`load_strategies.py:594-596`)
    val updatable = incCols.filter(c =>
      curCols.contains(c) && !key.contains(c) &&
        !cfg.immutableFields.contains(c) && !TableConfig.systemColumns.contains(c))

    // presence flags sit OUTSIDE the _in_/_ex_ prefix namespace so no
    // prefixed data column can shadow them (a column named `p`
    // prefixed to `_ex_p` collided with the old `_ex_p` flag); only a
    // key column literally named like a flag could still collide —
    // guard rather than silently mis-merge
    require(!key.exists(c => c == "_present_in" || c == "_present_ex"),
      "key columns _present_in/_present_ex collide with merge working columns")
    // the normalized comparison copies (""/NaN → null) are DERIVED
    // per-column values: compute them AFTER the join from the raw
    // prefixed columns instead of shuffling a second copy of every
    // updatable column through the full-outer exchange (r18, guide
    // §2.3 — the pre-r18 shape carried each updatable column TWICE per
    // side, doubling the merge's shuffle width; at sf10 the merge
    // publish is the dominant shuffle of the whole storage family)
    val inc = incoming.select(
      key.map(incoming(_)) ++ Seq(lit(true).as("_present_in")) ++
        incCols.filterNot(key.contains).map(c => incoming(c).as(s"_in_$c")): _*)
    val cur = current.select(
      key.map(current(_)) ++ Seq(lit(true).as("_present_ex")) ++
        curCols.filterNot(key.contains).map(c => current(c).as(s"_ex_$c")): _*)

    val j = inc.join(cur, key, "full_outer")

    def inn(c: String): Column = normTyped(col(s"_in_$c"), incoming.schema(c).dataType)
    def exn(c: String): Column = normTyped(col(s"_ex_$c"), current.schema(c).dataType)
    val diffs: Seq[(String, Column)] =
      updatable.map(c => c -> !(inn(c) <=> exn(c)))
    val anyDiff = if (diffs.isEmpty) lit(false) else diffs.map(_._2).reduce(_ || _)

    val status = when(col("_present_ex").isNull, lit("insert"))
      .when(col("_present_in").isNull, lit("orphaned"))
      .when(anyDiff, lit("update"))
      .otherwise(lit("unchanged"))
    val withStatus = j.withColumn("_status", status)

    // post-merge value per column: inserts take incoming, updates take
    // incoming for updatable fields, everything else keeps current
    val mergedCols: Seq[Column] = key.map(col) ++ curCols.filterNot(key.contains).map { c =>
      val base =
        if (updatable.contains(c))
          when(col("_status") === "insert", col(s"_in_$c"))
            .when(col("_status") === "update", col(s"_in_$c"))
            .otherwise(col(s"_ex_$c"))
        else if (incCols.contains(c))
          when(col("_status") === "insert", col(s"_in_$c")).otherwise(col(s"_ex_$c"))
        else col(s"_ex_$c")
      base.as(c)
    }

    val keepRow =
      if (cfg.strategy == "update_only") col("_status") =!= "insert"
      else lit(true)
    val merged = withStatus.filter(keepRow).select(mergedCols: _*)

    // U6: audit — one exploded row per changed field
    val changeEntries = array(diffs.map { case (c, d) =>
      when(d, struct(lit(c).as("field"),
        exn(c).cast("string").as("old_value"),
        inn(c).cast("string").as("new_value")))
    }: _*)
    val audit = withStatus.filter(col("_status") === "update")
      .select(
        key.map(col) :+
          explode(filter(changeEntries, e => e.isNotNull)).as("_chg"): _*)
      .select(
        lit(cfg.table).as("table_name"),
        to_json(struct(key.map(col): _*)).as("record_key"),
        col("_chg.field").as("field"),
        col("_chg.old_value").as("old_value"),
        col("_chg.new_value").as("new_value"),
        lit(changedBy).as("changed_by"),
        lit(batchId).as("batch_id"))

    // U7: dry-run preview — counts only, nothing published
    val preview = withStatus.agg(
      sum(when(col("_status") === "insert", 1L).otherwise(0L)).as("inserted"),
      sum(when(col("_status") === "update", 1L).otherwise(0L)).as("updated"),
      sum(when(col("_status") === "unchanged", 1L).otherwise(0L)).as("unchanged"),
      sum(when(col("_status") === "orphaned", 1L).otherwise(0L)).as("orphaned"))

    MergeResult(merged, audit, preview)
  }

  /** Whether [[mergedOnDriver]] covers a merge of `incoming` into
    * `current`: every key column in both at one integral, boolean,
    * decimal, date, timestamp or (uncollated) string type — not float,
    * double, binary, a collated string or a complex type (their Scala
    * equality is not the join's), every column the two share at one
    * orderable type with no map inside, and no two column names that
    * differ only in case (the plan resolves names without case). */
  def coversOnDriver(current: StructType, incoming: StructType, cfg: TableConfig): Boolean = {
    val names = current.fieldNames ++ incoming.fieldNames
    val shared = incoming.fieldNames.filter(current.fieldNames.contains)
    names.map(_.toLowerCase(java.util.Locale.ROOT)).distinct.length == names.distinct.length &&
      cfg.naturalKey.forall(k => shared.contains(k) && (incoming(k).dataType match {
        case BooleanType | ByteType | ShortType | IntegerType | LongType | DateType |
             TimestampType | TimestampNTZType | _: DecimalType => true
        case s: StringType => s.collationId == StringType.collationId
        case _ => false
      })) &&
      shared.forall { c =>
        val dt = incoming(c).dataType
        dt == current(c).dataType && RowOrdering.isOrderable(dt) && !holdsMap(dt)
      }
  }

  private def holdsMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case a: ArrayType => holdsMap(a.elementType)
    case s: StructType => s.fields.exists(f => holdsMap(f.dataType))
    case _ => false
  }

  /** `merge(current, incoming, cfg).merged` computed in Scala over
    * collected rows, row for row, for schemas [[coversOnDriver]]
    * accepts; rows in the merged column order (key, then current's
    * other columns). Full-outer semantics: a key held by m incoming and
    * n current rows yields m·n rows, a key with a null part never
    * matches, an unmatched current row is kept as it is (orphaned), an
    * unmatched incoming row is an insert (dropped under `update_only`).
    * A matched pair is an update when an updatable field differs after
    * the `""`/NaN → null normalization, compared null-safely in Spark's
    * value order; an update takes the incoming value of the updatable
    * fields, an insert takes every incoming field, all else keeps the
    * current value. */
  def mergedOnDriver(current: Seq[Row], currentSchema: StructType,
      incoming: Seq[Row], incomingSchema: StructType, cfg: TableConfig): Seq[Row] = {
    val key = cfg.naturalKey
    val incCols = incomingSchema.fieldNames.toSeq
    val updatable = incCols.filter(c =>
      currentSchema.fieldNames.contains(c) && !key.contains(c) &&
        !cfg.immutableFields.contains(c) && !TableConfig.systemColumns.contains(c))
    val curKey = key.map(currentSchema.fieldIndex)
    val incKey = key.map(incomingSchema.fieldIndex)
    def keyOf(r: Row, idx: Seq[Int]): Option[Seq[Any]] =
      if (idx.exists(r.isNullAt)) None else Some(idx.map(r.get))
    val differs: Seq[(Row, Row) => Boolean] = updatable.map { c =>
      val dt = incomingSchema(c).dataType
      val ord = DriverPath.sparkOrdering(dt)
      val norm: Any => Any = dt match {
        case StringType => v => if (v == "") null else v
        case DoubleType | FloatType => {
          case d: Double if d.isNaN => null
          case f: Float if f.isNaN => null
          case v => v
        }
        case _ => identity
      }
      val (i, j) = (incomingSchema.fieldIndex(c), currentSchema.fieldIndex(c))
      (in: Row, ex: Row) => ord.compare(norm(in.get(i)), norm(ex.get(j))) != 0
    }
    // each non-key merged column: its index in current and in incoming
    // (-1 when incoming lacks it), and whether an update takes it
    val cols = currentSchema.fieldNames.toSeq.filterNot(key.contains).map(c =>
      (currentSchema.fieldIndex(c), incCols.indexOf(c), updatable.contains(c)))
    def insert(in: Row): Row = Row.fromSeq(incKey.map(in.get) ++
      cols.map { case (_, i, _) => if (i < 0) null else in.get(i) })
    def matched(in: Row, ex: Row): Row = {
      val update = differs.exists(_(in, ex))
      Row.fromSeq(incKey.map(in.get) ++
        cols.map { case (j, i, upd) => if (update && upd) in.get(i) else ex.get(j) })
    }
    // a current row whose key the batch holds pairs with every incoming
    // row of that key; any other is kept as it is — reordered only when
    // current's columns are not already key-first
    val keyFirst = curKey ++ cols.map(_._1) == currentSchema.indices
    val incKeys = incoming.flatMap(keyOf(_, incKey)).toSet
    val (paired, kept) = current.partition(ex => keyOf(ex, curKey).exists(incKeys))
    val byKey = paired.groupBy(keyOf(_, curKey).get)
    incoming.flatMap { in =>
      keyOf(in, incKey).flatMap(byKey.get) match {
        case Some(exs) => exs.map(matched(in, _))
        case None => if (cfg.strategy == "update_only") Nil else Seq(insert(in))
      }
    } ++ (if (keyFirst) kept
          else kept.map(ex => Row.fromSeq(curKey.map(ex.get) ++ cols.map(c => ex.get(c._1)))))
  }

  /** U3: the `local_subject_ids` delete-and-replace variant
    * (`load_strategies.py:196-352`): match on (local_subject_id,
    * identifier_type) ONLY; a center change deletes the old row and
    * inserts the new one (audited as a center_id change); multiple
    * existing rows for one key collapse to the single incoming row
    * (dedup repair); a GSID change updates in place. Several incoming
    * rows for one key (two centers in one batch) resolve to the
    * min(center_id, global_subject_id) row.
    */
  def mergeLocalSubjectIds(
      current: DataFrame,
      incoming: DataFrame,
      changedBy: String = "graft",
      batchId: String = ""): MergeResult = {

    val key = Seq("local_subject_id", "identifier_type")
    // one incoming row per key: when a batch links the same key from
    // several centers, keep min(center_id, gsid) — the rule links()
    // applies to existing rows — so the fold never depends on which
    // row a shuffle happens to deliver first
    val inc = incoming
      .groupBy("local_subject_id", "identifier_type")
      .agg(min(struct(col("center_id"), col("global_subject_id"))).as("_in"))
      .select(col("local_subject_id"), col("identifier_type"),
        col("_in.center_id").as("_in_center"), col("_in.global_subject_id").as("_in_gsid"),
        lit(true).as("_in_p"))
    // collapse multi-existing deterministically for the audit old-value
    val cur = current
      .groupBy("local_subject_id", "identifier_type")
      .agg(min(struct(col("center_id"), col("global_subject_id"))).as("_ex"),
        count(lit(1)).as("_ex_n"))
      .select(col("local_subject_id"), col("identifier_type"),
        col("_ex.center_id").as("_ex_center"), col("_ex.global_subject_id").as("_ex_gsid"),
        col("_ex_n"), lit(true).as("_ex_p"))

    val j = inc.join(cur, key, "full_outer")
    val status = when(col("_ex_p").isNull, lit("insert"))
      .when(col("_in_p").isNull, lit("orphaned"))
      .when(col("_in_center") =!= col("_ex_center"), lit("center_change"))
      .when(!(col("_in_gsid") <=> col("_ex_gsid")), lit("update"))
      .otherwise(lit("unchanged"))
    val withStatus = j.withColumn("_status", status)

    val merged = withStatus.filter(col("_status") =!= "orphaned")
      .select(
        coalesce(col("_in_center"), col("_ex_center")).as("center_id"),
        col("local_subject_id"), col("identifier_type"),
        coalesce(col("_in_gsid"), col("_ex_gsid")).as("global_subject_id"))
      .unionByName(
        // orphaned existing rows survive untouched
        withStatus.filter(col("_status") === "orphaned").select(
          col("_ex_center").as("center_id"),
          col("local_subject_id"), col("identifier_type"),
          col("_ex_gsid").as("global_subject_id")))

    val changeEntries = array(
      when(col("_status") === "center_change",
        struct(lit("center_id").as("field"),
          col("_ex_center").cast("string").as("old_value"),
          col("_in_center").cast("string").as("new_value"))),
      when(col("_status").isin("center_change", "update") &&
           !(col("_in_gsid") <=> col("_ex_gsid")),
        struct(lit("global_subject_id").as("field"),
          col("_ex_gsid").cast("string").as("old_value"),
          col("_in_gsid").cast("string").as("new_value"))))
    val audit = withStatus.filter(col("_status").isin("center_change", "update"))
      .select(key.map(col) :+ explode(filter(changeEntries, e => e.isNotNull)).as("_chg"): _*)
      .select(
        lit("local_subject_ids").as("table_name"),
        to_json(struct(key.map(col): _*)).as("record_key"),
        col("_chg.field").as("field"),
        col("_chg.old_value").as("old_value"),
        col("_chg.new_value").as("new_value"),
        lit(changedBy).as("changed_by"),
        lit(batchId).as("batch_id"))

    val preview = withStatus.agg(
      sum(when(col("_status") === "insert", 1L).otherwise(0L)).as("inserted"),
      sum(when(col("_status").isin("update", "center_change"), 1L).otherwise(0L)).as("updated"),
      sum(when(col("_status") === "unchanged", 1L).otherwise(0L)).as("unchanged"),
      sum(when(col("_status") === "orphaned", 1L).otherwise(0L)).as("orphaned"))

    MergeResult(merged, audit, preview)
  }
}
