package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Backward as-of join — for every left row, the right row with the
  * greatest timestamp ≤ the left timestamp within the same key (the
  * temporal enrichment join: "state as of the event").
  *
  * Spark has no native ASOF JOIN; the naive formulations both die at
  * scale — a range-predicate join degenerates to a per-key cartesian
  * before filtering, and a per-left-row subquery is a point-lookup
  * loop. This is the scale-correct composition: tag both inputs,
  * UNION them, and run ONE window pass per key ordered by
  * (timestamp, side) carrying the last non-null right payload forward.
  * Cost = one shuffle on the key + a partition-local sort — identical
  * to a plain groupBy, regardless of how many right rows precede each
  * left row. Hot keys are ordinary shuffle skew (AQE / salting), not
  * an algorithmic blowup.
  *
  * Tie semantics: a right row at exactly the left timestamp matches
  * (ts_right ≤ ts_left, inclusive — DuckDB/pandas `merge_asof`
  * convention). The right side must be unique per (keys, ts); ties
  * there would make "the" latest row ambiguous — pre-aggregate.
  *
  * `payloadCols` must not collide with left column names.
  */
object AsOfJoin {

  def backward(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTsCol: String, rightTsCol: String, payloadCols: Seq[String]): DataFrame =
    asOf(left, right, keys, leftTsCol, rightTsCol, payloadCols, fwd = false)

  /** Forward as-of join — for every left row, the right row with the
    * SMALLEST timestamp ≥ the left timestamp within the key ("next
    * state after the event": next shipment, next tick, next retry).
    * Same single-shuffle union + window plan as [[backward]], with the
    * scan direction reversed (ts DESC); inclusive at equal ts. */
  def forward(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTsCol: String, rightTsCol: String, payloadCols: Seq[String]): DataFrame =
    asOf(left, right, keys, leftTsCol, rightTsCol, payloadCols, fwd = true)

  /** As [[backward]], but a match more than `toleranceMicros` BEFORE
    * the left timestamp is discarded (pandas `merge_asof` tolerance).
    * The latest-at-or-before row is the CLOSEST candidate, so if it
    * misses the window every earlier row does too — tolerance is a
    * post-condition on the matched row, same single-shuffle plan.
    * Timestamp ts columns only (micros comparison). */
  def backwardWithin(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTsCol: String, rightTsCol: String, payloadCols: Seq[String],
      toleranceMicros: Long): DataFrame =
    asOf(left, right, keys, leftTsCol, rightTsCol, payloadCols, fwd = false,
      toleranceMicros = Some(toleranceMicros))

  private def asOf(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTsCol: String, rightTsCol: String, payloadCols: Seq[String],
      fwd: Boolean, toleranceMicros: Option[Long] = None): DataFrame = {
    val leftCols = left.columns.toSeq
    require(payloadCols.intersect(leftCols).isEmpty,
      s"payload columns ${payloadCols.intersect(leftCols)} collide with left columns")
    val reserved = Seq("_ats", "_side", "_p") ++
      (if (toleranceMicros.isDefined) Seq("_rts") else Nil)
    require(reserved.intersect(leftCols ++ payloadCols ++ keys).isEmpty,
      s"column names $reserved are reserved by the as-of join")

    // ALL payloads travel in ONE struct, so the matched row is taken
    // atomically: a right row whose payload value is legitimately NULL
    // still wins the match (the struct itself is non-null) instead of
    // last(ignoreNulls) silently carrying an older row's value forward.
    // Only the tolerance variants need the matched row's own ts (_rts)
    // — the plain join doesn't pay for it on the wire.
    val payloadStruct =
      if (toleranceMicros.isDefined)
        struct(payloadCols.map(col) :+ col(rightTsCol).as("_rts"): _*)
      else struct(payloadCols.map(col): _*)
    val r = right.select(
      (keys.map(col) :+ col(rightTsCol).as("_ats")) :+
        payloadStruct.as("_p"): _*)
      .withColumn("_side", lit(0))
    val l = left.withColumn("_ats", col(leftTsCol)).withColumn("_side", lit(1))
      .withColumn("_p", lit(null).cast(r.schema("_p").dataType))

    // right (side 0) sorts before left (side 1) at equal ts =>
    // inclusive in either direction; forward just scans ts descending
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(if (fwd) col("_ats").desc else col("_ats").asc, col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    l.unionByName(r, allowMissingColumns = true)
      .withColumn("_p", last(col("_p"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .select(leftCols.map(col) ++ {
        val keep = toleranceMicros match {
          case None => lit(true)
          case Some(t) =>
            val diff =
              if (fwd) unix_micros(col("_p")("_rts")) - unix_micros(col("_ats"))
              else unix_micros(col("_ats")) - unix_micros(col("_p")("_rts"))
            diff <= t
        }
        payloadCols.map(c => when(keep, col("_p")(c)).otherwise(lit(null)).as(c))
      }: _*)
  }
}
