package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Fixed-boundary equi-width histogram as a mergeable
  * [[TypedImperativeAggregate]] — the distribution sketch whose
  * per-group state is `nBuckets + 2` longs regardless of group size:
  * at 100 TB an exact per-group quantile sorts every group's values
  * through the shuffle, and even the groupBy-on-bucket formulation
  * (`q_rep_histogram`) shuffles one row per (group, bucket). This
  * ships ONE row per group per map partition — the counts array —
  * and merges by element-wise add, so a distribution profile of a
  * trillion rows costs the same network bytes as a COUNT(*).
  *
  * Bucket `i` (1-based, `i ∈ [1, nBuckets]`) covers
  * `[lo + (i−1)·width, lo + i·width)`; slot 0 counts underflow
  * (`x < lo`) and slot `nBuckets + 1` overflow (`x ≥ lo + n·width`),
  * so no input is ever dropped silently. Counts are exact, making
  * the sketch deterministic under ANY partitioning — and the bucket
  * map (`floor((x − lo)/width)`, IEEE divide + floor, both exact
  * operations) is reproducible in any SQL engine, so a DuckDB
  * oracle re-derives the identical array bucket by bucket.
  */
case class FixedHistogram(
    child: Expression,
    lo: Double,
    width: Double,
    nBuckets: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  require(width > 0, s"width must be positive, got $width")
  require(nBuckets >= 1, s"need at least one bucket, got $nBuckets")

  private val hi = lo + nBuckets * width

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case DoubleType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hist_fixed takes a DOUBLE value, got ${other.simpleString}")
    }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](nBuckets + 2)

  private def slot(v: Double): Int =
    if (v < lo) 0
    else if (v >= hi) nBuckets + 1
    // v >= lo, so the quotient is non-negative and toInt truncation
    // IS floor; the v >= hi guard above caps rounding at the edge
    else math.min(((v - lo) / width).toInt + 1, nBuckets)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) buf(slot(v.asInstanceOf[Double])) += 1L
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(8 * buf.length)
    buf.foreach(out.putLong(_): Unit)
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val in = java.nio.ByteBuffer.wrap(bytes)
    val buf = createAggregationBuffer()
    var i = 0
    while (i < buf.length) { buf(i) = in.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FixedHistogram =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FixedHistogram =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): FixedHistogram =
    copy(child = newChild)

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hist_fixed"
}

object Histograms {

  /** Histogram of `c` over `[lo, lo + n·width)` plus under/overflow
    * slots, as an `ARRAY<BIGINT>` of length `n + 2` (see
    * [[FixedHistogram]] for the slot layout). */
  def histFixed(c: Column, lo: Double, width: Double, nBuckets: Int): Column =
    Bridge.column(
      FixedHistogram(Bridge.expression(c.cast("double")), lo, width, nBuckets)
        .toAggregateExpression())

  /** Auto-ranged per-group histogram — the `histogram(col, n)` most
    * engines ship, in the engine's deterministic shape: pass 1 is a
    * map-side-combined per-group min/max, pass 2 buckets each row
    * against ITS OWN group's bounds (`width = (max−min)/n`, slot map
    * identical to [[FixedHistogram]]'s including the top-edge cap and
    * the under/overflow slots) and counts per (group, slot). The
    * bounds join is broadcast (group-count-sized), the count shuffle
    * carries one row per populated (group, slot) — never per value.
    * A degenerate group (max == min) lands every value in slot 1.
    * Every arithmetic step is the same IEEE op sequence in any
    * engine, so the data-derived bounds do not cost oracle
    * replayability. Output: groupCols + (slot, cnt, lo, width). */
  def autoHistogram(df: DataFrame, groupCols: Seq[String], valueCol: String,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 1, s"need at least one bucket, got $nBuckets")
    val grp = groupCols.map(col)
    val bounds = df.filter(col(valueCol).isNotNull)
      .groupBy(grp: _*)
      .agg(min(col(valueCol).cast("double")).as("_lo"),
        max(col(valueCol).cast("double")).as("_hi"))
      .withColumn("_width", (col("_hi") - col("_lo")) / lit(nBuckets.toDouble))
    val hi = col("_lo") + lit(nBuckets.toDouble) * col("_width")
    val v = col(valueCol).cast("double")
    val slot =
      when(col("_width") === 0.0, lit(1))
        .when(v < col("_lo"), lit(0))
        .when(v >= hi, lit(nBuckets + 1))
        .otherwise(least(
          floor((v - col("_lo")) / col("_width")).cast("int") + lit(1),
          lit(nBuckets)))
    df.filter(col(valueCol).isNotNull)
      .join(broadcast(bounds), groupCols)
      .groupBy(grp :+ slot.as("slot"): _*)
      .agg(count(lit(1)).as("cnt"),
        first(col("_lo")).as("lo"), first(col("_width")).as("width"))
  }

  /** Exact integer L1 drift between two [[histFixed]] counts columns
    * over the SAME bucket layout: `Σ_i |cA_i·N_B − cB_i·N_A|`, where
    * N = the histogram's total count. Cross-multiplying by the totals
    * compares the two SHAPES (normalized distributions) in pure
    * BIGINT arithmetic — exact, associative, order-free — so the
    * drift statistic is deterministic under any partitioning and
    * bit-reproducible in any engine, with no floating-point reduction
    * anywhere. Every product `c_i·N` is bounded by `N_A·N_B` and the
    * whole sum by `2·N_A·N_B`, so the arithmetic is overflow-free
    * whenever both totals stay ≤ 2³¹−1 (then 2·N_A·N_B < 2⁶³) — and
    * that bound is ENFORCED with a loud `raise_error` (silent int64
    * wrap would make the drift statistic quietly wrong at extreme
    * scale); past it, feed per-partition histograms, not the global
    * one. */
  def l1Drift(ha: Column, hb: Column): Column = {
    val na = aggregate(ha, lit(0L), (acc, x) => acc + x)
    val nb = aggregate(hb, lit(0L), (acc, x) => acc + x)
    // 2³¹−1: both totals ≤ this ⇒ every |c_i·N_B − c'_i·N_A| ≤
    // N_A·N_B and Σ ≤ 2·N_A·N_B ≤ 2·(2³¹−1)² < 2⁶³−1 — exact long
    // math on the fast path, no decimal promotion
    val safe = lit(2147483647L)
    when(na <= safe && nb <= safe,
      aggregate(
        zip_with(ha, hb, (a, b) => abs(a * nb - b * na)),
        lit(0L), (acc, x) => acc + x))
      .otherwise(raise_error(format_string(
        "l1Drift totals %s/%s exceed the int64-exact bound 2147483647; " +
          "drift per-partition histograms instead", na, nb)))
  }

  /** Total-variation distance read off the same pair:
    * `TV = L1 / (2·N_A·N_B)` ∈ [0, 1] — the fraction of probability
    * mass that moved between the two distributions, the standard
    * drift alarm between a training snapshot and a serving window.
    * One rounded IEEE multiply and divide over the exact integer L1,
    * so even the DOUBLE is oracle-reproducible. */
  def tvDistance(ha: Column, hb: Column): Column = {
    val na = aggregate(ha, lit(0L), (acc, x) => acc + x)
    val nb = aggregate(hb, lit(0L), (acc, x) => acc + x)
    l1Drift(ha, hb).cast("double") /
      (lit(2.0) * (na.cast("double") * nb.cast("double")))
  }

  /** Quantile estimates read off a [[histFixed]] counts column:
    * for each requested `(name, p)`, the histogram's linear-
    * interpolation estimate
    * `lo + width · ((i−1) + (p·total − cumBefore)/cnt_i)` where `i`
    * is the first slot whose cumulative count reaches `p·total`.
    * Input: one row per group with the counts array; output: the
    * `groupCols` plus one DOUBLE column per requested quantile.
    *
    * Every arithmetic step is a single IEEE multiply/divide/add over
    * exact integer counts — no transcendentals, no double
    * reductions — so the estimate is bit-reproducible from the same
    * counts in any engine (the oracle replays it from its own
    * re-derived histogram). An estimate landing in the underflow /
    * overflow slot evaluates against that slot's index (0 or n+1) —
    * the caller sized the range; clamping would hide it.
    *
    * Scale: the input is already one row per group; the explode fans
    * out to `nBuckets + 2` rows per group, windows over that bounded
    * set, and collapses back — cost is O(groups · buckets),
    * independent of the data size the histogram summarized. */
  def quantilesFromHistogram(hist: DataFrame, groupCols: Seq[String],
      countsCol: String, lo: Double, width: Double,
      quantiles: Seq[(String, Double)]): DataFrame = {
    val grp = groupCols.map(col)
    val exploded = hist
      .select(grp :+ posexplode(col(countsCol)).as(Seq("slot", "cnt")): _*)
    val wTot = Window.partitionBy(grp: _*)
    val wCum = Window.partitionBy(grp: _*).orderBy(col("slot").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = exploded
      .withColumn("total", sum(col("cnt")).over(wTot))
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .filter(col("cnt") > 0)
    quantiles.map { case (name, p) =>
      val rank = lit(p) * col("total").cast("double")
      val wFirst = Window.partitionBy(grp: _*).orderBy(col("slot").asc)
      cum.filter(col("cum").cast("double") >= rank)
        .withColumn("_pick", row_number().over(wFirst))
        .filter(col("_pick") === 1)
        .select(grp :+
          (lit(lo) + lit(width) *
            ((col("slot") - lit(1)).cast("double") +
              (rank - (col("cum") - col("cnt")).cast("double")) /
                col("cnt").cast("double"))).as(name): _*)
    }.reduce(_.join(_, groupCols))
  }
}
