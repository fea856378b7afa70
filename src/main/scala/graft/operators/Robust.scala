package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Robust-statistics cleaning for numeric feature columns: clip to
  * exact percentile bounds (winsorization) and flag outliers by the
  * median/MAD rule — the two standard pre-training normalizations for
  * numeric metadata (lengths, scores, prices) whose distributions have
  * heavy tails that would otherwise dominate a mean/stddev rule.
  *
  * Both are TWO-PASS plans: one exact per-group quantile aggregate
  * over the value column (groups are low-cardinality, so the result
  * broadcasts), then one zero-shuffle scan applying the bounds —
  * at 100 TB the data is touched twice and shuffled never; only the
  * per-group bound rows cross the wire. All arithmetic is IEEE
  * subtract/multiply/compare over exact interpolated percentiles
  * (Spark `percentile` ≡ DuckDB `quantile_cont`, both the
  * lower + g·(higher − lower) rule), so outputs hash-match an oracle.
  */
object Robust {

  /** Per-group winsorization stats: the exact [pLo, pHi] percentile
    * bounds, how many values each tail clipped, and the clipped sum
    * (routed through DECIMAL — summing raw doubles would make the
    * result partitioning-dependent). One row per group. */
  def winsorizeStats(df: DataFrame, valueCol: String, groupCols: Seq[String],
      pLo: Double, pHi: Double): DataFrame = {
    val g = groupCols.map(col)
    val v = col(valueCol).cast("double")
    val bounds = df.groupBy(g: _*).agg(
      expr(s"percentile(CAST($valueCol AS DOUBLE), $pLo)").as("q_lo"),
      expr(s"percentile(CAST($valueCol AS DOUBLE), $pHi)").as("q_hi"))
    val clipped = least(greatest(v, col("q_lo")), col("q_hi"))
    df.join(broadcast(bounds), groupCols)
      .groupBy(g: _*)
      .agg(first(col("q_lo")).as("q_lo"), first(col("q_hi")).as("q_hi"),
        count(lit(1)).as("n"),
        sum(when(v < col("q_lo"), 1L).otherwise(0L)).as("n_clipped_lo"),
        sum(when(v > col("q_hi"), 1L).otherwise(0L)).as("n_clipped_hi"),
        sum(clipped.cast("decimal(18,6)")).cast("double").as("sum_clipped"))
  }

  /** Per-group robust outlier profile by the median/MAD rule: a value
    * is an outlier when `|x − median| > k · 1.4826 · MAD` (1.4826
    * scales the median absolute deviation to the stddev of a normal —
    * the textbook consistency constant). Returns one row per group
    * with the median, the MAD, and the outlier count; an all-equal
    * group has MAD 0 and flags nothing (the rule needs spread).
    * Three passes (median, MAD, flags), zero data shuffles — each
    * pass broadcasts one tiny per-group row back onto a scan. */
  def madOutlierStats(df: DataFrame, valueCol: String, groupCols: Seq[String],
      k: Double = 3.0): DataFrame = {
    val g = groupCols.map(col)
    val v = col(valueCol).cast("double")
    val med = df.groupBy(g: _*).agg(
      expr(s"percentile(CAST($valueCol AS DOUBLE), 0.5)").as("med"))
    val withMed = df.join(broadcast(med), groupCols)
    val mad = withMed.groupBy(g: _*).agg(
      first(col("med")).as("med"),
      expr(s"percentile(abs(CAST($valueCol AS DOUBLE) - med), 0.5)").as("mad"))
    val cut = (lit(k) * lit(1.4826)) * col("mad")
    df.join(broadcast(mad), groupCols)
      .groupBy(g: _*)
      .agg(first(col("med")).as("med"), first(col("mad")).as("mad"),
        count(lit(1)).as("n"),
        sum(when(col("mad") > 0 && abs(v - col("med")) > cut, 1L)
          .otherwise(0L)).as("n_outliers"))
  }
}
