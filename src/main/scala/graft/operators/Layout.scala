package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout for scan pruning — the write-side
  * optimization that matters most at 100 TB: parquet keeps min/max
  * stats per file and row group, so co-locating rows that are close in
  * SEVERAL filter dimensions lets a scan with predicates on any of
  * them skip most of the data. Linear (single-column) sort clusters
  * one dimension perfectly and scatters the rest; a Z-order (Morton)
  * curve trades a little locality in each dimension for locality in
  * all of them.
  *
  * The curve value is plain bit arithmetic (bounded inputs, bit
  * interleave), so it is reproducible in ANSI SQL for the differential
  * oracle — no UDF, fully codegen'd.
  */
object Layout {

  /** Morton (Z-order) interleave of two non-negative dimensions, each
    * truncated to `bits` low bits (caller scales/normalizes first —
    * rank, bucket id, day number, …). Bit i of x lands at 2i, bit i of
    * y at 2i+1. Pure codegen'd bit arithmetic. */
  def zValue(x: Column, y: Column, bits: Int = 16): Column =
    zValueN(Seq(x, y), bits)

  /** N-dimensional Morton interleave: bit i of dimension d lands at
    * position i*dims + d. `dims * bits` must stay within the sign-safe
    * 63 bits of a long. */
  def zValueN(cols: Seq[Column], bits: Int): Column = {
    val dims = cols.length
    require(dims >= 2, s"need at least 2 dimensions: $dims")
    require(bits >= 1 && dims * bits <= 63,
      s"dims*bits must be in [1,63]: $dims*$bits")
    val masked = cols.map(_.cast("long").bitwiseAND((1L << bits) - 1))
    (for {
      i <- 0 until bits
      (c, d) <- masked.zipWithIndex
    } yield shiftleft(shiftright(c, i).bitwiseAND(1L), i * dims + d))
      .reduce(_ bitwiseOR _)
  }

  /** The matching oracle-side SQL expression (same truncation, same
    * interleave) for a differential gate. */
  def zValueSql(x: String, y: String, bits: Int = 16): String = {
    val mask = (1L << bits) - 1
    // every term fully parenthesized: SQL bitwise operators are flat
    // left-associative, so a bare `a << 0 | b << 1` parses as
    // `((a << 0) | b) << 1`
    val terms = (0 until bits).flatMap { i =>
      Seq(s"(((($x & $mask) >> $i) & 1) << ${2 * i})",
        s"(((($y & $mask) >> $i) & 1) << ${2 * i + 1})")
    }
    terms.mkString("(", " | ", ")")
  }
}
