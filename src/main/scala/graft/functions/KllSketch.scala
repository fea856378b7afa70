package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Unknown-range mergeable quantile sketch (KLL/MRL class) — the
  * streaming-profile gap [[FixedHistogram]] leaves open: the histogram
  * needs `[lo, width]` a priori, exact percentiles sort every group's
  * values through the shuffle. This sketch profiles an UNBOUNDED,
  * unknown-range value stream in `O(k · log(n/k))` space per group
  * with a provable rank-error bound, and merges associatively enough
  * to ride Spark's partial-aggregation path (map-side combine, one
  * small state blob per group per partition on the wire).
  *
  * Shape: the Munro-Paterson/MRL equal-capacity ladder with KLL-style
  * deterministic compaction — level `i` holds up to `k` values, each
  * carrying weight `2^i`. A full level sorts, keeps every other value
  * (the survivor offset is an md5-DERIVED COIN over the level's sorted
  * content — the Portable-hash discipline: no RNG, reruns reproduce),
  * and promotes the survivors at doubled weight. An odd value count
  * leaves the last (largest) value behind at the level, so TOTAL
  * WEIGHT IS CONSERVED EXACTLY: Σ weight ≡ n at all times, and rank
  * targets computed from the sketch's own weight are never biased by
  * lost mass.
  *
  * Determinism contract (what is and is not guaranteed):
  *  - BELOW CAPACITY (n ≤ k per group): no compaction ever fires, the
  *    state is the exact value multiset, eval sorts it — the result is
  *    EXACT and invariant under ANY partitioning / merge order (the
  *    `q_agg_kll_quantile` gate replays it bit-for-bit in the oracle);
  *  - above capacity: each compaction moves any value's rank by at
  *    most half the compacted weight, giving the classic bound
  *    `|rank error| ≤ H·n/k` (H = levels) under EVERY merge tree; the
  *    md5 coin makes any FIXED merge tree bit-reproducible, but
  *    Spark's reduce-side merge order is scheduling-dependent, so
  *    cross-run equality is only guaranteed below capacity — the
  *    error bound is what holds universally (KllSpec pins both).
  *
  * Quantile read-off is SELECTION, not interpolation: the returned
  * values are actual input values (rank target `⌈p·N⌉`), so no
  * arithmetic ever manufactures a value — which is also what makes
  * the below-capacity oracle exact in any engine.
  */
case class KllQuantiles(
    child: Expression,
    k: Int,
    probs: Seq[Double],
    requireExact: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllQuantiles.Buf]
  with UnaryLike[Expression] {

  require(k >= 8, s"kll capacity must be >= 8, got $k")
  require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
    s"quantile probabilities must be in [0,1], got ${probs.mkString(",")}")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case DoubleType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"kll_quantiles takes a DOUBLE value, got ${other.simpleString}")
    }

  override def createAggregationBuffer(): KllQuantiles.Buf = new KllQuantiles.Buf(k)

  override def update(buf: KllQuantiles.Buf, input: InternalRow): KllQuantiles.Buf = {
    val v = child.eval(input)
    if (v != null) buf.insert(v.asInstanceOf[Double])
    buf
  }

  override def merge(buf: KllQuantiles.Buf, other: KllQuantiles.Buf): KllQuantiles.Buf = {
    buf.mergeIn(other)
    buf
  }

  override def eval(buf: KllQuantiles.Buf): Any = {
    if (requireExact && buf.numLevels > 1) throw new IllegalStateException(
      s"kll_quantiles(requireExact=true): a group exceeded the k=$k capacity " +
        s"(n=${buf.totalWeight}) and compacted — the result would be " +
        "approximate. Raise k or drop the exactness requirement.")
    new GenericArrayData(buf.quantiles(probs))
  }

  override def serialize(buf: KllQuantiles.Buf): Array[Byte] = buf.serialize()

  override def deserialize(bytes: Array[Byte]): KllQuantiles.Buf =
    KllQuantiles.Buf.deserialize(k, bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KllQuantiles =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllQuantiles =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KllQuantiles =
    copy(child = newChild)

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "kll_quantiles"
}

object KllQuantiles {

  /** Level ladder: `levels(i)` holds values of weight `2^i`,
    * compacted only when it EXCEEDS `k` (so a group of exactly `k`
    * values stays in the exact regime, matching the documented
    * `n ≤ k` contract). Mutable, single-threaded per
    * Spark's aggregate-buffer contract. */
  final class Buf(k: Int) {
    private[functions] var levels: Array[scala.collection.mutable.ArrayBuffer[Double]] =
      Array(new scala.collection.mutable.ArrayBuffer[Double](k))

    def insert(v: Double): Unit = {
      levels(0) += v
      if (levels(0).length > k) compactFrom(0)
    }

    def mergeIn(other: Buf): Unit = {
      if (other.levels.length > levels.length) {
        val old = levels
        // distinct buffer per new slot (padTo would alias ONE buffer)
        levels = Array.tabulate(other.levels.length)(i =>
          if (i < old.length) old(i)
          else new scala.collection.mutable.ArrayBuffer[Double](k))
      }
      var i = 0
      while (i < other.levels.length) {
        levels(i) ++= other.levels(i)
        i += 1
      }
      i = 0
      while (i < levels.length) {
        if (levels(i).length > k) compactFrom(i)
        i += 1
      }
    }

    /** Compact level `from` (and cascade): sort, drop every other
      * value from the md5-coin offset, promote survivors at doubled
      * weight; an odd count leaves the largest value at the level so
      * total weight is conserved exactly. */
    private def compactFrom(from: Int): Unit = {
      var i = from
      while (i < levels.length && levels(i).length > k) {
        val lvl = levels(i)
        val sorted = lvl.toArray
        java.util.Arrays.sort(sorted)
        val m = sorted.length - (sorted.length % 2) // even prefix compacts
        val offset = coin(sorted, i)
        lvl.clear()
        if (m < sorted.length) lvl += sorted(m) // odd leftover stays
        if (i + 1 >= levels.length) {
          require(levels.length < 62, "kll level ladder overflow (weights exceed 2^62)")
          levels = levels :+ new scala.collection.mutable.ArrayBuffer[Double](k)
        }
        val up = levels(i + 1)
        var j = offset
        while (j < m) { up += sorted(j); j += 2 }
        i += 1
      }
    }

    /** Deterministic survivor offset ∈ {0, 1}: low bit of md5 over the
      * level index and the sorted content — the Portable-hash
      * discipline (no RNG; the same compaction input always flips the
      * same way, so a fixed merge tree is bit-reproducible). */
    private def coin(sorted: Array[Double], level: Int): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val bb = java.nio.ByteBuffer.allocate(8 * (sorted.length + 1))
      bb.putLong(level.toLong)
      sorted.foreach(v => bb.putLong(java.lang.Double.doubleToLongBits(v)): Unit)
      md.digest(bb.array()).last & 1
    }

    /** Selection-based quantile read-off: sort the weighted multiset,
      * return for each p the smallest value whose cumulative weight
      * reaches `max(1, ⌈p·N⌉)` (the whole array when N = 0 is empty —
      * NaN placeholders keep the arity). */
    def quantiles(probs: Seq[Double]): Array[Double] = {
      var n = 0L
      var i = 0
      while (i < levels.length) { n += levels(i).length.toLong << i; i += 1 }
      if (n == 0L) return probs.map(_ => Double.NaN).toArray
      val items = new Array[(Double, Long)](levels.map(_.length).sum)
      var at = 0
      i = 0
      while (i < levels.length) {
        val w = 1L << i
        levels(i).foreach { v => items(at) = (v, w); at += 1 }
        i += 1
      }
      val sorted = items.sortBy(_._1)
      probs.map { p =>
        val target = math.max(1L, math.ceil(p * n.toDouble).toLong)
        var cum = 0L
        var j = 0
        var out = sorted.last._1
        var found = false
        while (j < sorted.length && !found) {
          cum += sorted(j)._2
          if (cum >= target) { out = sorted(j)._1; found = true }
          j += 1
        }
        out
      }.toArray
    }

    /** Total retained values (diagnostic / spec surface). */
    def retained: Int = levels.map(_.length).sum
    /** Exact total weight = number of inserted values. */
    def totalWeight: Long = {
      var n = 0L
      var i = 0
      while (i < levels.length) { n += levels(i).length.toLong << i; i += 1 }
      n
    }
    def numLevels: Int = levels.length

    def serialize(): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(
        4 + levels.length * 4 + retained * 8)
      bb.putInt(levels.length)
      levels.foreach { lvl =>
        bb.putInt(lvl.length)
        lvl.foreach(v => bb.putDouble(v): Unit)
      }
      bb.array()
    }
  }

  object Buf {
    def deserialize(k: Int, bytes: Array[Byte]): Buf = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val nLevels = bb.getInt
      val buf = new Buf(k)
      buf.levels = Array.fill(nLevels) {
        val sz = bb.getInt
        val lvl = new scala.collection.mutable.ArrayBuffer[Double](sz)
        var i = 0
        while (i < sz) { lvl += bb.getDouble; i += 1 }
        lvl
      }
      buf
    }
  }
}

/** The sketch STATE as a value: aggregates values into a KLL ladder
  * and emits the serialized bytes instead of reading quantiles off —
  * the incremental-maintenance half of the family. A nightly job
  * stores one sketch row per (batch, group); refreshing the corpus
  * profile then aggregates the tiny sketch rows with
  * [[KllMergeQuantiles]] and never rescans data (mergeable-summaries
  * property: merged ladder ≡ ladder of the union, exactly so below
  * capacity). */
case class KllSketchAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllQuantiles.Buf]
  with UnaryLike[Expression] {

  require(k >= 8, s"kll capacity must be >= 8, got $k")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case DoubleType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"kll_sketch takes a DOUBLE value, got ${other.simpleString}")
    }

  override def createAggregationBuffer(): KllQuantiles.Buf = new KllQuantiles.Buf(k)
  override def update(buf: KllQuantiles.Buf, input: InternalRow): KllQuantiles.Buf = {
    val v = child.eval(input)
    if (v != null) buf.insert(v.asInstanceOf[Double])
    buf
  }
  override def merge(buf: KllQuantiles.Buf, other: KllQuantiles.Buf): KllQuantiles.Buf = {
    buf.mergeIn(other); buf
  }
  override def eval(buf: KllQuantiles.Buf): Any = buf.serialize()
  override def serialize(buf: KllQuantiles.Buf): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): KllQuantiles.Buf =
    KllQuantiles.Buf.deserialize(k, bytes)
  override def withNewMutableAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KllSketchAgg =
    copy(child = newChild)
  override def nullable: Boolean = false
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def prettyName: String = "kll_sketch"
}

/** Merge STORED sketch states (binary rows from [[KllSketchAgg]])
  * and read quantiles off the merged ladder — the refresh side of
  * incremental maintenance: input rows are sketches, never data, so
  * updating a 100 TB table's quantile profile after a new batch costs
  * one pass over per-batch sketch rows. */
case class KllMergeQuantiles(
    child: Expression,
    k: Int,
    probs: Seq[Double],
    requireExact: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllQuantiles.Buf]
  with UnaryLike[Expression] {

  require(k >= 8, s"kll capacity must be >= 8, got $k")
  require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
    s"quantile probabilities must be in [0,1], got ${probs.mkString(",")}")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"kll_merge takes BINARY sketch states, got ${other.simpleString}")
    }

  override def createAggregationBuffer(): KllQuantiles.Buf = new KllQuantiles.Buf(k)
  override def update(buf: KllQuantiles.Buf, input: InternalRow): KllQuantiles.Buf = {
    val v = child.eval(input)
    if (v != null)
      buf.mergeIn(KllQuantiles.Buf.deserialize(k, v.asInstanceOf[Array[Byte]]))
    buf
  }
  override def merge(buf: KllQuantiles.Buf, other: KllQuantiles.Buf): KllQuantiles.Buf = {
    buf.mergeIn(other); buf
  }
  override def eval(buf: KllQuantiles.Buf): Any = {
    if (requireExact && buf.numLevels > 1) throw new IllegalStateException(
      s"kll_merge(requireExact=true): the merged ladder exceeded the k=$k " +
        s"capacity (n=${buf.totalWeight}) and compacted — the result would " +
        "be approximate. Raise k or drop the exactness requirement.")
    new GenericArrayData(buf.quantiles(probs))
  }
  override def serialize(buf: KllQuantiles.Buf): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): KllQuantiles.Buf =
    KllQuantiles.Buf.deserialize(k, bytes)
  override def withNewMutableAggBufferOffset(newOffset: Int): KllMergeQuantiles =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllMergeQuantiles =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KllMergeQuantiles =
    copy(child = newChild)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "kll_merge"
}

object Kll {

  /** Quantile estimates of `c` at the given probabilities from one
    * KLL sketch per group: `ARRAY<DOUBLE>`, one actual data value per
    * probability (selection at rank `⌈p·N⌉`). Exact whenever the
    * group holds ≤ `k` values; `H·n/k` rank-error-bounded beyond. */
  def kllQuantiles(c: Column, k: Int, probs: Seq[Double]): Column =
    Bridge.column(
      KllQuantiles(Bridge.expression(c.cast("double")), k, probs)
        .toAggregateExpression())

  /** [[kllQuantiles]] with the exact-regime precondition ENFORCED:
    * throws (loud, job-failing) if any group exceeds `k` and would
    * silently leave the exact regime — the guard the exact-rank
    * oracle gates need so a scale-up can never turn a bit-exact
    * comparison into an unexplained flake. */
  def kllQuantilesExact(c: Column, k: Int, probs: Seq[Double]): Column =
    Bridge.column(
      KllQuantiles(Bridge.expression(c.cast("double")), k, probs,
        requireExact = true).toAggregateExpression())

  /** Serialized sketch state per group (`BINARY`) — store it with
    * the batch; see [[KllSketchAgg]]. */
  def kllSketch(c: Column, k: Int): Column =
    Bridge.column(
      KllSketchAgg(Bridge.expression(c.cast("double")), k)
        .toAggregateExpression())

  /** Merge stored sketch states and read quantiles (see
    * [[KllMergeQuantiles]]) with the exact-regime precondition
    * ENFORCED (see [[kllQuantilesExact]]): throws if the MERGED ladder
    * compacted — catches both oversized stored sketches and an
    * oversized union. */
  def kllMergeExact(state: Column, k: Int, probs: Seq[Double]): Column =
    Bridge.column(
      KllMergeQuantiles(Bridge.expression(state), k, probs,
        requireExact = true).toAggregateExpression())
}
