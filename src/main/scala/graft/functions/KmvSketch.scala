package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.functions.{conv, lit, md5, substr}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType}

/** KMV (k-minimum-values) distinct-count sketch (Bar-Yossef et al.,
  * RANDOM'02; the bottom-k variant of Beyer et al., SIGMOD'07) as a
  * mergeable [[TypedImperativeAggregate]] — the approximate
  * COUNT(DISTINCT) whose state is k longs per group instead of a
  * per-group hash set: at 100 TB an exact distinct over a high-
  * cardinality key shuffles every distinct value; this ships at most
  * k values per group per map partition and merges by bounded union,
  * so error (~1/√(k−2)) is bought at CONSTANT memory.
  *
  * Portable by construction, unlike HLL: the input is a 48-bit
  * md5-derived hash (see [[KmvDistinct.hash48]] — the same Portable
  * md5 family as the MinHash/SimHash operators), every kept value is
  * exactly representable in a DOUBLE, and the estimate
  * `⌊(k−1) · 2⁴⁸ / h_k⌋` (h_k = k-th smallest distinct hash) is one
  * exact product and one correctly-rounded IEEE division — so a
  * DuckDB oracle reproduces the estimate BIT-EXACTLY, which no
  * engine-native approx_count_distinct offers. Groups with fewer
  * than k distinct hashes return the exact count.
  */
case class KmvDistinct(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.TreeSet[Long]]
  with UnaryLike[Expression] {

  require(k >= 2, s"k must be at least 2, got $k")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"kmv_distinct takes a BIGINT hash (use hash48), got ${other.simpleString}")
    }

  override def createAggregationBuffer(): mutable.TreeSet[Long] = mutable.TreeSet.empty

  private def offer(buf: mutable.TreeSet[Long], h: Long): Unit =
    if (buf.size < k) { buf.add(h); () }
    // last = current max; add() returning false means h was a dup
    else if (h < buf.last && buf.add(h)) { buf.remove(buf.last); () }

  override def update(buf: mutable.TreeSet[Long], input: InternalRow): mutable.TreeSet[Long] = {
    val v = child.eval(input)
    if (v != null) offer(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: mutable.TreeSet[Long],
      other: mutable.TreeSet[Long]): mutable.TreeSet[Long] = {
    other.foreach(offer(buf, _))
    buf
  }

  override def eval(buf: mutable.TreeSet[Long]): Any =
    if (buf.size < k) buf.size.toLong
    else {
      // (k-1) * 2^48 is exact (k's few significant bits shift into
      // zeros); h_k < 2^48 < 2^53 is exact; one rounded division
      val hk = buf.last
      math.floor(((k - 1).toDouble * KmvDistinct.Pow48) / hk.toDouble).toLong
    }

  override def serialize(buf: mutable.TreeSet[Long]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(4 + 8 * buf.size)
    out.putInt(buf.size)
    buf.foreach(out.putLong(_): Unit)
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[Long] = {
    val in = java.nio.ByteBuffer.wrap(bytes)
    val n = in.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf += in.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvDistinct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvDistinct =
    copy(child = newChild)

  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "kmv_distinct"
}

/** The KMV sketch STATE as a value: the sorted k-minima array
  * (`ARRAY<BIGINT>`) instead of the collapsed estimate — what makes
  * the sketch an ALGEBRA: stored minima arrays union (k smallest of
  * the merged distinct hashes IS the union's sketch, exactly),
  * intersect via the k-minima membership estimator, and re-estimate,
  * all with builtin array functions — so cross-corpus overlap
  * profiling (train/test contamination rate, audience overlap) runs
  * on sketch rows without rescanning either table. */
case class KmvMinima(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.TreeSet[Long]]
  with UnaryLike[Expression] {

  require(k >= 2, s"k must be at least 2, got $k")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"kmv_minima takes a BIGINT hash (use hash48), got ${other.simpleString}")
    }

  override def createAggregationBuffer(): mutable.TreeSet[Long] = mutable.TreeSet.empty

  private def offer(buf: mutable.TreeSet[Long], h: Long): Unit =
    if (buf.size < k) { buf.add(h); () }
    else if (h < buf.last && buf.add(h)) { buf.remove(buf.last); () }

  override def update(buf: mutable.TreeSet[Long], input: InternalRow): mutable.TreeSet[Long] = {
    val v = child.eval(input)
    if (v != null) offer(buf, v.asInstanceOf[Long])
    buf
  }
  override def merge(buf: mutable.TreeSet[Long],
      other: mutable.TreeSet[Long]): mutable.TreeSet[Long] = {
    other.foreach(offer(buf, _))
    buf
  }
  override def eval(buf: mutable.TreeSet[Long]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buf.toArray)
  override def serialize(buf: mutable.TreeSet[Long]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(4 + 8 * buf.size)
    out.putInt(buf.size)
    buf.foreach(out.putLong(_): Unit)
    out.array()
  }
  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[Long] = {
    val in = java.nio.ByteBuffer.wrap(bytes)
    val n = in.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf += in.getLong; i += 1 }
    buf
  }
  override def withNewMutableAggBufferOffset(newOffset: Int): KmvMinima =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvMinima =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvMinima =
    copy(child = newChild)
  override def nullable: Boolean = false
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "kmv_minima"
}

object KmvDistinct {
  val Pow48: Double = (1L << 48).toDouble

  /** The Portable 48-bit hash: first 12 hex chars of md5, as a long —
    * `('0x' || substr(md5(x), 1, 12))::BIGINT` in the oracle dialect. */
  def hash48(c: Column): Column =
    conv(substr(md5(c.cast("string")), lit(1), lit(12)), 16, 10).cast("long")

  /** Distinct-count estimate of `c` (any type; hashed internally). */
  def kmvDistinct(c: Column, k: Int): Column =
    Bridge.column(KmvDistinct(Bridge.expression(hash48(c)), k).toAggregateExpression())

  /** The sorted k-minima state of `c` (`ARRAY<BIGINT>`) — the
    * storable/composable form; see [[KmvMinima]]. */
  def kmvMinima(c: Column, k: Int): Column =
    Bridge.column(KmvMinima(Bridge.expression(hash48(c)), k).toAggregateExpression())

  import org.apache.spark.sql.functions._

  /** The UNION's sketch from two stored minima arrays: the k smallest
    * of the merged distinct hashes — exactly the sketch a single pass
    * over A ∪ B would build (the KMV mergeability property). */
  def kmvUnion(a: Column, b: Column, k: Int): Column =
    slice(array_sort(array_union(a, b)), 1, k)

  /** Distinct-count estimate read off a minima array (same formula as
    * [[KmvDistinct]]: exact below k, `⌊(k−1)·2⁴⁸/h_k⌋` at capacity). */
  def kmvEstimate(st: Column, k: Int): Column =
    when(size(st) < k, size(st).cast("long"))
      .otherwise(floor(
        (lit((k - 1).toDouble) * lit(Pow48)) /
          element_at(st, k).cast("double")).cast("long"))

  /** Estimated Jaccard |A∩B|/|A∪B| (Beyer et al., SIGMOD'07): the
    * fraction of the union sketch's minima present in BOTH input
    * sketches — each minimum is a uniform sample of A ∪ B, so the
    * membership fraction estimates the overlap. Exact when both sets
    * fit below k. */
  def kmvJaccard(a: Column, b: Column, k: Int): Column = {
    val u = kmvUnion(a, b, k)
    size(filter(u, x => array_contains(a, x) && array_contains(b, x))).cast("double") /
      size(u).cast("double")
  }

  /** Estimated intersection cardinality: `⌊jaccard · unionEstimate⌋`. */
  def kmvIntersect(a: Column, b: Column, k: Int): Column =
    floor(kmvJaccard(a, b, k) * kmvEstimate(kmvUnion(a, b, k), k).cast("double"))
      .cast("long")
}
