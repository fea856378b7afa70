package graft

import org.apache.spark.sql.functions._

import graft.functions.{Kll, KllQuantiles}

/** The unknown-range KLL/MRL quantile sketch:
  *  - exact below capacity, bit-identical under any partitioning;
  *  - total weight conserved exactly through compaction (odd
  *    leftovers stay behind — no mass is ever lost);
  *  - compacted regime honors the H·n/k rank-error bound;
  *  - the md5 compaction coin makes a fixed build bit-reproducible;
  *  - SQL-callable via kll_quantiles (both registration surfaces
  *    share SqlBuilders).
  */
class KllSpec extends SparkSpec {
  import spark.implicits._

  // deterministic value stream with duplicates and scale spread:
  // (i*2654435761 mod 2^31) scaled — fixed permutation, no RNG
  private def stream(n: Int): Seq[Double] =
    (1 to n).map(i => ((i.toLong * 2654435761L) % 2147483647L).toDouble / 1024.0)

  private def exactRank(sorted: IndexedSeq[Double], v: Double): Long =
    sorted.count(_ <= v).toLong

  test("exact below capacity and invariant under any partitioning") {
    val data = stream(1000)
    val sortedData = data.sorted.toIndexedSeq
    val expected = Seq(0.25, 0.5, 0.75).map { p =>
      sortedData((math.max(1, math.ceil(p * 1000).toLong) - 1).toInt)
    }
    Seq(1, 7, 32).foreach { parts =>
      val got = data.toDF("v").repartition(parts)
        .agg(Kll.kllQuantiles(col("v"), 2048, Seq(0.25, 0.5, 0.75)).as("q"))
        .collect()(0).getSeq[Double](0)
      assert(got == expected, s"parts=$parts")
    }
  }

  test("n == k boundary stays exact (compaction fires only ABOVE capacity)") {
    // the documented contract is exact at n <= k — a group of EXACTLY
    // k values must not compact (regression: insert used >= k)
    val k = 64
    val data = stream(k)
    val buf = new KllQuantiles.Buf(k)
    data.foreach(buf.insert)
    assert(buf.numLevels == 1, "a group of exactly k values must not compact")
    assert(buf.retained == k)
    val sortedData = data.sorted.toIndexedSeq
    Seq(0.25, 0.5, 0.75, 1.0).foreach { p =>
      val target = (math.max(1L, math.ceil(p * k).toLong) - 1).toInt
      assert(buf.quantiles(Seq(p))(0) == sortedData(target), s"p=$p")
    }
    // one value past capacity DOES compact
    buf.insert(0.0)
    assert(buf.numLevels == 2, "k+1 values must compact")
    assert(buf.totalWeight == k + 1L)
  }

  test("weight is conserved exactly through compaction (driver-side ladder)") {
    val buf = new KllQuantiles.Buf(64)
    stream(50000).foreach(buf.insert)
    assert(buf.totalWeight == 50000L)
    assert(buf.retained <= 64 * buf.numLevels)
    assert(buf.numLevels >= 2, "capacity 64 over 50k values must compact")
  }

  test("compacted regime honors the H*n/k rank-error bound (driver-side)") {
    val n = 50000
    val k = 128
    val data = stream(n)
    val sortedData = data.sorted.toIndexedSeq
    val buf = new KllQuantiles.Buf(k)
    data.foreach(buf.insert)
    val h = buf.numLevels
    val bound = h.toLong * n / k
    Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99).foreach { p =>
      val target = math.max(1L, math.ceil(p * n).toLong)
      val got = buf.quantiles(Seq(p))(0)
      val err = math.abs(exactRank(sortedData, got) - target)
      assert(err <= bound, s"p=$p err=$err bound=$bound (H=$h)")
    }
  }

  test("compacted regime honors the rank-error bound through Spark's merge path") {
    val n = 50000
    val k = 128
    val data = stream(n)
    val sortedData = data.sorted.toIndexedSeq
    // Spark's reduce-side merge tree can add a level or two over the
    // single-stream ladder; bound with a conservative H
    val h = 64 - java.lang.Long.numberOfLeadingZeros(2L * n / k) + 2
    val bound = h.toLong * n / k
    val got = data.toDF("v").repartition(16)
      .agg(Kll.kllQuantiles(col("v"), k, Seq(0.25, 0.5, 0.9)).as("q"))
      .collect()(0).getSeq[Double](0)
    Seq(0.25, 0.5, 0.9).zip(got).foreach { case (p, v) =>
      val target = math.max(1L, math.ceil(p * n).toLong)
      val err = math.abs(exactRank(sortedData, v) - target)
      assert(err <= bound, s"p=$p err=$err bound=$bound")
      // the returned value is an ACTUAL input value (selection, not
      // interpolation) — the property that makes oracles replayable
      assert(data.contains(v))
    }
  }

  test("a fixed build is bit-reproducible (md5 coin, no RNG)") {
    def build(): Array[Byte] = {
      val buf = new KllQuantiles.Buf(32)
      stream(10000).foreach(buf.insert)
      buf.serialize()
    }
    assert(java.util.Arrays.equals(build(), build()))
  }

  test("serialize/deserialize round-trips the ladder (streaming state-store contract)") {
    val buf = new KllQuantiles.Buf(64)
    stream(5000).foreach(buf.insert)
    val back = KllQuantiles.Buf.deserialize(64, buf.serialize())
    assert(back.totalWeight == buf.totalWeight)
    assert(back.quantiles(Seq(0.5)).toSeq == buf.quantiles(Seq(0.5)).toSeq)
  }

  test("SQL surface: kll_quantiles registered and exact below capacity") {
    GraftSql.registerFunctions(spark)
    stream(500).toDF("v").createOrReplaceTempView("kll_in")
    val sortedData = stream(500).sorted.toIndexedSeq
    val got = spark.sql(
      "SELECT kll_quantiles(v, 1024, 0.5, 0.9) AS q FROM kll_in")
      .collect()(0).getSeq[Double](0)
    val expected = Seq(0.5, 0.9).map { p =>
      sortedData((math.max(1, math.ceil(p * 500).toLong) - 1).toInt)
    }
    assert(got == expected)
  }

  test("sketch-state store + merge equals direct aggregation (incremental maintenance)") {
    val data = stream(3000)
    val (a, b) = data.splitAt(1700)
    // exact regime: merged ladder == union multiset == direct build
    val direct = data.toDF("v")
      .agg(Kll.kllQuantiles(col("v"), 4096, Seq(0.25, 0.5, 0.9)).as("q"))
      .collect()(0).getSeq[Double](0)
    val states = Seq(a, b).map(part => part.toDF("v")
      .agg(Kll.kllSketch(col("v"), 4096).as("s")).collect()(0).getAs[Array[Byte]](0))
    val merged = states.map(Tuple1(_)).toDF("s")
      .agg(Kll.kllMergeExact(col("s"), 4096, Seq(0.25, 0.5, 0.9)).as("q"))
      .collect()(0).getSeq[Double](0)
    assert(merged == direct)
    // compacted regime: weight is still conserved through store+merge
    val big = stream(30000)
    val (c, e) = big.splitAt(11000)
    val sC = Seq(c, e).map(part => part.toDF("v")
      .agg(Kll.kllSketch(col("v"), 64).as("s")).collect()(0).getAs[Array[Byte]](0))
    val buf = new KllQuantiles.Buf(64)
    sC.foreach(bytes => buf.mergeIn(KllQuantiles.Buf.deserialize(64, bytes)))
    assert(buf.totalWeight == 30000L)
  }

  test("empty and all-null input yields NaN placeholders, not a crash") {
    val got = Seq.empty[Double].toDF("v")
      .agg(Kll.kllQuantiles(col("v"), 64, Seq(0.5)).as("q"))
      .collect()(0).getSeq[Double](0)
    assert(got.length == 1 && got(0).isNaN)
  }
}
