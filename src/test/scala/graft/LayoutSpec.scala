package graft

import org.apache.spark.sql.functions._
import graft.operators.Layout

class LayoutSpec extends SparkSpec {

  test("zValue interleaves bits (known points, monotone blocks)") {
    import spark.implicits._
    val out = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (5L, 3L))
      .toDF("x", "y")
      .select(Layout.zValue(col("x"), col("y"), 8).as("z"))
      .as[Long].collect().toSeq
    // x bits at even positions, y bits at odd: (5,3)=0b101,0b011 ->
    // z = 1<<0 | 1<<4 | 1<<1 | 1<<3 = 0b11011 = 27
    assert(out == Seq(0L, 1L, 2L, 3L, 27L))
  }

  test("zValueN interleaves three dimensions round-robin") {
    import spark.implicits._
    // (1,0,0)->bit0, (0,1,0)->bit1, (0,0,1)->bit2, (2,0,0)->bit3(=1<<(1*3+0))
    val out = Seq((1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L), (2L, 0L, 0L), (3L, 3L, 3L))
      .toDF("x", "y", "z")
      .select(Layout.zValueN(Seq(col("x"), col("y"), col("z")), 4).as("m"))
      .as[Long].collect().toSeq
    assert(out == Seq(1L, 2L, 4L, 8L, 63L))
  }
}
