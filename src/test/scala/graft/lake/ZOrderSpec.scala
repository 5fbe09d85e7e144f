package graft.lake

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The Morton interleave kernel behind `ZOrder.assignFixedGrid`
  * (q118): known codes for small cell coordinates.
  */
class ZOrderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("interleave kernel: known codes and monotone locality") {
    import graft.functions.expressions.TextExpressions
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (3L, 5L))
      .toDF("a", "b")
      .select(TextExpressions.interleave_bits($"a", $"b", 8).as("z"))
    // a bits on even positions, b on odd: (1,0)->1, (0,1)->2, (1,1)->3,
    // (3,5)-> a=11b -> 0b0101; b=101b -> 0b100010 -> 0b100111 = 39
    assert(df.as[Long].collect().toSeq == Seq(0L, 1L, 2L, 3L, 39L))
  }
}
