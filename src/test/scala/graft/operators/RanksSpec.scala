package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class RanksSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("kendall tau-b: perfect, inverted and tied fixtures by hand") {
    def run(rows: Seq[(Long, Long)]) = Ranks.kendallTauB(
      rows.toDF("x", "y"), "x", "y").collect()(0)
    val up = run(Seq((1L, 1L), (2L, 2L), (3L, 3L)))
    assert(up.getLong(1) === 3L && up.getLong(2) === 0L)
    assert(up.getDouble(5) === 1.0)
    val down = run(Seq((1L, 3L), (2L, 2L), (3L, 1L)))
    assert(down.getLong(1) === 0L && down.getLong(2) === 3L)
    assert(down.getDouble(5) === -1.0)
    // ties: (1,1)x2 + (2,2): C=2, ties_x=ties_y=1, tau_b = 4/sqrt(16)
    val tied = run(Seq((1L, 1L), (1L, 1L), (2L, 2L)))
    assert(tied.getLong(1) === 2L && tied.getLong(2) === 0L)
    assert(tied.getLong(3) === 1L && tied.getLong(4) === 1L)
    assert(tied.getDouble(5) === 1.0)
    // a constant side has no ordered pairs -> null
    val const = run(Seq((1L, 1L), (1L, 2L)))
    assert(const.isNullAt(5))
  }

  test("kendall tau-b refuses a near-continuous column before " +
      "building the grid") {
    // 3000 distinct x times 3000 distinct y = 9M cells > the 4M
    // default — the guard must fire with an actionable message, and
    // raising maxGridCells must let the same input through
    val rows = spark.range(3000).select(col("id").as("x"),
      (col("id") * 7919 % 3000).as("y"))
    val ex = intercept[IllegalArgumentException] {
      Ranks.kendallTauB(rows.toDF(), "x", "y")
    }
    assert(ex.getMessage.contains("not discrete"), ex.getMessage)
    assert(ex.getMessage.contains("3000 x 3000"), ex.getMessage)
    assert(Ranks.kendallTauB(rows.toDF(), "x", "y",
      maxGridCells = 10000000L).collect()(0).getLong(0) === 3000L)
  }
}
