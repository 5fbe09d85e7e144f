package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.expressions.TextExpressions

/** Z-order (Morton-curve) cell assignment for multi-dimensional data
  * skipping.
  *
  * A linear sort on one column gives perfect file-level min/max
  * pruning on that column and none on any other. Sorting by the
  * interleaved bit code of two columns clusters BOTH: each run of the
  * curve covers a small rectangle of the (x, y) space, so parquet
  * row-group/file min-max statistics prune scans filtered on EITHER
  * column — the standard lakehouse layout technique for
  * two-predicate tables (e.g. (user, time) or (lat, lon)).
  */
object ZOrder {

  /** Cells quantized on a FIXED bounding box — fully deterministic
    * (hash-checkable against a SQL oracle), and the right
    * normalization for naturally box-bounded domains like geo
    * coordinates. Adds `zval` (Morton code of the clamped cell
    * coords) and `bucket` (1-based `ntile` over (zval, tieBreak) —
    * exact equal-population; its single ordered pass is the same
    * range exchange a z-ordered write needs anyway).
    */
  def assignFixedGrid(
      df: DataFrame,
      xCol: String,
      yCol: String,
      xMin: Double, xMax: Double,
      yMin: Double, yMax: Double,
      cells: Int,
      buckets: Int,
      tieBreak: String): DataFrame = {
    require(cells >= 2 && (cells & (cells - 1)) == 0 && cells <= (1 << 16),
      s"cells must be a power of two in [2, 65536], got $cells")
    val bits = java.lang.Integer.numberOfTrailingZeros(cells)
    def cell(c: String, lo: Double, hi: Double) =
      least(greatest(
          floor((col(c) - lit(lo)) / lit(hi - lo) * lit(cells)).cast("long"),
          lit(0L)),
        lit(cells.toLong - 1L))
    df.withColumn("zval",
        TextExpressions.interleave_bits(
          cell(xCol, xMin, xMax), cell(yCol, yMin, yMax), bits))
      .withColumn("bucket",
        ntile(buckets).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("zval"), col(tieBreak))).cast("long"))
  }
}
