package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.functions.expressions.TextExpressions

/** The r17 compiled int64 vector kernels must produce the EXACT
  * integers of the interpreted higher-order folds they replaced in
  * the PQ/IVF/clustering/contamination paths (the hash-checked
  * oracle mirrors never changed — only the evaluation strategy did).
  */
class LongVecKernelsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val vecs = Seq(
    (Seq(0L, 0L, 0L), Seq(0L, 0L, 0L)),
    (Seq(1L, -2L, 3L), Seq(3L, 2L, -1L)),
    (Seq(2700L, -2700L, 1500L), Seq(-2700L, 2700L, -1500L)),
    (Seq(123456L, 0L, -999999L), Seq(1L, 1L, 1L)))
    .toDF("a", "b")

  test("long_sq_dist equals the interpreted aggregate(zip_with((x-y)^2)) fold") {
    val rows = vecs.select(
      TextExpressions.long_sq_dist(col("a"), col("b")).as("k"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v).as("f")).collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // spot value: (1-3)^2 + (-2-2)^2 + (3+1)^2 = 4 + 16 + 16
    assert(rows(1).getLong(0) === 36L)
  }

  test("long_dot equals the interpreted aggregate(zip_with(x*y)) fold") {
    val rows = vecs.select(
      TextExpressions.long_dot(col("a"), col("b")).as("k"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0L), (acc, v) => acc + v).as("f")).collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // spot value: 1*3 + (-2)*2 + 3*(-1) = -4
    assert(rows(1).getLong(0) === -4L)
  }

  test("planted_bmp_pix equals the SQL transform/format_string fixture grid") {
    val rows = Seq((0L, 3L, 5L, false), (2L, 0L, 0L, true),
      (2L, 8L, 7L, true), (14L, 4L, 2L, true))
      .toDF("_base", "_px", "_py", "_pert")
    val out = rows.select(
      TextExpressions.planted_bmp_pix(col("_base"), col("_px"),
        col("_py"), col("_pert")).as("k"),
      expr(
        """concat_ws('', transform(sequence(7, 0, -1), y ->
          |  concat(
          |    concat_ws('', transform(sequence(0, 8), x ->
          |      repeat(format_string('%02x',
          |        pmod(cast(conv(substring(md5(concat(
          |            cast(_base as string), ':img:',
          |            cast(y * 9 + x as string))), 1, 2), 16, 10) as int)
          |          + (case when _pert and x = _px and y = _py
          |             then 9 else 0 end), 256)), 3))),
          |    '00')))""".stripMargin).as("f")).collect()
    out.foreach { r =>
      assert(r.getString(0).length === 448)
      assert(r.getString(0) === r.getString(1))
    }
  }

  test("ragged or null-element vectors give NULL, like the zip_with folds") {
    val df = Seq(
      (Seq(Some(1L), Some(2L), Some(3L)), Seq(Some(1L), Some(2L))),
      (Seq(Some(1L), None), Seq(Some(1L), Some(2L))),
      (Seq.empty[Option[Long]], Seq.empty[Option[Long]]))
      .toDF("a", "b")
    val out = df.select(
      TextExpressions.long_sq_dist(col("a"), col("b")).as("d"),
      TextExpressions.long_dot(col("a"), col("b")).as("p"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v).as("fd"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0L), (acc, v) => acc + v).as("fp")).collect()
    out.foreach(r => assert((r.get(0), r.get(1)) == ((r.get(2), r.get(3)))))
    assert(out.take(2).forall(r => r.isNullAt(0) && r.isNullAt(1)))
    // equal-length empty arrays keep the fold's start value
    assert(out(2).getLong(0) == 0L && out(2).getLong(1) == 0L)
    // non-null literal arrays of different lengths: nullable and NULL
    val lit2 = spark.range(1).select(
      TextExpressions.long_sq_dist(array(lit(1L)), array(lit(1L), lit(2L))).as("d"),
      TextExpressions.long_dot(array(lit(1L)), array(lit(1L), lit(2L))).as("p"))
    assert(lit2.schema.forall(_.nullable))
    val r = lit2.first()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("null vector propagates null (binary expression contract)") {
    val df = Seq((Some(Seq(1L, 2L)), Option.empty[Seq[Long]]))
      .toDF("a", "b")
    val r = df.select(
      TextExpressions.long_sq_dist(col("a"), col("b")).as("d"),
      TextExpressions.long_dot(col("a"), col("b")).as("p")).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
  }
}
