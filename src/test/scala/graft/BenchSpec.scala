package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bench's per-rep function, which BenchOne also times through: a
  * failed rep reads -1 and keeps its root cause.
  */
class BenchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("runOnce times a good rep and records a failed rep's root cause") {
    val ok = Bench.runOnce(spark, "unused", (s, _) => s.range(10).toDF("x"))
    assert(ok.sec >= 0 && ok.error.isEmpty)

    val bad = Bench.runOnce(spark, "unused",
      (s, _) => s.range(10).select(raise_error(lit("planted")).as("x")))
    assert(bad.sec == -1.0)
    assert(bad.error.exists(e => e.contains("planted") && e.contains(": ")))
  }

  test("jsonString escapes quotes, backslashes and control chars") {
    assert(Bench.jsonString("a\"b\\c\nd\te\u0001") == "\"a\\\"b\\\\c\\nd\\te\\u0001\"")
  }
}
