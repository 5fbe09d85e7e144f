package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Haversine cases from the reference's `tests/test_haversine.py:16-36`
  * (tolerance bands in FIXTURES.md §3).
  */
class GeoFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def km(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double =
    Seq((lat1, lon1, lat2, lon2)).toDF("lat1", "lon1", "lat2", "lon2")
      .select(GeoFunctions.haversineKm($"lat1", $"lon1", $"lat2", $"lon2"))
      .first().getDouble(0)

  test("same point is ~0 km") {
    assert(math.abs(km(48.85, 2.35, 48.85, 2.35)) < 0.01)
  }

  test("Paris-Lyon is 380..410 km") {
    val d = km(48.8566, 2.3522, 45.7640, 4.8357)
    assert(d > 380 && d < 410, s"got $d")
  }

  test("Paris-Toulouse is 575..605 km") {
    val d = km(48.8566, 2.3522, 43.6047, 1.4442)
    assert(d > 575 && d < 605, s"got $d")
  }

  test("symmetry and positivity") {
    val ab = km(48.8566, 2.3522, 45.7640, 4.8357)
    val ba = km(45.7640, 4.8357, 48.8566, 2.3522)
    assert(math.abs(ab - ba) / ab < 1e-6)
    assert(ab > 0)
  }
}
