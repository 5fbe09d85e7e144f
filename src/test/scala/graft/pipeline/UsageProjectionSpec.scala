package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.Schemas

/** Usage projection (28 cols) + serving-doc transform (B8) + keyed
  * latest-state dedup (A8) — reference `src/index_elastic.py` and
  * `tests/test_index_elastic.py` semantics.
  */
class UsageProjectionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def enrichedFixture = {
    val flights = Seq(
      ("abc123", "AF1", "France", Option(48.85), Option(2.35), 1000.0, 950.0,
        200.0, 90.0, 1.0, false, "ADS-B",
        Timestamp.valueOf("2026-02-26 16:00:00"),
        Timestamp.valueOf("2026-02-26 16:00:05")),
      ("def456", "BA2", "UK", Option.empty[Double], Option.empty[Double],
        2000.0, 1900.0, 150.0, 180.0, -2.0, false, "MLAT",
        Timestamp.valueOf("2026-02-26 16:00:00"),
        Timestamp.valueOf("2026-02-26 16:00:05"))
    ).toDF("icao24", "callsign", "origin_country", "latitude", "longitude",
      "baro_altitude", "geo_altitude", "velocity", "true_track",
      "vertical_rate", "on_ground", "position_source_label",
      "observation_time", "extracted_at")
    flights
      .withColumn("w_wind_speed_10m", lit(10.0))
      .withColumn("w_wind_direction_10m", lit(240.0))
      .withColumn("w_wind_gusts_10m", lit(20.0))
      .withColumn("w_precipitation", lit(0.0))
      .withColumn("w_rain", lit(0.0))
      .withColumn("w_cloud_cover", lit(50.0))
      .withColumn("w_weather_code", lit(0.0))
      .withColumn("w_visibility", lit(10000.0))
      .withColumn("w_temperature_2m", lit(7.0))
      .withColumn("risk_score", lit(15))
      .withColumn("risk_category", lit("LOW"))
      .withColumn("flight_phase", lit("Cruise"))
      .withColumn("flight_phase_id", lit(2))
      .withColumn("is_anomaly", lit(false))
      .withColumn("anomaly_score", lit(0.1234))
  }

  test("serving documents conform to the pinned contract; violations fail the sink") {
    import graft.lake.{ContractSink, DocumentSink, ServingContract}
    val docs = UsageProjection.documents(UsageProjection.usage(enrichedFixture))
    assert(ServingContract.violations(docs.schema, ServingContract.flightDocuments).isEmpty,
      ServingContract.violations(docs.schema, ServingContract.flightDocuments).mkString("\n"))

    var delivered = 0
    val recording = new DocumentSink {
      override def upsert(d: org.apache.spark.sql.DataFrame, k: String): Unit =
        delivered += 1
    }
    val checked = new ContractSink(recording, ServingContract.flightDocuments)
    checked.upsert(docs, "icao24")
    assert(delivered == 1)

    // mis-typed column: risk_score as string must be rejected by name
    val mistyped = docs.withColumn("risk_score", col("risk_score").cast("string"))
    val e1 = intercept[IllegalArgumentException] { checked.upsert(mistyped, "icao24") }
    assert(e1.getMessage.contains("risk_score"))
    assert(delivered == 1) // nothing reached the inner sink

    // dropped column must be rejected as missing
    val e2 = intercept[IllegalArgumentException] {
      checked.upsert(docs.drop("location"), "icao24")
    }
    assert(e2.getMessage.contains("missing field: location"))
  }

  test("usage projection keeps exactly the 28 serving columns") {
    val u = UsageProjection.usage(enrichedFixture)
    assert(u.columns.length == 28)
    assert(u.columns.contains("wind_speed_10m") && !u.columns.exists(_.startsWith("w_")))
  }

  test("doc transform: location struct only when both coords present") {
    val docs = UsageProjection.documents(UsageProjection.usage(enrichedFixture))
    assert(!docs.columns.contains("latitude") && !docs.columns.contains("longitude"))
    val withLoc = docs.filter($"icao24" === "abc123").first()
    val loc = withLoc.getAs[Row]("location")
    assert(loc.getAs[Double]("lat") == 48.85 && loc.getAs[Double]("lon") == 2.35)
    assert(docs.filter($"icao24" === "def456").first().getAs[Row]("location") == null)
    // datetimes → ISO-8601 strings
    assert(withLoc.getAs[String]("observation_time") == "2026-02-26T16:00:00")
  }

  test("latest-per-aircraft keeps the newest snapshot per key") {
    val docs = Seq(
      ("abc123", "2026-02-26T16:00:00", "2026-02-26T16:00:00", 1),
      ("abc123", "2026-02-26T16:01:00", "2026-02-26T16:01:00", 2),
      ("def456", "2026-02-26T16:00:00", "2026-02-26T16:00:00", 3)
    ).toDF("icao24", "extracted_at", "observation_time", "gen")
    val latest = UsageProjection.latestPerAircraft(docs)
    assert(latest.count() == 2)
    assert(latest.filter($"icao24" === "abc123").first().getAs[Int]("gen") == 2)
  }

  test("latest-per-aircraft breaks extracted_at ties on the newest non-null observation_time") {
    val docs = Seq(
      ("abc123", "2026-02-26T16:01:00", Option("2026-02-26T16:00:30"), 1),
      ("abc123", "2026-02-26T16:01:00", Option("2026-02-26T16:00:50"), 2),
      ("abc123", "2026-02-26T16:01:00", Option.empty[String], 3),
      ("def456", "2026-02-26T16:01:00", Option.empty[String], 4),
      ("def456", "2026-02-26T16:01:00", Option("2026-02-26T16:00:10"), 5)
    ).toDF("icao24", "extracted_at", "observation_time", "gen")
    val latest = UsageProjection.latestPerAircraft(docs)
      .select("icao24", "gen").as[(String, Int)].collect().toMap
    assert(latest == Map("abc123" -> 2, "def456" -> 5))
  }
}
