package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.Schemas
import graft.operators.NearestJoin

/** Nearest-weather join + phase classifier + anomaly — the ML fixture
  * batches of FIXTURES.md §6 (behavior the reference leaves untested).
  */
case class F(icao24: String, latitude: Double, longitude: Double,
    velocity: Double, baro_altitude: Double, vertical_rate: Double,
    on_ground: Boolean = false)

class CombineJobSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def weatherDf: DataFrame =
    Schemas.stations.map(st => (st.latitude, st.longitude, 20.0, 10.0, 0.0, 0.0, 10000.0, 800.0))
      .toDF("latitude", "longitude", "temperature_2m", "wind_speed_10m",
        "wind_gusts_10m", "precipitation", "visibility", "weather_code")
      .withColumn("weather_code", lit(0.0))
      .withColumn("cloud_cover", lit(0.0))

  // Separated batch: 3 groups (FIXTURES.md §6)
  private def separated: Seq[F] =
    (1 to 12).map(i => F(f"low$i%03d", 48.8 + i * 0.001, 2.3, 50 + i * 0.5, 150 + i, 0.1)) ++
      (1 to 12).map(i => F(f"climb$i%03d", 45.7 + i * 0.001, 4.8, 150 + i, 2500 + i * 10, 12.0)) ++
      (1 to 12).map(i => F(f"cruise$i%03d", 43.6 + i * 0.001, 1.4, 230 + i, 11000 + i * 5, 0.2))

  // sits BETWEEN the three natural clusters (k=3 is saturated by the
  // real groups, so it cannot capture its own centroid)
  private val outlier = F("outlier", 44.0, 3.0, 100.0, 6000.0, 6.0)

  test("nearest-weather join attaches the true closest station") {
    val flights = Seq(
      F("nearcdg", 48.75, 2.25, 200, 5000, 1.0), // ~Paris CDG
      F("nearlil", 50.60, 3.10, 200, 5000, 1.0) // ~Lille
    ).toDF
    val joined = NearestJoin.flightsToNearestWeather(flights, weatherDf)
    val got = joined.select("icao24", "w_latitude").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("nearcdg") == 48.709632)
    assert(got("nearlil") == 50.561237)
    assert(joined.count() == 2) // exactly one winner per flight
    assert(joined.columns.contains("dist_km"))
  }

  test("separated batch: K-Means labels follow altitude ordering") {
    val enriched = PhaseClassifier.enrich(separated.toDF)
    val byPrefix = enriched
      .withColumn("grp", regexp_extract($"icao24", "^[a-z]+", 0))
      .groupBy("grp").agg(collect_set($"flight_phase").as("phases"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(byPrefix("low") == Seq("Takeoff / Landing"))
    assert(byPrefix("cruise") == Seq("Cruise"))
    assert(byPrefix("climb") == Seq("Climb / Descent"))
  }

  test("homogeneous batch falls back to rules") {
    // identical feature rows → zero-variance scaling → coincident
    // centroids → separation 0 < 1.0 → rule fallback (B4→B6)
    val batch = (1 to 20).map(i =>
      F(f"c$i%03d", 44.0, 3.0, 230.0, 11000.0, 0.1)).toDF
    val enriched = PhaseClassifier.enrich(batch)
    // all cruise-like: fallback rule must label everything Cruise, id 2
    val phases = enriched.select("flight_phase", "flight_phase_id")
      .distinct().collect()
    assert(phases.length == 1)
    assert(phases(0).getString(0) == "Cruise" && phases(0).getInt(1) == 2)
  }

  test("injected outlier is flagged anomalous; tight batch is not") {
    // the outlier sits BETWEEN the three natural clusters (k=3 is
    // saturated by the real groups, so it cannot capture its own
    // centroid — it lands far from its assigned one)
    val enriched = PhaseClassifier.enrich((separated :+ outlier).toDF).cache()
    val flagged = enriched.filter($"is_anomaly").select("icao24")
      .as[String].collect()
    assert(flagged.contains("outlier"))
    assert(flagged.length <= 3)
    val score = enriched.filter($"icao24" === "outlier")
      .select("anomaly_score").first().getDouble(0)
    assert(score > 0)
  }

  test("separated batch + outlier: phase, cluster id and anomaly pinned per aircraft") {
    // icao24|flight_phase|flight_phase_id|is_anomaly|anomaly_score, pinned
    // so that a change to the stats pass cannot move a label or a flag
    val pinned =
      """climb001|Climb / Descent|1|false|0.1082
      |climb002|Climb / Descent|1|false|0.1058
      |climb003|Climb / Descent|1|false|0.1051
      |climb004|Climb / Descent|1|false|0.106
      |climb005|Climb / Descent|1|false|0.1086
      |climb006|Climb / Descent|1|false|0.1128
      |climb007|Climb / Descent|1|false|0.1183
      |climb008|Climb / Descent|1|false|0.1251
      |climb009|Climb / Descent|1|false|0.1329
      |climb010|Climb / Descent|1|false|0.1415
      |climb011|Climb / Descent|1|false|0.1508
      |climb012|Climb / Descent|1|false|0.1607
      |cruise001|Cruise|0|false|0.0731
      |cruise002|Cruise|0|false|0.0598
      |cruise003|Cruise|0|false|0.0465
      |cruise004|Cruise|0|false|0.0332
      |cruise005|Cruise|0|false|0.0199
      |cruise006|Cruise|0|false|0.0066
      |cruise007|Cruise|0|false|0.0066
      |cruise008|Cruise|0|false|0.0199
      |cruise009|Cruise|0|false|0.0332
      |cruise010|Cruise|0|false|0.0465
      |cruise011|Cruise|0|false|0.0598
      |cruise012|Cruise|0|false|0.0731
      |low001|Takeoff / Landing|2|false|0.0364
      |low002|Takeoff / Landing|2|false|0.0298
      |low003|Takeoff / Landing|2|false|0.0232
      |low004|Takeoff / Landing|2|false|0.0166
      |low005|Takeoff / Landing|2|false|0.0099
      |low006|Takeoff / Landing|2|false|0.0033
      |low007|Takeoff / Landing|2|false|0.0033
      |low008|Takeoff / Landing|2|false|0.0099
      |low009|Takeoff / Landing|2|false|0.0166
      |low010|Takeoff / Landing|2|false|0.0232
      |low011|Takeoff / Landing|2|false|0.0298
      |low012|Takeoff / Landing|2|false|0.0364
      |outlier|Climb / Descent|1|true|1.3849""".stripMargin.linesIterator.map(_.split('|')).map {
        case Array(id, phase, cid, anomaly, score) =>
          id -> ((phase, cid.toInt, anomaly.toBoolean, score.toDouble))
      }.toMap
    val got = PhaseClassifier.enrich((separated :+ outlier).toDF)
      .select("icao24", "flight_phase", "flight_phase_id", "is_anomaly", "anomaly_score")
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getInt(2), r.getBoolean(3), r.getDouble(4)))).toMap
    assert(got == pinned)
  }

  test("cluster ranking: empty clusters unlabelled, all-null altitude ranks 0.0, ties by id") {
    assert(PhaseClassifier.phaseByCluster(Seq(
      (0, 5L, Some(9000.0)), (1, 0L, None), (2, 7L, Some(300.0)))) ==
      Map(2 -> "Takeoff / Landing", 0 -> "Climb / Descent"))
    assert(PhaseClassifier.phaseByCluster(Seq(
      (0, 4L, Some(10.0)), (1, 3L, None), (2, 2L, Some(-5.0)))) ==
      Map(2 -> "Takeoff / Landing", 1 -> "Climb / Descent", 0 -> "Cruise"))
    assert(PhaseClassifier.phaseByCluster(Seq(
      (2, 1L, Some(500.0)), (0, 1L, Some(500.0)), (1, 1L, Some(100.0)))) ==
      Map(1 -> "Takeoff / Landing", 0 -> "Climb / Descent", 2 -> "Cruise"))
  }

  test("degenerate batches: empty and single-row") {
    val empty = PhaseClassifier.enrich(Seq.empty[F].toDF)
    assert(empty.count() == 0)
    assert(empty.columns.contains("flight_phase") && empty.columns.contains("is_anomaly"))

    val one = PhaseClassifier.enrich(Seq(F("solo", 44, 3, 100, 500, 1.0)).toDF)
    val r = one.first()
    // n=1: stddev null → nothing anomalous (pinned semantic, SURVEY §7.4)
    assert(r.getAs[Boolean]("is_anomaly") == false)
    assert(r.getAs[String]("flight_phase") != null)
  }

  /** Every message on the cause chain of the failure that running
    * `enrich` on `batch` raises.
    */
  private def failure(batch: Seq[F]): String = {
    val e = intercept[Exception] {
      PhaseClassifier.enrich(batch.toDF).write.format("noop").mode("overwrite").save()
    }
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
  }

  test("a NaN feature fails the batch, naming the value") {
    val msg = failure(separated :+ outlier.copy(velocity = Double.NaN))
    assert(msg.contains("Encountered NaN"), msg)
  }

  test("an infinite feature fails the batch, naming the value") {
    val pos = failure(separated :+ outlier.copy(baro_altitude = Double.PositiveInfinity))
    assert(pos.contains("MUST NOT be NaN or Infinity") && pos.contains("Infinity"), pos)
    val neg = failure(separated :+ outlier.copy(vertical_rate = Double.NegativeInfinity))
    assert(neg.contains("MUST NOT be NaN or Infinity") && neg.contains("-Infinity"), neg)
  }

  test("all-null features coalesce to 0 and classify without error") {
    val df = spark.sql(
      """SELECT 'x' AS icao24, 44.0 AS latitude, 3.0 AS longitude,
        |  CAST(NULL AS DOUBLE) AS velocity, CAST(NULL AS DOUBLE) AS baro_altitude,
        |  CAST(NULL AS DOUBLE) AS vertical_rate, false AS on_ground
        |UNION ALL SELECT 'y', 44.0, 3.0, NULL, NULL, NULL, false
        |UNION ALL SELECT 'z', 44.0, 3.0, NULL, NULL, NULL, false""".stripMargin)
    val out = PhaseClassifier.enrich(df)
    assert(out.count() == 3)
    assert(out.filter($"flight_phase".isNull).count() == 0)
  }

  test("full combine: risk columns + phase + anomaly, internals dropped") {
    val flights = separated.toDF
    val enriched = CombineJob.enrich(flights, weatherDf)
    val cols = enriched.columns.toSet
    assert(Set("risk_score", "risk_category", "flight_phase",
      "flight_phase_id", "is_anomaly", "anomaly_score", "dist_km")
      .subsetOf(cols))
    assert(!cols.exists(_.startsWith("_ml")))
    assert(enriched.count() == separated.size)
  }

  test("enrich leaves its input uncached once the result is written") {
    val df = (separated :+ outlier).toDF
    val out = java.nio.file.Files.createTempDirectory("graft_phase").toString
    PhaseClassifier.enrich(df).write.mode("overwrite").parquet(out)
    assert(df.storageLevel == StorageLevel.NONE)
  }
}
