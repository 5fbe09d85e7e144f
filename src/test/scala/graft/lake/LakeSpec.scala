package graft.lake

import java.nio.file.Files
import java.time.LocalDateTime

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.pipeline.{FileReplaySource, PipelineRunner, RunMetrics}

class LakeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // fixture A: four states, one without coordinates
  private val flightsJson =
    """{"time": 1772121600, "_extracted_at": "2026-02-26T16:00:05",
      | "states": [["3c6444", "DLH9CK  ", "Germany", 1772121599, 1772121600,
      | 2.3522, 48.8566, 11277.6, false, 231.5, 85.2, -0.33,
      | null, 11582.4, "1000", false, 0],
      | ["ab1234", "AFR01", "France", 1772121599, 1772121600,
      | 5.1, 45.7, 150.0, false, 50.0, 10.0, 0.0,
      | null, 160.0, "7000", false, 0],
      | ["cd5678", "BAW9", "UK", 1772121599, 1772121600,
      | 3.0, 50.5, 2500.0, false, 150.0, 20.0, 12.0,
      | null, 2600.0, "7001", false, 1],
      | ["badrow", "X", "??", 1, 2, null, null, 0.0, true, 0.0, 0.0,
      | 0.0, null, 0.0, "0000", false, 0]]}""".stripMargin.replaceAll("\n", " ")
  private val weatherJson =
    """[{"latitude": 48.709632, "longitude": 2.208563, "elevation": 89.0,
      | "_extracted_at": "2026-02-26T16:00:03",
      | "current": {"time": "2026-02-26T16:00", "temperature_2m": 7.4,
      |  "relative_humidity_2m": 82, "wind_speed_10m": 18.3,
      |  "wind_direction_10m": 240, "wind_gusts_10m": 55.1,
      |  "precipitation": 0.6, "rain": 0.6, "cloud_cover": 90,
      |  "weather_code": 61, "visibility": 24140.0}},
      | {"latitude": 50.561237, "longitude": 3.086957, "elevation": 20.0,
      | "_extracted_at": "2026-02-26T16:00:03",
      | "current": {"time": "2026-02-26T16:00", "temperature_2m": 5.0,
      |  "relative_humidity_2m": 90, "wind_speed_10m": 30.0,
      |  "wind_direction_10m": 200, "wind_gusts_10m": 85.0,
      |  "precipitation": 6.5, "rain": 6.5, "cloud_cover": 100,
      |  "weather_code": 95, "visibility": 800.0}}]"""
      .stripMargin.replaceAll("\n", " ")

  /** An OpenSky states snapshot; a state is (icao24, lon, lat,
    * baro_altitude, velocity, vertical_rate), a null lon/lat is a state
    * without coordinates.
    */
  private def snapshot(states: Seq[(String, String, String, Double, Double, Double)]): String =
    states.map { case (id, lon, lat, alt, vel, vr) =>
      s"""["$id", "CS$id", "France", 1772121599, 1772121600, $lon, $lat, $alt,
         | false, $vel, 90.0, $vr, null, $alt, "1000", false, 0]""".stripMargin
    }.mkString("""{"time": 1772121600, "_extracted_at": "2026-02-26T16:00:05", "states": [""",
      ", ", "]}").replaceAll("\n", " ")

  /** The 37-state fixture: three separated flight groups near the two
    * stations plus one aircraft between them (CombineJobSpec's outlier
    * batch).
    */
  private val separatedStates = {
    def group(p: String, lat: Double, f: Int => (Double, Double, Double)) =
      (1 to 12).map { i =>
        val (alt, vel, vr) = f(i)
        (f"$p$i%03d", "2.3", (lat + i * 0.001).toString, alt, vel, vr)
      }
    group("lo", 48.8, i => (150.0 + i, 50 + i * 0.5, 0.1)) ++
      group("cl", 49.5, i => (2500.0 + i * 10, 150.0 + i, 12.0)) ++
      group("cr", 50.4, i => (11000.0 + i * 5, 230.0 + i, 0.2)) :+
      (("outlr", "3.0", "49.0", 6000.0, 100.0, 6.0))
  }

  /** A fresh lake with `flights` and the two stations as its fixtures,
    * and a runner over them writing documents to `sinkDir`.
    */
  private final case class Minute(flights: String) {
    val root: String = Files.createTempDirectory("graft_lake_m").toString
    val sinkDir: String = Files.createTempDirectory("graft_sink_m").toString
    val at: LocalDateTime = LocalDateTime.of(2026, 2, 26, 16, 0)
    private val fixtures = Files.createTempDirectory("graft_fx_m").toString
    Files.writeString(java.nio.file.Paths.get(fixtures, "flights.json"), flights)
    Files.writeString(java.nio.file.Paths.get(fixtures, "weather.json"), weatherJson)
    val runner = new PipelineRunner(LakePaths(root),
      new FileReplaySource(s"$fixtures/flights.json"),
      new FileReplaySource(s"$fixtures/weather.json"),
      new JsonDirSink(sinkDir))

    def layer(name: String, source: String, table: String): String =
      LakePaths(root).partitionPath(name, source, table, at)
    def enriched: org.apache.spark.sql.DataFrame =
      spark.read.parquet(layer("enriched", "sky_safe", "flights_weather"))
  }

  /** Runs one minute over `flights` and returns its metrics with the
    * enriched partition it wrote.
    */
  private def runFlights(flights: String): (RunMetrics, org.apache.spark.sql.DataFrame) = {
    val m = Minute(flights)
    (m.runner.runOnce(spark, m.at), m.enriched)
  }

  /** The bytes of one sink generation, its part files in name order. */
  private def generation(sinkDir: String, gen: Int): Seq[Byte] =
    Files.list(java.nio.file.Paths.get(sinkDir, f"gen=$gen%06d")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.getFileName.toString)
      .flatMap(p => Files.readAllBytes(p)).toSeq

  test("run metrics equal the enriched partition's row and anomaly counts") {
    val (metrics, enriched) = runFlights(snapshot(separatedStates))
    assert(metrics.enrichedRows == enriched.count())
    assert(metrics.enrichedRows == 37)
    assert(metrics.anomalies == enriched.filter(col("is_anomaly")).count())
    assert(enriched.filter(col("is_anomaly") && col("icao24") === "outlr").count() == 1)
  }

  test("a snapshot that repeats an aircraft gives one enriched row and one document for it") {
    // the same icao24 reported twice, at two positions
    val m = Minute(snapshot(separatedStates :+ (("lo001", "3.05", "50.5", 900.0, 80.0, 1.0))))
    assert(m.runner.runOnce(spark, m.at).enrichedRows == 37)
    assert(m.enriched.filter(col("icao24") === "lo001").count() == 1)
    val docs = spark.read.json(s"${m.sinkDir}/gen=000000")
    assert(docs.count() == 37)
    assert(docs.filter(col("icao24") === "lo001").count() == 1)
  }

  test("one minute runs at most 11 Spark jobs, and a re-run writes byte-equal documents") {
    val m = Minute(snapshot(separatedStates))
    val (_, jobs) = TestSpark.withJobs("lake-spec-minute")(m.runner.runOnce(spark, m.at))
    assert(jobs <= 11, s"$jobs jobs")
    m.runner.runOnce(spark, m.at)
    val first = generation(m.sinkDir, 0)
    assert(first.nonEmpty)
    assert(first == generation(m.sinkDir, 1))
  }

  test("a failed overlapped write is rethrown as its own exception once no job runs") {
    val m = Minute(snapshot(separatedStates))
    // a regular file where the formatted weather table's directory goes
    val weatherTable = java.nio.file.Paths.get(m.root, "formatted", "open_meteo", "weather")
    Files.createDirectories(weatherTable.getParent)
    Files.writeString(weatherTable, "not a directory")
    val alone = intercept[Exception] {
      spark.range(1).write.mode("overwrite").parquet(m.layer("formatted", "open_meteo", "weather"))
    }
    val overlapped = intercept[Exception](m.runner.runOnce(spark, m.at))
    assert(!overlapped.isInstanceOf[java.util.concurrent.ExecutionException], overlapped)
    assert(overlapped.getClass == alone.getClass && overlapped.getMessage == alone.getMessage,
      s"$overlapped vs $alone")
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    // the flights write it overlapped with ran to completion
    assert(Files.exists(java.nio.file.Paths.get(
      m.layer("formatted", "opensky", "flights"), "_SUCCESS")))
  }

  test("a snapshot whose states all lack coordinates gives RunMetrics(0, 0)") {
    val (metrics, enriched) = runFlights(snapshot(Seq(
      ("nocoo1", "null", "null", 1000.0, 100.0, 0.0),
      ("nocoo2", "null", "null", 9000.0, 200.0, 1.0))))
    assert(metrics == RunMetrics(0, 0))
    assert(enriched.count() == 0)
  }

  test("latest-partition resolver picks newest date then hour") {
    val root = Files.createTempDirectory("graft_lake").toString
    val paths = LakePaths(root)
    for (d <- Seq("2026-02-25", "2026-02-26"); h <- Seq("09", "15"))
      Files.createDirectories(java.nio.file.Paths.get(
        s"$root/formatted/opensky/flights/date=$d/hour=$h"))
    val latest = paths.latestPartition(spark, "formatted", "opensky", "flights")
    assert(latest.exists(_.endsWith("date=2026-02-26/hour=15")))
    assert(paths.latestPartition(spark, "formatted", "opensky", "nope").isEmpty)
  }

  test("full pipeline run: raw fixtures -> enriched -> usage -> doc sink") {
    val root = Files.createTempDirectory("graft_lake2").toString
    val fixtures = Files.createTempDirectory("graft_fx").toString

    Files.writeString(java.nio.file.Paths.get(fixtures, "flights.json"), flightsJson)
    Files.writeString(java.nio.file.Paths.get(fixtures, "weather.json"), weatherJson)

    val sinkDir = Files.createTempDirectory("graft_sink").toString
    val runner = new PipelineRunner(
      LakePaths(root),
      new FileReplaySource(s"$fixtures/flights.json"),
      new FileReplaySource(s"$fixtures/weather.json"),
      new JsonDirSink(sinkDir))
    val metrics = runner.runOnce(spark, LocalDateTime.of(2026, 2, 26, 16, 0))

    assert(metrics.enrichedRows == 3) // badrow (null coords) dropped

    // layer layout honored
    val usage = spark.read.parquet(
      LakePaths(root).latestPartition(spark, "usage", "sky_safe", "dashboard").get)
    assert(usage.count() == 3 && usage.columns.length == 28)

    // weather enrichment: Lille-area flight got the stormy station and
    // a HIGH risk (code 95=+40, gusts 85=+25, precip 6.5=+20, vis 800=+20,
    // cloud 100=+10 → 115)
    val lille = usage.filter(col("icao24") === "cd5678").first()
    assert(lille.getAs[Int]("risk_score") == 115)
    assert(lille.getAs[String]("risk_category") == "HIGH")
    // CDG-area cruiser: gusts 55.1 → +10, precip 0.6 → +10, cloud 90 → +10
    val cdg = usage.filter(col("icao24") === "3c6444").first()
    assert(cdg.getAs[Int]("risk_score") == 30)

    // doc sink wrote one json doc per aircraft with location struct
    val docs = spark.read.json(s"$sinkDir/gen=000000")
    assert(docs.count() == 3)
    assert(docs.schema.fieldNames.contains("location"))

    // idempotent re-run: same partition overwritten, second sink gen
    val again = runner.runOnce(spark, LocalDateTime.of(2026, 2, 26, 16, 0))
    assert(again.enrichedRows == 3)
    assert(spark.read.json(s"$sinkDir/gen=000001").count() == 3)
  }

  test("re-run of an earlier hour enriches that hour's snapshot") {
    val root = Files.createTempDirectory("graft_lake3").toString
    val fixtures = Files.createTempDirectory("graft_fx3").toString
    // fixture B: A's states under other aircraft ids
    val flightsB = Seq("3c6444", "ab1234", "cd5678", "badrow")
      .foldLeft(flightsJson)((j, id) => j.replace(s"\"$id\"", s"\"b$id\""))
    Files.writeString(java.nio.file.Paths.get(fixtures, "a.json"), flightsJson)
    Files.writeString(java.nio.file.Paths.get(fixtures, "b.json"), flightsB)
    Files.writeString(java.nio.file.Paths.get(fixtures, "weather.json"), weatherJson)
    val paths = LakePaths(root)
    def runner(flights: String) = new PipelineRunner(paths,
      new FileReplaySource(s"$fixtures/$flights"),
      new FileReplaySource(s"$fixtures/weather.json"),
      new JsonDirSink(Files.createTempDirectory("graft_sink3").toString))

    val (h16, h17) = (LocalDateTime.of(2026, 2, 26, 16, 0), LocalDateTime.of(2026, 2, 26, 17, 0))
    runner("b.json").runOnce(spark, h17)
    runner("a.json").runOnce(spark, h16)
    def ids(at: LocalDateTime): Set[String] = spark.read
      .parquet(paths.partitionPath("enriched", "sky_safe", "flights_weather", at))
      .select("icao24").as(Encoders.STRING).collect().toSet
    assert(ids(h16) == Set("3c6444", "ab1234", "cd5678"))
    assert(ids(h17) == Set("b3c6444", "bab1234", "bcd5678"))
  }
}
