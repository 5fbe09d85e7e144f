package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.Schemas

/** Raw→formatted flights parse, engine-side (FIXTURES.md §1; reference
  * edge cases `tests/test_format_flights.py:6-49` — but exercised
  * through the whole JSON→DataFrame path, not helper functions).
  */
class FormatFlightsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val goodState =
    """["3c6444", "DLH9CK  ", "Germany", 1772121599, 1772121600,
      | 2.3522, 48.8566, 11277.6, false, 231.5, 85.2, -0.33,
      | null, 11582.4, "1000", false, 0]""".stripMargin
  private val noCoords = // null lat/lon → dropped
    """["aaaaaa", "X", "France", 1, 2, null, null, 1.0, false, 1.0, 1.0,
      | 0.0, null, 1.0, "7000", false, 1]""".stripMargin
  private val truncated = // 9 slots only → missing indices null
    """["bbbbbb", "  ", "Spain", 1772121500, 1772121501, 1.1, 43.0,
      | 900.5, true]""".stripMargin
  private val badTypes = // non-numeric velocity → null (no crash)
    """["cccccc", "Z", "Italy", 1772121500, 1772121501, 5.0, 44.0,
      | "abc", false, "not-a-number", 10.0, 1.0, null, 2.0, "7700", false, 2]""".stripMargin

  private def payload(states: Seq[String]): String =
    s"""{"time": 1772121600, "_extracted_at": "2026-02-26T16:00:05.123456",
       | "states": [${states.mkString(",")}]}""".stripMargin.replaceAll("\n", " ")

  test("full parse: 18 columns, typed, labeled, UTC timestamps") {
    val raw = TestSpark.jsonDf(Schemas.rawFlightsSchema,
      Seq(payload(Seq(goodState))))
    val out = FormatFlights.fromRaw(raw)
    assert(out.columns.toSeq == Schemas.formattedFlightsSchema.fieldNames.toSeq)
    val r = out.first()
    assert(r.getAs[String]("icao24") == "3c6444")
    assert(r.getAs[String]("callsign") == "DLH9CK") // trimmed
    assert(r.getAs[Double]("longitude") == 2.3522)
    assert(r.getAs[Boolean]("on_ground") == false)
    assert(r.getAs[String]("position_source_label") == "ADS-B")
    assert(r.getAs[java.sql.Timestamp]("observation_time").toInstant.getEpochSecond == 1772121600L)
    assert(r.getAs[java.sql.Timestamp]("extracted_at") != null)
  }

  test("rows with null coordinates are dropped") {
    val raw = TestSpark.jsonDf(Schemas.rawFlightsSchema,
      Seq(payload(Seq(goodState, noCoords))))
    assert(FormatFlights.fromRaw(raw).count() == 1)
  }

  test("truncated state vector: out-of-range slots null, not crash") {
    val raw = TestSpark.jsonDf(Schemas.rawFlightsSchema,
      Seq(payload(Seq(truncated))))
    val r = FormatFlights.fromRaw(raw).first()
    assert(r.getAs[String]("icao24") == "bbbbbb")
    assert(r.getAs[Any]("velocity") == null)
    assert(r.getAs[Any]("squawk") == null)
    assert(r.getAs[Any]("callsign") == null) // whitespace-only → null
    assert(r.getAs[Boolean]("on_ground") == true)
  }

  test("non-numeric values in double slots become null") {
    val raw = TestSpark.jsonDf(Schemas.rawFlightsSchema,
      Seq(payload(Seq(badTypes))))
    val r = FormatFlights.fromRaw(raw).first()
    assert(r.getAs[Any]("baro_altitude") == null)
    assert(r.getAs[Any]("velocity") == null)
    assert(r.getAs[Double]("true_track") == 10.0)
  }

  test("empty states still yields the full 18-column schema") {
    val raw = TestSpark.jsonDf(Schemas.rawFlightsSchema,
      Seq("""{"time": 1772121600, "_extracted_at": "2026-02-26T16:00:05", "states": []}"""))
    val out = FormatFlights.fromRaw(raw)
    assert(out.columns.length == 18)
    assert(out.count() == 0)
  }

  // ---- file-level reads through fromRawJson (the production reader) ----

  /** FIXTURES.md §1 verbatim: the pretty-printed layout OpenSky serves. */
  private val fixturePretty =
    """{
      |  "time": 1772121600,
      |  "_extracted_at": "2026-02-26T16:00:05.123456",
      |  "states": [
      |    ["3c6444", "DLH9CK  ", "Germany", 1772121599, 1772121600,
      |     2.3522, 48.8566, 11277.6, false, 231.5, 85.2, -0.33,
      |     null, 11582.4, "1000", false, 0]
      |  ]
      |}
      |""".stripMargin

  /** Writes each (file name, content) into one fresh directory. */
  private def rawDir(files: (String, String)*): String = {
    val dir = Files.createTempDirectory("graft_raw_flights")
    files.foreach { case (name, body) => Files.writeString(dir.resolve(name), body) }
    dir.toString
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getAs[String]("icao24"))

  private def assertFormattedSchema(df: DataFrame): Unit =
    assert(df.schema.map(f => f.name -> f.dataType) ==
      Schemas.formattedFlightsSchema.map(f => f.name -> f.dataType))

  test("file read: pretty-printed and single-line payloads give identical rows") {
    val pretty = FormatFlights.fromRawJson(spark, rawDir("flights.json" -> fixturePretty))
    val single = FormatFlights.fromRawJson(spark,
      rawDir("flights.json" -> fixturePretty.replaceAll("\n", " ")))
    assertFormattedSchema(pretty)
    val got = rows(pretty)
    assert(got == rows(single))
    assert(got.size == 1)
    val r = got.head
    assert(r.getAs[String]("callsign") == "DLH9CK")
    assert(r.getAs[Double]("baro_altitude") == 11277.6)
    assert(r.getAs[Double]("vertical_rate") == -0.33)
    assert(r.getAs[Double]("geo_altitude") == 11582.4)
    assert(r.getAs[Boolean]("on_ground") == false)
    assert(r.getAs[String]("squawk") == "1000")
    assert(r.getAs[Int]("position_source") == 0)
    assert(r.getAs[java.sql.Timestamp]("time_position").toInstant.getEpochSecond == 1772121599L)
  }

  test("file read: one row per file, both layouts in one directory") {
    val both = FormatFlights.fromRawJson(spark, rawDir(
      "a.json" -> fixturePretty,
      "b.json" -> fixturePretty.replaceAll("\n", " ")))
    val got = rows(both)
    assert(got.size == 2)
    assert(got(0) == got(1))
  }

  test("file read: multi-line edge-case states match the in-memory parse") {
    val states = Seq(goodState, noCoords, truncated, badTypes)
    val pretty =
      s"""{
         |  "time": 1772121600,
         |  "_extracted_at": "2026-02-26T16:00:05.123456",
         |  "states": [
         |    ${states.mkString(",\n    ")}
         |  ]
         |}
         |""".stripMargin
    val fromFile = FormatFlights.fromRawJson(spark, rawDir("flights.json" -> pretty))
    val inMemory = FormatFlights.fromRaw(
      TestSpark.jsonDf(Schemas.rawFlightsSchema, Seq(payload(states))))
    val got = rows(fromFile)
    assert(got.map(_.getAs[String]("icao24")) == Seq("3c6444", "bbbbbb", "cccccc"))
    assert(got == rows(inMemory))
  }

  test("file read: empty states gives 0 rows with the 18-column schema") {
    val out = FormatFlights.fromRawJson(spark, rawDir("flights.json" ->
      """{
        |  "time": 1772121600,
        |  "_extracted_at": "2026-02-26T16:00:05",
        |  "states": []
        |}
        |""".stripMargin))
    assertFormattedSchema(out)
    assert(out.count() == 0)
  }

  test("file read: truncated or malformed file gives 0 rows with the 18-column schema") {
    val cut = fixturePretty.take(fixturePretty.indexOf("11277.6"))
    for (body <- Seq(cut, "not json at all", "")) {
      val out = FormatFlights.fromRawJson(spark, rawDir("flights.json" -> body))
      assertFormattedSchema(out)
      assert(out.count() == 0, s"rows from malformed payload: ${body.take(40)}")
    }
  }
}
