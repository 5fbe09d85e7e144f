package graft.model

import org.apache.spark.sql.types._

/** Layer schemas + constants of the rebuilt engine.
  *
  * Mirrors the reference's data model (SURVEY.md §1.3):
  *  - flights StructType: reference `src/format_flights.py:104-130`
  *  - weather columns:    reference `src/format_weather.py:22-39`
  *  - stations:           reference `src/extract_weather.py:42-49`
  *  - thresholds:         reference `src/combine_spark.py:25-32`
  *
  * Unlike the reference (which infers the weather schema), every schema
  * here is explicit — inference is nondeterministic at scale.
  */
object Schemas {

  /** Raw OpenSky payload: `{time, _extracted_at, states: [[...17 slots]]}`.
    * The positional state vector is kept as `array<string>` at parse time
    * and cast per-slot (numbers, booleans and strings share the array, so
    * string is the only common carrier; cf. `src/format_flights.py:19-33`
    * where the reference does the same defensively in Python).
    */
  val rawFlightsSchema: StructType = StructType(Seq(
    StructField("time", LongType),
    StructField("_extracted_at", StringType),
    StructField("states", ArrayType(ArrayType(StringType)))
  ))

  /** Formatted flights layer — 18 columns
    * (reference StructType `src/format_flights.py:105-128` + derived
    * `position_source_label` / timestamp columns `:140-162`).
    */
  val formattedFlightsSchema: StructType = StructType(Seq(
    StructField("icao24", StringType),
    StructField("callsign", StringType),
    StructField("origin_country", StringType),
    StructField("longitude", DoubleType),
    StructField("latitude", DoubleType),
    StructField("baro_altitude", DoubleType),
    StructField("on_ground", BooleanType),
    StructField("geo_altitude", DoubleType),
    StructField("velocity", DoubleType),
    StructField("true_track", DoubleType),
    StructField("vertical_rate", DoubleType),
    StructField("squawk", StringType),
    StructField("position_source", IntegerType),
    StructField("observation_time", TimestampType),
    StructField("time_position", TimestampType),
    StructField("last_contact", TimestampType),
    StructField("extracted_at", TimestampType),
    StructField("position_source_label", StringType)
  ))

  /** Raw Open-Meteo per-station response (reference
    * `src/format_weather.py:17-39`): flat station fields + a `current`
    * struct of the 10 requested variables.
    */
  val rawWeatherSchema: StructType = StructType(Seq(
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("elevation", DoubleType),
    StructField("_extracted_at", StringType),
    StructField("current", StructType(Seq(
      StructField("time", StringType),
      StructField("temperature_2m", DoubleType),
      StructField("relative_humidity_2m", DoubleType),
      StructField("wind_speed_10m", DoubleType),
      StructField("wind_direction_10m", DoubleType),
      StructField("wind_gusts_10m", DoubleType),
      StructField("precipitation", DoubleType),
      StructField("rain", DoubleType),
      StructField("cloud_cover", DoubleType),
      StructField("weather_code", DoubleType),
      StructField("visibility", DoubleType)
    )))
  ))

  /** The 6 fixed weather stations (reference `src/extract_weather.py:42-49`). */
  case class Station(name: String, latitude: Double, longitude: Double)
  val stations: Seq[Station] = Seq(
    Station("Paris CDG", 48.709632, 2.208563),
    Station("Toulouse", 43.629421, 1.367789),
    Station("Lyon", 45.726009, 5.090928),
    Station("Marseille", 43.434242, 5.212784),
    Station("Nantes", 47.460152, -0.529704),
    Station("Lille", 50.561237, 3.086957)
  )
}

/** ML + anomaly constants (reference `src/combine_spark.py:25-32`). */
object MlConstants {
  val KClusters = 3
  val KMeansSeed = 42L
  val KMeansMaxIter = 20
  val KMeansTolerance = 1e-4
  val AnomalySigma = 2.0
  val MinCentroidSeparation = 1.0
  val PhaseFeatures: Array[String] =
    Array("velocity", "baro_altitude", "vertical_rate")
}
