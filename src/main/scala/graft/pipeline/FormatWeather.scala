package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas

/** raw → formatted for the Open-Meteo weather feed.
  *
  * The reference flattens the per-station JSON on the driver and lets
  * Spark *infer* the schema (`src/format_weather.py:17-43`) — a bug
  * farm at scale. We read with the explicit raw schema and flatten the
  * `current` struct in a single projection
  * (`src/format_weather.py:22-39` field list; timestamps `:50-54`).
  * `current.time` is a zone-less local-ISO string ("2026-02-26T16:00")
  * parsed under the UTC session timezone, matching the reference.
  * Unlike flights it keeps the `multiLine` file reader: its schema types
  * every numeric token as a number, so the per-token re-read that makes
  * `FormatFlights` parse whole-file text never happens here.
  */
object FormatWeather {

  def fromRawJson(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read
      .schema(Schemas.rawWeatherSchema)
      .option("multiLine", true)
      .json(path)
    fromRaw(raw)
  }

  def fromRaw(raw: DataFrame): DataFrame =
    raw.select(
      col("latitude"),
      col("longitude"),
      col("elevation"),
      to_timestamp(col("current.time")).as("weather_time"),
      col("current.temperature_2m").as("temperature_2m"),
      col("current.relative_humidity_2m").as("relative_humidity_2m"),
      col("current.wind_speed_10m").as("wind_speed_10m"),
      col("current.wind_direction_10m").as("wind_direction_10m"),
      col("current.wind_gusts_10m").as("wind_gusts_10m"),
      col("current.precipitation").as("precipitation"),
      col("current.rain").as("rain"),
      col("current.cloud_cover").as("cloud_cover"),
      col("current.weather_code").as("weather_code"),
      col("current.visibility").as("visibility"),
      to_timestamp(col("_extracted_at")).as("extracted_at"))
}
