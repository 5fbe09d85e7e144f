package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** enriched → usage (28-column dashboard projection) and the serving
  * document transform (P6 + B8 + A8 in SURVEY.md §2).
  *
  * Reference: projection `src/index_elastic.py:88-123`; doc transform
  * (`_row_to_es_doc`) `:138-158` — which the reference runs row-by-row
  * in driver Python after a full `collect()`. Here both are pure column
  * projections: at 100 TB the sink is `foreachPartition`/file output,
  * never a driver materialization.
  */
object UsageProjection {

  /** The 28 usage columns, `w_` prefixes stripped via aliases
    * (reference `src/index_elastic.py:88-123`): 12 flight columns, 9
    * weather columns, risk score+category, phase name+id, anomaly
    * flag+score, and `extracted_at`.
    */
  def usage(enriched: DataFrame): DataFrame = {
    val cols: Seq[Column] = Seq(
      col("icao24"), col("callsign"), col("origin_country"),
      col("latitude"), col("longitude"), col("baro_altitude"),
      col("geo_altitude"), col("velocity"), col("true_track"),
      col("vertical_rate"), col("on_ground"), col("observation_time"),
      col("w_wind_speed_10m").as("wind_speed_10m"),
      col("w_wind_direction_10m").as("wind_direction_10m"),
      col("w_wind_gusts_10m").as("wind_gusts_10m"),
      col("w_precipitation").as("precipitation"),
      col("w_rain").as("rain"),
      col("w_cloud_cover").as("cloud_cover"),
      col("w_weather_code").as("weather_code"),
      col("w_visibility").as("visibility"),
      col("w_temperature_2m").as("temperature_2m"),
      col("risk_score"), col("risk_category"),
      col("flight_phase"), col("flight_phase_id"),
      col("is_anomaly"), col("anomaly_score"),
      col("extracted_at"))
    enriched.select(cols: _*)
  }

  /** B8 — serving-document shape: drop flat lat/lon, emit a
    * `location {lat, lon}` struct only when both are present, datetimes
    * as ISO-8601 strings (reference `src/index_elastic.py:138-158`).
    */
  def documents(usage: DataFrame): DataFrame = {
    val isoFmt = "yyyy-MM-dd'T'HH:mm:ss"
    usage
      .withColumn("location",
        when(col("latitude").isNotNull && col("longitude").isNotNull,
          struct(col("latitude").as("lat"), col("longitude").as("lon"))))
      .drop("latitude", "longitude")
      .withColumn("observation_time", date_format(col("observation_time"), isoFmt))
      .withColumn("extracted_at", date_format(col("extracted_at"), isoFmt))
  }

  /** A8 — keyed latest-state semantics of the upsert sink: one row per
    * aircraft, newest `extracted_at` wins, ties to the newest non-null
    * `observation_time` (reference `_id=icao24` upsert,
    * `src/index_elastic.py:205`). `row_number`, not `dropDuplicates`,
    * so "newest" is well-defined. `PipelineRunner` does not call it:
    * one run's enriched layer already holds one row per aircraft.
    */
  def latestPerAircraft(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("icao24"))
      .orderBy(col("extracted_at").desc, col("observation_time").desc_nulls_last)
    docs.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }
}
