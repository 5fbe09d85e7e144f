package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Schemas

/** raw → formatted for the flights feed.
  *
  * The reference parses raw JSON **on the driver** in Python
  * (`src/helpers.py:179-190`, `src/format_flights.py:62-102`) and only
  * then hands rows to Spark. We move the whole parse into the engine:
  * whole-file text → `from_json` → `explode(states)` → per-slot
  * `element_at(...).cast(...)` — distributed, codegen'd, zero
  * driver materialization.
  *
  * Why whole text and not the `multiLine` JSON reader: `states` is
  * `array<array<string>>` holding numbers and booleans, and for every
  * such token Spark's file-backed JSON parser copies the token's exact
  * text back out of the input stream, re-opening the file (and its
  * `.crc`) each time — about 13k filesystem opens per 1,000-state
  * snapshot, each one a request on S3A. Reading the file as one string
  * keeps every token in memory. `wholetext` holds a whole file in one
  * string, so a file must stay under the 2 GB string limit; a
  * world-wide OpenSky snapshot is about 1–2 MB.
  *
  * Semantics preserved exactly (SURVEY.md §2.2, §2.8):
  *  - out-of-range positional index → null   (`_safe_get`, py:19-23)
  *  - non-numeric value in double slot → null (`_to_float`, py:26-33;
  *    Spark's string→double cast under non-ANSI mode also yields null)
  *  - callsign trimmed, empty → null         (`_clean_callsign`, py:36-40)
  *  - rows with null lat or lon dropped      (py:133)
  *  - epoch seconds → UTC timestamp via the same composition
  *    from_unixtime→to_timestamp→to_utc_timestamp (py:136-151)
  *  - position_source_label map              (py:155-162)
  */
object FormatFlights {

  private def epochToUtcTs(c: Column): Column =
    to_utc_timestamp(to_timestamp(from_unixtime(c)), "UTC")

  /** Parse raw OpenSky payload files (pretty-printed or single-line
    * JSON, one payload per file) into the 18-column formatted schema.
    */
  def fromRawJson(spark: SparkSession, path: String): DataFrame =
    fromRaw(parsePayloads(spark.read.option("wholetext", true).text(path)))

  /** Whole-file payload text (`value`, one file per row) → the raw
    * schema. A malformed payload parses to all-null fields, so its
    * one null-states row is dropped by the lat/lon filter.
    */
  def parsePayloads(text: DataFrame): DataFrame =
    text.select(from_json(col("value"), Schemas.rawFlightsSchema).as("_raw"))
      .select("_raw.*")

  /** Same, from an already-loaded raw frame (tests, streaming). */
  def fromRaw(raw: DataFrame): DataFrame = {
    val exploded = raw.select(
      col("time").as("_obs_time"),
      col("_extracted_at"),
      explode_outer(col("states")).as("s"))

    def slot(i: Int): Column = element_at(col("s"), i + 1) // element_at is 1-based

    val typed = exploded.select(
      Seq(
        slot(0).as("icao24"),
        // trim-to-null callsign (engine-side F12)
        nullif(trim(slot(1)), lit("")).as("callsign"),
        slot(2).as("origin_country"),
        slot(5).cast(DoubleType).as("longitude"),
        slot(6).cast(DoubleType).as("latitude"),
        slot(7).cast(DoubleType).as("baro_altitude"),
        // "true"/"false" strings from the JSON array-of-any
        slot(8).cast(BooleanType).as("on_ground"),
        slot(13).cast(DoubleType).as("geo_altitude"),
        slot(9).cast(DoubleType).as("velocity"),
        slot(10).cast(DoubleType).as("true_track"),
        slot(11).cast(DoubleType).as("vertical_rate"),
        slot(14).as("squawk"),
        // position_source arrives as e.g. "0" or "0.0"; double-then-int
        // cast accepts both
        slot(16).cast(DoubleType).cast(IntegerType).as("position_source"),
        col("_obs_time").cast(LongType).as("_obs_epoch"),
        slot(3).cast(DoubleType).cast(LongType).as("_time_position_epoch"),
        slot(4).cast(DoubleType).cast(LongType).as("_last_contact_epoch"),
        col("_extracted_at")
      ): _*)

    typed
      .filter(col("latitude").isNotNull && col("longitude").isNotNull)
      .withColumn("observation_time", epochToUtcTs(col("_obs_epoch")))
      .withColumn("time_position", epochToUtcTs(col("_time_position_epoch")))
      .withColumn("last_contact", epochToUtcTs(col("_last_contact_epoch")))
      .withColumn("extracted_at", to_timestamp(col("_extracted_at")))
      .drop("_obs_epoch", "_time_position_epoch", "_last_contact_epoch",
        "_extracted_at")
      .withColumn("position_source_label",
        graft.functions.RiskFunctions.positionSourceLabel(col("position_source")))
      .select(Schemas.formattedFlightsSchema.fieldNames.map(col).toSeq: _*)
  }
}
