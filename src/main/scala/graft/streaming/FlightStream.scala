package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.{CombineJob, FormatFlights, UsageProjection}

/** Streaming wrapper of the pipeline: raw-JSON file source → format
  * → (per micro-batch) combine + usage → parquet sink.
  *
  * The reference's "real time" is an Airflow cron re-running batch
  * jobs every minute (`dags/sky_safe_dag.py:31`); this is the
  * Spark-native equivalent — `Trigger.ProcessingTime` micro-batches
  * whose `foreachBatch` runs the batch runner's combine and usage
  * stages (`CombineJob.enrich`, `UsageProjection.usage`) with the same
  * semantics (snapshot-overwrite per batch, keyed latest-state
  * downstream). It is not the runner's whole path: a batch skips
  * three steps of `PipelineRunner.runOnce`, because those steps are
  * keyed to the runner's minute (dated lake partitions, one sink
  * upsert per run) and a micro-batch has only its batch id.
  *   - The enriched-layer write: enrich feeds usage in memory.
  *   - The document sink: `start` takes no sink; the usage parquet
  *     under `outDir` is the stream's only output.
  *   - Run metrics: the runner counts them with an `Observation` on
  *     the enriched-layer write, which a batch does not make.
  * No watermark is needed: each batch is a self-contained snapshot,
  * not an event-time window (SURVEY.md §2.10).
  */
object FlightStream {

  /** Start the pipeline stream.
    *
    * @param rawDir   directory watched for raw OpenSky JSON payloads
    * @param weather  static (slow-changing) formatted weather dimension
    * @param outDir   usage-layer output root; each batch overwrites
    *                 `outDir/batch=<id>` — downstream readers take the
    *                 max batch id (same latest-partition contract as the
    *                 reference lake layout)
    */
  def start(
      spark: SparkSession,
      rawDir: String,
      weather: DataFrame,
      outDir: String,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds")): StreamingQuery = {
    // same whole-file parse as the batch reader (FormatFlights.fromRawJson)
    val raw = spark.readStream
      .option("wholetext", true)
      .option("maxFilesPerTrigger", 96) // bound per-batch work at scale
      .text(rawDir)

    val formatted = FormatFlights.fromRaw(FormatFlights.parsePayloads(raw))

    formatted.writeStream
      .trigger(trigger)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val enriched = CombineJob.enrich(batch, weather)
          val usage = UsageProjection.usage(enriched)
          usage.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
          ()
        }
      }
      .start()
  }
}
