package graft.lake

import org.apache.spark.sql.DataFrame

/** Keyed-document serving sink (S10 in SURVEY.md §2.1).
  *
  * The reference `collect()`s the whole usage table to the driver and
  * bulk-posts it to Elasticsearch with `_id=icao24`
  * (`src/index_elastic.py:177,199-211`) — the scalability cliff of the
  * design. Implementations here must stay executor-side: either a
  * distributed file write or a `foreachPartition` HTTP writer; never a
  * driver materialization.
  */
trait DocumentSink {
  /** Upsert one document per `keyCol` value; rows within a call are
    * assumed already deduped to one per key (the pipeline's enriched
    * layer holds one row per `icao24`: `NearestJoin.nearestByWindow`
    * keeps one per aircraft).
    */
  def upsert(docs: DataFrame, keyCol: String): Unit
}

/** Offline default: newline-delimited JSON, one directory per
  * generation; the newest generation is the current state of the
  * keyed store (same latest-wins contract as the ES `_id` upsert).
  * Writes are distributed (`df.write.json` — one file per partition).
  */
final class JsonDirSink(root: String) extends DocumentSink {
  // resumes past existing generations on restart — a fresh process
  // must not overwrite gen=000000 while later generations still look
  // "newest" to latest-wins readers
  private var generation = -1

  override def upsert(docs: DataFrame, keyCol: String): Unit = {
    if (generation < 0) generation = nextGeneration(docs)
    val target = f"$root/gen=$generation%06d"
    docs.write.mode("overwrite").json(target)
    generation += 1
  }

  private def nextGeneration(docs: DataFrame): Int = {
    val conf = docs.sparkSession.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(root)
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path)) 0
    else {
      val gens = fs.listStatus(path).map(_.getPath.getName)
        .filter(_.startsWith("gen="))
        .flatMap(n => scala.util.Try(n.stripPrefix("gen=").toInt).toOption)
      if (gens.isEmpty) 0 else gens.max + 1
    }
  }
}

/** Shape of a partition-local bulk HTTP writer (what an online ES sink
  * looks like without the driver bottleneck). The transport is
  * abstract — this environment has no network — but the partition
  * batching and the accounting semantics are the reference's
  * `bulk(es, actions, raise_on_error=False)` exactly
  * (`src/index_elastic.py:210-216`): a batch is not all-or-nothing —
  * the ES bulk API accepts some items and rejects others, so the
  * transport reports a PER-DOCUMENT split ([[BulkHttpSink.BulkResult]]);
  * the run never throws on item failures, totals are summed across all
  * executors (Spark accumulators — the distributed analog of the
  * reference's driver-side `success, errors` pair), the driver logs
  * `indexed/errors` totals plus the first `maxLoggedErrors` error
  * payloads, and the full tally stays queryable via [[report]].
  * A transport-level failure (connection refused mid-run) counts every
  * document of that batch as errored — same bookkeeping path.
  */
final class BulkHttpSink(
    post: Seq[String] => BulkHttpSink.BulkResult,
    batchSize: Int = 500,
    maxLoggedErrors: Int = 10) extends DocumentSink {

  @volatile private var last: BulkHttpSink.Report =
    BulkHttpSink.Report(0L, 0L, Nil)

  /** Totals and the capped error sample of the most recent upsert. */
  def report: BulkHttpSink.Report = last

  override def upsert(docs: DataFrame, keyCol: String): Unit = {
    val sc = docs.sparkSession.sparkContext
    val okAcc = sc.longAccumulator("bulk-sink.indexed")
    val errAcc = sc.longAccumulator("bulk-sink.errors")
    val errSample =
      sc.collectionAccumulator[String]("bulk-sink.error-sample")
    val postFn = post
    val bs = batchSize
    val maxLog = maxLoggedErrors
    docs.toJSON.foreachPartition { (it: Iterator[String]) =>
      // cap the per-partition sample contribution so the accumulator
      // stays bounded however many documents fail
      var sampled = 0
      it.grouped(bs).foreach { batch =>
        val r = postFn(batch)
        okAcc.add(r.succeeded.toLong)
        errAcc.add(r.errors.size.toLong)
        r.errors.foreach { e =>
          if (sampled < maxLog) { errSample.add(e); sampled += 1 }
        }
      }
    }
    import scala.jdk.CollectionConverters._
    val sample = errSample.value.asScala.take(maxLog).toList
    last = BulkHttpSink.Report(okAcc.value, errAcc.value, sample)
    // the reference's post-bulk log line + first-10 error dump
    System.err.println(
      s"[bulk-sink] indexed=${okAcc.value} errors=${errAcc.value}")
    sample.foreach(e => System.err.println(s"[bulk-sink]   error: $e"))
  }
}

object BulkHttpSink {
  /** One bulk call's outcome: documents accepted vs per-item error
    * payloads (the ES `items` array split by `status`).
    */
  final case class BulkResult(succeeded: Int, errors: Seq[String])

  /** Whole-upsert accounting: cluster-wide totals plus at most
    * `maxLoggedErrors` sampled error payloads.
    */
  final case class Report(indexed: Long, errors: Long,
      firstErrors: List[String])
}
