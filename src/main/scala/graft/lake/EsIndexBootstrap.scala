package graft.lake

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.sources.Http

/** Serving-index bootstrap — the create-if-missing + healthcheck the
  * reference runs before every bulk index
  * (`src/index_elastic.py:185-195`): ping the cluster (abort the run
  * if serving is unreachable — half-indexed state is worse than a
  * failed run), then create the index WITH its mapping when absent
  * (Kibana Maps needs `location` pinned to `geo_point` before the
  * first document lands; dynamic mapping would guess `float` pairs
  * and the dashboard map would never render).
  *
  * Driver-side control plane only: two tiny HTTP calls per run, no
  * data movement — the bulk payload itself stays executor-side in
  * [[BulkHttpSink]].
  *
  * Only specs drive `EsIndexBootstrap.flightMappingJson`; the
  * bootstrap stays as the paper's serving-index setup (ROADMAP
  * direction 6).
  */
final class EsIndexBootstrap(esUrl: String, indexName: String) {

  /** Cluster reachable? (reference `es.ping()`). */
  def ping(): Boolean =
    try { Http.get(s"$esUrl/", timeoutSec = 10L); true }
    catch { case NonFatal(_) => false }

  /** Does the index exist? 404 = no; other non-2xx propagate (an
    * auth failure must not masquerade as "missing index" and trigger
    * a create).
    */
  def indexExists(): Boolean =
    try { Http.get(s"$esUrl/$indexName", timeoutSec = 10L); true }
    catch {
      case Http.HttpStatusException(404, _) => false
    }

  /** Create the index with `mappingJson` when absent; true when this
    * call created it (reference `indices.create(..., INDEX_MAPPING)`).
    */
  def ensureIndex(mappingJson: String): Boolean =
    if (indexExists()) false
    else {
      Http.put(s"$esUrl/$indexName", mappingJson,
        contentType = "application/json")
      true
    }

  /** ping → ensureIndex, the reference's exact pre-bulk sequence;
    * throws when the cluster is unreachable.
    */
  def bootstrap(mappingJson: String): Unit = {
    if (!ping())
      throw new java.net.ConnectException(
        s"Elasticsearch unreachable at $esUrl")
    ensureIndex(mappingJson)
  }
}

object EsIndexBootstrap {

  /** ES index-creation body derived from a serving contract schema:
    * String→keyword, Double→float, Integer→integer, Boolean→boolean,
    * a (lat, lon) struct→geo_point; `overrides` pins fields whose
    * serving type is narrower than their engine type (the reference
    * maps ISO-string datetimes as `date` and two float weather codes
    * as `integer`, `src/index_elastic.py:22-62`).
    */
  def mappingJson(contract: StructType,
      overrides: Map[String, String] = Map.empty): String = {
    def esType(f: StructField): String = overrides.getOrElse(f.name,
      f.dataType match {
        case StringType                       => "keyword"
        case DoubleType | FloatType           => "float"
        case IntegerType | LongType           => "integer"
        case BooleanType                      => "boolean"
        case s: StructType
          if s.fieldNames.sorted.sameElements(Array("lat", "lon")) =>
          "geo_point"
        case other => throw new IllegalArgumentException(
          s"no serving type for field '${f.name}': $other")
      })
    contract.fields
      .map(f => s""""${f.name}": {"type": "${esType(f)}"}""")
      .mkString("{\"mappings\": {\"properties\": {", ", ", "}}}")
  }

  /** The flight-dashboard mapping — [[ServingContract.flightDocuments]]
    * plus the reference's per-field narrowings.
    */
  def flightMappingJson: String = mappingJson(
    ServingContract.flightDocuments,
    overrides = Map(
      "observation_time" -> "date",
      "extracted_at"     -> "date",
      "cloud_cover"      -> "integer",
      "weather_code"     -> "integer"))
}

/** Decorator running the bootstrap sequence in front of every upsert —
  * composes with [[ContractSink]] the way the reference composes ping →
  * create-if-missing → bulk inside one job run.
  */
final class BootstrappedSink(
    bootstrap: EsIndexBootstrap,
    mappingJson: String,
    inner: DocumentSink) extends DocumentSink {
  override def upsert(docs: DataFrame, keyCol: String): Unit = {
    bootstrap.bootstrap(mappingJson)
    inner.upsert(docs, keyCol)
  }
}
