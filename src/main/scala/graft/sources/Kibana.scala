package graft.sources

import java.nio.charset.StandardCharsets
import java.util.UUID

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Dashboard provisioning for the serving layer (S11 in SURVEY.md §2.1).
  *
  * The reference ships a hand-exported saved-objects ndjson and a
  * one-shot import task: wait for Kibana to come up, POST the file to
  * `/api/saved_objects/_import?overwrite=true` with the `kbn-xsrf`
  * header, report successCount/errors (`src/setup_kibana.py:14-59`),
  * gated on the serving index containing data
  * (`dags/setup_kibana_dag.py:32-47`). Here the saved objects are
  * GENERATED from the serving contract instead of hand-exported — the
  * dashboard's field list can never drift from the documents the sink
  * actually writes — and the import client reproduces the same wait /
  * import / report protocol on `java.net.http`.
  *
  * Only specs drive this file's provisioning; it stays as the paper's
  * S11 reproduction (ROADMAP direction 6).
  */
object KibanaSavedObjects {

  private val mapper = new ObjectMapper()

  /** Deterministic saved-object id per (index, kind) — re-provisioning
    * overwrites the same objects instead of accumulating copies.
    */
  private def idFor(indexName: String, kind: String): String =
    UUID.nameUUIDFromBytes(s"graft:$kind:$indexName".getBytes(StandardCharsets.UTF_8))
      .toString

  /** The saved-objects ndjson for the flight dashboard: an
    * index-pattern on the serving index (time field = extracted_at, as
    * the reference's data view pins), a dashboard whose panels cover
    * the reference's map / donut / histogram trio (location map,
    * risk_category donut, risk_score histogram), and the config object
    * making the index pattern the default. One JSON object per line —
    * the exact payload shape `/api/saved_objects/_import` consumes.
    */
  def dashboardNdjson(indexName: String): String = {
    val patternId = idFor(indexName, "index-pattern")
    val dashboardId = idFor(indexName, "dashboard")

    val indexPattern = mapper.createObjectNode()
    indexPattern.put("id", patternId)
    indexPattern.put("type", "index-pattern")
    val ipAttrs = indexPattern.putObject("attributes")
    ipAttrs.put("title", indexName)
    ipAttrs.put("name", s"$indexName data view")
    ipAttrs.put("timeFieldName", "extracted_at")
    indexPattern.putArray("references")

    val dashboard = mapper.createObjectNode()
    dashboard.put("id", dashboardId)
    dashboard.put("type", "dashboard")
    val dAttrs = dashboard.putObject("attributes")
    dAttrs.put("title", s"$indexName overview")
    dAttrs.put("description",
      "Generated from the serving contract: flight map, risk donut, risk histogram")
    val panels = Seq(
      panel("map", 0, 0, 30, 15, Map(
        "geoField" -> "location",
        "tooltipFields" -> "callsign,origin_country,risk_category,flight_phase,is_anomaly")),
      panel("pie", 30, 0, 18, 15, Map(
        "bucketField" -> "risk_category",
        "metric" -> "count")),
      panel("histogram", 0, 15, 48, 12, Map(
        "valueField" -> "risk_score",
        "breakdownField" -> "flight_phase")))
    dAttrs.put("panelsJSON", mapper.writeValueAsString(
      mapper.createArrayNode().addAll(java.util.Arrays.asList(panels: _*))))
    val dRefs = dashboard.putArray("references")
    val ref = dRefs.addObject()
    ref.put("id", patternId)
    ref.put("type", "index-pattern")
    ref.put("name", "panel_index_pattern")

    val config = mapper.createObjectNode()
    config.put("id", "graft-config")
    config.put("type", "config")
    config.putObject("attributes").put("defaultIndex", patternId)
    config.putArray("references")

    Seq(indexPattern, dashboard, config)
      .map(mapper.writeValueAsString).mkString("\n") + "\n"
  }

  private def panel(kind: String, x: Int, y: Int, w: Int, h: Int,
      config: Map[String, String]): ObjectNode = {
    val p = mapper.createObjectNode()
    p.put("type", kind)
    val grid = p.putObject("gridData")
    grid.put("x", x); grid.put("y", y); grid.put("w", w); grid.put("h", h)
    val cfg = p.putObject("embeddableConfig")
    config.foreach { case (k, v) => cfg.put(k, v) }
    p
  }
}

/** Result of a saved-objects import. */
final case class KibanaImportResult(successCount: Int, errors: Seq[String])

/** Airflow-sensor schedule bookkeeping (PythonSensor
  * poke_interval/timeout semantics, `dags/setup_kibana_dag.py:69-74`:
  * poke every 30 s, give up after 600 s). Pure arithmetic — the
  * caller's scheduler drives the clock and re-invokes
  * [[KibanaProvisioner.pokeKibana]]/[[KibanaProvisioner.pokeIndexData]]
  * at each due time; nothing here sleeps or holds a slot.
  */
final case class SensorPolicy(pokeIntervalMs: Long = 30000L,
    timeoutMs: Long = 600000L) {
  require(pokeIntervalMs > 0 && timeoutMs >= 0, "positive interval required")

  /** The next poke time after a false poke at `nowMs`, or None when
    * the sensor has timed out (Airflow fails the task then).
    */
  def nextPokeAt(startMs: Long, nowMs: Long): Option[Long] = {
    val next = nowMs + pokeIntervalMs
    if (next - startMs > timeoutMs) None else Some(next)
  }

  /** Max number of pokes a sensor run can make (first poke at t=0). */
  def maxPokes: Int = (timeoutMs / pokeIntervalMs).toInt + 1
}

/** One-shot Kibana provisioning client — the reference's
  * wait-then-import protocol (`src/setup_kibana.py:14-59`) plus the
  * serving-index data sensor (`dags/setup_kibana_dag.py:32-47`) on
  * `java.net.http`.
  */
final class KibanaProvisioner(
    kibanaUrl: String,
    maxRetries: Int = 12,
    retryDelayMs: Long = 10000L) {

  private val mapper = new ObjectMapper()

  /** ONE non-blocking poke at `/api/status` — the sensor-style form
    * (`dags/setup_kibana_dag.py:69-74`, PythonSensor semantics): the
    * caller's scheduler re-invokes on its own cadence instead of this
    * object holding a worker slot in a sleep loop. Pair with
    * [[SensorPolicy]] for the poke_interval/timeout bookkeeping.
    */
  def pokeKibana(): Boolean =
    try { Http.get(s"$kibanaUrl/api/status", timeoutSec = 5L); true }
    catch { case NonFatal(_) => false }

  /** ONE non-blocking poke of the serving index's `_count` — true iff
    * the index answers and holds ≥ 1 document (the reference sensor's
    * exact predicate: HTTP 200 AND count > 0, anything else including
    * an unreachable cluster pokes false —
    * `dags/setup_kibana_dag.py:31-47`).
    */
  def pokeIndexData(esUrl: String, index: String): Boolean =
    try {
      val body = Http.get(s"$esUrl/$index/_count", timeoutSec = 10L)
      mapper.readTree(body).path("count").asLong(0L) > 0L
    } catch { case NonFatal(_) => false }

  /** Polls `/api/status` until Kibana answers 200 (it can take a while
    * to start); false after `maxRetries` attempts.
    */
  def waitForKibana(): Boolean = pollUntil(pokeKibana())

  /** Polls the serving index's `_count` until it holds at least one
    * document — provisioning a dashboard over an empty index renders
    * broken panels, so the reference gates on data first.
    */
  def waitForIndexData(esUrl: String, index: String): Boolean =
    pollUntil(pokeIndexData(esUrl, index))

  /** Up to `maxRetries` pokes, `retryDelayMs` apart; true on the first
    * that succeeds.
    */
  private def pollUntil(poke: => Boolean): Boolean = {
    var attempt = 0
    while (attempt < maxRetries) {
      if (poke) return true
      attempt += 1
      if (attempt < maxRetries) Thread.sleep(retryDelayMs)
    }
    false
  }

  /** POSTs the ndjson to `/api/saved_objects/_import?overwrite=true`
    * (multipart file upload, `kbn-xsrf` header) and reports per-object
    * errors the way the reference logs them.
    */
  def importSavedObjects(ndjson: String): KibanaImportResult = {
    val boundary = "graftkbn" + UUID.nameUUIDFromBytes(
      ndjson.getBytes(StandardCharsets.UTF_8)).toString.replace("-", "")
    val body =
      s"--$boundary\r\n" +
        "Content-Disposition: form-data; name=\"file\"; filename=\"dashboard.ndjson\"\r\n" +
        "Content-Type: application/ndjson\r\n\r\n" +
        ndjson +
        s"\r\n--$boundary--\r\n"
    val resp = Http.post(
      s"$kibanaUrl/api/saved_objects/_import?overwrite=true",
      body,
      contentType = s"multipart/form-data; boundary=$boundary",
      headers = Map("kbn-xsrf" -> "true"))
    val node = mapper.readTree(resp)
    val errors = {
      val it = node.path("errors").elements()
      val buf = scala.collection.mutable.ListBuffer.empty[String]
      while (it.hasNext) {
        val e = it.next()
        buf += s"${e.path("id").asText()}: ${e.path("error").path("message").asText()}"
      }
      buf.toList
    }
    KibanaImportResult(node.path("successCount").asInt(0), errors)
  }

  /** wait → import; None when Kibana never came up. */
  def provision(ndjson: String): Option[KibanaImportResult] =
    if (waitForKibana()) Some(importSavedObjects(ndjson)) else None
}
