package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import graft.pipeline.RawSource

/** Online halves of the S1–S3 extract sources: the same [[RawSource]]
  * trait the offline `FileReplaySource` implements, backed by
  * `java.net.http` (JDK-only, no extra dependency) — landing byte-
  * compatible raw JSON into the lake so the downstream format stages
  * are identical whether the snapshot came from replay or the wire.
  *
  * Reference behavior reproduced:
  *  - generic GET/POST with non-2xx → error
  *    (`src/helpers.py:70-83`);
  *  - OAuth2 client-credentials token fetch
  *    (`src/extract_flights.py:42-52`), plus expiry-aware caching the
  *    reference refetches per run;
  *  - `/states/all` with Bearer auth and `_extracted_at` injection
  *    (`src/extract_flights.py:59-79`); optional bbox params (the
  *    serverless proxy's bounding_box payload,
  *    `src/serverless_function_call.py:9-12`, as OpenSky's native
  *    lamin/lamax/lomin/lomax query form);
  *  - per-point weather fetch where a failing point is logged and
  *    SKIPPED, not fatal (`src/extract_weather.py:54-82`), landing one
  *    JSON array file.
  */
object Http {

  final case class HttpStatusException(status: Int, body: String)
    extends RuntimeException(s"HTTP $status: ${body.take(200)}")

  private lazy val client: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10)).build()

  def get(url: String, headers: Map[String, String] = Map.empty,
      timeoutSec: Long = 30L): String = {
    val b = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofSeconds(timeoutSec)).GET()
    headers.foreach { case (k, v) => b.header(k, v) }
    send(b.build())
  }

  def postForm(url: String, form: Map[String, String],
      headers: Map[String, String] = Map.empty, timeoutSec: Long = 30L): String = {
    val body = form.map { case (k, v) => enc(k) + "=" + enc(v) }.mkString("&")
    val b = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofSeconds(timeoutSec))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(HttpRequest.BodyPublishers.ofString(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    send(b.build())
  }

  def post(url: String, body: String, contentType: String,
      headers: Map[String, String] = Map.empty, timeoutSec: Long = 30L): String = {
    val b = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofSeconds(timeoutSec))
      .header("Content-Type", contentType)
      .POST(HttpRequest.BodyPublishers.ofString(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    send(b.build())
  }

  def put(url: String, body: String, contentType: String,
      headers: Map[String, String] = Map.empty, timeoutSec: Long = 30L): String = {
    val b = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofSeconds(timeoutSec))
      .header("Content-Type", contentType)
      .PUT(HttpRequest.BodyPublishers.ofString(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    send(b.build())
  }

  def enc(s: String): String =
    java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)

  private def send(req: HttpRequest): String = {
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2)
      throw HttpStatusException(resp.statusCode(), resp.body())
    resp.body()
  }

  /** Bounded retry with linear backoff — extract is the one pipeline
    * stage where transient failure is routine, and a raw-layer land is
    * idempotent so retrying is always safe. `attempts` counts the
    * first try, so it must be at least 1.
    */
  def withRetry[T](attempts: Int, backoffMs: Long)(f: => T): T = {
    require(attempts >= 1, s"attempts must be at least 1, got $attempts")
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      try return f
      catch {
        case NonFatal(e) =>
          last = e; i += 1
          if (i < attempts) Thread.sleep(backoffMs * i)
      }
    }
    throw last
  }
}

/** OAuth2 client-credentials token provider (reference
  * `src/extract_flights.py:42-52`): POSTs the grant to `tokenUrl`,
  * caches the token until `expires_in - skewSeconds` so a minutely
  * pipeline run reuses one token instead of re-authenticating per run.
  */
final class OAuth2TokenProvider(
    tokenUrl: String,
    clientId: String,
    clientSecret: String,
    skewSeconds: Long = 30L,
    clock: () => Long = () => System.currentTimeMillis()) {

  @volatile private var cached: Option[(String, Long)] = None
  private val mapper = new ObjectMapper()

  def token(): String = {
    val now = clock()
    cached match {
      case Some((t, expiresAtMs)) if now < expiresAtMs => t
      case _ =>
        val body = Http.postForm(tokenUrl, Map(
          "grant_type" -> "client_credentials",
          "client_id" -> clientId,
          "client_secret" -> clientSecret))
        val node = mapper.readTree(body)
        val tok = node.get("access_token").asText()
        val expiresIn =
          if (node.has("expires_in")) node.get("expires_in").asLong() else 300L
        cached = Some((tok, now + (expiresIn - skewSeconds) * 1000L))
        tok
    }
  }
}

private object RawFiles {
  /** Land one raw file through the Hadoop FS API (works for local and
    * object-store lake roots alike, same as the layer writers).
    */
  def write(spark: SparkSession, targetDir: String, fileName: String,
      content: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(targetDir)
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, fileName), true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  def utcNowIso(): String =
    java.time.LocalDateTime.now(java.time.Clock.systemUTC()).toString
}

/** Online OpenSky flights source (S1/S2): Bearer-authenticated
  * `/states/all` snapshot, `_extracted_at` injected, landed as
  * `flights_raw.json` — byte-compatible with the replay fixture the
  * offline pipeline consumes (reference `src/extract_flights.py:59-79`).
  *
  * @param bbox optional (lamin, lamax, lomin, lomax) filter — the
  *             engine-side equivalent of the serverless proxy's
  *             bounding_box payload (`src/serverless_function_call.py:9-12`)
  *             expressed as OpenSky's native query params
  */
final class OpenSkySource(
    baseUrl: String,
    tokens: OAuth2TokenProvider,
    bbox: Option[(Double, Double, Double, Double)] = None,
    retries: Int = 3,
    extractedAt: () => String = RawFiles.utcNowIso _) extends RawSource {

  private val mapper = new ObjectMapper()

  override def extract(spark: SparkSession, targetDir: String): Int = {
    val qs = bbox.map { case (lamin, lamax, lomin, lomax) =>
      s"?lamin=$lamin&lamax=$lamax&lomin=$lomin&lomax=$lomax"
    }.getOrElse("")
    val body = Http.withRetry(retries, 200L) {
      Http.get(s"$baseUrl/states/all$qs",
        Map("Authorization" -> ("Bearer " + tokens.token())))
    }
    val node = mapper.readTree(body).asInstanceOf[ObjectNode]
    node.put("_extracted_at", extractedAt())
    RawFiles.write(spark, targetDir, "flights_raw.json",
      mapper.writeValueAsString(node))
    1
  }
}

/** Online Open-Meteo weather source (S3): one GET per station point
  * with the `current` variable list; a failing point is reported and
  * skipped, never fatal (reference `src/extract_weather.py:54-82`);
  * the run lands one `weather_raw.json` array file.
  */
final class OpenMeteoSource(
    baseUrl: String,
    points: Seq[(Double, Double)],
    currentVars: String = OpenMeteoSource.DefaultVariables,
    retries: Int = 3,
    extractedAt: () => String = RawFiles.utcNowIso _,
    onError: (Double, Double, Throwable) => Unit = (la, lo, e) =>
      System.err.println(f"[open-meteo] point ($la%.4f, $lo%.4f) failed: ${e.getMessage}"))
  extends RawSource {

  private val mapper = new ObjectMapper()

  override def extract(spark: SparkSession, targetDir: String): Int = {
    val arr = mapper.createArrayNode()
    points.foreach { case (lat, lon) =>
      try {
        val url = s"$baseUrl?latitude=$lat&longitude=$lon" +
          s"&current=${Http.enc(currentVars)}"
        val body = Http.withRetry(retries, 200L)(Http.get(url))
        val node = mapper.readTree(body).asInstanceOf[ObjectNode]
        node.put("_extracted_at", extractedAt())
        arr.add(node)
      } catch { case NonFatal(e) => onError(lat, lon, e) }
    }
    RawFiles.write(spark, targetDir, "weather_raw.json",
      mapper.writeValueAsString(arr))
    1
  }
}

object OpenMeteoSource {
  /** The reference's requested variable list (`src/extract_weather.py`
    * WEATHER_VARIABLES — the 10 fields of the raw weather schema).
    */
  val DefaultVariables: String =
    "temperature_2m,relative_humidity_2m,wind_speed_10m,wind_direction_10m," +
      "wind_gusts_10m,precipitation,rain,cloud_cover,weather_code,visibility"
}
