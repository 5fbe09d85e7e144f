package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.LocalDateTime
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.lake.{JsonDirSink, LakePaths}
import graft.pipeline.PipelineRunner

/** Online S1–S3 sources against a real local HTTP server (JDK
  * `com.sun.net.httpserver` — no network egress): OAuth2 token flow
  * with caching, Bearer-authenticated states fetch with bbox params,
  * retry on transient 5xx, per-point weather failure skipping, and the
  * full pipeline running end-to-end over the wire.
  */
class HttpSourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val flightsBody =
    """{"time": 1772121600,
      | "states": [["3c6444", "DLH9CK  ", "Germany", 1772121599, 1772121600,
      | 2.3522, 48.8566, 11277.6, false, 231.5, 85.2, -0.33,
      | null, 11582.4, "1000", false, 0],
      | ["ab1234", "AFR01", "France", 1772121599, 1772121600,
      | 5.1, 45.7, 150.0, false, 50.0, 10.0, 0.0,
      | null, 160.0, "7000", false, 0]]}""".stripMargin.replaceAll("\n", " ")

  private def weatherBody(lat: String, lon: String) =
    s"""{"latitude": $lat, "longitude": $lon, "elevation": 89.0,
       | "current": {"time": "2026-02-26T16:00", "temperature_2m": 7.4,
       |  "relative_humidity_2m": 82, "wind_speed_10m": 18.3,
       |  "wind_direction_10m": 240, "wind_gusts_10m": 55.1,
       |  "precipitation": 0.6, "rain": 0.6, "cloud_cover": 90,
       |  "weather_code": 61, "visibility": 24140.0}}""".stripMargin.replaceAll("\n", " ")

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  private def withServer[T](routes: (HttpServer, AtomicInteger, AtomicInteger) => Unit)(
      f: String => T): T = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val tokenHits = new AtomicInteger(0)
    val stateHits = new AtomicInteger(0)
    routes(server, tokenHits, stateHits)
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  test("oauth2 token flow: grant posted, token cached until expiry, bearer sent, bbox params") {
    val tokenHits = new AtomicInteger(0)
    val stateHits = new AtomicInteger(0)
    var lastAuth: String = null
    var lastQuery: String = null
    var lastGrant: String = null

    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/token", (ex: HttpExchange) => {
      tokenHits.incrementAndGet()
      lastGrant = readBody(ex)
      respond(ex, 200, """{"access_token": "tok-abc", "expires_in": 3600}""")
    })
    server.createContext("/api/states/all", (ex: HttpExchange) => {
      stateHits.incrementAndGet()
      lastAuth = ex.getRequestHeaders.getFirst("Authorization")
      lastQuery = ex.getRequestURI.getQuery
      respond(ex, 200, flightsBody)
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val tokens = new OAuth2TokenProvider(s"$base/token", "cid", "secret")
      val src = new OpenSkySource(s"$base/api", tokens,
        bbox = Some((41.3, 51.1, -5.1, 9.6)),
        extractedAt = () => "2026-02-26T16:00:05")
      val dir = Files.createTempDirectory("graft_http").toString
      src.extract(spark, s"$dir/one")
      src.extract(spark, s"$dir/two")

      assert(lastGrant.contains("grant_type=client_credentials"))
      assert(lastGrant.contains("client_id=cid"))
      assert(tokenHits.get() == 1, "token must be cached across extracts")
      assert(stateHits.get() == 2)
      assert(lastAuth == "Bearer tok-abc")
      assert(lastQuery == "lamin=41.3&lamax=51.1&lomin=-5.1&lomax=9.6")

      // the landed file parses through the production format stage
      val formatted = graft.pipeline.FormatFlights.fromRawJson(spark, s"$dir/one")
      assert(formatted.count() == 2)
      assert(formatted.columns.contains("icao24"))
    } finally server.stop(0)
  }

  test("withRetry rejects zero attempts before running the body") {
    var ran = false
    val e = intercept[IllegalArgumentException] {
      Http.withRetry(0, 0L) { ran = true }
    }
    assert(!ran)
    assert(e.getMessage.contains("got 0"))
  }

  test("retry survives transient 5xx; weather point failures are skipped not fatal") {
    val flaky = new AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/weather", (ex: HttpExchange) => {
      val q = ex.getRequestURI.getQuery
      val lat = q.split("&").find(_.startsWith("latitude=")).get.stripPrefix("latitude=")
      val lon = q.split("&").find(_.startsWith("longitude=")).get.stripPrefix("longitude=")
      if (lat == "48.7") {
        // first attempt 500, second succeeds → retry covers it
        if (flaky.incrementAndGet() == 1) respond(ex, 500, "transient")
        else respond(ex, 200, weatherBody(lat, lon))
      } else if (lat == "99.9") {
        respond(ex, 404, "no such point") // always fails → skipped
      } else respond(ex, 200, weatherBody(lat, lon))
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      var skipped = List.empty[(Double, Double)]
      val src = new OpenMeteoSource(s"$base/weather",
        points = Seq((48.7, 2.2), (99.9, 0.0), (50.5, 3.0)),
        retries = 3,
        extractedAt = () => "2026-02-26T16:00:03",
        onError = (la, lo, _) => skipped ::= ((la, lo)))
      val dir = Files.createTempDirectory("graft_meteo").toString
      src.extract(spark, dir)

      assert(skipped == List((99.9, 0.0)))
      val formatted = graft.pipeline.FormatWeather.fromRawJson(spark, dir)
      assert(formatted.count() == 2) // failing point absent, others landed
    } finally server.stop(0)
  }

  test("full pipeline over the wire: online sources -> enriched -> usage -> sink") {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/token", (ex: HttpExchange) =>
      respond(ex, 200, """{"access_token": "t", "expires_in": 3600}"""))
    server.createContext("/api/states/all", (ex: HttpExchange) =>
      respond(ex, 200, flightsBody))
    server.createContext("/weather", (ex: HttpExchange) => {
      val q = ex.getRequestURI.getQuery
      val lat = q.split("&").find(_.startsWith("latitude=")).get.stripPrefix("latitude=")
      val lon = q.split("&").find(_.startsWith("longitude=")).get.stripPrefix("longitude=")
      respond(ex, 200, weatherBody(lat, lon))
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val root = Files.createTempDirectory("graft_httplake").toString
      val sinkDir = Files.createTempDirectory("graft_httpsink").toString
      val tokens = new OAuth2TokenProvider(s"$base/token", "cid", "sec")
      val runner = new PipelineRunner(
        LakePaths(root),
        new OpenSkySource(s"$base/api", tokens,
          extractedAt = () => "2026-02-26T16:00:05"),
        new OpenMeteoSource(s"$base/weather",
          points = Seq((48.709632, 2.208563), (50.561237, 3.086957)),
          extractedAt = () => "2026-02-26T16:00:03"),
        new JsonDirSink(sinkDir))
      val metrics = runner.runOnce(spark, LocalDateTime.of(2026, 2, 26, 16, 0))
      assert(metrics.enrichedRows == 2)
      val docs = spark.read.json(s"$sinkDir/gen=000000")
      assert(docs.count() == 2)
      assert(docs.columns.contains("risk_score"))
    } finally server.stop(0)
  }
}
