package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.IngestShim
import graft.config.ApiConfig

/** REST/JSON source layer.
  *
  * The reference fetches JSON over HTTP with a retrying session
  * (app/ingestao_api.py:25-56) and builds a frame from the payload.
  * There is no Spark primitive for REST, so the fetch happens on the
  * DRIVER behind a transport trait. The payload is parsed there too,
  * as the reference's `response.json()` does, into a local frame with
  * the columns and types `spark.read.json` would infer. Predicates
  * that the API can evaluate (e.g. `?userId=7`) are passed as request
  * params — the moral equivalent of DataSource V2 filter pushdown
  * (reference app/ingestao_api.py:88).
  */
final class ApiError(msg: String, cause: Throwable = null)
  extends RuntimeException(msg, cause)

/** Transport abstraction: returns the raw JSON body for an endpoint +
  * query params. Implementations: HTTP (live) and fixture (offline).
  */
trait ApiTransport {
  def get(url: String, params: Map[String, String], timeoutSec: Int): String
}

/** Live HTTP transport on java.net.http (JDK 11+). Not exercised in the
  * zero-egress build; kept as the production path.
  */
final class HttpTransport extends ApiTransport {
  private lazy val client = java.net.http.HttpClient.newBuilder()
    .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
    .build()

  def get(url: String, params: Map[String, String], timeoutSec: Int): String = {
    val qs =
      if (params.isEmpty) ""
      else params.map { case (k, v) =>
        java.net.URLEncoder.encode(k, "UTF-8") + "=" + java.net.URLEncoder.encode(v, "UTF-8")
      }.mkString("?", "&", "")
    val req = java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(url + qs))
      .timeout(java.time.Duration.ofSeconds(timeoutSec.toLong))
      .GET().build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200) {
      val retryAfter = Option(resp.headers().firstValue("Retry-After").orElse(null))
      throw new HttpStatusError(resp.statusCode(), retryAfter)
    }
    resp.body()
  }
}

final class HttpStatusError(val status: Int, val retryAfter: Option[String])
  extends RuntimeException(s"HTTP $status")

/** Offline transport: endpoints resolve to local JSON files; query
  * params are applied source-side by filtering the parsed array —
  * preserving the reference's pushdown shape (app/ingestao_api.py:88)
  * without network egress.
  */
final class FixtureTransport(fixtures: Map[String, String]) extends ApiTransport {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def get(url: String, params: Map[String, String], timeoutSec: Int): String = {
    val path = fixtures.getOrElse(url, throw new ApiError(s"no fixture for $url"))
    val body = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    if (params.isEmpty) body
    else {
      val root = mapper.readTree(body)
      if (!root.isArray) body
      else {
        val arr = mapper.createArrayNode()
        root.forEach { node =>
          val keep = params.forall { case (k, v) =>
            node.get(k) != null && node.get(k).asText() == v
          }
          if (keep) { arr.add(node); () }
        }
        mapper.writeValueAsString(arr)
      }
    }
  }
}

/** Retry/backoff policy around a transport — the reference's `safe_get`
  * (app/ingestao_api.py:36-56): up to retries+1 attempts; on 429/503
  * honor Retry-After else exponential backoff min(2^attempt, 16) s;
  * other failures back off min(2^attempt, 8) s; small linear jitter.
  */
object ApiSource {
  def safeGet(
      transport: ApiTransport,
      url: String,
      params: Map[String, String],
      timeoutSec: Int,
      retries: Int,
      sleep: Long => Unit = Thread.sleep): String = {
    var attempt = 0
    var lastError: Throwable = null
    while (attempt <= retries) {
      try return transport.get(url, params, timeoutSec)
      catch {
        case e: HttpStatusError =>
          lastError = e
          if (attempt < retries) {
            val base =
              if (e.status == 429 || e.status == 503)
                e.retryAfter.flatMap(_.toDoubleOption).map(_ * 1000).getOrElse(
                  math.min(math.pow(2.0, attempt.toDouble), 16.0) * 1000)
              else math.min(math.pow(2.0, attempt.toDouble), 8.0) * 1000
            sleep((base + 100L * attempt).toLong)
          }
        case e @ (_: java.io.IOException | _: ApiError) =>
          lastError = e
          if (attempt < retries)
            sleep((math.min(math.pow(2.0, attempt.toDouble), 8.0) * 1000 + 100L * attempt).toLong)
      }
      attempt += 1
    }
    throw new ApiError(s"GET $url failed after ${retries + 1} attempts", lastError)
  }

  /** Fetch an endpoint and parse the JSON payload into a local frame
    * (`LocalRelation`) on the driver, with Spark's JSON inference and
    * parser (`IngestShim.jsonFrame`): the columns, types and rows
    * `spark.read.json` gives on a one-element Dataset, and no Spark
    * job. API payloads are small; bulk data enters through file
    * sources, not this path.
    */
  def fetchDf(
      spark: SparkSession,
      cfg: ApiConfig,
      transport: ApiTransport,
      endpointKey: String,
      params: Map[String, String] = Map.empty): DataFrame = {
    val endpoint = cfg.endpoints.getOrElse(endpointKey, throw new ApiError(s"unknown endpoint '$endpointKey'"))
    val body = safeGet(transport, cfg.baseUrl + endpoint, params, cfg.timeoutSec, cfg.retries)
    val parsed = IngestShim.jsonFrame(spark, body)
    if (parsed.columns.contains("_corrupt_record"))
      throw new ApiError(s"endpoint '$endpointKey' returned unparseable JSON")
    parsed
  }
}
