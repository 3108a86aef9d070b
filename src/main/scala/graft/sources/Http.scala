package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URLEncoder
import java.nio.charset.StandardCharsets
import java.time.Duration

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.config.{HttpRequestDef, Templates}
import graft.engine.Pin
import graft.util.Json

/** HTTP sources (SURVEY §2.1 S1-S4, S8; §2.4 J2).
  *
  * Single calls run on the driver (one request parameterizes a whole
  * scan — there is nothing to distribute); the per-record fan-out runs
  * in `mapPartitions` with one client and a local rate limiter per
  * partition, replacing the reference's sequential 100 ms sleep loop
  * (contextual_pipeline.rs:126-145) with partition-parallel calls.
  * Fan-out calls re-execute on task retry: at-least-once semantics,
  * documented (SURVEY §7.4).
  */
object Http {

  final case class HttpFailure(status: Int, body: String)
      extends RuntimeException(s"HTTP $status")

  private def newClient(timeoutSeconds: Int): HttpClient =
    HttpClient.newBuilder()
      .connectTimeout(Duration.ofSeconds(timeoutSeconds.toLong))
      .build()

  /** Build and execute one request: method dispatch S3 (unknown → GET,
    * reference contextual_pipeline.rs:443-467), query params + headers
    * S2, templated headers/payload T3/T4, timeout. */
  def call(
      req: HttpRequestDef,
      shared: Map[String, Any] = Map.empty,
      record: Map[String, Any] = Map.empty,
      client: HttpClient = null): String = {
    val endpoint = Templates.substEndpoint(req.endpoint, record, shared)
    val qs = req.queryParams.map { case (k, v) =>
      val tv = Templates.substDoubleBrace(v, shared, record)
      s"${enc(k)}=${enc(tv)}"
    }.mkString("&")
    val url = if (qs.isEmpty) endpoint
      else endpoint + (if (endpoint.contains('?')) "&" else "?") + qs

    val method = req.method.toUpperCase match {
      case m @ ("GET" | "POST" | "PUT" | "DELETE" | "PATCH" | "HEAD") => m
      case _ => "GET" // reference: unknown method falls back to GET
    }
    val builder = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofSeconds(req.timeoutSeconds.toLong))
    req.headers.foreach { case (k, v) =>
      builder.header(k, Templates.substDoubleBrace(v, shared, record))
    }
    val body = req.payload.map(p => Templates.substDoubleBrace(p, shared, record))
    if (method == "GET" || method == "HEAD") builder.method(method, HttpRequest.BodyPublishers.noBody())
    else {
      // reference: non-GET/HEAD default Content-Type application/json
      if (!req.headers.keys.exists(_.equalsIgnoreCase("Content-Type")))
        builder.header("Content-Type", req.contentType.getOrElse("application/json"))
      builder.method(method,
        HttpRequest.BodyPublishers.ofString(body.getOrElse(""), StandardCharsets.UTF_8))
    }
    val c = if (client == null) newClient(req.timeoutSeconds) else client
    val resp = c.send(builder.build(), HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2) throw HttpFailure(resp.statusCode(), resp.body())
    resp.body()
  }

  private def enc(s: String) = URLEncoder.encode(s, StandardCharsets.UTF_8)

  /** S1-S3 — one call → DataFrame. Array bodies become one row per
    * element; an object body is wrapped under "response". */
  def readApi(
      spark: SparkSession,
      req: HttpRequestDef,
      shared: Map[String, Any] = Map.empty): DataFrame = {
    val body = call(req, shared)
    jsonRecords(spark, Json.bodyToRecords(body))
  }

  /** S8 — sample-data fallback (reference default on API failure,
    * mvp_pipeline.rs:118-148). */
  def readApiWithFallback(
      spark: SparkSession,
      req: HttpRequestDef,
      sampleData: Seq[String],
      shared: Map[String, Any] = Map.empty): DataFrame =
    try readApi(spark, req, shared)
    catch {
      case scala.util.control.NonFatal(_) if sampleData.nonEmpty =>
        jsonRecords(spark, sampleData)
    }

  /** S4/J2 — parameterized fan-out: one request per `prev` record,
    * `{param}` placeholders filled from the record, responses
    * concatenated. Runs in the executors: per-partition HTTP client,
    * per-partition rate limit. Semantically a lookup join via HTTP. */
  def fanOut(
      spark: SparkSession,
      prev: DataFrame,
      req: HttpRequestDef,
      shared: Map[String, Any] = Map.empty,
      rateLimitMs: Long = 0L,
      /** Partitions (= concurrent HTTP streams + per-partition rate
        * limiters) the calls run with; None keeps the upstream layout.
        * The honest form of the reference's declared-but-sequential
        * `concurrent_requests`. */
      concurrency: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val reqB = req // stable local for closure capture
    val sharedB = shared
    val src = concurrency.filter(_ > 0).map(prev.repartition(_)).getOrElse(prev)
    val fetched: Dataset[String] = src.toJSON.mapPartitions { rows =>
      val client = newClient(reqB.timeoutSeconds)
      rows.flatMap { recordJson =>
        if (rateLimitMs > 0) Thread.sleep(rateLimitMs)
        val record = Json.objectToMap(recordJson)
        val body = call(reqB, sharedB, record, client)
        Json.bodyToRecords(body)
      }
    }
    // Pin the responses before handing them to read.json: schema
    // inference alone is a full pass, and every downstream action would
    // be another — each pass re-firing the HTTP calls. The eager
    // localCheckpoint materializes the fan-out exactly once per run
    // (per task attempt — at-least-once under task retry, documented
    // SURVEY §7.4) and downstream evaluation reads the pinned blocks.
    val bodies = Pin.checkpoint(fetched.toDF(), eager = true).as[String]
    spark.read.json(bodies)
  }

  /** JSON object strings → DataFrame with inferred schema. */
  def jsonRecords(spark: SparkSession, records: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.read.json(spark.createDataset(records))
  }
}
