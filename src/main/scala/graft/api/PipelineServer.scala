package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

/** Minimal HTTP adapter over [[PipelineApi]] — the reference's Flask
  * service surface (`/root/reference/core/endpoints.py:11-87`), servable
  * with zero new dependencies (JDK `com.sun.net.httpserver`; Jackson is
  * already on Spark's classpath).
  *
  * Routes and shapes mirror the reference exactly:
  *  - `GET /heartbeat` → 200 `{"status":"healthy","timestamp":...,
  *    "service":<name>}`
  *  - `POST /clean_columns | /clean_rows | /create_sensitive_tier` with
  *    `{"source": path, "destination": path}`;
  *    `POST /merge_table_versions` with `"source"` as a LIST of paths —
  *    each → 200 `{"status": <transform status>, "timestamp", "service"}`
  *  - missing/empty source or destination → 400 with the reference's
  *    description text (`core/request_helpers.py:11`), decided by
  *    [[PipelineApi.extractSourceAndDestination]] alone
  *  - any transform failure → 500 `{"error":"Internal Server Error",
  *    "message": <exception>}` (`endpoints.py:35`)
  *
  * Scale note: this is a CONTROL-plane adapter — each request triggers a
  * distributed Spark job and returns when the write lands, exactly like
  * the reference's BigQuery CTAS calls; no data flows through the HTTP
  * process. Port 0 binds an ephemeral port (returned by [[start]]).
  *
  * The host should build `spark` through [[graft.GraftSession.configure]]
  * so the engine-level settings (output-committer v2, wide-schema codegen
  * width, checkpoint hygiene) apply to API-triggered jobs too — they are
  * engine configs, not bench-harness ones (the test host does exactly
  * this via SparkSpec). */
final class PipelineServer(spark: SparkSession, port: Int = 0,
    serviceName: String = "graft", auditDir: String = "/tmp/graft-audit") {

  private val mapper = new ObjectMapper()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))

  private def json(fields: (String, String)*): String = {
    val node = mapper.createObjectNode()
    fields.foreach { case (k, v) => node.put(k, v) }
    mapper.writeValueAsString(node)
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def ok(ex: HttpExchange, status: String): Unit =
    respond(ex, 200, json(
      "status" -> status,
      "timestamp" -> java.time.Instant.now().toString,
      "service" -> serviceName))

  /** A POST route's call: (sources, destination, other request
    * fields) → the endpoint's result. */
  private type Route = (Seq[String], String, String => Option[String]) => PipelineApi.Result

  private def single(sources: Seq[String]): String = {
    require(sources.size == 1, s"expected one source table, got ${sources.size}")
    sources.head
  }

  private val routes: Seq[(String, Route)] = Seq(
    "/clean_columns" -> ((s, d, field) => PipelineApi.cleanColumns(spark, single(s), d,
      tableId = field("table_id").getOrElse(""), auditDir = auditDir)),
    "/clean_rows" -> ((s, d, field) => PipelineApi.cleanRows(spark, single(s), d,
      useReference = field("use_reference").forall(_.toBoolean), auditDir = auditDir)),
    "/merge_table_versions" -> ((s, d, _) =>
      PipelineApi.mergeTableVersions(spark, s, d, auditDir = auditDir)),
    "/create_sensitive_tier" -> ((s, d, _) =>
      PipelineApi.createSensitiveTier(spark, single(s), d, auditDir = auditDir)))

  /** One request path for every POST route: parse the body, take source
    * and destination through [[PipelineApi.extractSourceAndDestination]]
    * (400 when missing), then run the route (500 when it fails). */
  private def handlePost(ex: HttpExchange, run: Route): Unit =
    if (ex.getRequestMethod != "POST") respond(ex, 405, json("error" -> "Method Not Allowed"))
    else try {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val mapping: java.util.Map[String, Object] =
        if (body.isEmpty) new java.util.HashMap()
        else mapper.readValue(body, classOf[java.util.Map[String, Object]])
      def field(k: String): Option[Any] = Option(mapping.get(k)).map {
        case l: java.util.List[_] => l.asScala.toSeq
        case v => v
      }
      val (sources, dest) =
        PipelineApi.extractSourceAndDestination(field("source"), field("destination"))
      ok(ex, run(sources, dest, k => field(k).map(_.toString)).status)
    } catch {
      case e: PipelineApi.MissingParameters =>
        respond(ex, 400, json("error" -> "Bad Request", "message" -> e.getMessage))
      case NonFatal(e) =>
        respond(ex, 500, json("error" -> "Internal Server Error",
          "message" -> String.valueOf(e.getMessage)))
    }

  server.createContext("/heartbeat", (ex: HttpExchange) =>
    if (ex.getRequestMethod == "GET") ok(ex, "healthy")
    else respond(ex, 405, json("error" -> "Method Not Allowed")))

  routes.foreach { case (path, run) =>
    server.createContext(path, (ex: HttpExchange) => handlePost(ex, run))
  }

  /** Binds and serves; returns the bound port (useful with port 0). */
  def start(): Int = { server.start(); server.getAddress.getPort }

  def stop(): Unit = server.stop(0)
}
