package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.api.PipelineServer
import graft.audit.Audit
import graft.transform.{CleanColumns, CleanRows, MergeTableVersions, SensitiveTier}

/** The `survey_dag` workload: the reference's Airflow DAG, one survey
  * module at a time, against `api.PipelineServer` over loopback HTTP. One
  * closed-loop caller sends each request only after the previous reply:
  * clean_columns on v1 and v2, clean_rows on both results,
  * merge_table_versions on the two cleaned versions, and
  * create_sensitive_tier on the merged table.
  *
  * The inputs and the spec come from perfbench/surveygen.py; the outputs
  * are checked against that spec after this JVM exits (perfbench/run.py).
  *
  * The in-process pass (the traced run's) makes the calls
  * `api.PipelineApi`'s endpoint bodies make, in the same order, with a span
  * around each; it runs in this thread so the spans' job tags reach the
  * jobs. It differs from the HTTP pass by the missing HTTP and JSON
  * handling and by the audit paths it computes itself. `CleanColumns.plan`
  * runs inside `toSql` and `apply` there, so its own time is probed after
  * the pass, once per clean_columns request, outside the pass's wall time.
  */
final class SurveyDag(spark: SparkSession, dir: String, specPath: String) extends Workload {

  /** One module's two raw tables and their table ids. */
  private final case class Module(name: String, raw: Seq[String], tableIds: Seq[String])

  private val mapper = new ObjectMapper()
  private val modules: Seq[Module] = {
    val spec = mapper.readTree(new java.io.File(specPath))
    spec.get("modules").elements().asScala.map { m =>
      val vs = Seq("v1", "v2").map(m.get)
      Module(m.get("name").asText, vs.map(_.get("path").asText), vs.map(_.get("table_id").asText))
    }.toSeq
  }
  private val auditDir = s"$dir/audit"
  private val server = new PipelineServer(spark, 0, "perfbench", auditDir)
  private val http = HttpClient.newHttpClient()
  private var port = 0
  private var passNo = 0
  /** (module, output name, path) of every output of the checked passes. */
  val written = mutable.ListBuffer.empty[(String, String, String)]

  override def start(): Unit = { port = server.start() }

  override def stop(): Unit = server.stop()

  private def post(route: String, body: Map[String, Any]): (Boolean, String) = {
    val node = mapper.createObjectNode()
    body.foreach {
      case (k, v: Seq[_]) => val a = node.putArray(k); v.foreach(x => a.add(x.toString))
      case (k, v) => node.put(k, v.toString)
    }
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/$route"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(mapper.writeValueAsString(node))).build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode() == 200, resp.body())
  }

  private def auditPath(dest: String, ext: String) =
    s"$auditDir/${dest.replaceAll("[^A-Za-z0-9._-]", "_")}.$ext"

  // PipelineApi's endpoint bodies, with spans around the layer calls
  private def materialize(sp: Spans, df: DataFrame, dest: String): Unit = {
    sp.span("audit.plan")(Audit.savePlan(df, auditPath(dest, "plan.txt")))
    sp.span("sink")(df.write.mode("overwrite").parquet(dest))
  }

  private def inProcess(sp: Spans, route: String, src: Seq[String], dest: String,
      tableId: String): Unit =
    sp.span(s"api.$route") {
      route match {
        case "clean_columns" =>
          val df = spark.read.parquet(src.head)
          sp.span("audit.sql")(Audit.saveText(
            CleanColumns.toSql(df.schema.fieldNames.toSeq, tableId, src.head, dest),
            auditPath(dest, "sql")))
          materialize(sp, sp.span("transform")(CleanColumns(df, tableId)), dest)
        case "clean_rows" =>
          val df = spark.read.parquet(src.head)
          val cls = sp.span("profiling")(CleanRows.classify(df, useReference = true))
          sp.span("audit.sql")(Audit.saveText(CleanRows.toSql(cls, src.head, dest),
            auditPath(dest, "sql")))
          materialize(sp, sp.span("transform")(CleanRows(df, cls)), dest)
        case "merge_table_versions" =>
          materialize(sp, sp.span("transform")(MergeTableVersions(src.map(spark.read.parquet(_)))),
            dest)
        case "create_sensitive_tier" =>
          materialize(sp, sp.span("transform")(SensitiveTier(spark.read.parquet(src.head))), dest)
      }
    }

  /** One pass over HTTP, as the reference's DAG sends it. */
  def pass(check: Boolean): PassResult = run(None, check)

  /** One pass through the endpoint bodies in this thread; with a [[Trace]],
    * the `naming` span then times one `CleanColumns.plan` per clean_columns
    * request on the same names, after the pass. */
  def inProcessPass(sp: Spans, check: Boolean): PassResult = {
    val r = run(Some(sp), check)
    if (sp ne Untraced) for (m <- modules; (raw, id) <- m.raw.zip(m.tableIds)) {
      val names = spark.read.parquet(raw).schema.fieldNames.toSeq
      sp.span("naming")(CleanColumns.plan(names, id))
    }
    r
  }

  private def run(sp: Option[Spans], check: Boolean): PassResult = {
    passNo += 1
    val ops = mutable.ListBuffer.empty[Op]
    val dags = mutable.ListBuffer.empty[Double]
    val t0 = System.nanoTime()
    for (m <- modules) {
      val out = s"$dir/out/p$passNo/${m.name}"
      val d0 = System.nanoTime()
      def request(route: String, name: String, src: Seq[String], tableId: String = ""): Unit = {
        val dest = s"$out/$name"
        val q0 = System.nanoTime()
        val ok = sp match {
          case Some(s) =>
            try { s.op(route)(inProcess(s, route, src, dest, tableId)); true }
            catch { case scala.util.control.NonFatal(e) =>
              System.err.println(s"[survey_dag] $route $dest failed: ${e.getMessage}"); false }
          case None =>
            val body = Map[String, Any]("source" -> (if (src.size == 1) src.head else src),
              "destination" -> dest) ++ (if (tableId.nonEmpty) Map("table_id" -> tableId) else Map())
            val (ok, reply) = post(route, body)
            if (!ok) System.err.println(s"[survey_dag] $route $dest failed: $reply")
            ok
        }
        ops += Op(route, (System.nanoTime() - q0) / 1e9, ok)
        if (check && ok) written += ((m.name, name, dest))
      }
      request("clean_columns", "cc_v1", Seq(m.raw(0)), m.tableIds(0))
      request("clean_columns", "cc_v2", Seq(m.raw(1)), m.tableIds(1))
      request("clean_rows", "cr_v1", Seq(s"$out/cc_v1"))
      request("clean_rows", "cr_v2", Seq(s"$out/cc_v2"))
      request("merge_table_versions", "merged", Seq(s"$out/cr_v1", s"$out/cr_v2"))
      request("create_sensitive_tier", "sensitive", Seq(s"$out/merged"))
      dags += (System.nanoTime() - d0) / 1e9
    }
    PassResult(ops.toSeq, dags.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  def describe: String = modules.map(m => s"${m.name}: ${m.tableIds.mkString(", ")}").mkString("; ")
}
