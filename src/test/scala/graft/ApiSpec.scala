package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.api.PipelineApi
import graft.profiling.Profiler

/** Drives the five-endpoint facade end-to-end on real parquet files:
  * write survey-shaped input, call the API, read the results back, and
  * check the audit artifacts exist. */
class ApiSpec extends SparkSpec {

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory("graft-api").resolve(name).toString

  private def writeSurvey(path: String): Unit = {
    val cols = Seq("Connect_ID", "d_111111111", "d_578895128_d_578895128",
      "state_d_987654321", "token")
    val schema = StructType(cols.map(c => StructField(c, StringType, nullable = true)))
    val rows = Seq(
      Row("c1", "1", "[]", "x", "t"),
      Row("c2", "0", "[123456789]", "y", "t"),
      Row("c3", null, null, "z", "t"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(path)
  }

  test("heartbeat") {
    val h = PipelineApi.heartbeat()
    assert(h("status") == "success" && h("service") == "graft")
  }

  test("clean_columns endpoint: transform + SQL and plan audit artifacts") {
    val src = tmp("src"); val dst = tmp("dst"); val audit = tmp("audit")
    writeSurvey(src)
    val r = PipelineApi.cleanColumns(spark, src, dst, auditDir = audit)
    assert(r.status.contains("successfully created"))
    val out = spark.read.parquet(dst)
    assert(out.columns.contains("d_987654321")) // state_ excised
    assert(!out.columns.contains("token"))      // forbidden name dropped
    val auditFiles = new java.io.File(audit).list().toSeq
    assert(auditFiles.exists(_.endsWith(".sql")))
    assert(auditFiles.exists(_.endsWith(".plan.txt")))
    // the artifacts must be READABLE evidence with the expected clause
    // structure, not just present — the audit can't silently rot into
    // empty files (reference: every generated query persisted before
    // execution, core/utils.py:54-89)
    def readAudit(suffix: String): String =
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        audit, auditFiles.find(_.endsWith(suffix)).get)))
    val sql = readAudit(".sql")
    assert(sql.contains("SELECT") && sql.contains(s"FROM $src"), sql.take(200))
    assert(sql.contains("d_987654321"), "renamed column missing from audited SQL")
    assert(!sql.contains("token"), "dropped column must not appear in the SELECT list")
    val plan = readAudit(".plan.txt")
    assert(plan.contains("-- analyzed plan") && plan.contains("-- optimized plan")
      && plan.contains("-- physical plan"), plan.take(200))
    assert(plan.contains("Project"), "plan artifact lost the projection node")
  }

  test("merge and sensitive-tier endpoints archive plan artifacts too") {
    val s1 = tmp("s1"); val s2 = tmp("s2"); val dst = tmp("dst")
    val srcTier = tmp("tier_src"); val dst2 = tmp("dst2"); val audit = tmp("audit")
    writeSurvey(s1); writeSurvey(s2)
    // sensitive tier projects the fixed 18-column PII list — its source
    // must actually carry those columns
    val tierSchema = StructType(graft.config.Constants.SensitiveTierColumns
      .map(c => StructField(c, StringType, nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row.fromSeq(
        graft.config.Constants.SensitiveTierColumns.map(c => s"v_$c"))), 1),
      tierSchema).write.mode("overwrite").parquet(srcTier)
    val rm = PipelineApi.mergeTableVersions(spark, Seq(s1, s2), dst, auditDir = audit)
    val rt = PipelineApi.createSensitiveTier(spark, srcTier, dst2, auditDir = audit)
    for (r <- Seq(rm, rt)) {
      val f = new java.io.File(r.submittedSqlPath)
      assert(f.isFile && f.length() > 0, s"missing audit artifact ${r.submittedSqlPath}")
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath))
      assert(text.contains("-- physical plan"), text.take(120))
    }
  }

  test("clean_rows endpoint: recode + unwrap through the API") {
    val src = tmp("src"); val dst = tmp("dst"); val audit = tmp("audit")
    writeSurvey(src)
    val r = PipelineApi.cleanRows(spark, src, dst, auditDir = audit)
    assert(r.status.contains("successfully created"))
    val out = spark.read.parquet(dst)
    val byId = out.collect().map(r0 => r0.getAs[String]("Connect_ID") -> r0).toMap
    assert(byId("c1").getAs[String]("d_111111111") == "353358909")
    assert(byId("c2").getAs[String]("d_578895128_d_578895128") == "123456789")
    val sqlText = new java.io.File(audit).list().find(_.endsWith(".sql"))
      .map(f => new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(audit, f)))).get
    assert(sqlText.contains("353358909") && sqlText.contains("FROM " + src))
  }

  test("merge endpoint requires >= 2 sources") {
    intercept[IllegalArgumentException] {
      PipelineApi.mergeTableVersions(spark, Seq("/nonexistent"), "/tmp/x")
    }
  }

  test("HTTP adapter: real localhost round-trips for heartbeat, clean_columns, 400 and 500 paths") {
    val src = tmp("src"); val dst = tmp("dst"); val audit = tmp("audit")
    writeSurvey(src)
    val server = new graft.api.PipelineServer(spark, port = 0, auditDir = audit)
    val port = server.start()
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      def send(req: java.net.http.HttpRequest) =
        client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      def get(path: String) = send(java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(s"http://127.0.0.1:$port$path")).GET().build())
      def post(path: String, body: String) = send(java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(s"http://127.0.0.1:$port$path"))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build())

      // heartbeat: the reference's exact shape (status healthy + service)
      val hb = get("/heartbeat")
      assert(hb.statusCode() == 200, hb.body())
      assert(hb.body().contains("\"status\":\"healthy\"") &&
        hb.body().contains("\"service\":\"graft\""), hb.body())

      // clean_columns: drives the real transform and writes real parquet
      val cc = post("/clean_columns",
        s"""{"source":"$src","destination":"$dst"}""")
      assert(cc.statusCode() == 200, cc.body())
      assert(cc.body().contains("successfully created"), cc.body())
      val out = spark.read.parquet(dst)
      assert(out.columns.contains("d_987654321") && !out.columns.contains("token"))

      // 400: the reference's missing-parameter description
      val bad = post("/clean_columns", s"""{"source":"$src"}""")
      assert(bad.statusCode() == 400, bad.body())
      assert(bad.body().contains("Missing required parameter(s)"), bad.body())

      // 500: transform failure surfaces the reference's error shape
      val boom = post("/clean_rows",
        """{"source":"/nonexistent-graft-path","destination":"/tmp/x"}""")
      assert(boom.statusCode() == 500, boom.body())
      assert(boom.body().contains("Internal Server Error"), boom.body())

      // 405 on wrong method
      assert(get("/clean_columns").statusCode() == 405)
    } finally server.stop()
  }

  test("approx-distinct profiling matches exact classification here") {
    val src = tmp("src")
    writeSurvey(src)
    val df = spark.read.parquet(src)
    val exact = Profiler.falseArrayColumnsComputational(df)
    val approx = Profiler.falseArrayColumnsComputational(df, approxDistinct = true)
    assert(exact == approx)
  }

  test("streaming dedup plan builds against a streaming source") {
    val deduped = graft.streaming.EventStreams.dedupedEvents(
      graft.streaming.EventStreams.readEvents(spark, "/root/testdata/sf0.001"))
    assert(deduped.isStreaming)
  }
}
