package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.api.PipelineApi

/** Drives the five-endpoint facade end-to-end on real parquet files:
  * write survey-shaped input, call the API, read the results back, and
  * check the audit artifacts exist. */
class ApiSpec extends SparkSpec {

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory("graft-api").resolve(name).toString

  /** Three survey rows, each `copies` times under its own Connect_ID. */
  private def writeSurvey(path: String, copies: Int = 1): Unit = {
    val cols = Seq("Connect_ID", "d_111111111", "d_578895128_d_578895128",
      "state_d_987654321", "token")
    val schema = StructType(cols.map(c => StructField(c, StringType, nullable = true)))
    val rows = (0 until copies).flatMap { k =>
      val id = (i: Int) => if (k == 0) s"c$i" else s"c${i}_$k"
      Seq(
        Row(id(1), "1", "[]", "x", "t"),
        Row(id(2), "0", "[123456789]", "y", "t"),
        Row(id(3), null, null, "z", "t"))
    }
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
    ApiSpec.assertArchivedSqlRuns(spark, audit, dst)
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
    assert(sqlText.contains("353358909"))
    ApiSpec.assertArchivedSqlRuns(spark, audit, dst)
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

  /** A survey table for the custom transforms of module1_v2_JP, plus a
    * loop group and a substring removal. */
  private def writeModule(path: String): Unit = {
    val cols = Seq("Connect_ID", "D_317093647", "d_123456789_2_2", "d_123456789_2_2_2_2",
      "state_d_987654321")
    val schema = StructType(cols.map(c => StructField(c, StringType, nullable = true)))
    val rows = Seq(
      Row("c1", "42", "a", null, "x"),
      Row("c2", "1999", null, "b", "y"),
      Row("c3", "abc", "c", "d", null))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(path)
  }

  private def writeVersion(path: String, cols: Seq[String], rows: Seq[Seq[String]]): Unit = {
    val schema = StructType(cols.map(c => StructField(c, StringType, nullable = true)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(Row.fromSeq), 1), schema)
      .write.mode("overwrite").parquet(path)
  }

  private def writeTierSource(path: String): Unit = {
    val cols = graft.config.Constants.SensitiveTierColumns
    val schema = StructType((cols :+ "extra").map(c => StructField(c, StringType, nullable = true)))
    val rows = Seq(Row.fromSeq(cols.map(c => s"a_$c") :+ "x"),
      Row.fromSeq(cols.map(_ => null) :+ "y"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(path)
  }

  test("clean_columns archives SQL that returns what it wrote") {
    val src = tmp("src"); val dst = tmp("dst"); val audit = tmp("audit")
    writeModule(src)
    PipelineApi.cleanColumns(spark, src, dst, tableId = "FlatConnect.module1_v2_JP",
      auditDir = audit)
    assert(spark.read.parquet(dst).columns.contains("D_317093647_D_623218391"))
    ApiSpec.assertArchivedSqlRuns(spark, audit, dst)
  }

  test("clean_rows archives SQL that returns what it wrote, both classifiers") {
    val src = tmp("src"); val audit = tmp("audit")
    writeSurvey(src)
    for (useReference <- Seq(true, false)) {
      val dst = tmp("dst")
      PipelineApi.cleanRows(spark, src, dst, useReference = useReference, auditDir = audit)
      ApiSpec.assertArchivedSqlRuns(spark, audit, dst)
    }
  }

  test("merge_table_versions archives SQL that returns what it wrote") {
    val s1 = tmp("s1"); val s2 = tmp("s2"); val s3 = tmp("s3")
    val dst = tmp("dst"); val audit = tmp("audit")
    // k is in v1 and v2 but not in v3: the fold's coalesced key merges it
    writeVersion(s1, Seq("Connect_ID", "D_111111111", "only1", "token"),
      Seq(Seq("k", "1a", "u", "t"), Seq("a", "1b", "v", "t")))
    writeVersion(s2, Seq("connect_id", "d_111111111", "only2"),
      Seq(Seq("k", "2a", "w"), Seq("b", "2b", "x")))
    writeVersion(s3, Seq("Connect_ID", "d_111111111", "only3"),
      Seq(Seq("other", "3a", "y"), Seq("a", "3b", "z")))
    PipelineApi.mergeTableVersions(spark, Seq(s1, s2, s3), dst, auditDir = audit)
    assert(spark.read.parquet(dst).count() == 4)
    ApiSpec.assertArchivedSqlRuns(spark, audit, dst)
  }

  test("create_sensitive_tier archives SQL that returns what it wrote") {
    val src = tmp("src"); val dst = tmp("dst"); val audit = tmp("audit")
    writeTierSource(src)
    PipelineApi.createSensitiveTier(spark, src, dst, auditDir = audit)
    ApiSpec.assertArchivedSqlRuns(spark, audit, dst)
  }

  test("HTTP adapter: one round-trip per POST route, and an empty source list is a 400") {
    val src = tmp("src"); val tier = tmp("tier"); val audit = tmp("audit")
    writeSurvey(src); writeTierSource(tier)
    val server = new graft.api.PipelineServer(spark, port = 0, auditDir = audit)
    val port = server.start()
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      def post(path: String, body: String) = client.send(java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(s"http://127.0.0.1:$port$path"))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      def created(path: String, body: String): Unit = {
        val r = post(path, body)
        assert(r.statusCode() == 200, s"$path: ${r.body()}")
        assert(r.body().contains("successfully created"), r.body())
      }

      // computational false-array detection, chosen by the request: it
      // rejects "[123456789]" (not a false-array value), which the
      // name-driven default would unwrap
      val rows = tmp("rows")
      created("/clean_rows", s"""{"source":"$src","destination":"$rows","use_reference":false}""")
      val byId = spark.read.parquet(rows).collect()
        .map(r => r.getAs[String]("Connect_ID") -> r).toMap
      assert(byId("c1").getAs[String]("d_111111111") == "353358909")
      assert(byId("c2").getAs[String]("d_578895128_d_578895128") == "[123456789]")

      val merged = tmp("merged")
      created("/merge_table_versions",
        s"""{"source":["$src","$rows"],"destination":"$merged"}""")
      assert(spark.read.parquet(merged).count() == 3)

      val sensitive = tmp("sensitive")
      created("/create_sensitive_tier", s"""{"source":"$tier","destination":"$sensitive"}""")
      assert(spark.read.parquet(sensitive).columns.toSeq ==
        graft.config.Constants.SensitiveTierColumns)

      val empty = post("/merge_table_versions", s"""{"source":[],"destination":"$merged"}""")
      assert(empty.statusCode() == 400, empty.body())
      assert(empty.body().contains(
        "Missing required parameter(s): 'source' and/or 'destination'."), empty.body())
    } finally server.stop()
  }

  test("distinct destinations archive to distinct audit files") {
    val root = tmp("root"); val src = tmp("src"); val audit = tmp("audit")
    writeTierSource(src)
    // the old name map sent '/' and '_' both to '_': one file for the two
    val dests = Seq(s"$root/a/b_c", s"$root/a_b/c")
    dests.foreach(d => PipelineApi.createSensitiveTier(spark, src, d, auditDir = audit))
    val files = new java.io.File(audit).list().toSeq
    assert(files.count(_.endsWith(".sql")) == 2 && files.count(_.endsWith(".plan.txt")) == 2,
      files.mkString(", "))
    for (d <- dests) {
      val sql = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(audit, PipelineApi.auditName(d) + ".sql")), "UTF-8")
      assert(sql.contains(s"-> $d */"), sql.take(200))
      ApiSpec.assertArchivedSqlRuns(spark, audit, d)
    }
  }

  test("on a Spark-written input each endpoint runs only its write's jobs") {
    val src = tmp("src"); val s2 = tmp("s2"); val tier = tmp("tier"); val audit = tmp("audit")
    // enough rows that the parquet writer keeps its dictionaries (it drops
    // them for a few distinct values, and then clean_rows scans)
    writeSurvey(src, copies = 20); writeSurvey(s2, copies = 20); writeTierSource(tier)
    // no schema-inference job, and clean_rows' binary columns come from
    // the footers, so no profiling job either
    assert(jobsOf(PipelineApi.cleanColumns(spark, src, tmp("cc"), auditDir = audit)) == 1)
    assert(jobsOf(PipelineApi.cleanRows(spark, src, tmp("cr"), auditDir = audit)) == 1)
    assert(jobsOf(PipelineApi.createSensitiveTier(spark, tier, tmp("st"), auditDir = audit)) == 1)
    // merge's write has join stages of its own: the endpoint runs exactly
    // the jobs of writing its projection over frames given their schema
    val merge = jobsOf(PipelineApi.mergeTableVersions(spark, Seq(src, s2), tmp("m"),
      auditDir = audit))
    val write = jobsOf {
      val dfs = Seq(src, s2).map(p => spark.read.schema(
        org.apache.spark.sql.graftbridge.Bridge.parquetFooterSchema(spark,
          new java.io.File(p).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).min))
        .parquet(p))
      val plan = graft.transform.MergeTableVersions.plan(dfs.map(_.schema.fieldNames.toSeq))
      graft.transform.MergeTableVersions.joined(plan, dfs).select(plan.clauses.map(_.aliased): _*)
        .write.parquet(tmp("m2"))
    }
    assert(merge == write, s"merge ran $merge jobs, its write alone $write")
  }

  test("streaming dedup plan builds against a streaming source") {
    val deduped = graft.streaming.EventStreams.dedupedEvents(
      graft.streaming.EventStreams.readEvents(spark, "/root/testdata/sf0.001"))
    assert(deduped.isStreaming)
  }
}

object ApiSpec {
  import org.scalatest.Assertions._

  /** Runs the SQL an endpoint archived for `dest` with `spark.sql` and
    * checks it returns what the endpoint wrote: the same column names,
    * types and order, and the same rows (`exceptAll` both ways).
    * Nullability is not compared: parquet reads every column nullable. */
  def assertArchivedSqlRuns(spark: org.apache.spark.sql.SparkSession, auditDir: String,
      dest: String): Unit = {
    val file = java.nio.file.Paths.get(auditDir, PipelineApi.auditName(dest) + ".sql")
    val ran = spark.sql(new String(java.nio.file.Files.readAllBytes(file), "UTF-8"))
    val wrote = spark.read.parquet(dest)
    assert(ran.schema.map(f => f.name -> f.dataType) == wrote.schema.map(f => f.name -> f.dataType))
    assert(ran.exceptAll(wrote).isEmpty, s"archived SQL returned rows $dest lacks")
    assert(wrote.exceptAll(ran).isEmpty, s"$dest holds rows the archived SQL does not return")
  }
}
