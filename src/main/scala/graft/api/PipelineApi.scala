package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.audit.Audit
import graft.sources.TableIO
import graft.transform.{Clause, CleanColumns, CleanRows, MergeTableVersions, SensitiveTier}

/** Thin service facade mirroring the reference's five REST endpoints
  * (`/root/reference/core/endpoints.py`): heartbeat, clean_columns,
  * clean_rows, merge_table_versions, create_sensitive_tier. The reference
  * binds them to Flask + BigQuery CTAS; here each is
  * read-parquet ([[TableIO.readParquet]]: the schema from a footer on the
  * driver, no inference job) → plan one clause list → archive its SQL and
  * the Spark plan → overwrite-parquet, returning the same status JSON
  * shape. A `tableId` (e.g. "FlatConnect.module1_v2_JP") selects
  * per-table rename/transform config exactly as the reference's
  * fully-qualified table name does. */
object PipelineApi {

  final case class Result(status: String, submittedSqlPath: String)

  /** A request without a source or a destination: the reference's 400
    * (`core/request_helpers.py:11`). */
  final class MissingParameters extends IllegalArgumentException(
    "Missing required parameter(s): 'source' and/or 'destination'.")

  /** B28: request validation, the one decision of what is missing. The
    * source is one name or a non-empty list of names (merge); it and the
    * destination must be present and non-empty, else [[MissingParameters]].
    * Ref: `core/request_helpers.py:3-12`. */
  def extractSourceAndDestination(source: Option[Any], dest: Option[Any]): (Seq[String], String) =
    (source, dest) match {
      case (Some(s: String), Some(d: String)) if s.nonEmpty && d.nonEmpty => (Seq(s), d)
      case (Some(s: Seq[_]), Some(d: String)) if s.nonEmpty && d.nonEmpty => (s.map(_.toString), d)
      case _ => throw new MissingParameters
    }

  /** Ref: `core/endpoints.py:11-18`. */
  def heartbeat(service: String = "graft"): Map[String, String] = Map(
    "status" -> "success",
    "service" -> service,
    "timestamp" -> java.time.Instant.now().toString)

  /** The FROM name of a parquet path, so the archived SQL runs as-is. */
  private def parquetTable(path: String): String = s"parquet.`${path.replace("`", "``")}`"

  /** The audit files' base name for `dest`: every UTF-8 byte outside
    * `[A-Za-z0-9.-]`, `_` included, becomes `_XX` (upper-case hex), so
    * distinct destinations never share an archived SQL or plan file. */
  private[graft] def auditName(dest: String): String =
    dest.getBytes(java.nio.charset.StandardCharsets.UTF_8).map { b =>
      val c = (b & 0xff).toChar
      if (c < 128 && (c.isLetterOrDigit || c == '.' || c == '-')) c.toString else f"_${c.toInt}%02X"
    }.mkString

  /** Every endpoint's body: archive the SQL of `clauses` over `from`, then
    * the plan of the same clauses selected from `input`, then write it. */
  private def materialize(input: DataFrame, clauses: Seq[Clause], source: String, from: String,
      dest: String, auditDir: String): Result = {
    val base = s"$auditDir/${auditName(dest)}"
    Audit.saveText(Clause.sql(clauses, source, dest, from), s"$base.sql")
    val out = input.select(clauses.map(_.aliased): _*)
    Audit.savePlan(out, s"$base.plan.txt")
    out.write.mode("overwrite").parquet(dest)
    Result(s"Table $dest successfully created with all transformations applied", s"$base.plan.txt")
  }

  /** Ref: `core/endpoints.py:20-35` → process_columns. */
  def cleanColumns(spark: SparkSession, source: String, dest: String,
      tableId: String = "", auditDir: String = "/tmp/graft-audit"): Result = {
    val df = TableIO.readParquet(spark, source)
    materialize(df, CleanColumns.plan(df.schema.fieldNames.toSeq, tableId),
      source, parquetTable(source), dest, auditDir)
  }

  /** Ref: `core/endpoints.py:37-52` → process_rows. */
  def cleanRows(spark: SparkSession, source: String, dest: String,
      useReference: Boolean = true, auditDir: String = "/tmp/graft-audit"): Result = {
    val df = TableIO.readParquet(spark, source)
    materialize(df, CleanRows.plan(CleanRows.classify(df, useReference)),
      source, parquetTable(source), dest, auditDir)
  }

  /** Ref: `core/endpoints.py:54-69` → merge_table_versions. Requires >= 2
    * sources, like the reference (`core/transformations.py:47-48`). */
  def mergeTableVersions(spark: SparkSession, sources: Seq[String], dest: String,
      auditDir: String = "/tmp/graft-audit"): Result = {
    require(sources.size >= 2,
      "A destination table and at least two source tables must be provided.")
    val dfs = sources.map(TableIO.readParquet(spark, _))
    val p = MergeTableVersions.plan(dfs.map(_.schema.fieldNames.toSeq))
    materialize(MergeTableVersions.joined(p, dfs), p.clauses, sources.mkString(", "),
      MergeTableVersions.from(p, sources.map(parquetTable)), dest, auditDir)
  }

  /** Ref: `core/endpoints.py:72-87` → create_sensitive_tier. */
  def createSensitiveTier(spark: SparkSession, source: String, dest: String,
      auditDir: String = "/tmp/graft-audit"): Result =
    materialize(TableIO.readParquet(spark, source), SensitiveTier.clauses,
      source, parquetTable(source), dest, auditDir)
}
