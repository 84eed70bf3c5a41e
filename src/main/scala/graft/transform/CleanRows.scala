package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.config.Constants
import graft.profiling.Profiler

/** Value-level cleaning: the `clean_rows` capability.
  *
  * Mirrors `process_rows` (`/root/reference/core/transformations.py:654-783`):
  * classify columns into {binary, false-array, pass-through}, then emit ONE
  * projection that
  *  - recodes binary "1"/"0" columns to the Yes/No concept IDs
  *    (`core/utils.py:437-466`),
  *  - unwraps "false array" strings `"[123456789]"` → `"123456789"`,
  *    `"[]"`/non-matching → NULL (`core/utils.py:750-778`),
  *  - passes everything else through.
  *
  * Output column order: binary (sorted), false-array (sorted), the rest
  * (sorted) — exactly the reference's ordering. Classification is
  * statistics-driven (footers first, scan only the undecided columns, see
  * [[graft.profiling.Profiler]]); this is app-level adaptive planning: the
  * data's statistics decide the shape of the main transform before it runs.
  */
object CleanRows {

  final case class Classification(
      binary: Seq[String], falseArray: Seq[String], passthrough: Seq[String])

  /** Classify columns. Binary detection reads the parquet footers of a
    * bare parquet scan first and scans only the STRING columns they leave
    * undecided, in one job; any other frame is scanned whole
    * ([[Profiler.binaryColumns]]). `useReference = true`
    * (the reference's default) detects false arrays by name from the
    * precomputed pairs — zero extra scans; `false` runs the computational
    * detector, one melt job per 500 columns. */
  def classify(df: DataFrame, useReference: Boolean = true): Classification = {
    val all = df.schema.fieldNames.toSeq
    val binary = Profiler.binaryColumns(df)
    val falseArr =
      if (useReference) Profiler.falseArrayColumnsFromReference(all)
      else Profiler.falseArrayColumnsComputational(df)
    val processed = binary.toSet ++ falseArr.toSet
    Classification(binary, falseArr, all.filterNot(processed.contains))
  }

  /** `"1"`→Yes-CID, `"0"`→No-CID, anything else → NULL.
    * Ref: `core/utils.py:437-466`. */
  def binaryRecodeExpr(c: String): Column =
    when(col(c) === "1", lit(Constants.CidYes))
      .when(col(c) === "0", lit(Constants.CidNo))
      .otherwise(lit(null).cast(StringType))

  /** `"[]"`→NULL; `"[123456789]"`→`"123456789"`; NULL→NULL; else NULL
    * (the reference's default, which it always passes as the literal NULL,
    * `core/transformations.py:709`). Ref: `core/utils.py:750-778`.
    * BigQuery `REGEXP_CONTAINS`/`\1` map to `rlike`/`$1` (both unanchored
    * contains + capture-group replace). */
  def unwrapSingletonExpr(c: String): Column =
    when(col(c) === "[]", lit(null).cast(StringType))
      .when(col(c).rlike("\\[\\d{9}\\]"), regexp_replace(col(c), "\\[(\\d{9})\\]", "$1"))
      .when(col(c).isNull, lit(null).cast(StringType))
      .otherwise(lit(null).cast(StringType))

  /** The projection's clauses: binary recodes, false-array unwraps, then
    * pass-throughs, each group sorted. Output names must be unique (ref
    * core/transformations.py:721-735). */
  def plan(cls: Classification): Seq[Clause] = {
    val clauses =
      cls.binary.sorted.map(c =>
        Clause(c, binaryRecodeExpr(c), "Binary recode: 1/0 to Yes/No concept IDs")) ++
        cls.falseArray.sorted.map(c => Clause(c, unwrapSingletonExpr(c), "False-array unwrap")) ++
        cls.passthrough.sorted.map(c => Clause(c, col(c), "Pass-through"))
    val dups = clauses.groupBy(_.output).collect { case (n, g) if g.size > 1 => n }
    if (dups.nonEmpty)
      throw new IllegalArgumentException(s"Duplicate column names detected: ${dups.mkString(", ")}")
    clauses
  }

  def apply(df: DataFrame, useReference: Boolean = true): DataFrame =
    apply(df, classify(df, useReference))

  def apply(df: DataFrame, cls: Classification): DataFrame = df.select(plan(cls).map(_.aliased): _*)

  /** The archived SQL of a clean_rows projection (same shape as the
    * reference's, `core/transformations.py:737-747`), rendered from the
    * clauses [[apply]] executes. */
  def toSql(cls: Classification, source: String, dest: String): String =
    Clause.sql(plan(cls), source, dest, source)
}
