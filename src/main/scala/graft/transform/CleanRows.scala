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
  * statistics-driven (one profiling scan, see [[graft.profiling.Profiler]]);
  * this is app-level adaptive planning: one eager pass over the data decides
  * the shape of the main transform.
  */
object CleanRows {

  final case class Classification(
      binary: Seq[String], falseArray: Seq[String], passthrough: Seq[String])

  /** Classify columns. Binary detection is one profiling job over every
    * STRING column ([[Profiler.binaryColumns]]). `useReference = true`
    * (the reference's default) detects false arrays by name from the
    * precomputed pairs — zero extra scans; `false` runs the computational
    * detector, one melt job per `batchSize` columns. */
  def classify(df: DataFrame, useReference: Boolean = true, batchSize: Int = 500): Classification = {
    val all = df.schema.fieldNames.toSeq
    val binary = Profiler.binaryColumns(df)
    val falseArr =
      if (useReference) Profiler.falseArrayColumnsFromReference(all)
      else Profiler.falseArrayColumnsComputational(df, batchSize)
    val processed = binary.toSet ++ falseArr.toSet
    Classification(binary, falseArr, all.filterNot(processed.contains))
  }

  /** `"1"`→Yes-CID, `"0"`→No-CID, anything else → NULL.
    * Ref: `core/utils.py:437-466`. */
  def binaryRecodeExpr(c: String): Column =
    when(col(c) === "1", lit(Constants.CidYes))
      .when(col(c) === "0", lit(Constants.CidNo))
      .otherwise(lit(null).cast(StringType))

  /** `"[]"`→NULL; `"[123456789]"`→`"123456789"`; NULL→NULL; else the
    * default (the reference always passes the literal NULL,
    * `core/transformations.py:709`). Ref: `core/utils.py:750-778`.
    * BigQuery `REGEXP_CONTAINS`/`\1` map to `rlike`/`$1` (both unanchored
    * contains + capture-group replace). */
  def unwrapSingletonExpr(c: String, default: Column = lit(null).cast(StringType)): Column =
    when(col(c) === "[]", lit(null).cast(StringType))
      .when(col(c).rlike("\\[\\d{9}\\]"), regexp_replace(col(c), "\\[(\\d{9})\\]", "$1"))
      .when(col(c).isNull, lit(null).cast(StringType))
      .otherwise(default.cast(StringType))

  def apply(df: DataFrame, useReference: Boolean = true, batchSize: Int = 500): DataFrame =
    apply(df, classify(df, useReference, batchSize))

  /** Auditable SQL text of a clean_rows projection (same shape as the
    * reference's archived query, `core/transformations.py:737-747`),
    * rendered from the same Column expressions the engine executes. */
  def toSql(cls: Classification, source: String, dest: String): String = {
    import org.apache.spark.sql.graftbridge.Bridge
    val parts =
      cls.binary.sorted.map(c => s"    ${Bridge.eagerExpression(binaryRecodeExpr(c)).sql} AS $c") ++
        cls.falseArray.sorted.map(c => s"    ${Bridge.eagerExpression(unwrapSingletonExpr(c)).sql} AS $c") ++
        cls.passthrough.sorted.map(c => s"    $c")
    s"""/* Combined transformation query for $source -> $dest */
       |SELECT
       |${parts.mkString(",\n")}
       |FROM $source""".stripMargin
  }

  def apply(df: DataFrame, cls: Classification): DataFrame = {
    val clauses: Seq[Column] =
      cls.binary.sorted.map(c => binaryRecodeExpr(c).as(c)) ++
        cls.falseArray.sorted.map(c => unwrapSingletonExpr(c).as(c)) ++
        cls.passthrough.sorted.map(col)
    // duplicate-output guard (ref core/transformations.py:721-735)
    val names = cls.binary.sorted ++ cls.falseArray.sorted ++ cls.passthrough.sorted
    val dups = names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    if (dups.nonEmpty)
      throw new IllegalArgumentException(s"Duplicate column names detected: ${dups.mkString(", ")}")
    df.select(clauses: _*)
  }
}
