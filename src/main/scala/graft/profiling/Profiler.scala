package graft.profiling

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.config.Constants
import graft.functions.binary_column_bits

/** Data-statistics profiling that drives `clean_rows` planning.
  *
  * The reference issues batched profiling SQL against BigQuery — ⌈N/500⌉
  * one-row COUNTIF queries for binary detection (`core/utils.py:375-435`)
  * and ⌈N/100⌉ UNION-ALL scalar-subquery stacks for false-array detection
  * (`core/utils.py:582-698`). Here binary detection is ONE job over all N
  * columns: a single [[graft.functions.BinaryColumnBits]] aggregate whose
  * buffer is an N-bit set, so planning and generated code do not grow with
  * the width, and at 100 TB it is one read of the table with only N-bit
  * partial buffers moving (Catalyst plans the partial aggregation
  * map-side). Computational false-array detection melts batches of 500
  * columns to (name, value) pairs, one job per batch.
  */
object Profiler {

  /** Columns whose values ⊆ {"0","1", NULL, ""} among STRING columns, in
    * schema order — one job however wide the table. Mirrors
    * `get_binary_columns` (`core/utils.py:375-435`): only STRING-typed
    * columns are candidates, `Connect_ID` is NOT excluded (SURVEY §2.C-5).
    * Names are quoted, so dots, spaces and backticks in them are literal. */
  def binaryColumns(df: DataFrame): Seq[String] = {
    val stringCols = df.schema.fields.filter(_.dataType == StringType).map(_.name).toSeq
    if (stringCols.isEmpty) return Seq.empty
    val bits = df.agg(binary_column_bits(stringCols.map(quoted))).head().getSeq[Int](0)
    bits.map(stringCols)
  }

  private def quoted(name: String): Column = col("`" + name.replace("`", "``") + "`")

  /** Name-driven false-array detection from the precomputed concept-ID
    * pairs (the reference's default path — zero data scans). Mirrors
    * `get_false_array_columns_from_reference` (`core/utils.py:505-580`):
    * exact pattern match `d_X_d_Y`, or pattern + numeric loop suffix
    * (e.g. `_19`, `_1_1`); `Connect_ID` always excluded. */
  def falseArrayColumnsFromReference(
      columns: Seq[String],
      pairs: Seq[(String, String)] = Constants.FalseArrayConceptIdPairs): Seq[String] = {
    val patterns = pairs.map { case (a, b) => s"d_${a}_d_$b" }
    columns.filter(_ != "Connect_ID").filter { c =>
      patterns.exists { p =>
        c == p || {
          c.startsWith(p + "_") && c.count(_ == '_') > p.count(_ == '_') && {
            val suffix = c.substring(p.length + 1)
            val digits = suffix.replace("_", "")
            digits.nonEmpty && digits.forall(_.isDigit)
          }
        }
      }
    }
  }

  /** Load false-array concept-ID pairs from a JSON sidecar, accepting
    * both the bare-list format (`[["a","b"], ...]`) and the wrapped
    * format (`{"concept_id_pairs": [...]}`) like the reference
    * (`core/utils.py:468-503`). Minimal parser — the sidecar grammar is
    * just nested string arrays, and pulling in a JSON library for it is
    * not worth a dependency. */
  def loadFalseArrayReference(path: String): Seq[(String, String)] = {
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    val body = {
      val key = "\"concept_id_pairs\""
      val i = text.indexOf(key)
      if (i >= 0) text.substring(i + key.length) else text
    }
    val pair = "\\[\\s*\"(\\d{9})\"\\s*,\\s*\"(\\d{9})\"\\s*\\]".r
    pair.findAllMatchIn(body).map(m => (m.group(1), m.group(2))).toSeq
  }

  /** Computational false-array detection (the reference's fallback,
    * `core/utils.py:616-694`). A column qualifies when, over the whole
    * table:
    *  1. it has ≤3 distinct values and ≥1 non-null value;
    *  2. every non-null value is in [[Constants.FalseArrayValues]];
    *  3. at most 1 distinct value matches `^\[\d{9}\]$`.
    *
    * Plan shape: MELT, not wide aggregation. The obvious wide form — one
    * `df.agg` with 2 COUNT(DISTINCT col) per column — plants a distinct
    * aggregate with a DIFFERENT child per column, and Catalyst plans
    * multi-distinct via Expand: the scan is replicated once per distinct
    * child, so 150 columns multiply the corpus ~300× before the shuffle
    * (measured: 105s at sf0.1 where this form takes ~1s; at 100 TB it is
    * fatal). Melting with `stack` to narrow (column-name, value) pairs
    * makes ALL distinct aggregates share the single `value` child —
    * Expand factor 2 regardless of width — and the per-(name, value)
    * partial aggregation combines map-side, so the shuffle carries one
    * row per distinct pair, not per input row. Batching bounds the stack
    * expression width for codegen; rows are never re-read per column as
    * in the reference's scalar-subquery fallback. Distinct counts are
    * exact: with the melt shape they combine map-side, and they match the
    * reference bit-for-bit. */
  def falseArrayColumnsComputational(df: DataFrame): Seq[String] = {
    val stringCols = df.schema.fields
      .filter(f => f.dataType == StringType && f.name != "Connect_ID").map(_.name).toSeq
    if (stringCols.isEmpty) return Seq.empty
    val falseVals = Constants.FalseArrayValues
    val qualifying = stringCols.grouped(500).flatMap { batch =>
      // the stack() text interpolates column NAMES: escape backticks in
      // the identifier position and single quotes in the literal position,
      // or a hostile name breaks parsing / silently mislabels melted rows
      // (the replaced col(c)-based wide form handled arbitrary names)
      val stackExpr = s"stack(${batch.size}, " +
        batch.map(c =>
          s"'${c.replace("\\", "\\\\").replace("'", "\\'")}', `${c.replace("`", "``")}`")
          .mkString(", ") + ") AS (cname, value)"
      df.selectExpr(stackExpr)
        .groupBy(col("cname"))
        .agg(
          countDistinct(col("value")).as("nd"),
          count(when(col("value").isNotNull && !col("value").isin(falseVals: _*),
            lit(1))).as("n_bad"),
          countDistinct(when(col("value").rlike(Constants.BracketedNineDigitPattern),
            col("value"))).as("nb"))
        .filter(col("nd").leq(3) && col("nd").gt(0) &&
          col("n_bad") === 0 && col("nb").leq(1))
        .select("cname").collect().map(_.getString(0))
    }.toSet
    stringCols.filter(qualifying) // schema order, like the reference
  }
}
