package graft.profiling

import org.apache.hadoop.fs.Path
import org.apache.parquet.column.Dictionary
import org.apache.parquet.column.page.DictionaryPageReadStore
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{MessageType, PrimitiveType, Type}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StringType

import graft.config.Constants
import graft.functions.binary_column_bits

/** Data-statistics profiling that drives `clean_rows` planning.
  *
  * The reference issues batched profiling SQL against BigQuery — ⌈N/500⌉
  * one-row COUNTIF queries for binary detection (`core/utils.py:375-435`)
  * and ⌈N/100⌉ UNION-ALL scalar-subquery stacks for false-array detection
  * (`core/utils.py:582-698`). Here binary detection reads parquet footers
  * first and scans only the columns they leave undecided: on a bare
  * parquet scan the footers' statistics and dictionary pages, read on the
  * driver, usually decide every column and no job runs. The scan is a
  * single [[graft.functions.BinaryColumnBits]] aggregate whose buffer is
  * an N-bit set, so planning and generated code do not grow with the
  * width, and at 100 TB it is one read of the undecided columns with only
  * N-bit partial buffers moving (Catalyst plans the partial aggregation
  * map-side). Computational false-array detection melts batches of 500
  * columns to (name, value) pairs, one job per batch.
  */
object Profiler {

  /** Columns whose values ⊆ {"0","1", NULL, ""} among STRING columns, in
    * schema order. Mirrors `get_binary_columns` (`core/utils.py:375-435`):
    * only STRING-typed columns are candidates, `Connect_ID` is NOT
    * excluded (SURVEY §2.C-5). Names are quoted, so dots, spaces and
    * backticks in them are literal.
    *
    * Footers first, scan only the undecided columns. When `df` is a bare
    * parquet scan (its analyzed plan one `HadoopFsRelation` over
    * `ParquetFileFormat` without partition columns) every column chunk of
    * every input file is checked on the driver, see [[chunkVerdict]]; the
    * columns no chunk rejects and some chunk leaves undecided go through
    * one `BinaryColumnBits` scan, and when there are none no job runs.
    * Every other frame (filtered, projected, computed, partitioned), and
    * a bare scan whose footers cannot all be read, is scanned whole in
    * one job. The footers are read one file after another, so a table of
    * many thousands of files pays that many driver-side footer reads. */
  def binaryColumns(df: DataFrame): Seq[String] = {
    val stringCols = df.schema.fields.filter(_.dataType == StringType).map(_.name).toSeq
    if (stringCols.isEmpty) return Seq.empty
    // a footer that cannot be read (corrupt, replaced) decides nothing:
    // the scan then meets the file as Spark's reader does
    val known = parquetFiles(df).flatMap(files =>
      scala.util.Try(footerVerdicts(df, files, stringCols)).toOption).getOrElse(Map.empty)
    val undecided = stringCols.filterNot(known.contains)
    val scanned =
      if (undecided.isEmpty) Set.empty[String]
      else df.agg(binary_column_bits(undecided.map(quoted))).head().getSeq[Int](0).map(undecided).toSet
    stringCols.filter(c => known.getOrElse(c, scanned(c)))
  }

  /** The input files of a bare, unpartitioned parquet scan; None for any
    * other plan. */
  private def parquetFiles(df: DataFrame): Option[Seq[String]] = df.queryExecution.analyzed match {
    case r: LogicalRelation => r.relation match {
      case h: HadoopFsRelation if h.fileFormat.isInstanceOf[ParquetFileFormat] &&
          h.partitionSchema.isEmpty => Some(h.location.inputFiles.toSeq)
      case _ => None
    }
    case _ => None
  }

  /** The footer verdict of every column that all of `files` decide:
    * false as soon as one chunk rejects the column, true when every chunk
    * keeps it; a column that some chunk leaves undecided (and none
    * rejects) is absent. */
  private def footerVerdicts(df: DataFrame, files: Seq[String],
      cols: Seq[String]): Map[String, Boolean] = {
    val conf = Bridge.hadoopConf(df.sparkSession)
    // Some(true): binary so far; None: undecided so far; Some(false): final
    val verdict = scala.collection.mutable.Map(cols.map(_ -> Option(true)): _*)
    for (f <- files if verdict.valuesIterator.exists(!_.contains(false))) {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        val (binary, other) = verdict.collect { case (c, v) if !v.contains(false) => c }
          .toSet.partition(isTopLevelBinary(schema, _))
        other.foreach(verdict(_) = None)
        reader.getRowGroups.forEach { block =>
          lazy val pages: DictionaryPageReadStore = reader.getDictionaryReader(block)
          block.getColumns.forEach { chunk =>
            val path = chunk.getPath.toArray
            if (path.length == 1 && binary.contains(path(0)) && !verdict(path(0)).contains(false)) {
              val dictionary = () => {
                val column = schema.getColumnDescription(path)
                Option(pages.readDictionaryPage(column)).map(p => p.getEncoding.initDictionary(column, p))
              }
              chunkVerdict(chunk, dictionary) match {
                case Some(true) =>
                case v => verdict(path(0)) = v
              }
            }
          }
        }
      } finally reader.close()
    }
    verdict.collect { case (c, Some(v)) => c -> v }.toMap
  }

  private def isTopLevelBinary(schema: MessageType, c: String): Boolean =
    schema.containsField(c) && {
      val t = schema.getType(schema.getFieldIndex(c))
      t.isPrimitive && !t.isRepetition(Type.Repetition.REPEATED) &&
        t.asPrimitiveType.getPrimitiveTypeName == PrimitiveType.PrimitiveTypeName.BINARY
    }

  private def inDomain(bytes: Array[Byte]): Boolean =
    bytes.isEmpty || bytes.length == 1 && (bytes(0) == '0' || bytes(0) == '1')

  /** One column chunk's evidence, in this order:
    *  - null count == value count: all NULL, the chunk keeps the column
    *    binary;
    *  - a min or max statistic outside {"", "0", "1"}: not binary. A
    *    truncated statistic is longer than one byte, and so is the value
    *    it stands for, so truncation cannot make this wrong;
    *  - min == max (both in the domain): the chunk keeps it binary;
    *  - only dictionary-encoded data pages: the dictionary holds the
    *    chunk's distinct values, so it decides by testing every entry;
    *  - anything else (no statistics, plain pages): undecided, None. */
  private def chunkVerdict(chunk: ColumnChunkMetaData,
      dictionary: () => Option[Dictionary]): Option[Boolean] = {
    val st = chunk.getStatistics
    val hasValues = st != null && !st.isEmpty && st.hasNonNullValue
    if (st != null && !st.isEmpty && st.isNumNullsSet && st.getNumNulls == chunk.getValueCount)
      Some(true)
    else if (hasValues && !(inDomain(st.getMinBytes) && inDomain(st.getMaxBytes))) Some(false)
    else if (hasValues && java.util.Arrays.equals(st.getMinBytes, st.getMaxBytes)) Some(true)
    else {
      val enc = chunk.getEncodingStats
      if (enc == null || !enc.hasDictionaryPages || enc.hasNonDictionaryEncodedPages) None
      else dictionary().map(d => (0 to d.getMaxId).forall(i => inDomain(d.decodeToBinary(i).getBytes)))
    }
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
