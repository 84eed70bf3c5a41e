package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Column <-> Expression bridge. Spark 4 made `Column.expr` and the
  * Column(Expression) constructor `private[sql]` (Connect-agnostic Column
  * API); custom Catalyst expressions still need the classic conversions,
  * so this one-file subpackage of org.apache.spark.sql re-exports them —
  * the standard pattern for third-party Catalyst extensions. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Lazy wrapper — sufficient for embedding a Column into a custom
    * Expression tree (resolution happens at analysis). */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly-converted Catalyst expression — needed when the tree itself
    * is inspected before analysis (e.g. rendering `.sql` audit text). */
  def eagerExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** DataFrame over an `RDD[InternalRow]`
    * (`SparkSession.internalCreateDataFrame` is `private[sql]`) — the
    * re-entry point for RDD-level kernels that must stay in the
    * Tungsten row format (e.g. the zipWithIndex global-rank recipe)
    * instead of round-tripping through external `Row` conversion. */
  def ofInternalRows(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** The session's Hadoop configuration (its `spark.hadoop.*` and
    * `fs.*` SQL confs applied), as the scan path builds it: what the
    * driver-side footer readers open files with. */
  def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()

  /** Declared Spark schema of ONE parquet file, from its footer, read
    * entirely on the driver. `spark.read.parquet(f).schema` answers the
    * same question but launches a (tiny) Spark JOB for the parallel
    * footer merge — a per-call fixed cost that the streaming gates and
    * lake readers pay once per query start. Uses the same
    * ParquetToSparkSchemaConverter (honoring nanosAsLong /
    * int96 / binary-as-string session flags) as the scan path, so the
    * declared types match `spark.read` exactly. */
  def parquetFooterSchema(spark: SparkSession, file: String): StructType =
    withFooter(spark, file)((converter, footer) =>
      converter.convert(footer.getFileMetaData.getSchema))

  /** The schema `spark.read.parquet` infers from ONE parquet file, read
    * on the driver: [[parquetFooterSchema]], except that a schema Spark
    * stored in the file's key-value metadata wins, as it does in Spark's
    * own inference (`ParquetFileFormat.readSchemaFromFooter`), so field
    * metadata and user-defined types survive. */
  def parquetInferredSchema(spark: SparkSession, file: String): StructType =
    withFooter(spark, file)((converter, footer) =>
      ParquetFileFormat.readSchemaFromFooter(new Footer(new Path(file), footer), converter))

  private def withFooter(spark: SparkSession, file: String)(
      schema: (ParquetToSparkSchemaConverter, ParquetMetadata) => StructType): StructType = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), hadoopConf(spark)))
    // asNullable: file relations force every column nullable (a file may
    // be replaced); without it the footer schema would read non-null for
    // REQUIRED parquet fields and diverge from spark.read
    try schema(new ParquetToSparkSchemaConverter(classic.sessionState.conf), r.getFooter).asNullable
    finally r.close()
  }

  /** DataFrame over a custom LogicalPlan (`Dataset.ofRows` went
    * `private[sql]` with the Connect split) — the entry point custom
    * logical operators need. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
