package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.BinaryColumnBits
import graft.profiling.Profiler

/** [[Profiler.binaryColumns]]'s one bitset aggregate against the
  * conditional-aggregate formulation it replaced — one
  * `count(when(notBinary)) === 0` per STRING column, 500 columns per job —
  * kept here as the reference; and its footer path, on each fixture
  * written to parquet, against both. */
class BinaryColumnBitsSpec extends SparkSpec {

  private def q(name: String): Column = col("`" + name.replace("`", "``") + "`")

  private def reference(df: DataFrame): Seq[String] = {
    val stringCols = df.schema.fields.filter(_.dataType == StringType).map(_.name).toSeq
    if (stringCols.isEmpty) return Seq.empty
    stringCols.grouped(500).flatMap { batch =>
      val checks = batch.map { c =>
        val notBinary = !(q(c) === "0" || q(c) === "1" || q(c).isNull || q(c) === "")
        count(when(notBinary, lit(1))) === 0
      }
      val row = df.agg(checks.head, checks.tail: _*).head()
      batch.zipWithIndex.collect { case (c, i) if row.getBoolean(i) => c }
    }.toSeq
  }

  private def strings(cols: Seq[String], rows: Seq[Seq[String]], partitions: Int = 3): DataFrame = {
    val schema = StructType(cols.map(StructField(_, StringType, nullable = true)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(Row.fromSeq), partitions), schema)
  }

  private def written(df: DataFrame, options: (String, String)*): String = {
    val p = java.nio.file.Files.createTempDirectory("graft-bits").resolve("t").toString
    df.write.options(options.toMap).parquet(p)
    p
  }

  /** Both formulations, asserted equal, and the footer path over `df`
    * written to parquet asserted equal to them; returns the
    * classification. */
  private def binary(df: DataFrame): Seq[String] = {
    val got = Profiler.binaryColumns(df)
    assert(got == reference(df))
    assert(Profiler.binaryColumns(spark.read.parquet(written(df))) == got, "footers disagree")
    got
  }

  /** The columns each bits aggregate that `body` runs reads, in order. */
  private def scannedColumns(body: => Any): Seq[Seq[String]] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = qe.analyzed.foreach {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
          seen.add(a.aggregateExpressions.flatMap(_.references.map(_.name)))
        case _ =>
      }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; org.apache.spark.graftspec.ListenerFence.await(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    scala.jdk.CollectionConverters.IteratorHasAsScala(seen.iterator).asScala.toSeq
  }

  // 20 copies, so the parquet writer keeps its dictionaries (it drops one
  // that does not shrink the chunk); one partition, so "0", "01" and "1"
  // share one chunk
  private val nearBinary = Seq.fill(20)(Seq(
    Seq("0", "0", "x", null, "1"),
    Seq("01", "1", "y", null, "1"),
    Seq("1", null, "z", null, "1"))).flatten
  private val nearBinaryCols = Seq("near", "bin", "text", "all_null", "ones")

  test("empty string, NULL, an all-NULL column and a zero-row table count as binary") {
    val df = strings(Seq("with_empty", "all_null", "zero_one", "other"), Seq(
      Seq("", null, "0", "x"),
      Seq(null, null, "1", "0"),
      Seq("1", null, "0", "1")))
    assert(binary(df) == Seq("with_empty", "all_null", "zero_one"))
    assert(binary(df.filter(lit(false))) == df.columns.toSeq)
  }

  test("near-binary strings are not binary: padded, two-digit, non-ASCII digits") {
    val odd = Seq(" 1", "1 ", "01", "10", "١", "１")
    val cols = "control" +: odd.indices.map(i => s"c$i")
    val df = strings(cols, Seq(
      "0" +: odd.map(_ => "0"),
      "1" +: odd,
      "" +: odd.map(_ => "1")))
    assert(binary(df) == Seq("control"))
  }

  test("non-STRING columns are skipped") {
    val df = spark.range(6).select(
      (col("id") % 2).as("int01"),
      (col("id") % 2 === 0).as("flag"),
      (col("id") % 2).cast(StringType).as("str01"))
    assert(binary(df) == Seq("str01"))
    assert(binary(df.select("int01", "flag")) == Nil)
  }

  test("column names with dots, spaces and backticks are quoted") {
    val names = Seq("a.b", "has space", "back`tick", "`", "x.y` z", "not.binary")
    val df = strings(names, Seq(
      Seq("0", "1", "", null, "1", "0"),
      Seq("1", null, "0", "1", "0", "2")))
    assert(binary(df) == names.init)
  }

  test("600 string columns cross the old 500-column batch boundary") {
    val n = 600
    val cols = (0 until n).map(i => f"d_$i%03d")
    // column i fails (value "2") on row i % 7 when i % 3 == 0
    val rows = (0 until 7).map { r =>
      (0 until n).map { i =>
        if (i % 3 == 0 && i % 7 == r) "2" else if ((i + r) % 4 == 0) null else ((i + r) % 2).toString
      }
    }
    val got = binary(strings(cols, rows))
    assert(got == cols.zipWithIndex.collect { case (c, i) if i % 3 != 0 => c })
  }

  test("a failure seen in one partition only survives merge, serialize and deserialize") {
    val parts = 8
    val cols = (0 until 16).map(i => s"c$i")
    // one row per partition; column i fails only in partition i % parts,
    // and only the odd columns fail at all
    val rows = (0 until parts).map { p =>
      cols.indices.map(i => if (i % 2 == 1 && i % parts == p) "yes" else (p % 2).toString)
    }
    val df = strings(cols, rows, parts)
    assert(df.rdd.getNumPartitions == parts)
    assert(binary(df) == cols.zipWithIndex.collect { case (c, i) if i % 2 == 0 => c })
  }

  test("footers equal the scan on the 1,230-column wide survey, with no job") {
    val wide = graft.queries.SurveyQueries.wideSurvey(spark, "/root/testdata/sf0.001")
    val scan = Profiler.binaryColumns(wide)
    assert(scan.nonEmpty && scan.size < wide.columns.length)
    val back = spark.read.parquet(written(wide))
    var got = Seq.empty[String]
    assert(jobsOf { got = Profiler.binaryColumns(back) } == 0)
    assert(got == scan)
  }

  test("a dictionary-encoded input is decided by its footers and dictionaries, no job") {
    val back = spark.read.parquet(written(strings(nearBinaryCols, nearBinary, partitions = 1)))
    var got = Seq.empty[String]
    assert(jobsOf { got = Profiler.binaryColumns(back) } == 0)
    // "01" sorts between "0" and "1": only the dictionary can reject it
    assert(got == Seq("bin", "all_null", "ones"))
  }

  test("without dictionaries the undecided columns, and only they, are scanned once") {
    val back = spark.read.parquet(
      written(strings(nearBinaryCols, nearBinary, partitions = 1), "parquet.enable.dictionary" -> "false"))
    var got = Seq.empty[String]
    // text is rejected by its statistics, all_null by its null counts and
    // ones by min == max; near and bin span "0".."1" in plain pages
    assert(scannedColumns { got = Profiler.binaryColumns(back) }.map(_.toSet) == Seq(Set("near", "bin")))
    assert(got == Seq("bin", "all_null", "ones"))
    assert(jobsOf(Profiler.binaryColumns(back)) == jobsOf(Profiler.binaryColumns(back.filter(lit(true)))))
  }

  test("a frame that is not a bare parquet scan keeps the whole scan") {
    val back = spark.read.parquet(written(strings(nearBinaryCols, nearBinary, partitions = 1)))
    val filtered = back.filter(col("text") =!= "y")
    var got = Seq.empty[String]
    assert(scannedColumns { got = Profiler.binaryColumns(filtered) }.map(_.toSet) ==
      Seq(nearBinaryCols.toSet))
    assert(got == reference(filtered))
  }

  test("buffer: the serialize round trip is exact and merge is a bitwise AND") {
    val agg = BinaryColumnBits(Seq.fill(70)(Literal(null, StringType)))
    def cleared(bits: Int*) = { val b = agg.createAggregationBuffer(); bits.foreach(b.clear); b }
    val a = cleared(3, 65)
    val b = cleared(3, 10, 69)
    val merged = agg.merge(agg.deserialize(agg.serialize(a)), agg.deserialize(agg.serialize(b)))
    assert(agg.eval(merged).asInstanceOf[ArrayData].toIntArray().toSeq ==
      (0 until 70).filterNot(Set(3, 10, 65, 69)))
    val none = cleared(0 until 70: _*)
    assert(agg.deserialize(agg.serialize(none)).isEmpty)
    assert(agg.merge(cleared(), agg.deserialize(agg.serialize(none))).isEmpty)
  }
}
