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
  * kept here as the reference. */
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

  /** Both formulations, asserted equal; returns the classification. */
  private def binary(df: DataFrame): Seq[String] = {
    val got = Profiler.binaryColumns(df)
    assert(got == reference(df))
    got
  }

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
