package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.profiling.Profiler
import graft.transform.{CleanColumns, CleanRows}

/** The reference's real workload shape: survey tables with 100s-1000s of
  * STRING columns (SURVEY §0). This spec drives clean_columns and the
  * profiling classifier over a 1200-column table — wide enough to cross
  * Spark's codegen field limits (spark.sql.codegen.maxFields=100 default
  * fallback to interpreted projection) and the reference's 500-column
  * profiling batch boundary, the two wide-schema hazards called out in
  * SURVEY §4. */
class WideSchemaSpec extends SparkSpec {

  private val nLoops = 300 // 300 loop pairs -> 600 cols
  private val nBinary = 300
  private val nFalse = 150
  private val nPass = 150

  private def wideDf() = {
    val loopCols = (0 until nLoops).flatMap { i =>
      val cid = f"${100000000 + i}%09d"
      Seq(s"d_${cid}_1_1", s"d_${cid}_1_1_1_1")
    }
    val binCols = (0 until nBinary).map(i => f"d_${200000000 + i}%09d")
    val falseCols = (0 until nFalse).map(i => s"d_578895128_d_578895128_$i")
    val passCols = (0 until nPass).map(i => f"d_${400000000 + i}%09d")
    val allCols = "Connect_ID" +: (loopCols ++ binCols ++ falseCols ++ passCols)
    val schema = StructType(allCols.map(c => StructField(c, StringType, nullable = true)))
    val rows = (0 until 50).map { r =>
      Row.fromSeq(
        r.toString +:
          loopCols.indices.map(i => if ((r + i) % 3 == 0) null else s"v$i") ++:
          binCols.indices.map(i => if ((r + i) % 2 == 0) "1" else "0") ++:
          falseCols.indices.map(i => if ((r + i) % 2 == 0) "[]" else "[178420302]") ++:
          passCols.indices.map(i => s"p$i"))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  test("clean_columns over 1201 columns: one projection, correct width") {
    val df = wideDf()
    val out = CleanColumns(df)
    // 300 loop groups coalesce 600 cols -> 300; everything else passes through
    assert(out.columns.length == 1 + nLoops + nBinary + nFalse + nPass)
    assert(out.columns.count(_.endsWith("_1")) >= nLoops)
    val row = out.head()
    assert(row.getString(0) == "0")
  }

  test("profiling classifies 1200 columns in one bitset aggregate") {
    val df = wideDf()
    val t0 = System.nanoTime()
    val cls = CleanRows.classify(df, useReference = true)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(cls.binary.size == nBinary)
    assert(cls.falseArray.size == nFalse)
    // loop cols contain nulls+values -> not binary; they pass through
    assert(cls.passthrough.size == 1 + 2 * nLoops + nPass)
    // regression guard on plan-size blowup, not a tight perf pin: this
    // shared box's CPU speed swings ~3x (observed 40s idle vs 240s
    // degraded for the identical commit)
    assert(secs < 420.0, f"profiling too slow for a wide schema: $secs%.1fs")
  }

  test("clean_rows_wide registry gate: 1201-column recode with all three classes active") {
    val out = SparkEntry.queries("clean_rows_wide")(spark, "/root/testdata/sf0.001")
    assert(out.columns.length == 601) // Connect_ID + 200 binary + 200 false-array + 200 pass
    val bin = out.columns.filter(_.startsWith("d_7")).take(1).head
    val fa = out.columns.filter(c => c.startsWith("d_") && c.count(_ == '_') == 4).take(1).head
    import org.apache.spark.sql.functions.col
    val binVals = out.select(col(bin)).distinct().collect().map(_.getString(0)).toSet
    assert(binVals.subsetOf(Set("353358909", "104430631", null)))
    val faVals = out.select(col(fa)).distinct().collect().map(_.getString(0)).toSet
    assert(faVals.forall(v => v == null || v.matches("\\d{9}")))
  }

  test("clean_rows end-to-end on the wide table") {
    val df = wideDf()
    val out = CleanRows(df)
    assert(out.columns.length == df.columns.length)
    val first = out.select(out.columns.filter(_.startsWith("d_2")).take(1).map(org.apache.spark.sql.functions.col): _*).head()
    assert(Set("353358909", "104430631").contains(first.getString(0)))
  }
}
