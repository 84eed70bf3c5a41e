package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StringType, StructField, StructType}

import graft.config.Constants
import graft.transform.{CleanColumns, CleanRows, MergeTableVersions, SensitiveTier}

/** The reference's four capabilities exercised end-to-end on survey-shaped
  * inputs derived deterministically from the driver's parquet tables, so
  * the DuckDB oracle can recompute both the derivation and the expected
  * transformation. Spark derivations and the oracle CTE text are kept
  * adjacent here — any drift is a correctness failure the harness catches.
  */
object SurveyQueries {

  /** Per-gate whole-stage-codegen ceiling (round 16). janino refuses any
    * generated METHOD past a hard 64 KB — a plan-shape constant, not a
    * data-size effect — and Spark does not cache compile FAILURES, so a
    * wide span that can never compile re-pays a multi-second doomed
    * compile on every re-plan before falling back to the interpreted
    * path anyway. Measured (WideCodegenProbe, in-session alternated
    * A/B at sf0.1): the 601-recode / 1231-derivation / 802-field
    * full-outer spans fail at ANY maxFields that admits them. So each
    * wide gate pins the ceiling its own plan shape wants: 550 admits
    * every span that can compile and skips the provably-doomed ones.
    * Set without restore: plans of every non-wide gate are far below
    * that value, and each wide gate sets its own. Chunking the wide
    * projections (observe / lazy-toRdd barriers) was tried first and
    * measured WORSE — the 1200-field UnsafeRow write itself overflows
    * the method, so extra spans only multiplied failed compiles. */
  private def codegenCeiling(s: SparkSession, fields: Int): Unit =
    s.conf.set("spark.sql.codegen.maxFields", fields.toString)

  // ---- survey_rows: input for clean_rows / profiling, derived from events

  private def surveyRows(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val id = col("event_id")
    e.select(
      id.cast(StringType).as("Connect_ID"),
      when(id % 7 === 0, lit(null).cast(StringType))
        .when(id % 3 === 0, "1").otherwise("0").as("d_111111111"),
      when(id % 5 === 0, "").when(id % 2 === 0, "1").otherwise("0").as("d_222222222"),
      when(id % 4 === 0, "2").otherwise("1").as("d_333333333"),
      // the four unwrap branches of core/utils.py:750-778, all value-level:
      // "[]"→NULL, "[cid]"→cid, NULL→NULL, and a NON-MATCHING value
      // ("junk") → NULL — the else branch no other gate exercised
      when(id % 11 === 0, "[]")
        .when(id % 11 === 1, "[178420302]")
        .when(id % 11 === 2, lit(null).cast(StringType))
        .when(id % 11 === 3, "junk")
        .otherwise("[958239616]").as("d_578895128_d_578895128"),
      col("event_type").as("d_444444444"))
  }

  private val surveyRowsSql: String =
    """SELECT CAST(event_id AS VARCHAR) AS Connect_ID,
      |  CASE WHEN event_id % 7 = 0 THEN NULL WHEN event_id % 3 = 0 THEN '1' ELSE '0' END AS d_111111111,
      |  CASE WHEN event_id % 5 = 0 THEN '' WHEN event_id % 2 = 0 THEN '1' ELSE '0' END AS d_222222222,
      |  CASE WHEN event_id % 4 = 0 THEN '2' ELSE '1' END AS d_333333333,
      |  CASE WHEN event_id % 11 = 0 THEN '[]' WHEN event_id % 11 = 1 THEN '[178420302]'
      |       WHEN event_id % 11 = 2 THEN NULL WHEN event_id % 11 = 3 THEN 'junk'
      |       ELSE '[958239616]' END AS d_578895128_d_578895128,
      |  event_type AS d_444444444
      |FROM events""".stripMargin

  /** clean_rows end-to-end: profiling-driven binary recode + false-array
    * unwrap + pass-through (operators A6,A7,A9,A10,A11,A21,A22). */
  val cleanRows: QueryDef = QueryDef(
    "clean_rows",
    (s, d) => CleanRows(surveyRows(s, d)).orderBy(col("Connect_ID").cast("long")),
    Some(s"""WITH s AS ($surveyRowsSql)
      |SELECT
      |  CASE WHEN d_111111111 = '1' THEN '353358909' WHEN d_111111111 = '0' THEN '104430631' ELSE NULL END AS d_111111111,
      |  CASE WHEN d_222222222 = '1' THEN '353358909' WHEN d_222222222 = '0' THEN '104430631' ELSE NULL END AS d_222222222,
      |  CASE WHEN d_578895128_d_578895128 = '[]' THEN NULL
      |       WHEN regexp_matches(d_578895128_d_578895128, '\\[\\d{9}\\]')
      |         THEN regexp_replace(d_578895128_d_578895128, '\\[(\\d{9})\\]', '\\1')
      |       ELSE NULL END AS d_578895128_d_578895128,
      |  Connect_ID, d_333333333, d_444444444
      |FROM s ORDER BY CAST(Connect_ID AS BIGINT)""".stripMargin))

  /** Single-pass profiling aggregate (A14 COUNTIF batch): one row of
    * per-column is-binary booleans. */
  val profileBinary: QueryDef = QueryDef(
    "profile_binary",
    (s, d) => {
      val df = surveyRows(s, d)
      val checks = df.schema.fieldNames.toSeq.map { c =>
        val notBinary = !(col(c) === "0" || col(c) === "1" || col(c).isNull || col(c) === "")
        (count(when(notBinary, lit(1))) === 0).as(c)
      }
      df.agg(checks.head, checks.tail: _*)
    },
    Some(s"""WITH s AS ($surveyRowsSql)
      |SELECT
      |  count(CASE WHEN NOT(Connect_ID = '0' OR Connect_ID = '1' OR Connect_ID IS NULL OR Connect_ID = '') THEN 1 END) = 0 AS Connect_ID,
      |  count(CASE WHEN NOT(d_111111111 = '0' OR d_111111111 = '1' OR d_111111111 IS NULL OR d_111111111 = '') THEN 1 END) = 0 AS d_111111111,
      |  count(CASE WHEN NOT(d_222222222 = '0' OR d_222222222 = '1' OR d_222222222 IS NULL OR d_222222222 = '') THEN 1 END) = 0 AS d_222222222,
      |  count(CASE WHEN NOT(d_333333333 = '0' OR d_333333333 = '1' OR d_333333333 IS NULL OR d_333333333 = '') THEN 1 END) = 0 AS d_333333333,
      |  count(CASE WHEN NOT(d_578895128_d_578895128 = '0' OR d_578895128_d_578895128 = '1' OR d_578895128_d_578895128 IS NULL OR d_578895128_d_578895128 = '') THEN 1 END) = 0 AS d_578895128_d_578895128,
      |  count(CASE WHEN NOT(d_444444444 = '0' OR d_444444444 = '1' OR d_444444444 IS NULL OR d_444444444 = '') THEN 1 END) = 0 AS d_444444444
      |FROM s""".stripMargin))

  /** Single-pass false-array profiling (A15 COUNT DISTINCT + A16 filtered
    * aggregates, collapsed from the reference's 3 scalar subqueries per
    * column into conditional aggregates). */
  val profileFalseArray: QueryDef = QueryDef(
    "profile_false_array",
    (s, d) => {
      val df = surveyRows(s, d)
      val falseVals = graft.config.Constants.FalseArrayValues
      val cols = Seq("d_333333333", "d_578895128_d_578895128", "d_444444444")
      val checks = cols.flatMap { c =>
        Seq(
          countDistinct(col(c)).as(s"${c}_distinct"),
          (count(when(col(c).isNotNull && !col(c).isin(falseVals: _*), lit(1))) === 0)
            .as(s"${c}_only_false_array"),
          countDistinct(when(col(c).rlike("^\\[\\d{9}\\]$"), col(c))).as(s"${c}_bracketed"))
      }
      df.agg(checks.head, checks.tail: _*)
    },
    Some(s"""WITH s AS ($surveyRowsSql)
      |SELECT
      |  count(DISTINCT d_333333333) AS d_333333333_distinct,
      |  count(CASE WHEN d_333333333 IS NOT NULL AND d_333333333 NOT IN ('[]','[178420302]','[958239616]') THEN 1 END) = 0 AS d_333333333_only_false_array,
      |  count(DISTINCT d_333333333) FILTER (WHERE regexp_matches(d_333333333, '^\\[\\d{9}\\]$$')) AS d_333333333_bracketed,
      |  count(DISTINCT d_578895128_d_578895128) AS d_578895128_d_578895128_distinct,
      |  count(CASE WHEN d_578895128_d_578895128 IS NOT NULL AND d_578895128_d_578895128 NOT IN ('[]','[178420302]','[958239616]') THEN 1 END) = 0 AS d_578895128_d_578895128_only_false_array,
      |  count(DISTINCT d_578895128_d_578895128) FILTER (WHERE regexp_matches(d_578895128_d_578895128, '^\\[\\d{9}\\]$$')) AS d_578895128_d_578895128_bracketed,
      |  count(DISTINCT d_444444444) AS d_444444444_distinct,
      |  count(CASE WHEN d_444444444 IS NOT NULL AND d_444444444 NOT IN ('[]','[178420302]','[958239616]') THEN 1 END) = 0 AS d_444444444_only_false_array,
      |  count(DISTINCT d_444444444) FILTER (WHERE regexp_matches(d_444444444, '^\\[\\d{9}\\]$$')) AS d_444444444_bracketed
      |FROM s""".stripMargin))

  // ---- profile_false_array_wide: the same A15/A16 false-array statistics
  // at 150 columns over an ORDERS-derived input. Round 7 lost ALL
  // false-array profiling coverage because its only gate's input derived
  // from events, whose schema drifted — this wide twin keeps the
  // reference-surface profiling coverage alive even if one source table
  // breaks. Five column archetypes cycle so the classification boolean
  // discriminates every branch of core/utils.py:616-694:
  //   0: {NULL, "[]", "[178420302]"}         → qualifies (the true case)
  //   1: all NULL                            → fails "≥1 non-null"
  //   2: {NULL, two distinct bracketed cids} → fails "≤1 bracketed"
  //   3: {NULL, "not_array", "[]"}           → fails "only false-array values"
  //   4: {NULL, "[958239616]"}               → qualifies (single value)
  // Moduli are coprime to the o_orderkey%10=0 row filter so every branch
  // varies WITHIN each column, not just across columns.

  private val wideFaN = 150
  /** (name, kind 0-4) per generated column. */
  private val wideFaSrcs: Seq[(String, Int)] =
    (0 until wideFaN).map(i => (s"fa_${900000000 + i}", i % 5))

  private def wideFalseArrayInput(s: SparkSession, d: String): DataFrame = {
    val k = col("o_orderkey")
    val cols = wideFaSrcs.zipWithIndex.map { case ((n, kind), idx) =>
      val kk = k + lit(idx % 97)
      val v = kind match {
        case 0 => when(kk % 7 === 0, lit(null).cast(StringType))
          .when(kk % 3 === 0, "[]").otherwise("[178420302]")
        case 1 => lit(null).cast(StringType)
        case 2 => when(kk % 7 === 0, lit(null).cast(StringType))
          .when(kk % 3 === 0, "[178420302]").otherwise("[958239616]")
        case 3 => when(kk % 7 === 0, lit(null).cast(StringType))
          .when(kk % 3 === 0, "not_array").otherwise("[]")
        case _ => when(kk % 7 === 0, lit(null).cast(StringType))
          .otherwise("[958239616]")
      }
      v.as(n)
    }
    // same single-split parallelization fix as wideSurvey: shuffle only
    // the narrow keys, then fan the generated columns out on all cores
    Tables.orders(s, d).filter(k % 10 === 0)
      .select(k).repartition(s.sparkContext.defaultParallelism)
      .select(cols: _*)
  }

  private val wideFalseArraySql: String = {
    val exprs = wideFaSrcs.zipWithIndex.map { case ((n, kind), idx) =>
      val kk = s"(o_orderkey + ${idx % 97})"
      val v = kind match {
        case 0 => s"CASE WHEN $kk % 7 = 0 THEN NULL WHEN $kk % 3 = 0 THEN '[]' ELSE '[178420302]' END"
        case 1 => "CAST(NULL AS VARCHAR)"
        case 2 => s"CASE WHEN $kk % 7 = 0 THEN NULL WHEN $kk % 3 = 0 THEN '[178420302]' ELSE '[958239616]' END"
        case 3 => s"CASE WHEN $kk % 7 = 0 THEN NULL WHEN $kk % 3 = 0 THEN 'not_array' ELSE '[]' END"
        case _ => s"CASE WHEN $kk % 7 = 0 THEN NULL ELSE '[958239616]' END"
      }
      s"$v AS $n"
    }
    s"""SELECT
       |  ${exprs.mkString(",\n  ")}
       |FROM orders WHERE o_orderkey % 10 = 0""".stripMargin
  }

  /** Wide single-pass false-array profiling (A15 COUNT DISTINCT + A16
    * filtered aggregates + the B21-computational classification verdict)
    * over the 150-column orders-derived input: 4 statistics per column —
    * distinct count, only-false-array flag, bracketed-distinct count, and
    * the final qualifies boolean (≤3 distinct ∧ ≥1 non-null ∧ only
    * false-array values ∧ ≤1 bracketed, `core/utils.py:616-694`) —
    * in [[graft.profiling.Profiler.falseArrayColumnsComputational]]'s
    * MELT shape: stack to (column-name, value) pairs so every
    * COUNT(DISTINCT) shares one child (Expand factor 2, width-
    * independent — the wide-agg form replicated the scan ~300× and
    * measured 105s at sf0.1 where this takes ~1s), aggregate per name,
    * then pivot the 150 stat rows back into the single wide profiling
    * row the oracle hashes. */
  val profileFalseArrayWide: QueryDef = QueryDef(
    "profile_false_array_wide",
    (s, d) => {
      codegenCeiling(s, 550)
      val df = wideFalseArrayInput(s, d)
      val falseVals = Constants.FalseArrayValues
      val names = wideFaSrcs.map(_._1)
      val stackExpr = s"stack(${names.size}, " +
        names.map(c => s"'$c', $c").mkString(", ") + ") AS (cname, value)"
      val stats = df.selectExpr(stackExpr)
        .groupBy(col("cname"))
        .agg(
          countDistinct(col("value")).as("nd"),
          (count(when(col("value").isNotNull && !col("value").isin(falseVals: _*),
            lit(1))) === 0).as("of"),
          countDistinct(when(col("value").rlike(Constants.BracketedNineDigitPattern),
            col("value"))).as("nb"))
      // the 150 per-column stat rows → one wide row; pivot values are the
      // static column list, so no extra distinct-discovery job runs
      val wide = stats.groupBy().pivot("cname", names).agg(
        first(col("nd")).as("distinct"),
        first(col("of")).as("only_false_array"),
        first(col("nb")).as("bracketed"))
      wide.select(names.flatMap { c =>
        Seq(col(s"${c}_distinct"), col(s"${c}_only_false_array"),
          col(s"${c}_bracketed"),
          (col(s"${c}_distinct").leq(3) && col(s"${c}_distinct").gt(0) &&
            col(s"${c}_only_false_array") && col(s"${c}_bracketed").leq(1))
            .as(s"${c}_qualifies"))
      }: _*)
    },
    Some {
      val inList = Constants.FalseArrayValues.map(v => s"'$v'").mkString(", ")
      def stats(c: String): Seq[String] = {
        val distinctC = s"count(DISTINCT $c)"
        val onlyFalse = s"count(CASE WHEN $c IS NOT NULL AND $c NOT IN ($inList) THEN 1 END) = 0"
        val bracketed =
          s"count(DISTINCT $c) FILTER (WHERE regexp_matches($c, '^\\[\\d{9}\\]" + "$'))"
        Seq(
          s"$distinctC AS ${c}_distinct",
          s"$onlyFalse AS ${c}_only_false_array",
          s"$bracketed AS ${c}_bracketed",
          s"($distinctC <= 3 AND $distinctC > 0 AND $onlyFalse AND $bracketed <= 1) AS ${c}_qualifies")
      }
      val exprs = wideFaSrcs.map(_._1).flatMap(stats)
      s"""WITH s AS ($wideFalseArraySql)
        |SELECT
        |  ${exprs.mkString(",\n  ")}
        |FROM s""".stripMargin
    })

  // ---- survey_cols: input for clean_columns, derived from events

  private def surveyCols(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val id = col("event_id")
    val uid = col("user_id")
    e.select(
      id.cast(StringType).as("Connect_ID"),
      (uid % 50).cast(StringType).as("d_123456789_1_1"),
      when(id % 2 === 0, (uid % 9).cast(StringType))
        .otherwise(lit(null).cast(StringType)).as("d_123456789_2_2"),
      (uid % 7).cast(StringType).as("d_123456789_2_2_2_2"),
      col("event_type").as("d_123456789_v2_1_1"),
      (id % 3).cast(StringType).as("state_d_987654321"),
      (id % 5).cast(StringType).as("d_555555555_num"),
      when(id % 2 === 0, (lit(1900) + uid % 120).cast(StringType))
        .otherwise((id % 130).cast(StringType)).as("D_317093647"),
      col("props").as("d_999999999"))
  }

  private val surveyColsSql: String =
    """SELECT CAST(event_id AS VARCHAR) AS Connect_ID,
      |  CAST(user_id % 50 AS VARCHAR) AS d_123456789_1_1,
      |  CASE WHEN event_id % 2 = 0 THEN CAST(user_id % 9 AS VARCHAR) ELSE NULL END AS d_123456789_2_2,
      |  CAST(user_id % 7 AS VARCHAR) AS d_123456789_2_2_2_2,
      |  event_type AS d_123456789_v2_1_1,
      |  CAST(event_id % 3 AS VARCHAR) AS state_d_987654321,
      |  CAST(event_id % 5 AS VARCHAR) AS d_555555555_num,
      |  CASE WHEN event_id % 2 = 0 THEN CAST(1900 + user_id % 120 AS VARCHAR) ELSE CAST(event_id % 130 AS VARCHAR) END AS D_317093647,
      |  props AS d_999999999
      |FROM events""".stripMargin

  /** clean_columns end-to-end: substring excision, custom age/year
    * transforms, loop-variable grouping/coalescing, version placement
    * (operators A3,A5,A6,A9,A11,A12 + the B-layer name algebra). */
  val cleanColumns: QueryDef = QueryDef(
    "clean_columns",
    (s, d) => CleanColumns(surveyCols(s, d), "FlatConnect.module1_v2_JP")
      .orderBy(col("Connect_ID").cast("long")),
    Some(s"""WITH s AS ($surveyColsSql)
      |SELECT
      |  Connect_ID,
      |  state_d_987654321 AS d_987654321,
      |  d_555555555_num AS d_555555555,
      |  CASE WHEN regexp_matches(D_317093647, '^\\d{1,3}$$')
      |         THEN CASE WHEN CAST(D_317093647 AS BIGINT) BETWEEN 0 AND 125 THEN CAST(D_317093647 AS BIGINT) ELSE NULL END
      |       ELSE NULL END AS D_317093647_D_623218391,
      |  CASE WHEN regexp_matches(D_317093647, '^\\d{4}$$') THEN CAST(D_317093647 AS BIGINT) ELSE NULL END AS D_317093647_D_802622485,
      |  d_123456789_1_1 AS d_123456789_1,
      |  COALESCE(d_123456789_2_2, d_123456789_2_2_2_2) AS d_123456789_2,
      |  d_123456789_v2_1_1 AS d_123456789_1_v2,
      |  D_317093647 AS d_317093647,
      |  d_999999999
      |FROM s ORDER BY CAST(Connect_ID AS BIGINT)""".stripMargin))

  /** clean_columns with the covid19 one-off rename table (A3 bulk rename
    * driven by config, 8-digit CID fix-ups). */
  val cleanColumnsOneOff: QueryDef = QueryDef(
    "clean_columns_one_off",
    (s, d) => {
      val e = Tables.events(s, d)
      val id = col("event_id")
      val in = e.select(
        id.cast(StringType).as("Connect_ID"),
        (id % 6).cast(StringType).as("d_71558179_v2_1_1"),
        (id % 8).cast(StringType).as("d_71558179_v2_2_2"),
        col("event_type").as("d_715581797"))
      CleanColumns(in, "FlatConnect.covid19Survey_v1_JP")
        .orderBy(col("Connect_ID").cast("long"))
    },
    Some("""WITH s AS (
      |  SELECT CAST(event_id AS VARCHAR) AS Connect_ID,
      |    CAST(event_id % 6 AS VARCHAR) AS d_71558179_v2_1_1,
      |    CAST(event_id % 8 AS VARCHAR) AS d_71558179_v2_2_2,
      |    event_type AS d_715581797
      |  FROM events)
      |SELECT Connect_ID,
      |  d_71558179_v2_1_1 AS d_715581797_1_v2,
      |  d_71558179_v2_2_2 AS d_715581797_2_v2,
      |  d_715581797
      |FROM s ORDER BY CAST(Connect_ID AS BIGINT)""".stripMargin))

  // ---- clean_columns_wide: the 1000+-column case SURVEY §4 names as the
  // central engineering challenge. 300 index steps × 4 name families
  // (plain cid, loop var, versioned loop var, substring excision) + 15
  // loop-coalesce pairs = 1230 source columns; the Spark derivation, the
  // oracle's source CTE, and the oracle's expected-output select list are
  // all generated from the SAME spec below, so the sides cannot drift.

  private val wideN = 300

  /** (source column name, value modulus, with-nulls) per generated column. */
  private val wideSrcs: Seq[(String, Int, Boolean)] = (0 until wideN).flatMap { i =>
    val base = Seq(
      (s"d_${200000000 + i}", 2 + (i % 9), false),
      (s"d_${300000000 + i}_1_1", 2 + ((i + 1) % 9), false),
      (s"d_${400000000 + i}_v2_1_1", 2 + ((i + 2) % 9), false),
      (s"state_d_${500000000 + i}", 2 + ((i + 3) % 9), false))
    if (i % 20 == 0)
      base ++ Seq(
        (s"d_${600000000 + i}_2_2", 2 + ((i + 4) % 9), true),
        (s"d_${600000000 + i}_2_2_2_2", 2 + ((i + 5) % 9), false))
    else base
  }

  /** Expected cleaned output, as oracle select expressions. */
  private val wideOutSql: Seq[String] = (0 until wideN).flatMap { i =>
    val base = Seq(
      s"d_${200000000 + i}",
      s"d_${300000000 + i}_1_1 AS d_${300000000 + i}_1",
      s"d_${400000000 + i}_v2_1_1 AS d_${400000000 + i}_1_v2",
      s"state_d_${500000000 + i} AS d_${500000000 + i}")
    if (i % 20 == 0)
      base :+ s"COALESCE(d_${600000000 + i}_2_2, d_${600000000 + i}_2_2_2_2) AS d_${600000000 + i}_2"
    else base
  }

  private[graft] def wideSurvey(s: SparkSession, d: String): DataFrame = {
    val k = col("o_orderkey")
    val cols = k.cast(StringType).as("Connect_ID") +: wideSrcs.map {
      case (n, m, withNulls) =>
        val v = (k % m).cast(StringType)
        (if (withNulls) when(k % 3 === 0, lit(null).cast(StringType)).otherwise(v)
         else v).as(n)
    }
    // repartition the NARROW keys before the 1231-column projection fans
    // out: the sf parquet is one small file -> one input split, which
    // would run every wide expression on a single core. The shuffle
    // moves only (o_orderkey) rows; at real scale the scan already has
    // many splits and this is a near-no-op.
    Tables.orders(s, d).filter(k % 10 === 0)
      .select(k).repartition(s.sparkContext.defaultParallelism)
      .select(cols: _*)
  }

  private val wideSurveySql: String = {
    val exprs = wideSrcs.map { case (n, m, withNulls) =>
      val v = s"CAST(o_orderkey % $m AS VARCHAR)"
      if (withNulls) s"CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE $v END AS $n"
      else s"$v AS $n"
    }
    s"""SELECT CAST(o_orderkey AS VARCHAR) AS Connect_ID,
       |  ${exprs.mkString(",\n  ")}
       |FROM orders WHERE o_orderkey % 10 = 0""".stripMargin
  }

  /** Wide profiling gate: the reference's batched is-binary
    * classification (§2.B17, ⌈N/500⌉ BigQuery round-trips there) at 1231
    * columns, through [[graft.profiling.Profiler.binaryColumns]] — one
    * scan, one aggregate — reported as the one-row, per-column boolean
    * table the value-level oracle recomputes column by column. Columns
    * are binary exactly when their generated modulus is 2 (values ⊆
    * {0,1} plus NULLs). */
  val profileBinaryWide: QueryDef = QueryDef(
    "profile_binary_wide",
    (s, d) => {
      val df = wideSurvey(s, d)
      val binary = graft.profiling.Profiler.binaryColumns(df).toSet
      val names = df.columns.toSeq
      s.createDataFrame(java.util.List.of(Row.fromSeq(names.map(binary))),
        StructType(names.map(StructField(_, BooleanType, nullable = false))))
    },
    Some {
      def check(c: String) =
        s"count(CASE WHEN NOT($c = '0' OR $c = '1' OR $c IS NULL OR $c = '') THEN 1 END) = 0 AS $c"
      val exprs = ("Connect_ID" +: wideSrcs.map(_._1)).map(check)
      s"""WITH s AS ($wideSurveySql)
        |SELECT
        |  ${exprs.mkString(",\n  ")}
        |FROM s""".stripMargin
    })

  /** clean_columns over a 1230-column survey schema: same operators as
    * `clean_columns`, at the width where codegen limits bite (Spark falls
    * back from whole-stage codegen past `spark.sql.codegen.maxFields`;
    * the single-Project plan shape keeps that a per-operator fallback,
    * not a semantic change). */
  val cleanColumnsWide: QueryDef = QueryDef(
    "clean_columns_wide",
    (s, d) => {
      codegenCeiling(s, 550)
      CleanColumns(wideSurvey(s, d), "FlatConnect.module1_v2_JP")
        .orderBy(col("Connect_ID").cast("long"))
    },
    Some(s"""WITH s AS ($wideSurveySql)
      |SELECT Connect_ID,
      |  ${wideOutSql.mkString(",\n  ")}
      |FROM s ORDER BY CAST(Connect_ID AS BIGINT)""".stripMargin))

  // ---- clean_rows_wide: value-level cleaning (binary recode +
  // false-array unwrap + pass-through) at 601 columns — wide enough to
  // cross codegen.maxFields in both the derivation and the recode
  // Project; the 1231-column profiling case is profile_binary_wide's.
  // clean_rows' classification is statistics-driven, so this gate
  // exercises BOTH the wide profiling scan (one 601-column aggregate
  // inside CleanRows.classify) AND the 601-expression recode Project —
  // the one wide surface clean_columns_wide / profile_binary_wide
  // didn't cover. Spark derivation, oracle source CTE, and oracle expected
  // output are generated from the same spec, so the sides cannot drift.

  private val wideRowsN = 200

  /** (name, kind, bracketed-cid) per generated column; kind 0 = binary
    * (values ⊆ {0,1,NULL,''} by construction → profiled binary), 1 =
    * false-array (name from [[Constants.FalseArrayConceptIdPairs]] with a
    * digit suffix → reference-mode name detection), 2 = pass-through
    * (modulus ≥ 3 → never profiled binary). */
  private val wideRowsSrcs: Seq[(String, Int, String)] = (0 until wideRowsN).flatMap { i =>
    val (a, b) = Constants.FalseArrayConceptIdPairs(i % Constants.FalseArrayConceptIdPairs.size)
    Seq(
      (s"d_${700000000 + i}", 0, ""),
      (s"d_${a}_d_${b}_$i", 1, if (i % 2 == 0) a else b),
      (s"free_${800000000 + i}", 2, ""))
  }

  private[graft] def wideRows(s: SparkSession, d: String): DataFrame = {
    val k = col("o_orderkey")
    val cols = k.cast(StringType).as("Connect_ID") +: wideRowsSrcs.zipWithIndex.map {
      case ((n, kind, cid), idx) =>
        val kk = k + lit(idx % 101)
        val v = kind match {
          case 0 =>
            when(kk % 7 === 0, lit(null).cast(StringType))
              .when(kk % 5 === 0, "")
              .otherwise((kk % 2).cast(StringType))
          case 1 =>
            when(kk % 11 === 0, "[]")
              .when(kk % 11 === 1, lit(null).cast(StringType))
              .otherwise(s"[$cid]")
          case _ => (kk % 9).cast(StringType)
        }
        v.as(n)
    }
    // same single-split parallelization fix as wideSurvey: shuffle only
    // the narrow keys, then fan out the 601 generated columns on all cores
    Tables.orders(s, d).filter(k % 10 === 0)
      .select(k).repartition(s.sparkContext.defaultParallelism)
      .select(cols: _*)
  }

  private val wideRowsSql: String = {
    val exprs = wideRowsSrcs.zipWithIndex.map { case ((n, kind, cid), idx) =>
      val kk = s"(o_orderkey + ${idx % 101})"
      val v = kind match {
        case 0 =>
          s"CASE WHEN $kk % 7 = 0 THEN NULL WHEN $kk % 5 = 0 THEN '' ELSE CAST($kk % 2 AS VARCHAR) END"
        case 1 =>
          s"CASE WHEN $kk % 11 = 0 THEN '[]' WHEN $kk % 11 = 1 THEN NULL ELSE '[$cid]' END"
        case _ => s"CAST($kk % 9 AS VARCHAR)"
      }
      s"$v AS $n"
    }
    s"""SELECT CAST(o_orderkey AS VARCHAR) AS Connect_ID,
       |  ${exprs.mkString(",\n  ")}
       |FROM orders WHERE o_orderkey % 10 = 0""".stripMargin
  }

  val cleanRowsWide: QueryDef = QueryDef(
    "clean_rows_wide",
    // CleanRows executes its input twice (the binary profiling scan +
    // the recode projection); DISK_ONLY persist materializes the
    // 601-expression derivation ONCE. persist over localCheckpoint is
    // the cluster-scale call: a lost DISK_ONLY block rebuilds from
    // lineage and nothing pins executor memory, where localCheckpoint
    // blocks die with their executor. Measured at sf0.1 (WideMatProfile):
    // cold 17.2s re-derive / 10.7s disk-persist / 7.4s localCheckpoint;
    // warm all ~equal (5.7-6.1s). The cache entry is one bounded wide
    // table for the session (the cache manager dedupes identical plans).
    (s, d) => {
      codegenCeiling(s, 550)
      CleanRows(wideRows(s, d)
          .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
        .orderBy(col("Connect_ID").cast("long"))
    },
    Some {
      val outs = wideRowsSrcs.map { case (n, kind, _) =>
        kind match {
          case 0 =>
            s"CASE WHEN $n = '1' THEN '${Constants.CidYes}' WHEN $n = '0' THEN '${Constants.CidNo}' ELSE NULL END AS $n"
          case 1 =>
            s"CASE WHEN $n = '[]' THEN NULL WHEN regexp_matches($n, '\\[\\d{9}\\]') THEN regexp_replace($n, '\\[(\\d{9})\\]', '\\1') ELSE NULL END AS $n"
          case _ => n
        }
      }
      s"""WITH s AS ($wideRowsSql)
        |SELECT Connect_ID,
        |  ${outs.mkString(",\n  ")}
        |FROM s ORDER BY CAST(Connect_ID AS BIGINT)""".stripMargin
    })

  // ---- merge_table_versions: three version tables derived from customer

  private val mergeVersionsSql: Seq[String] = Seq(
    """SELECT CAST(c_custkey AS VARCHAR) AS Connect_ID, c_name AS d_100000001,
      |  c_mktsegment AS D_100000002, CAST(c_nationkey AS VARCHAR) AS only_v1
      |FROM customer WHERE c_custkey % 3 <> 0""".stripMargin,
    """SELECT CAST(c_custkey AS VARCHAR) AS Connect_ID, c_mktsegment AS d_100000001,
      |  CAST(c_nationkey AS VARCHAR) AS unique_v2
      |FROM customer WHERE c_custkey % 3 <> 1""".stripMargin,
    """SELECT CAST(c_custkey AS VARCHAR) AS Connect_ID, substr(c_name, 1, 12) AS D_100000001,
      |  CAST(c_custkey % 7 AS VARCHAR) AS d_100000003
      |FROM customer WHERE c_custkey % 5 = 0""".stripMargin)

  private def mergeVersions(s: SparkSession, d: String): Seq[DataFrame] = {
    val c = Tables.customer(s, d)
    val k = col("c_custkey")
    Seq(
      c.filter(k % 3 =!= 0).select(
        k.cast(StringType).as("Connect_ID"), col("c_name").as("d_100000001"),
        col("c_mktsegment").as("D_100000002"), col("c_nationkey").cast(StringType).as("only_v1")),
      c.filter(k % 3 =!= 1).select(
        k.cast(StringType).as("Connect_ID"), col("c_mktsegment").as("d_100000001"),
        col("c_nationkey").cast(StringType).as("unique_v2")),
      c.filter(k % 5 === 0).select(
        k.cast(StringType).as("Connect_ID"), substring(col("c_name"), 1, 12).as("D_100000001"),
        (k % 7).cast(StringType).as("d_100000003")))
  }

  /** merge_table_versions: N-way full-outer fold on Connect_ID with
    * case-insensitive common-column coalescing (A5, A13). */
  val mergeTableVersions: QueryDef = QueryDef(
    "merge_table_versions",
    (s, d) => MergeTableVersions(mergeVersions(s, d)).orderBy(col("Connect_ID").cast("long")),
    Some(s"""WITH v1 AS (${mergeVersionsSql(0)}), v2 AS (${mergeVersionsSql(1)}), v3 AS (${mergeVersionsSql(2)})
      |SELECT
      |  COALESCE(v1.Connect_ID, v2.Connect_ID, v3.Connect_ID) AS Connect_ID,
      |  COALESCE(v1.d_100000001, v2.d_100000001, v3.D_100000001) AS d_100000001,
      |  v1.D_100000002 AS d_100000002,
      |  v1.only_v1 AS only_v1,
      |  v2.unique_v2 AS unique_v2,
      |  v3.d_100000003 AS d_100000003
      |FROM v1
      |FULL OUTER JOIN v2 ON v1.Connect_ID = v2.Connect_ID
      |FULL OUTER JOIN v3 ON COALESCE(v1.Connect_ID, v2.Connect_ID) = v3.Connect_ID
      |ORDER BY CAST(COALESCE(v1.Connect_ID, v2.Connect_ID, v3.Connect_ID) AS BIGINT)""".stripMargin))

  /** merge_table_versions_strict: the reference's LITERAL base-anchored
    * join chain (core/transformations.py:126-136) — keys in v1∩v2 but
    * absent from the base v3 emit one row per version instead of
    * merging (§2.C-1's documented divergence, now offered behind the
    * `strict` flag for byte-for-byte reference replay). */
  val mergeTableVersionsStrict: QueryDef = QueryDef(
    "merge_table_versions_strict",
    (s, d) => MergeTableVersions(mergeVersions(s, d), strict = true)
      .orderBy(col("Connect_ID").cast("long")),
    Some(s"""WITH v1 AS (${mergeVersionsSql(0)}), v2 AS (${mergeVersionsSql(1)}), v3 AS (${mergeVersionsSql(2)})
      |SELECT
      |  COALESCE(v1.Connect_ID, v2.Connect_ID, v3.Connect_ID) AS Connect_ID,
      |  COALESCE(v1.d_100000001, v2.d_100000001, v3.D_100000001) AS d_100000001,
      |  v1.D_100000002 AS d_100000002,
      |  v1.only_v1 AS only_v1,
      |  v2.unique_v2 AS unique_v2,
      |  v3.d_100000003 AS d_100000003
      |FROM v3
      |FULL OUTER JOIN v2 ON v3.Connect_ID = v2.Connect_ID
      |FULL OUTER JOIN v1 ON v3.Connect_ID = v1.Connect_ID
      |ORDER BY CAST(COALESCE(v1.Connect_ID, v2.Connect_ID, v3.Connect_ID) AS BIGINT)""".stripMargin))

  // ---- merge_table_versions_wide: the reference's ACTUAL workload shape —
  // merging survey table versions with hundreds of shared columns. 400
  // shared d_7xxxxxxx columns + one unique column per side; Spark
  // derivation and oracle generated from the same spec (as with the other
  // wide gates) so the sides cannot drift.

  private val wideMergeN = 400

  private def wideMergeVersions(s: SparkSession, d: String): Seq[DataFrame] = {
    val k = col("o_orderkey")
    val o = Tables.orders(s, d).filter(k % 10 === 0)
    def side(keyPred: Column, nullMod: Int, valBase: Int, valSpan: Int, unique: String) =
      o.filter(keyPred).select(
        (k.cast(StringType).as("Connect_ID") +:
          (0 until wideMergeN).map { i =>
            when((k + lit(i)) % nullMod === 0, lit(null).cast(StringType))
              .otherwise((k % (valBase + (i % valSpan))).cast(StringType))
              .as(s"d_${700000000 + i}")
          }) :+ (k % 13).cast(StringType).as(unique): _*)
    Seq(
      side(k % 3 =!= 0, nullMod = 7, valBase = 2, valSpan = 9, unique = "only_v1_wide"),
      side(k % 3 =!= 1, nullMod = 5, valBase = 3, valSpan = 8, unique = "unique_v2_wide"))
  }

  private def wideMergeVersionSql(keyPred: String, nullMod: Int, valBase: Int,
      valSpan: Int, unique: String): String = {
    val cols = (0 until wideMergeN).map { i =>
      s"CASE WHEN (o_orderkey + $i) % $nullMod = 0 THEN NULL " +
        s"ELSE CAST(o_orderkey % ${valBase + (i % valSpan)} AS VARCHAR) END AS d_${700000000 + i}"
    }
    s"""SELECT CAST(o_orderkey AS VARCHAR) AS Connect_ID,
       |  ${cols.mkString(",\n  ")},
       |  CAST(o_orderkey % 13 AS VARCHAR) AS $unique
       |FROM orders WHERE o_orderkey % 10 = 0 AND $keyPred""".stripMargin
  }

  /** Wide merge gate: the full-outer fold + 400-column case-insensitive
    * coalesce at the width where the reference actually operates (its
    * inputs are multi-thousand-column survey exports). One sort-merge
    * join (full-outer can't broadcast), a single 400-coalesce Project on
    * top — the same plan shape TableIOSpec proves goes exchange-free
    * when the versions are pre-bucketed by Connect_ID. */
  val mergeTableVersionsWide: QueryDef = QueryDef(
    "merge_table_versions_wide",
    (s, d) => {
      // 400, not 550: this gate's 402-CASE version derivations are its
      // widest COMPILABLE-candidate spans and they too overflow janino
      // (measured: 4 failed compiles per run at 550, none at 400)
      codegenCeiling(s, 400)
      MergeTableVersions(wideMergeVersions(s, d))
        .orderBy(col("Connect_ID").cast("long"))
    },
    Some {
      val coalesced = (0 until wideMergeN).map { i =>
        val c = s"d_${700000000 + i}"
        s"COALESCE(v1.$c, v2.$c) AS $c"
      }
      s"""WITH v1 AS (${wideMergeVersionSql("o_orderkey % 3 <> 0", 7, 2, 9, "only_v1_wide")}),
        |v2 AS (${wideMergeVersionSql("o_orderkey % 3 <> 1", 5, 3, 8, "unique_v2_wide")})
        |SELECT
        |  COALESCE(v1.Connect_ID, v2.Connect_ID) AS Connect_ID,
        |  ${coalesced.mkString(",\n  ")},
        |  v1.only_v1_wide AS only_v1_wide,
        |  v2.unique_v2_wide AS unique_v2_wide
        |FROM v1
        |FULL OUTER JOIN v2 ON v1.Connect_ID = v2.Connect_ID
        |ORDER BY CAST(COALESCE(v1.Connect_ID, v2.Connect_ID) AS BIGINT)""".stripMargin
    })

  /** merge_table_versions_bucketed: the flagship 100 TB claim for the
    * reference surface, driver-gated end-to-end instead of spec-only —
    * both version tables are first WRITTEN bucketed + sorted by
    * Connect_ID ([[graft.sources.TableIO.replaceBucketed]], external
    * path so catalog-less sessions keep data out of the process cwd),
    * and the full-outer merge then reads co-bucketed files: ZERO
    * hashpartitioning exchanges anywhere in the plan (PlanAuditSpec
    * pin) — at 100 TB the merge moves no rows over the network, where
    * the reference pays a BigQuery shuffle per join. Values are
    * byte-identical to the unbucketed fold, so the oracle is the
    * 2-way restriction of merge_table_versions's. */
  val mergeTableVersionsBucketed: QueryDef = QueryDef(
    "merge_table_versions_bucketed",
    (s, d) => {
      val versions = mergeVersions(s, d).take(2)
      // session-suffixed name/path: concurrent runs on one machine must
      // not clobber each other's tables mid-query
      val tok = graft.sources.TableIO.sessionToken(s)
      val base = graft.sources.TableIO.scratchDir(s, "bucketed_mtv")
      versions.zipWithIndex.foreach { case (v, i) =>
        graft.sources.TableIO.replaceBucketed(v, s"graft_mtv_bucketed_${tok}_v${i + 1}",
          Seq("Connect_ID"), buckets = 8, path = Some(s"$base/v${i + 1}"))
      }
      MergeTableVersions(Seq(
        graft.sources.TableIO.readTable(s, s"graft_mtv_bucketed_${tok}_v1"),
        graft.sources.TableIO.readTable(s, s"graft_mtv_bucketed_${tok}_v2")))
        .orderBy(col("Connect_ID").cast("long"))
    },
    Some(s"""WITH v1 AS (${mergeVersionsSql(0)}), v2 AS (${mergeVersionsSql(1)})
      |SELECT
      |  COALESCE(v1.Connect_ID, v2.Connect_ID) AS Connect_ID,
      |  COALESCE(v1.d_100000001, v2.d_100000001) AS d_100000001,
      |  v1.D_100000002 AS d_100000002,
      |  v1.only_v1 AS only_v1,
      |  v2.unique_v2 AS unique_v2
      |FROM v1
      |FULL OUTER JOIN v2 ON v1.Connect_ID = v2.Connect_ID
      |ORDER BY CAST(COALESCE(v1.Connect_ID, v2.Connect_ID) AS BIGINT)""".stripMargin))

  // ---- sensitive tier: fixed 18-column projection over an orders-derived table

  val sensitiveTier: QueryDef = {
    val cids = graft.config.Constants.SensitiveTierColumns.tail // 17 d_* columns
    QueryDef(
      "sensitive_tier",
      (s, d) => {
        val o = Tables.orders(s, d)
        val k = col("o_orderkey")
        val derived = o.select(
          (k.cast(StringType).as("Connect_ID") +:
            cids.zipWithIndex.map { case (c, i) => (k % (i + 2)).cast(StringType).as(c) }) :+
            col("o_orderpriority").as("extra_column"): _*)
        SensitiveTier(derived).orderBy(col("CONNECT_ID").cast("long"))
      },
      Some {
        val derivedCols = cids.zipWithIndex
          .map { case (c, i) => s"CAST(o_orderkey % ${i + 2} AS VARCHAR) AS $c" }
          .mkString(",\n    ")
        s"""WITH s AS (
          |  SELECT CAST(o_orderkey AS VARCHAR) AS Connect_ID,
          |    $derivedCols,
          |    o_orderpriority AS extra_column
          |  FROM orders)
          |SELECT Connect_ID AS CONNECT_ID, ${cids.mkString(", ")}
          |FROM s ORDER BY CAST(Connect_ID AS BIGINT)""".stripMargin
      })
  }

  /** maintenance_compact: the lakehouse small-files maintenance pass,
    * driver-gated end-to-end — the orders projection is deliberately
    * fragmented into 64 tiny files (the streaming-writer pathology),
    * [[graft.sources.TableIO.compact]] rewrites the directory into
    * ⌈rows/rowsPerFile⌉ files through the rename-aside swap, and the
    * query returns the compacted table's CONTENT. The oracle is the
    * ORIGINAL table: a green row proves compaction is exactly
    * content-preserving. The file-count contract (32 → 2) and swap
    * crash-safety are pinned in TableIOSpec. */
  val maintenanceCompact: QueryDef = QueryDef(
    "maintenance_compact",
    (s, d) => {
      val path = graft.sources.TableIO.scratchDir(s, "compact/orders")
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .repartition(64)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
      graft.sources.TableIO.compact(s, path, rowsPerFile = 200000)
      s.read.parquet(path).orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders ORDER BY o_orderkey""".stripMargin))

  /** maintenance_zorder: the OTHER lakehouse maintenance rewrite,
    * driver-gated the same way as [[maintenanceCompact]] — the orders
    * projection is Z-order re-clustered on (o_orderkey, o_custkey)
    * ([[graft.sources.TableIO.replaceZOrdered]]: Morton-interleave the
    * low bits, range-repartition + in-partition sort on the code) and
    * the query returns the re-clustered table's CONTENT against the
    * original-table oracle: layout rewrites must never change data.
    * The pruning value of the layout (per-file bounding boxes on BOTH
    * dims) is pinned in TableIOSpec. */
  val maintenanceZorder: QueryDef = QueryDef(
    "maintenance_zorder",
    (s, d) => {
      val path = graft.sources.TableIO.scratchDir(s, "zorder/orders")
      graft.sources.TableIO.replaceZOrdered(
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        path, "o_orderkey", "o_custkey", numFiles = 4, bits = 16)
      s.read.parquet(path).orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders ORDER BY o_orderkey""".stripMargin))

  /** ingest_csv_dirty: the QUARANTINE contract extended to text ingest —
    * the decodeImagesSafe posture for CSV. A deliberately dirty corpus
    * is generated with all three corruption classes a 100 TB crawl
    * delivers (type violation in a numeric field, truncated line, extra
    * tokens), read in PERMISSIVE mode with a corrupt-record column, and
    * every row comes back either parsed or FLAGGED — one bad line never
    * kills an ingest stage. The oracle replays Spark's documented
    * PERMISSIVE semantics closed-form: malformed fields null out, the
    * parseable fields of a corrupt line survive, and `bad` marks exactly
    * the corrupted ids (semantics probed and pinned: type-violation rows
    * keep v but null id; truncated rows null the missing v; extra-token
    * rows parse fully — all three flag). */
  val ingestCsvDirty: QueryDef = QueryDef(
    "ingest_csv_dirty",
    (s, d) => {
      val path = graft.sources.TableIO.scratchDir(s, "csv_dirty")
      Tables.documents(s, d).select(
        when(col("doc_id") % 7 === 0,
            concat(lit("notanum,v"), col("doc_id")))            // type violation
          .when(col("doc_id") % 11 === 0,
            col("doc_id").cast(StringType))                     // truncated line
          .when(col("doc_id") % 13 === 0,
            concat(col("doc_id").cast(StringType), lit(",v"),
              col("doc_id"), lit(",extra")))                    // extra tokens
          .otherwise(concat(col("doc_id").cast(StringType), lit(",v"),
            col("doc_id")))
          .as("value"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).text(path)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v", StringType),
        org.apache.spark.sql.types.StructField("_corrupt", StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
        .select(col("id"), col("v"), col("_corrupt").isNotNull.as("bad"))
        .orderBy(col("id"), col("v"))
    },
    Some("""SELECT
      |  CASE WHEN doc_id % 7 = 0 THEN NULL ELSE doc_id END AS id,
      |  CASE WHEN doc_id % 7 <> 0 AND doc_id % 11 = 0 THEN NULL
      |       ELSE concat('v', CAST(doc_id AS VARCHAR)) END AS v,
      |  (doc_id % 7 = 0 OR doc_id % 11 = 0 OR doc_id % 13 = 0) AS bad
      |FROM documents ORDER BY id, v""".stripMargin))

  /** ingest_schema_evolution: the file-level schema-drift read
    * ([[graft.sources.TableIO.readParquetMerged]]) driver-gated — two
    * table "versions" written with DIFFERENT schemas (v1 has column a,
    * v2 has column b, the survey-export reality at the file level) are
    * read as one relation with the union schema; columns absent from a
    * file come back null. The oracle recomputes the merged relation
    * closed-form from the source table. */
  val ingestSchemaEvolution: QueryDef = QueryDef(
    "ingest_schema_evolution",
    (s, d) => {
      val base = graft.sources.TableIO.scratchDir(s, "schemaevo")
      val docs = Tables.documents(s, d)
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("source").as("a"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$base/v1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), length(col("text")).cast("long").as("b"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$base/v2")
      graft.sources.TableIO.readParquetMerged(s, s"$base/v1", s"$base/v2")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN source END AS a,
      |  CASE WHEN doc_id % 2 = 1 THEN CAST(length(text) AS BIGINT) END AS b
      |FROM documents ORDER BY doc_id""".stripMargin))

  /** maintenance_incremental_agg: incremental materialized-view
    * maintenance — the third lakehouse maintenance pass. The
    * "historical" 90% of orders is aggregated ONCE into a persisted
    * partial-aggregate MV (count + decimal sum per priority: mergeable
    * states), then a delta ingest merges ONLY the new rows' partials
    * with the MV — the historical data is never rescanned. The oracle is
    * the full recompute over everything, so a green row proves
    * partial-merge == recompute exactly (decimal arithmetic, no float
    * drift). At 100 TB this is THE pattern for keeping corpus-level
    * stats current: per-batch cost is O(delta) + O(groups), not
    * O(corpus); a PlanAuditSpec pin holds the merged plan to one orders
    * scan (the delta) plus the tiny MV scan. */
  val maintenanceIncrementalAgg: QueryDef = QueryDef(
    "maintenance_incremental_agg",
    (s, d) => {
      val money = org.apache.spark.sql.types.DecimalType(18, 2)
      val path = graft.sources.TableIO.scratchDir(s, "incr_agg/orders_mv")
      def partials(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast(money)).as("sum_price"))
      val orders = Tables.orders(s, d)
      partials(orders.filter(col("o_orderkey") % 10 =!= 0))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
      s.read.parquet(path)
        .unionByName(partials(orders.filter(col("o_orderkey") % 10 === 0)))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("n_rows")).as("n_rows"),
          sum(col("sum_price")).cast("double").as("sum_price"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, count(*) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))

  /** CDC MERGE INTO ([[graft.sources.TableIO.mergePartitioned]]): orders
    * lands year-partitioned minus a 1997 slice, then ONE changelog batch
    * (inserts = the held-out slice, updates = +100.00 on every
    * `key % 10 == 1` 1997 order, deletes = every `key % 10 == 2` 1997
    * order) merges in. Only the 1997 directory is read (partition-pruned
    * scan) and rewritten (dynamic overwrite) — the other 6 years keep
    * their original files byte-for-byte, pinned by listing in
    * TableIOSpec; per-batch cost is O(touched partition)+O(changes),
    * never O(table). The oracle recomputes the post-merge table
    * closed-form from the original orders; prices ride DECIMAL(18,2) so
    * update arithmetic and the audit sums are engine-exact. */
  val maintenanceMergeUpsert: QueryDef = QueryDef(
    "maintenance_merge_upsert",
    (s, d) => {
      val money = org.apache.spark.sql.types.DecimalType(18, 2)
      val path = graft.sources.TableIO.scratchDir(s, "merge_upsert/orders")
      val orders = Tables.orders(s, d).select(
        col("o_orderkey"),
        col("o_totalprice").cast(money).as("o_totalprice"),
        year(col("o_orderdate")).cast("int").as("o_year"))
      graft.sources.TableIO.replacePartitioned(
        orders.filter(!(col("o_orderkey") % 10 === 0 && col("o_year") === 1997)),
        path, Seq("o_year"))
      val y97 = orders.filter(col("o_year") === 1997)
      val changes =
        y97.filter(col("o_orderkey") % 10 === 0).withColumn("op", lit("I"))
          .unionByName(y97.filter(col("o_orderkey") % 10 === 1)
            .withColumn("o_totalprice",
              (col("o_totalprice") + lit(100)).cast(money))
            .withColumn("op", lit("U")))
          .unionByName(y97.filter(col("o_orderkey") % 10 === 2)
            .withColumn("op", lit("D")))
      graft.sources.TableIO.mergePartitioned(s, path, "o_year", "o_orderkey",
        changes)
      s.read.parquet(path)
        .groupBy(col("o_year"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice")).cast("double").as("sum_price"))
        .select(col("o_year").cast("long").as("o_year"),
          col("n_rows"), col("sum_price"))
        .orderBy("o_year")
    },
    Some("""WITH eff AS (
      |  SELECT o_orderkey, year(o_orderdate) AS o_year,
      |    CASE WHEN o_orderkey % 10 = 1 AND year(o_orderdate) = 1997
      |      THEN CAST(o_totalprice AS DECIMAL(18,2)) + 100
      |      ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS p
      |  FROM orders
      |  WHERE NOT (o_orderkey % 10 = 2 AND year(o_orderdate) = 1997))
      |SELECT CAST(o_year AS BIGINT) AS o_year, count(*) AS n_rows,
      |  CAST(sum(p) AS DOUBLE) AS sum_price
      |FROM eff GROUP BY o_year ORDER BY o_year""".stripMargin))

  /** ANALYZE-TABLE column statistics (the stats pass a cost-based
    * optimizer and a data-quality dashboard both feed on): per column of
    * orders — row count, null count, exact NDV, and min/max mapped to an
    * INTEGER domain per type class (keys raw, money in cents, timestamps
    * in epoch micros, strings NDV-only) so every statistic is exact
    * integer arithmetic with zero cross-engine formatting risk (double/
    * timestamp → string rendering differs between engines; integers
    * don't). ONE aggregation pass over the table — the multi-column
    * conditional-aggregate shape of the profiling family — unpivoted to
    * a (column, stats) report. */
  val maintenanceAnalyzeStats: QueryDef = QueryDef(
    "maintenance_analyze_stats",
    (s, d) => {
      val o = Tables.orders(s, d)
      val aggd = o.agg(
        count(lit(1)).as("n"),
        countDistinct(col("o_orderkey")).as("ndv_orderkey"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("nn_orderkey"),
        min(col("o_orderkey")).as("mn_orderkey"),
        max(col("o_orderkey")).as("mx_orderkey"),
        countDistinct(col("o_custkey")).as("ndv_custkey"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("nn_custkey"),
        min(col("o_custkey")).as("mn_custkey"),
        max(col("o_custkey")).as("mx_custkey"),
        countDistinct(col("o_totalprice")).as("ndv_totalprice"),
        sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("nn_totalprice"),
        min(round(col("o_totalprice") * 100).cast("long")).as("mn_totalprice"),
        max(round(col("o_totalprice") * 100).cast("long")).as("mx_totalprice"),
        countDistinct(col("o_orderdate")).as("ndv_orderdate"),
        sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("nn_orderdate"),
        min(unix_micros(col("o_orderdate").cast("timestamp"))).as("mn_orderdate"),
        max(unix_micros(col("o_orderdate").cast("timestamp"))).as("mx_orderdate"),
        countDistinct(col("o_orderstatus")).as("ndv_orderstatus"),
        sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L)).as("nn_orderstatus"),
        countDistinct(col("o_orderpriority")).as("ndv_orderpriority"),
        sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L)).as("nn_orderpriority"))
      aggd.select(expr(
        """stack(6,
          |  'o_custkey', n, nn_custkey, ndv_custkey, mn_custkey, mx_custkey,
          |  'o_orderdate', n, nn_orderdate, ndv_orderdate, mn_orderdate, mx_orderdate,
          |  'o_orderkey', n, nn_orderkey, ndv_orderkey, mn_orderkey, mx_orderkey,
          |  'o_orderpriority', n, nn_orderpriority, ndv_orderpriority, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
          |  'o_orderstatus', n, nn_orderstatus, ndv_orderstatus, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
          |  'o_totalprice', n, nn_totalprice, ndv_totalprice, mn_totalprice, mx_totalprice
          |) AS (column_name, n_rows, n_null, ndv, min_i, max_i)""".stripMargin))
        .orderBy("column_name")
    },
    Some("""WITH a AS (
      |  SELECT count(*) AS n,
      |    count(DISTINCT o_orderkey) AS ndv_orderkey,
      |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_orderkey,
      |    min(o_orderkey) AS mn_orderkey, max(o_orderkey) AS mx_orderkey,
      |    count(DISTINCT o_custkey) AS ndv_custkey,
      |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_custkey,
      |    min(o_custkey) AS mn_custkey, max(o_custkey) AS mx_custkey,
      |    count(DISTINCT o_totalprice) AS ndv_totalprice,
      |    CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_totalprice,
      |    min(CAST(round(o_totalprice * 100) AS BIGINT)) AS mn_totalprice,
      |    max(CAST(round(o_totalprice * 100) AS BIGINT)) AS mx_totalprice,
      |    count(DISTINCT o_orderdate) AS ndv_orderdate,
      |    CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_orderdate,
      |    min(epoch_us(o_orderdate)) AS mn_orderdate, max(epoch_us(o_orderdate)) AS mx_orderdate,
      |    count(DISTINCT o_orderstatus) AS ndv_orderstatus,
      |    CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_orderstatus,
      |    count(DISTINCT o_orderpriority) AS ndv_orderpriority,
      |    CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_orderpriority
      |  FROM orders)
      |SELECT column_name, n AS n_rows, n_null, ndv, min_i, max_i FROM (
      |  SELECT 'o_custkey' AS column_name, n, nn_custkey AS n_null, ndv_custkey AS ndv, mn_custkey AS min_i, mx_custkey AS max_i FROM a
      |  UNION ALL SELECT 'o_orderdate', n, nn_orderdate, ndv_orderdate, mn_orderdate, mx_orderdate FROM a
      |  UNION ALL SELECT 'o_orderkey', n, nn_orderkey, ndv_orderkey, mn_orderkey, mx_orderkey FROM a
      |  UNION ALL SELECT 'o_orderpriority', n, nn_orderpriority, ndv_orderpriority, NULL, NULL FROM a
      |  UNION ALL SELECT 'o_orderstatus', n, nn_orderstatus, ndv_orderstatus, NULL, NULL FROM a
      |  UNION ALL SELECT 'o_totalprice', n, nn_totalprice, ndv_totalprice, mn_totalprice, mx_totalprice FROM a)
      |ORDER BY column_name""".stripMargin))

  /** ingest_partitioned: hive-style directory partitioning driver-gated
    * end-to-end — orders is written one directory per priority
    * ([[graft.sources.TableIO.replacePartitioned]], dynamic overwrite)
    * and read back under a partition-column filter. The oracle is the
    * filtered original, so a green row proves the layout rewrite loses
    * nothing and the filter semantics survive the column's round trip
    * through directory names (string-typed on read-back). The pruning
    * itself — the scan's PartitionFilters entry, directories never
    * opened — is pinned in PlanAuditSpec: at 100 TB this is the primary
    * lever that turns a full-corpus scan into one directory's worth of
    * IO. */
  val ingestPartitioned: QueryDef = QueryDef(
    "ingest_partitioned",
    (s, d) => {
      val path = graft.sources.TableIO.scratchDir(s, "partitioned/orders")
      graft.sources.TableIO.replacePartitioned(
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority")),
        path, Seq("o_orderpriority"))
      s.read.parquet(path)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_orderpriority = '1-URGENT' ORDER BY o_orderkey""".stripMargin))

  /** ingest_jsonl: the JSON-lines interchange format round-tripped — the
    * corpus (with a NESTED metadata struct, the shape crawl dumps
    * actually have) is written as JSONL, read back under an explicit
    * schema, and the nested fields projected out. Gates the JSON
    * source/sink pair plus nested-field access; the oracle recomputes
    * the projection closed-form from the parquet original, so any
    * serialization loss (type coercion, field drop, encoding) fails the
    * hash. Schema-on-read, not inference: at 100 TB an inferred-schema
    * pass over JSONL is a full extra scan. */
  val ingestJsonl: QueryDef = QueryDef(
    "ingest_jsonl",
    (s, d) => {
      val path = graft.sources.TableIO.scratchDir(s, "jsonl/docs")
      Tables.documents(s, d)
        .select(col("doc_id"),
          struct(col("source"), col("n_chars")).as("meta"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).json(path)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("meta",
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("source", StringType),
            org.apache.spark.sql.types.StructField("n_chars",
              org.apache.spark.sql.types.LongType))))))
      s.read.schema(schema).json(path)
        .select(col("doc_id"), col("meta.source").as("meta_source"),
          col("meta.n_chars").as("meta_n_chars"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, source AS meta_source, n_chars AS meta_n_chars
      |FROM documents ORDER BY doc_id""".stripMargin))

  /** ingest_xml: the XML interchange format round-tripped through
    * Spark 4's NATIVE XML source (the spark-xml package merged into
    * sql/core — no extra dependency): the corpus including the full
    * free-text body is written `rowTag`-per-document, read back under an
    * explicit schema (schema-on-read, same rationale as ingest_jsonl),
    * and gated value-for-value against the parquet original — so entity
    * escaping (&, <, quotes), multi-line text bodies, and numeric
    * round-tripping are all on the hook. `ignoreSurroundingSpaces=false`
    * keeps element text verbatim rather than XML-whitespace-trimmed:
    * feed-shaped corpora (arXiv, PubMed, Wikipedia dumps) are exactly
    * where a trimmed byte silently corrupts the document store. */
  val ingestXml: QueryDef = QueryDef(
    "ingest_xml",
    (s, d) => {
      val path = graft.sources.TableIO.scratchDir(s, "xml/docs")
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"), col("text"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .format("xml").option("rowTag", "doc").save(path)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lang", StringType),
        org.apache.spark.sql.types.StructField("source", StringType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", StringType)))
      s.read.schema(schema)
        .option("rowTag", "doc")
        .option("ignoreSurroundingSpaces", "false")
        .format("xml").load(path)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"), col("text"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, lang, source, n_chars, text
      |FROM documents ORDER BY doc_id""".stripMargin))

  /** maintenance_vacuum: the [[graft.sources.TableIO.vacuum]] heal-then-
    * clean pass driven through a SIMULATED mid-swap crash — live path
    * renamed aside (the crash window between compact()'s two renames)
    * with a stranded tmp rewrite. Vacuum must restore the live path
    * from `.compact-old` FIRST and only then delete debris; the gate is
    * the table's full content vs the source recompute, so a vacuum that
    * deleted the wrong side would hash-mismatch, not just fail a flag
    * check. At 100 TB this is the janitor every rename-swap protocol
    * needs: crash residue accumulates storage forever and (worse) a
    * later compact() could self-heal from a STALE `.compact-old` if
    * debris from an old generation lingered. */
  val maintenanceVacuum: QueryDef = QueryDef(
    "maintenance_vacuum",
    (s, d) => {
      val money = org.apache.spark.sql.types.DecimalType(18, 2)
      val path = graft.sources.TableIO.scratchDir(s, "vacuum/orders")
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
      val hconf = s.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(hconf)
      val old = new org.apache.hadoop.fs.Path(path + ".compact-old")
      val tmp = new org.apache.hadoop.fs.Path(path + ".compact-tmp")
      fs.delete(old, true)
      require(fs.rename(p, old), "crash staging rename failed")
      fs.mkdirs(tmp)
      val (restored, removed) = graft.sources.TableIO.vacuum(s, path)
      require(restored && removed >= 1,
        s"vacuum did not heal the crash state: restored=$restored removed=$removed")
      s.read.parquet(path)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast(money)).cast("double").as("sum_price"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, count(*) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin))

  /** maintenance_snapshot: the manifest-pointer transactional layer
    * ([[graft.sources.SnapshotTable]]) driver-gated end-to-end — the
    * atomic-by-construction successor to the rename-aside swap. The
    * gate drives the full lifecycle: commit v1 (full projection),
    * commit v2 (halved content — proves the pointer advanced), compact
    * to v3 (layout rewrite under snapshot isolation), time-travel back
    * to v1 pre-vacuum, vacuum keepLast=2 (v1 reclaimed, v2/v3 retained),
    * then returns per-retained-snapshot (rows, decimal sum) — a green
    * row proves compact preserved content exactly (v3 == v2) AND vacuum
    * deleted only the right generation. The zero-retry reader-isolation
    * guarantee (plain reads racing 20 live compactions + vacuums) is
    * pinned in SnapshotTableSpec. Reference anchor: atomic
    * `CREATE OR REPLACE TABLE` (`core/transformations.py:149`) — this
    * is that contract for a path-based lake, plus BigQuery's implicit
    * reader isolation made explicit. */
  val maintenanceSnapshot: QueryDef = QueryDef(
    "maintenance_snapshot",
    (s, d) => {
      val money = org.apache.spark.sql.types.DecimalType(18, 2)
      val (_, root) = graft.sources.TableIO.freshScratchDir(s, "snapshot/orders")
      val orders = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast(money).as("o_totalprice"))
      graft.sources.SnapshotTable.commit(orders, root)
      graft.sources.SnapshotTable.commit(
        orders.filter(col("o_orderkey") % 2 === 0).repartition(16), root)
      graft.sources.SnapshotTable.compact(s, root, rowsPerFile = 200000)
      require(graft.sources.SnapshotTable.readAt(s, root, 1L).count() ==
        orders.count(), "time travel to v1 lost rows")
      val removed = graft.sources.SnapshotTable.vacuum(s, root, keepLast = 2)
      require(removed == 1 &&
        graft.sources.SnapshotTable.snapshots(s, root) == Seq(2L, 3L),
        "vacuum reclaimed the wrong generation")
      Seq(2L, 3L).map(id =>
          graft.sources.SnapshotTable.readAt(s, root, id)
            .withColumn("snap_id", lit(id)))
        .reduce(_ unionByName _)
        .groupBy(col("snap_id"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice")).cast("double").as("sum_price"))
        .orderBy("snap_id")
    },
    Some("""WITH evens AS (
      |  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS p
      |  FROM orders WHERE o_orderkey % 2 = 0)
      |SELECT s.snap_id, count(*) AS n_rows, CAST(sum(p) AS DOUBLE) AS sum_price
      |FROM (SELECT CAST(2 AS BIGINT) AS snap_id UNION ALL SELECT 3) s
      |CROSS JOIN evens GROUP BY s.snap_id ORDER BY snap_id""".stripMargin))

  /** maintenance_snapshot_append: the O(delta) ingest path of the
    * manifest-pointer layer ([[graft.sources.SnapshotTable.append]]) —
    * a manifest is a FILE LIST, so appending writes ONLY the delta rows
    * into a fresh immutable dir and lists `previous dirs + new dir`:
    * an O(delta) commit at any table size, nothing existing rewritten.
    * The gate builds a 3-snapshot append chain (orders split by
    * o_orderkey mod 3), structurally verifies the chain (snapshot N
    * lists exactly N dirs; the O(delta) CDC fast path
    * [[graft.sources.SnapshotTable.appendedBetween]] reads exactly the
    * rows added after snapshot 1 without touching the base), then
    * value-gates every snapshot's time-travel state in one result.
    * Reference anchor: the reference's pipeline is full-replace only
    * (`core/transformations.py:149`) — append is the capability a
    * continuously-ingesting lake adds on top. */
  val maintenanceSnapshotAppend: QueryDef = QueryDef(
    "maintenance_snapshot_append",
    (s, d) => {
      val money = org.apache.spark.sql.types.DecimalType(18, 2)
      val (_, root) = graft.sources.TableIO.freshScratchDir(s, "snapshot/orders_append")
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_totalprice").cast(money).as("o_totalprice"))
      graft.sources.SnapshotTable.commit(
        orders.filter(col("o_orderkey") % 3 === 0), root)
      graft.sources.SnapshotTable.append(
        orders.filter(col("o_orderkey") % 3 === 1), root)
      graft.sources.SnapshotTable.append(
        orders.filter(col("o_orderkey") % 3 === 2), root)
      require(graft.sources.SnapshotTable.dirsAt(s, root, 3L).size == 3,
        "append rewrote the chain instead of adding one dir per commit")
      // O(delta) CDC fast path: the dirs added in (1, 3] hold exactly
      // the mod-3 in {1,2} rows — read WITHOUT scanning the base dir
      val deltaRows = graft.sources.SnapshotTable
        .appendedBetween(s, root, 1L, 3L).count()
      val wantDelta = orders.filter(col("o_orderkey") % 3 =!= 0).count()
      require(deltaRows == wantDelta,
        s"appendedBetween read $deltaRows rows, expected $wantDelta")
      Seq(1L, 2L, 3L).map(id =>
          graft.sources.SnapshotTable.readAt(s, root, id)
            .withColumn("snap_id", lit(id)))
        .reduce(_ unionByName _)
        .groupBy(col("snap_id"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice")).cast("double").as("sum_price"))
        .orderBy("snap_id")
    },
    Some("""WITH p AS (
      |  SELECT o_orderkey % 3 AS m, CAST(o_totalprice AS DECIMAL(18,2)) AS p
      |  FROM orders)
      |SELECT CAST(s.snap_id AS BIGINT) AS snap_id, count(*) AS n_rows,
      |  CAST(sum(p.p) AS DOUBLE) AS sum_price
      |FROM (SELECT 1 AS snap_id UNION ALL SELECT 2 UNION ALL SELECT 3) s
      |JOIN p ON p.m <= s.snap_id - 1
      |GROUP BY s.snap_id ORDER BY snap_id""".stripMargin))

  /** maintenance_snapshot_cdc: general row-level change capture between
    * two retained snapshots ([[graft.sources.SnapshotTable.diff]]) —
    * one full-outer join on the key with null-safe value comparison,
    * classifying every row as insert / delete / update and dropping the
    * unchanged majority. This is the arbitrary-rewrite complement of
    * the O(delta) append fast path: v2 deletes every 7th key, bumps the
    * price of the surviving 5th keys, and inserts shifted keys for
    * every 11th — the gate value-pins the per-class counts and key
    * sums, the oracle recomputes the change sets closed-form. Scale:
    * the diff shuffles both states on the key — the honest lower bound
    * for comparing two arbitrary table versions. */
  val maintenanceSnapshotCdc: QueryDef = QueryDef(
    "maintenance_snapshot_cdc",
    (s, d) => {
      val money = org.apache.spark.sql.types.DecimalType(18, 2)
      val (_, root) = graft.sources.TableIO.freshScratchDir(s, "snapshot/orders_cdc")
      val v1 = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_totalprice").cast(money).as("o_totalprice"))
      val v2 = v1.filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 5 === 0,
            (col("o_totalprice") + lit(1)).cast(money))
            .otherwise(col("o_totalprice")))
        .unionByName(v1.filter(col("o_orderkey") % 11 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("o_totalprice")))
      graft.sources.SnapshotTable.commit(v1, root)
      graft.sources.SnapshotTable.commit(v2, root)
      graft.sources.SnapshotTable.diff(s, root, 1L, 2L, Seq("o_orderkey"))
        .groupBy(col("change_type"))
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_key"))
        .orderBy("change_type")
    },
    Some("""WITH ch AS (
      |  SELECT o_orderkey, 'delete' AS change_type FROM orders
      |  WHERE o_orderkey % 7 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 'update' FROM orders
      |  WHERE o_orderkey % 7 <> 0 AND o_orderkey % 5 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, 'insert' FROM orders
      |  WHERE o_orderkey % 11 = 0)
      |SELECT change_type, count(*) AS n,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
      |FROM ch GROUP BY change_type ORDER BY change_type""".stripMargin))

  /** maintenance_snapshot_evolution: schema evolution over an append
    * chain — a later append carries a column the base commit never had
    * (`o_tier`), and the `mergeSchema` read unions the footer schemas
    * across the chain's immutable dirs so pre-evolution rows surface
    * NULL there (parquet's standard evolution contract; nothing is
    * rewritten — the base dir's files never change). The gate rolls the
    * merged table up by the evolved column with NULL-bucket accounting;
    * the oracle recomputes the union closed-form. This is the
    * add-a-column migration a continuously-ingesting lake performs
    * without a table rewrite — at 100 TB the alternative (rewriting
    * history to backfill a NULL column) is exactly the cost this
    * avoids. */
  val maintenanceSnapshotEvolution: QueryDef = QueryDef(
    "maintenance_snapshot_evolution",
    (s, d) => {
      val money = org.apache.spark.sql.types.DecimalType(18, 2)
      val (_, root) = graft.sources.TableIO.freshScratchDir(s, "snapshot/orders_evolve")
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_totalprice").cast(money).as("o_totalprice"))
      graft.sources.SnapshotTable.commit(
        orders.filter(col("o_orderkey") % 2 === 0), root)
      graft.sources.SnapshotTable.append(
        orders.filter(col("o_orderkey") % 2 === 1)
          .withColumn("o_tier",
            when(col("o_totalprice") >= 100000, lit("high")).otherwise(lit("low"))),
        root)
      graft.sources.SnapshotTable.read(s, root, mergeSchema = true)
        .groupBy(coalesce(col("o_tier"), lit("pre_evolution")).as("o_tier"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice")).cast("double").as("sum_price"))
        .orderBy("o_tier")
    },
    Some("""WITH u AS (
      |  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS p,
      |    CAST(NULL AS VARCHAR) AS o_tier
      |  FROM orders WHERE o_orderkey % 2 = 0
      |  UNION ALL
      |  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS p,
      |    CASE WHEN CAST(o_totalprice AS DECIMAL(18,2)) >= 100000
      |         THEN 'high' ELSE 'low' END AS o_tier
      |  FROM orders WHERE o_orderkey % 2 = 1)
      |SELECT coalesce(o_tier, 'pre_evolution') AS o_tier,
      |  count(*) AS n_rows, CAST(sum(p) AS DOUBLE) AS sum_price
      |FROM u GROUP BY 1 ORDER BY o_tier""".stripMargin))

  /** maintenance_snapshot_ivm: incremental view maintenance fed by the
    * snapshot layer's O(delta) CDC — the aggregate state is seeded from
    * the base commit, then each subsequent snapshot contributes ONLY
    * its [[graft.sources.SnapshotTable.appendedBetween]] delta
    * (partial-aggregate of the delta unioned into the state and
    * re-combined: count and sum are the canonical self-maintainable
    * aggregates). The maintained state is the gate's result and the
    * oracle is the FULL recompute over all rows — green means the
    * incremental path equals the from-scratch path exactly, the IVM
    * correctness statement. At 100 TB the full nightly re-aggregate is
    * the cost this kills: per refresh the engine touches O(delta) data
    * plus O(groups) state, never the accumulated table. */
  val maintenanceSnapshotIvm: QueryDef = QueryDef(
    "maintenance_snapshot_ivm",
    (s, d) => {
      val money = org.apache.spark.sql.types.DecimalType(18, 2)
      val (_, root) = graft.sources.TableIO.freshScratchDir(s, "snapshot/orders_ivm")
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_orderpriority"),
        col("o_totalprice").cast(money).as("o_totalprice"))
      graft.sources.SnapshotTable.commit(
        orders.filter(col("o_orderkey") % 3 === 0), root)
      graft.sources.SnapshotTable.append(
        orders.filter(col("o_orderkey") % 3 === 1), root)
      graft.sources.SnapshotTable.append(
        orders.filter(col("o_orderkey") % 3 === 2), root)
      def partial(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_totalprice")).as("sum_price"))
      // seed from the base snapshot, then fold in ONLY each delta's
      // partial aggregate — the accumulated table is never re-read
      val state = (2L to 3L).foldLeft(
          partial(graft.sources.SnapshotTable.readAt(s, root, 1L))) {
        case (st, id) =>
          st.unionByName(partial(
              graft.sources.SnapshotTable.appendedBetween(s, root, id - 1, id)))
            .groupBy(col("o_orderpriority"))
            .agg(sum(col("n_rows")).as("n_rows"),
              sum(col("sum_price")).as("sum_price"))
      }
      state.select(col("o_orderpriority"), col("n_rows"),
          col("sum_price").cast("double").as("sum_price"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, count(*) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))

  /** maintenance_schema_drift: the pre-migration audit
    * ([[graft.sources.SnapshotTable.schemaDrift]]) — every column
    * added, removed, or retyped between two retained snapshots, from
    * parquet footer METADATA only (merged across each snapshot's dirs,
    * so append-chain evolution is visible; no data read). The gate
    * replaces v1 (key, priority, decimal price) with v2 (key, price
    * retyped to double, a new tier column) and pins the three-row drift
    * report; the oracle is the closed-form expectation. */
  val maintenanceSchemaDrift: QueryDef = QueryDef(
    "maintenance_schema_drift",
    (s, d) => {
      val money = org.apache.spark.sql.types.DecimalType(18, 2)
      val (_, root) = graft.sources.TableIO.freshScratchDir(s, "snapshot/orders_drift")
      val orders = Tables.orders(s, d)
      graft.sources.SnapshotTable.commit(
        orders.select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice").cast(money).as("o_totalprice")),
        root)
      graft.sources.SnapshotTable.commit(
        orders.select(col("o_orderkey"),
          col("o_totalprice").cast("double").as("o_totalprice"),
          when(col("o_totalprice") >= 100000, lit("high")).otherwise(lit("low"))
            .as("o_tier")),
        root)
      graft.sources.SnapshotTable.schemaDrift(s, root, 1L, 2L)
        .orderBy("column_name")
    },
    Some("""SELECT * FROM (VALUES
      |  ('o_orderpriority', 'removed'),
      |  ('o_tier', 'added'),
      |  ('o_totalprice', 'retyped')) t(column_name, change)
      |ORDER BY column_name""".stripMargin))

  /** maintenance_snapshot_tag: named refs pinning snapshots from
    * retention ([[graft.sources.SnapshotTable.tag]] — the Iceberg
    * tag/retention contract): v1 is tagged `baseline`, v2 and v3 land
    * on top, and a keepLast=1 vacuum reclaims ONLY the untagged,
    * non-current v2 — the gate REQUIREs exactly that retention outcome,
    * then value-gates both surviving states (time travel BY NAME for
    * the tag, by id for the current) in one labeled rollup. This is
    * how a release audit or reproducibility pin survives routine
    * retention; dropTag + reclaim is pinned in SnapshotTableSpec. */
  val maintenanceSnapshotTag: QueryDef = QueryDef(
    "maintenance_snapshot_tag",
    (s, d) => {
      val money = org.apache.spark.sql.types.DecimalType(18, 2)
      val (_, root) = graft.sources.TableIO.freshScratchDir(s, "snapshot/orders_tag")
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_totalprice").cast(money).as("o_totalprice"))
      graft.sources.SnapshotTable.commit(
        orders.filter(col("o_orderkey") % 2 === 0), root)
      graft.sources.SnapshotTable.tag(s, root, "baseline", 1L)
      graft.sources.SnapshotTable.commit(orders, root)
      graft.sources.SnapshotTable.commit(
        orders.filter(col("o_orderkey") % 4 === 0), root)
      val removed = graft.sources.SnapshotTable.vacuum(s, root, keepLast = 1)
      require(removed == 1 &&
        graft.sources.SnapshotTable.snapshots(s, root) == Seq(1L, 3L),
        "vacuum must reclaim exactly the untagged non-current snapshot")
      graft.sources.SnapshotTable.readTag(s, root, "baseline")
        .withColumn("version", lit("baseline"))
        .unionByName(graft.sources.SnapshotTable.read(s, root)
          .withColumn("version", lit("current")))
        .groupBy(col("version"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice")).cast("double").as("sum_price"))
        .orderBy("version")
    },
    Some("""WITH u AS (
      |  SELECT 'baseline' AS version, CAST(o_totalprice AS DECIMAL(18,2)) AS p
      |  FROM orders WHERE o_orderkey % 2 = 0
      |  UNION ALL
      |  SELECT 'current', CAST(o_totalprice AS DECIMAL(18,2))
      |  FROM orders WHERE o_orderkey % 4 = 0)
      |SELECT version, count(*) AS n_rows, CAST(sum(p) AS DOUBLE) AS sum_price
      |FROM u GROUP BY version ORDER BY version""".stripMargin))

  /** maintenance_snapshot_rollback: O(1) incident recovery
    * ([[graft.sources.SnapshotTable.rollback]]) — a bad deploy (every
    * price inflated by 100) is undone by committing a new snapshot
    * whose manifest simply re-lists the good version's data dirs: no
    * data read or written at ANY table size, one pointer flip. The gate
    * REQUIREs the zero-copy property (the rollback snapshot lists
    * exactly the good version's dirs) and that vacuum's name-based
    * reference counting keeps those shared dirs alive when the good
    * version's own manifest ages out; the bad version stays
    * time-travelable for the incident audit and is value-gated next to
    * the restored current state. */
  val maintenanceSnapshotRollback: QueryDef = QueryDef(
    "maintenance_snapshot_rollback",
    (s, d) => {
      val money = org.apache.spark.sql.types.DecimalType(18, 2)
      val (_, root) = graft.sources.TableIO.freshScratchDir(s, "snapshot/orders_rollback")
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_totalprice").cast(money).as("o_totalprice"))
      graft.sources.SnapshotTable.commit(orders, root)
      graft.sources.SnapshotTable.commit( // the bad deploy
        orders.withColumn("o_totalprice",
          (col("o_totalprice") + lit(100)).cast(money)), root)
      graft.sources.SnapshotTable.rollback(s, root, 1L)
      require(graft.sources.SnapshotTable.dirsAt(s, root, 3L) ==
        graft.sources.SnapshotTable.dirsAt(s, root, 1L),
        "rollback must re-point at the good version's dirs, not rewrite")
      // v1's manifest ages out; its dirs survive because the rollback
      // snapshot references them by name
      val removed = graft.sources.SnapshotTable.vacuum(s, root, keepLast = 2)
      require(removed == 1 &&
        graft.sources.SnapshotTable.snapshots(s, root) == Seq(2L, 3L),
        "retention must reclaim only the aged-out good-version manifest")
      graft.sources.SnapshotTable.read(s, root)
        .withColumn("version", lit("restored"))
        .unionByName(graft.sources.SnapshotTable.readAt(s, root, 2L)
          .withColumn("version", lit("bad_deploy")))
        .groupBy(col("version"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice")).cast("double").as("sum_price"))
        .orderBy("version")
    },
    Some("""WITH u AS (
      |  SELECT 'bad_deploy' AS version,
      |    CAST(o_totalprice AS DECIMAL(18,2)) + 100 AS p FROM orders
      |  UNION ALL
      |  SELECT 'restored', CAST(o_totalprice AS DECIMAL(18,2)) FROM orders)
      |SELECT version, count(*) AS n_rows, CAST(sum(p) AS DOUBLE) AS sum_price
      |FROM u GROUP BY version ORDER BY version""".stripMargin))

  /** maintenance_data_skipping: manifest-level file pruning — commits
    * carry a per-file min/max sidecar harvested from the parquet
    * FOOTERS of the just-written files (no second data pass), and
    * [[graft.sources.SnapshotTable.readPruned]] plans a scan over ONLY
    * the files whose range intersects the predicate. On the
    * range-clustered layout here (16 range-partitioned files on
    * o_orderkey) a 10%-of-keyspace band provably selects a strict
    * subset of files (the gate REQUIREs it — structural evidence the
    * skip actually skipped), while the re-applied predicate makes the
    * answer identical to the full-scan filter by construction. This is
    * the mechanism that turns a point/range query on a range- or
    * z-order-clustered 100 TB table into a few file reads; the same
    * sidecar serves the [[graft.sources.SnapshotTable.zorder]] layout.
    * The threshold band is derived from max(o_orderkey) so the gate
    * prunes at every SF. */
  val maintenanceDataSkipping: QueryDef = QueryDef(
    "maintenance_data_skipping",
    (s, d) => {
      val money = org.apache.spark.sql.types.DecimalType(18, 2)
      val (_, root) = graft.sources.TableIO.freshScratchDir(s, "snapshot/orders_skip")
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_totalprice").cast(money).as("o_totalprice"))
      graft.sources.SnapshotTable.commit(
        base.repartitionByRange(16, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"),
        root, statsCols = Seq("o_orderkey"))
      val mx = base.agg(max(col("o_orderkey"))).head().getLong(0)
      val (lo, hi) = (0.3 * mx, 0.4 * mx)
      val (selected, total) =
        graft.sources.SnapshotTable.prunedFiles(s, root, "o_orderkey", lo, hi)
      require(selected.size < total,
        s"data skipping pruned nothing: ${selected.size} of $total files " +
          s"selected for [$lo, $hi]")
      graft.sources.SnapshotTable.readPruned(s, root, "o_orderkey", lo, hi)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice")).cast("double").as("sum_price"))
    },
    Some("""WITH m AS (SELECT max(o_orderkey) AS mx FROM orders)
      |SELECT count(*) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders, m
      |WHERE o_orderkey >= CAST(0.3 AS DOUBLE) * mx
      |  AND o_orderkey <= CAST(0.4 AS DOUBLE) * mx""".stripMargin))

  /** maintenance_zorder_skipping: the payoff interaction of the two
    * maintenance primitives — a Z-ORDER rewrite
    * ([[graft.sources.SnapshotTable.zorder]] with `normalize = true` —
    * range-scaling both keys to full Morton width first, without which
    * the wide orderkey's high bits dominate every boundary and the
    * layout silently stripes on one column) makes each file cover a
    * quadrant-ish region of (orderkey, custkey) space, so the SAME
    * footer-stats sidecar that serves range-clustered layouts prunes on
    * EITHER dimension: the gate REQUIREs a strict file subset for a 10% band
    * of o_custkey — the dimension a single-column sort cannot skip on —
    * then value-gates the pruned scan against the plain filter. This is
    * why a 100 TB table z-orders: one layout, selective scans on every
    * clustered column. */
  val maintenanceZorderSkipping: QueryDef = QueryDef(
    "maintenance_zorder_skipping",
    (s, d) => {
      val money = org.apache.spark.sql.types.DecimalType(18, 2)
      val (_, root) = graft.sources.TableIO.freshScratchDir(s, "snapshot/orders_zskip")
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"), col("o_totalprice").cast(money).as("o_totalprice"))
      graft.sources.SnapshotTable.commit(base, root)
      graft.sources.SnapshotTable.zorder(s, root,
        Seq("o_orderkey", "o_custkey"), numFiles = 16,
        statsCols = Seq("o_orderkey", "o_custkey"), normalize = true)
      val mx = base.agg(max(col("o_custkey"))).head().getLong(0)
      val (lo, hi) = (0.3 * mx, 0.4 * mx)
      val (selected, total) =
        graft.sources.SnapshotTable.prunedFiles(s, root, "o_custkey", lo, hi)
      require(selected.size < total,
        s"z-order skipping pruned nothing on the second dimension: " +
          s"${selected.size} of $total files for [$lo, $hi]")
      graft.sources.SnapshotTable.readPruned(s, root, "o_custkey", lo, hi)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice")).cast("double").as("sum_price"))
    },
    Some("""WITH m AS (SELECT max(o_custkey) AS mx FROM orders)
      |SELECT count(*) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders, m
      |WHERE o_custkey >= CAST(0.3 AS DOUBLE) * mx
      |  AND o_custkey <= CAST(0.4 AS DOUBLE) * mx""".stripMargin))

  /** ingest_fixedwidth: the mainframe/COBOL-export interchange shape —
    * no delimiters, fields live at fixed byte offsets. The corpus is
    * written as %10d%-2s%6d lines (right-aligned numerics, left-aligned
    * text — both padding conventions on the hook), read back as raw
    * text, and parsed by substring offsets with trim+cast. The oracle
    * recomputes the projection from parquet, so a one-off column
    * offset, swallowed padding, or a numeric that lost its sign would
    * hash-mismatch. Row-local parse: the scan is the only pass, the
    * split is codegen'd substring/trim, no inference. */
  val ingestFixedWidth: QueryDef = QueryDef(
    "ingest_fixedwidth",
    (s, d) => {
      val path = graft.sources.TableIO.scratchDir(s, "fixedwidth/docs")
      Tables.documents(s, d)
        .select(format_string("%10d%-2s%6d", col("doc_id"), col("lang"),
          col("n_chars")).as("value"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).text(path)
      s.read.text(path)
        .select(
          trim(substring(col("value"), 1, 10)).cast("long").as("doc_id"),
          trim(substring(col("value"), 11, 2)).as("lang"),
          trim(substring(col("value"), 13, 6)).cast("long").as("n_chars"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id""")
  )

  /** ingest_orc: the second columnar format — a lineitem projection is
    * written as ORC and read back through a filtered aggregation, so
    * the gate covers the ORC sink, the ORC scan, and that the filter
    * still reaches the scan across the format switch (pinned in
    * PlanAuditSpec — cross-format pushdown is exactly what silently
    * breaks when a reader lacks predicate support). Oracle recomputes
    * from the parquet original. */
  val ingestOrc: QueryDef = QueryDef(
    "ingest_orc",
    (s, d) => {
      val money = org.apache.spark.sql.types.DecimalType(18, 2)
      val path = graft.sources.TableIO.scratchDir(s, "orc/lineitem")
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).orc(path)
      s.read.orc(path)
        .filter(col("l_quantity") >= 25.0)
        .groupBy(col("l_returnflag"))
        // decimal-sum-then-cast: the q1_agg determinism recipe
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast(money)).cast("double").as("sum_qty"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem WHERE l_quantity >= 25.0
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** ingest_log_parse: the ACCESS-LOG front door — a staged
    * Apache-combined-style text corpus (derived deterministically from
    * events, with a malformed-line class mixed in) parsed back through
    * one anchored regexp into typed columns, quarantined lines grouped
    * under status −1 — no malformed line ever kills the ingest
    * (the ingest_csv_dirty posture for unstructured server logs). The
    * oracle replays the line synthesis + parse CLOSED-FORM from events,
    * so a wrong capture group or a lost quarantine row breaks the match.
    * Scale shape: text scan + one row-local regexp + one map-combined
    * 5-group aggregate; extraction columns are ANSI-safe
    * (`nullif('' …)` before the cast — empty extract means no match). */
  val ingestLogParse: QueryDef = QueryDef(
    "ingest_log_parse",
    (s, d) => {
      val path = graft.sources.TableIO.scratchDir(s, "logparse")
      Tables.events(s, d).select(
        when(col("event_id") % 97 === 0,
            concat(lit("BADLINE "), col("event_id").cast(StringType)))
          .otherwise(concat(
            lit("10.0."), expr("(user_id div 256) % 256").cast(StringType),
            lit("."), expr("user_id % 256").cast(StringType),
            lit(" - - ["), unix_timestamp(col("ts")).cast(StringType),
            lit("] \"GET /e/"), col("event_type"),
            lit(" HTTP/1.1\" "),
            expr("element_at(array(200, 301, 404, 500), cast(event_id % 4 as int) + 1)")
              .cast(StringType),
            lit(" "), round(col("value") * 100).cast("long").cast(StringType)))
          .as("value"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).text(path)
      val re =
        "^(\\S+) - - \\[(\\d+)\\] \"(\\w+) (\\S+) HTTP/1\\.1\" (\\d{3}) (\\d+)$"
      s.read.text(path)
        .select(
          nullif(regexp_extract(col("value"), re, 5), lit("")).cast("long")
            .as("status"),
          nullif(regexp_extract(col("value"), re, 6), lit("")).cast("long")
            .as("bytes"))
        .groupBy(coalesce(col("status"), lit(-1L)).as("status"))
        .agg(count(lit(1)).as("n_requests"),
          sum(coalesce(col("bytes"), lit(0L))).as("total_bytes"))
        .orderBy("status")
    },
    Some("""WITH e AS (
      |  SELECT CASE WHEN event_id % 97 = 0 THEN NULL
      |    ELSE CASE CAST(event_id % 4 AS INT)
      |      WHEN 0 THEN 200 WHEN 1 THEN 301 WHEN 2 THEN 404 ELSE 500 END
      |    END AS status,
      |    CASE WHEN event_id % 97 = 0 THEN 0
      |         ELSE CAST(round(value * 100) AS BIGINT) END AS bytes
      |  FROM events)
      |SELECT coalesce(status, -1) AS status, count(*) AS n_requests,
      |  CAST(sum(bytes) AS BIGINT) AS total_bytes
      |FROM e GROUP BY 1 ORDER BY status""".stripMargin))

  /** ingest_warc: the WARC CONTAINER front door — the multi-record
    * format CommonCrawl-shaped corpora actually arrive in. A WARC file
    * is a concatenation of records, each `WARC/1.0` + CRLF headers +
    * blank line + payload + CRLF CRLF; the parse is record-split on the
    * version line, header extraction through anchored per-field
    * regexps, and a Content-Length integrity check that QUARANTINES
    * (never kills) records whose declared length is missing or
    * disagrees with the payload span — the ingest_log_parse posture for
    * binary-ish containers.
    *
    * The corpus is synthesized deterministically from `documents`
    * (16 files, records in doc_id order; doc_id % 37 lies in
    * Content-Length, doc_id % 41 omits the header entirely), and the
    * oracle computes the expected parse CLOSED-FORM — zero string
    * parsing on the oracle side — so the gate proves the synthesized
    * container round-trips through record split + header parse +
    * integrity check to exactly the ground truth. Lengths are
    * codepoint counts (== octets for this ASCII corpus; a byte-exact
    * ingest would swap in octet_length over binary payloads).
    *
    * Scale shape: assembling test files costs one shuffle (synthesis,
    * not the operator); the FRONT DOOR itself — split + posexplode +
    * per-record regexps — is one narrow pass over file blobs, exactly
    * how a 100 TB crawl lands (one task per WARC file read via
    * binaryFile/text, records exploded in place, no shuffle until the
    * user aggregates). */
  /** One synthesized WARC record per document (see [[ingestWarc]]). */
  private def warcRecordCol: org.apache.spark.sql.Column = {
    val crlf = "\r\n"
    val payload = coalesce(col("text"), lit(""))
    val actualLen = length(payload)
    val declared =
      when(col("doc_id") % 37 === 0, actualLen + 7).otherwise(actualLen)
    val wtype =
      when(col("doc_id") % 5 === 0, lit("metadata")).otherwise(lit("response"))
    val lenHeader = when(col("doc_id") % 41 === 0, lit(""))
      .otherwise(concat(lit("Content-Length: "), declared.cast(StringType),
        lit(crlf)))
    concat(
      lit("WARC/1.0" + crlf),
      lit("WARC-Type: "), wtype, lit(crlf),
      lit("WARC-Record-ID: urn:graft:"), col("doc_id").cast(StringType), lit(crlf),
      lit("WARC-Target-URI: http://example.org/doc/"), col("doc_id").cast(StringType), lit(crlf),
      lenHeader,
      lit(crlf),
      payload, lit(crlf + crlf))
  }

  /** 16 assembled WARC files: (file_id, records-in-doc_id-order array). */
  private def warcFiles(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select((col("doc_id") % 16).as("file_id"),
        struct(col("doc_id"), warcRecordCol.as("rec")).as("sr"))
      .groupBy(col("file_id"))
      .agg(transform(array_sort(collect_list(col("sr"))),
        x => x.getField("rec")).as("recs"))

  /** The WARC FRONT DOOR over (file_id, blob): record split on the
    * version line, anchored header regexps, Content-Length integrity
    * check that quarantines — one narrow pass. */
  private def parseWarc(files: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val chunks = files.select(col("file_id"),
        posexplode(split(col("blob"), "WARC/1\\.0\r\n"))
          .as(Seq("rec_idx", "chunk")))
      .filter(col("rec_idx") > 0) // split's leading element is empty
    val parts = split(col("chunk"), "\r\n\r\n")
    val headers = element_at(parts, 1)
    val body = element_at(parts, 2)
    chunks.select(
        col("file_id"), col("rec_idx").cast("long").as("rec_idx"),
        regexp_extract(headers, "WARC-Type: ([^\r]*)", 1).as("warc_type"),
        regexp_extract(headers, "WARC-Record-ID: ([^\r]*)", 1).as("record_id"),
        regexp_extract(headers, "WARC-Target-URI: ([^\r]*)", 1).as("target_uri"),
        nullif(regexp_extract(headers, "Content-Length: (\\d+)", 1), lit(""))
          .cast("long").as("declared_len"),
        length(body).cast("long").as("actual_len"))
      .withColumn("status",
        when(col("declared_len").isNull, lit("quarantine_missing_length"))
          .when(col("declared_len") =!= col("actual_len"),
            lit("quarantine_length_mismatch"))
          .otherwise(lit("ok")))
      .orderBy("file_id", "rec_idx")
  }

  val ingestWarc: QueryDef = QueryDef(
    "ingest_warc",
    (s, d) => parseWarc(
      warcFiles(Tables.documents(s, d))
        .select(col("file_id"), array_join(col("recs"), "").as("blob"))),
    Some(warcOracleSql))

  private def warcOracleSql: String =
    """WITH g AS (
      |  SELECT doc_id % 16 AS file_id,
      |    row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) AS rec_idx,
      |    CASE WHEN doc_id % 5 = 0 THEN 'metadata' ELSE 'response' END AS warc_type,
      |    'urn:graft:' || doc_id AS record_id,
      |    'http://example.org/doc/' || doc_id AS target_uri,
      |    CASE WHEN doc_id % 41 = 0 THEN NULL
      |         WHEN doc_id % 37 = 0 THEN len(coalesce(text, '')) + 7
      |         ELSE len(coalesce(text, '')) END AS declared_len,
      |    len(coalesce(text, '')) AS actual_len
      |  FROM documents)
      |SELECT file_id, CAST(rec_idx AS BIGINT) AS rec_idx, warc_type,
      |  record_id, target_uri,
      |  CAST(declared_len AS BIGINT) AS declared_len,
      |  CAST(actual_len AS BIGINT) AS actual_len,
      |  CASE WHEN declared_len IS NULL THEN 'quarantine_missing_length'
      |       WHEN declared_len <> actual_len THEN 'quarantine_length_mismatch'
      |       ELSE 'ok' END AS status
      |FROM g ORDER BY file_id, rec_idx""".stripMargin

  /** ingest_warc_gz: the COMPRESSED container CommonCrawl actually
    * ships — `warc.gz` concatenates one gzip MEMBER per record, so the
    * file is itself a valid multi-member gzip stream while record
    * offsets stay individually seekable. The synthesis gzips every
    * record separately (real `java.util.zip` DEFLATE bytes in a binary
    * column) and concatenates the members; the front door decompresses
    * the member stream back to text in one narrow typed pass
    * (GZIPInputStream consumes concatenated members) and feeds the SAME
    * parse + quarantine pipeline as `ingest_warc`, gated by the SAME
    * closed-form oracle — so the gate proves the compressed round trip
    * is byte-lossless end-to-end, not just that parsing works.
    * Compressed bytes never cross an exchange: gzip and gunzip happen
    * inside the per-file row. */
  val ingestWarcGz: QueryDef = QueryDef(
    "ingest_warc_gz",
    (s, d) => {
      val spark = s
      import spark.implicits._
      val gz = warcFiles(Tables.documents(s, d))
        .select(col("file_id").cast("long"), col("recs"))
        .as[(Long, Seq[String])]
        .map { case (fid, recs) =>
          val out = new java.io.ByteArrayOutputStream()
          recs.foreach { r =>
            val g = new java.util.zip.GZIPOutputStream(out)
            g.write(r.getBytes("UTF-8"))
            g.close() // finishes the gzip member AND releases the Deflater's native buffers
          }
          (fid, out.toByteArray)
        }
        .toDF("file_id", "gz")
      val text = gz.as[(Long, Array[Byte])]
        .map { case (fid, bytes) =>
          val in = new java.util.zip.GZIPInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val out = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          var n = in.read(buf)
          while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
          (fid, new String(out.toByteArray, "UTF-8"))
        }
        .toDF("file_id", "blob")
      parseWarc(text)
    },
    Some(warcOracleSql))

  /** maintenance_snapshot_delete_mor: MERGE-ON-READ equality deletes —
    * the O(keys) row-level delete that never rewrites data
    * ([[graft.sources.SnapshotTable.deleteWhere]]). The gate drives the
    * full lifecycle on orders: commit v1, equality-delete every 7th
    * key (v2 — a `del-` dir of just the keys; the base parquet is
    * untouched and v1 stays time-travel-complete), re-append the
    * mod-14 keys with bumped prices (v3 — delete SEQUENCING must keep
    * these even though their keys are in the delete set), then compact
    * (v4 — the merge-on-read → copy-on-write transition materializes
    * the deletes; the gate requires the physical rewrite to agree with
    * the logical state). The result buckets the final table into
    * kept / reinserted rows; the oracle reconstructs the same final
    * state closed-form. At 100 TB this is the difference between a
    * right-to-be-forgotten pass costing O(matching keys) now +
    * amortized compaction later, versus a full-table rewrite per
    * erasure batch. */
  val maintenanceSnapshotDeleteMor: QueryDef = QueryDef(
    "maintenance_snapshot_delete_mor",
    (s, d) => {
      val money = org.apache.spark.sql.types.DecimalType(18, 2)
      val (_, root) = graft.sources.TableIO.freshScratchDir(s, "snapshot/orders_mor")
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_totalprice").cast(money).as("o_totalprice"))
      graft.sources.SnapshotTable.commit(orders, root)
      graft.sources.SnapshotTable.deleteWhere(
        s, root, col("o_orderkey") % 7 === 0, Seq("o_orderkey"))
      graft.sources.SnapshotTable.append(
        orders.filter(col("o_orderkey") % 14 === 0)
          .select(col("o_orderkey"),
            (col("o_totalprice") + lit(100)).cast(money).as("o_totalprice")),
        root)
      // structural pins: delete wrote a del- dir, not a data rewrite;
      // the pre-delete snapshot is still complete
      require(graft.sources.SnapshotTable.dirsAt(s, root, 2L)
        .exists(_.startsWith("del-")), "delete must commit a del- dir")
      require(graft.sources.SnapshotTable.readAt(s, root, 1L).count() ==
        orders.count(), "time travel to the pre-delete snapshot lost rows")
      val logical = graft.sources.SnapshotTable.read(s, root).count()
      graft.sources.SnapshotTable.compact(s, root, rowsPerFile = 200000)
      require(graft.sources.SnapshotTable.read(s, root).count() == logical,
        "compaction changed the logical row set while materializing deletes")
      graft.sources.SnapshotTable.read(s, root)
        .withColumn("bucket",
          when(col("o_orderkey") % 14 === 0, lit("reinserted"))
            .otherwise(lit("kept")))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice")).cast("double").as("sum_price"))
        .orderBy("bucket")
    },
    Some("""WITH base AS (
      |  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS p
      |  FROM orders),
      |final AS (
      |  SELECT 'kept' AS bucket, p FROM base WHERE k % 7 <> 0
      |  UNION ALL
      |  SELECT 'reinserted', CAST(p + 100 AS DECIMAL(18,2))
      |  FROM base WHERE k % 14 = 0)
      |SELECT bucket, count(*) AS n_rows, CAST(sum(p) AS DOUBLE) AS sum_price
      |FROM final GROUP BY bucket ORDER BY bucket""".stripMargin))

  /** maintenance_bloom_metadata: parquet-native bloom filters + the
    * metadata-only count ([[graft.sources.SnapshotTable.commitWithBlooms]],
    * [[graft.sources.SnapshotTable.metadataCount]]). Min/max skipping is
    * useless for point lookups on a high-cardinality UNSORTED key —
    * every file's range spans the domain — so the commit writes
    * split-block blooms into the parquet footers and the point-lookup
    * read skips row groups inside the reader. The gate structurally
    * requires the blooms to exist in the footers (skipping is silent;
    * presence is the observable) and the footer-summed row count to
    * equal the scanned count, then value-gates point lookups for five
    * keys. DuckDB reads the same files honoring the same bloom spec. */
  val maintenanceBloomMetadata: QueryDef = QueryDef(
    "maintenance_bloom_metadata",
    (s, d) => {
      val money = org.apache.spark.sql.types.DecimalType(18, 2)
      val (_, root) = graft.sources.TableIO.freshScratchDir(s, "snapshot/orders_bloom")
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_totalprice").cast(money).as("o_totalprice"))
      // unsorted by key: repartition scrambles, making min/max useless
      // and the bloom the only skipping lever
      graft.sources.SnapshotTable.commitWithBlooms(
        orders.repartition(8), root, Seq("o_orderkey"))
      require(graft.sources.SnapshotTable.bloomColumns(s, root, 1L)
        .contains("o_orderkey"),
        "commitWithBlooms must write a footer bloom for the key column")
      val meta = graft.sources.SnapshotTable.metadataCount(s, root)
      val scanned = graft.sources.SnapshotTable.read(s, root).count()
      require(meta == scanned,
        s"metadata count $meta != scanned count $scanned")
      graft.sources.SnapshotTable.read(s, root)
        .filter(col("o_orderkey").isin(7L, 7777L, 15000L, 31113L, 999999999L))
        .select(col("o_orderkey"), col("o_totalprice").cast("double").as("price"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
      |FROM orders WHERE o_orderkey IN (7, 7777, 15000, 31113, 999999999)
      |ORDER BY o_orderkey""".stripMargin))

  /** maintenance_snapshot_partition_evolution: change the table's
    * partition spec WITHOUT rewriting history
    * ([[graft.sources.SnapshotTable.appendPartitioned]]). v1 commits
    * events FLAT; v2 appends the rest hive-partitioned by event_type —
    * one O(delta) commit, the "we should have partitioned by X"
    * migration that would otherwise rewrite the whole table. Reads
    * reconcile the two specs by name; a filter on event_type
    * directory-prunes the new dir (PartitionFilters, pinned in
    * SnapshotTableSpec) and row-group-prunes the old. The gate
    * structurally requires the evolved dir to be hive-laid-out and the
    * flat dir untouched, then value-gates a filtered rollup across
    * both generations. */
  val maintenanceSnapshotPartitionEvolution: QueryDef = QueryDef(
    "maintenance_snapshot_partition_evolution",
    (s, d) => {
      val money = org.apache.spark.sql.types.DecimalType(18, 4)
      val (fs, root) = graft.sources.TableIO.freshScratchDir(s, "snapshot/events_pevo")
      val ev = Tables.events(s, d).select(col("event_id"), col("event_type"),
        col("value").cast(money).as("value"))
      graft.sources.SnapshotTable.commit(
        ev.filter(col("event_id") % 2 === 0), root)
      graft.sources.SnapshotTable.appendPartitioned(
        ev.filter(col("event_id") % 2 === 1), root, Seq("event_type"))
      // structural: generation 2 is hive-laid-out, generation 1 stayed flat
      val dirs = graft.sources.SnapshotTable.dirsAt(s, root, 2L)
      require(dirs.size == 2, s"expected flat + evolved dirs, got $dirs")
      val hasHive = fs.listStatus(new org.apache.hadoop.fs.Path(root, dirs(1)))
        .exists(st => st.isDirectory && st.getPath.getName.startsWith("event_type="))
      val flatStillFlat = fs.listStatus(new org.apache.hadoop.fs.Path(root, dirs.head))
        .forall(st => !st.isDirectory)
      require(hasHive && flatStillFlat,
        "partition evolution must change ONLY the new dir's layout")
      graft.sources.SnapshotTable.read(s, root)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value")).cast("double").as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events WHERE event_type IN ('click', 'purchase')
      |GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** maintenance_snapshot_wap: WRITE-AUDIT-PUBLISH
    * ([[graft.sources.SnapshotTable.commitAudited]]) — constraint
    * enforcement at the commit boundary. A clean batch (NOT NULL key,
    * UNIQUE key) publishes; a poisoned batch (every 50th key nulled)
    * stages, FAILS the audit, and publishes nothing: the gate requires
    * the exception, the unchanged snapshot chain, the unchanged
    * content, and that vacuum reclaims the quarantined orphan dir.
    * This is how a lake keeps a bad upstream batch from ever becoming
    * readable — the audit runs over the STAGED parquet, so the
    * producer's lineage is never recomputed and the reject costs only
    * the staged write. */
  val maintenanceSnapshotWap: QueryDef = QueryDef(
    "maintenance_snapshot_wap",
    (s, d) => {
      val (fs, root) = graft.sources.TableIO.freshScratchDir(s, "snapshot/cust_wap")
      val fsp = new org.apache.hadoop.fs.Path(root)
      val cust = Tables.customer(s, d).select(col("c_custkey"),
        col("c_mktsegment"), col("c_acctbal"))
      graft.sources.SnapshotTable.commitAudited(cust, root,
        notNull = Seq("c_custkey"), uniqueKey = Seq("c_custkey"))
      val poisoned = cust.withColumn("c_custkey",
        when(col("c_custkey") % 50 === 0, lit(null)).otherwise(col("c_custkey")))
      val failed =
        try { graft.sources.SnapshotTable.commitAudited(poisoned, root,
          notNull = Seq("c_custkey"), uniqueKey = Seq("c_custkey")); false }
        catch { case e: IllegalStateException => e.getMessage.contains("NULLs") }
      require(failed, "the poisoned batch must fail the audit")
      require(graft.sources.SnapshotTable.snapshots(s, root) == Seq(1L),
        "a failed audit must publish nothing")
      require(graft.sources.SnapshotTable.read(s, root).count() == cust.count(),
        "reader content must be untouched by the rejected batch")
      // the quarantined orphan dir exists until vacuum reclaims it
      val orphanBefore = fs.listStatus(fsp)
        .count(st => st.isDirectory && st.getPath.getName.startsWith("snap-"))
      require(orphanBefore == 2, s"expected staged orphan + live dir, got $orphanBefore")
      graft.sources.SnapshotTable.vacuum(s, root, keepLast = 1)
      val orphanAfter = fs.listStatus(fsp)
        .count(st => st.isDirectory && st.getPath.getName.startsWith("snap-"))
      require(orphanAfter == 1, "vacuum must reclaim the quarantined orphan")
      graft.sources.SnapshotTable.read(s, root)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("sum_bal"))
        .orderBy("c_mktsegment")
    },
    Some("""SELECT c_mktsegment, count(*) AS n,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))

  /** pipeline_incremental_sync: the O(delta) DOWNSTREAM PIPELINE —
    * [[graft.sources.SnapshotTable.syncAppend]] keeps a transformed
    * destination current with an appending source, transforming ONLY
    * the new rows each run. The sync cursor is the destination's own
    * in-manifest batch marker, so cursor and data commit atomically
    * (no drift, crash-safe replay). The gate: initial full load at
    * source snap 1, two more source appends, a delta sync (REQUIREd to
    * add exactly one destination commit), a no-op re-run (REQUIREd
    * None), then value-gates destination == transform(full source).
    * This is the Delta-Live-Tables shape on the snapshot layer: at
    * 100 TB the downstream pays per-delta, never per-table. */
  val pipelineIncrementalSync: QueryDef = QueryDef(
    "pipeline_incremental_sync",
    (s, d) => {
      val money = org.apache.spark.sql.types.DecimalType(18, 2)
      val (_, base) = graft.sources.TableIO.freshScratchDir(s, "snapshot/inc_sync")
      val (src, dst) = (s"$base/src", s"$base/dst")
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_orderpriority"),
        col("o_totalprice").cast(money).as("o_totalprice"))
      val xf: DataFrame => DataFrame = df =>
        df.filter(col("o_totalprice") > 50000)
          .withColumn("price_band",
            floor(col("o_totalprice") / 50000).cast("long"))
      graft.sources.SnapshotTable.commit(
        orders.filter(col("o_orderkey") % 3 === 0), src)
      require(graft.sources.SnapshotTable.syncAppend(s, src, dst, xf).contains(1L),
        "initial sync must full-load into destination snapshot 1")
      graft.sources.SnapshotTable.append(
        orders.filter(col("o_orderkey") % 3 === 1), src)
      graft.sources.SnapshotTable.append(
        orders.filter(col("o_orderkey") % 3 === 2), src)
      require(graft.sources.SnapshotTable.syncAppend(s, src, dst, xf).contains(2L),
        "delta sync must add exactly one destination commit")
      require(graft.sources.SnapshotTable.syncAppend(s, src, dst, xf).isEmpty,
        "an up-to-date sync must be a no-op")
      graft.sources.SnapshotTable.read(s, dst)
        .groupBy(col("o_orderpriority"), col("price_band"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice")).cast("double").as("sum_price"))
        .orderBy("o_orderpriority", "price_band")
    },
    Some("""WITH t AS (
      |  SELECT o_orderpriority, CAST(o_totalprice AS DECIMAL(18,2)) AS p,
      |    CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) / 50000) AS BIGINT)
      |      AS price_band
      |  FROM orders WHERE CAST(o_totalprice AS DECIMAL(18,2)) > 50000)
      |SELECT o_orderpriority, price_band, count(*) AS n,
      |  CAST(sum(p) AS DOUBLE) AS sum_price
      |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** maintenance_snapshot_scd2: SCD TYPE-2 history DERIVED from the
    * snapshot chain ([[graft.sources.SnapshotTable.scd2FromSnapshots]]) —
    * time travel materialized as (key, value, valid_from, valid_to,
    * is_current) intervals, one union + one key-windowed islands pass,
    * no cross-snapshot joins. The chain exercises every interval
    * shape: unchanged keys (one current interval), price changes (two
    * intervals), deletions (a closed interval and NO current row), and
    * the subtle one — a key deleted in v2 and RE-INSERTED in v3 with
    * its ORIGINAL value, which must yield TWO intervals (absence ends
    * validity; the islands id must break across the gap, not merge
    * identical values). The oracle enumerates the interval algebra
    * closed-form. */
  val maintenanceSnapshotScd2: QueryDef = QueryDef(
    "maintenance_snapshot_scd2",
    (s, d) => {
      val money = org.apache.spark.sql.types.DecimalType(18, 2)
      val (_, root) = graft.sources.TableIO.freshScratchDir(s, "snapshot/orders_scd2")
      val v1 = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_totalprice").cast(money).as("o_totalprice"))
      val v2 = v1.filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 5 === 0,
            (col("o_totalprice") + lit(1)).cast(money))
            .otherwise(col("o_totalprice")))
      val v3 = v2.unionByName(v1.filter(col("o_orderkey") % 14 === 0))
      Seq(v1, v2, v3).foreach(graft.sources.SnapshotTable.commit(_, root))
      graft.sources.SnapshotTable
        .scd2FromSnapshots(s, root, Seq("o_orderkey"), Seq(1L, 2L, 3L))
        .select(col("o_orderkey"),
          col("__v.o_totalprice").cast("double").as("price"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy("o_orderkey", "valid_from")
    },
    Some("""WITH base AS (
      |  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS p
      |  FROM orders),
      |iv AS (
      |  SELECT k, p, 1 AS vf, 1 AS vt, false AS cur FROM base WHERE k % 7 = 0
      |  UNION ALL
      |  SELECT k, p, 3, 3, true FROM base WHERE k % 14 = 0
      |  UNION ALL
      |  SELECT k, CAST(p + 1 AS DECIMAL(18,2)), 2, 3, true FROM base
      |  WHERE k % 5 = 0 AND k % 7 <> 0
      |  UNION ALL
      |  SELECT k, p, 1, 1, false FROM base WHERE k % 5 = 0 AND k % 7 <> 0
      |  UNION ALL
      |  SELECT k, p, 1, 3, true FROM base WHERE k % 5 <> 0 AND k % 7 <> 0)
      |SELECT k AS o_orderkey, CAST(p AS DOUBLE) AS price,
      |  CAST(vf AS BIGINT) AS valid_from, CAST(vt AS BIGINT) AS valid_to,
      |  cur AS is_current
      |FROM iv ORDER BY o_orderkey, valid_from""".stripMargin))

  /** maintenance_metadata_minmax: metadata-only MIN/MAX — the extremes
    * of a numeric column answered from the per-file footer-stats
    * sidecars alone ([[graft.sources.SnapshotTable.metadataMinMax]]),
    * zero data scanned, coverage REQUIREd total (partial stats would
    * silently lie) and the metadata answer REQUIREd equal to the
    * scanned answer before the gate emits it. Composes with append:
    * each delta dir contributes its own sidecar. */
  val maintenanceMetadataMinmax: QueryDef = QueryDef(
    "maintenance_metadata_minmax",
    (s, d) => {
      val (_, root) = graft.sources.TableIO.freshScratchDir(s, "snapshot/orders_minmax")
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
      val stats = Seq("o_orderkey", "o_totalprice")
      graft.sources.SnapshotTable.commit(
        orders.filter(col("o_orderkey") % 2 === 0), root, statsCols = stats)
      graft.sources.SnapshotTable.append(
        orders.filter(col("o_orderkey") % 2 === 1), root, statsCols = stats)
      import s.implicits._
      val rows = stats.map { c =>
        val (mn, mx) = graft.sources.SnapshotTable.metadataMinMax(s, root, c)
        val scanned = graft.sources.SnapshotTable.read(s, root)
          .agg(min(col(c).cast("double")), max(col(c).cast("double"))).head()
        require(mn == scanned.getDouble(0) && mx == scanned.getDouble(1),
          s"metadata min/max for $c (${mn}..$mx) != scanned " +
            s"(${scanned.getDouble(0)}..${scanned.getDouble(1)})")
        (c, mn, mx)
      }
      rows.toDF("column_name", "mn", "mx").orderBy("column_name")
    },
    Some("""SELECT 'o_orderkey' AS column_name,
      |  CAST(min(o_orderkey) AS DOUBLE) AS mn, CAST(max(o_orderkey) AS DOUBLE) AS mx
      |FROM orders
      |UNION ALL
      |SELECT 'o_totalprice', min(o_totalprice), max(o_totalprice) FROM orders
      |ORDER BY column_name""".stripMargin))

  /** pipeline_lakehouse: the session's snapshot surface COMPOSED into
    * one ingest-to-serve story, every stage the real operator: (1)
    * WRITE-AUDIT-PUBLISH the base corpus (NOT-NULL + UNIQUE audited
    * over the staged parquet); (2) five O(delta) APPENDS (the
    * continuous-ingest tail); (3) an atomic MOR UPSERT correcting the
    * mod-9 keys' prices; (4) an equality-DELETE takedown of the mod-31
    * keys (no rewrite); (5) full COMPACT materializing deletes back to
    * copy-on-write; (6) INCREMENTAL compactSmall proving a no-op on
    * the now-single-dir table; (7) a CATALOG commit pinning the final
    * version; (8) the serve-side read through the `snapshot_table` SQL
    * TVF — one SELECT a downstream analyst would actually run. The
    * oracle recomputes the final state closed-form; every intermediate
    * contract is REQUIREd structurally. One gate, eight operators, the
    * lifecycle a production table actually lives. */
  val pipelineLakehouse: QueryDef = QueryDef(
    "pipeline_lakehouse",
    (s, d) => {
      val money = org.apache.spark.sql.types.DecimalType(18, 2)
      val (_, base) = graft.sources.TableIO.freshScratchDir(s, "snapshot/lakehouse_e2e")
      val (root, catRoot) = (s"$base/orders", s"$base/_catalog")
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_totalprice").cast(money).as("o_totalprice"))
      // 1. audited base: the mod-6 slice
      graft.sources.SnapshotTable.commitAudited(
        orders.filter(col("o_orderkey") % 6 === 0), root,
        notNull = Seq("o_orderkey"), uniqueKey = Seq("o_orderkey"))
      // 2. continuous ingest: five O(delta) appends cover the rest
      (1 to 5).foreach { m =>
        graft.sources.SnapshotTable.append(
          orders.filter(col("o_orderkey") % 6 === m), root)
      }
      // 3. correction batch: mod-9 keys get +500, atomically
      graft.sources.SnapshotTable.upsert(
        orders.filter(col("o_orderkey") % 9 === 0)
          .select(col("o_orderkey"),
            (col("o_totalprice") + lit(500)).cast(money).as("o_totalprice")),
        root, Seq("o_orderkey"))
      // 4. takedown: mod-31 keys, O(keys), no rewrite
      graft.sources.SnapshotTable.deleteWhere(
        s, root, col("o_orderkey") % 31 === 0, Seq("o_orderkey"))
      // 5. maintenance: materialize to copy-on-write
      graft.sources.SnapshotTable.compact(s, root, rowsPerFile = 500000)
      // 6. incremental pass finds nothing left to fold
      val cur = graft.sources.SnapshotTable.currentSnapshot(s, root)
      require(graft.sources.SnapshotTable.compactSmall(
        s, root, smallMaxRows = 1000, rowsPerFile = 500000) == cur,
        "post-compact incremental pass must be a no-op")
      // 7. pin the served version
      graft.sources.SnapshotCatalog.commit(s, catRoot,
        Map("orders" -> (root, cur)))
      val served = graft.sources.SnapshotCatalog
        .tablesAt(s, catRoot,
          graft.sources.SnapshotCatalog.currentVersion(s, catRoot))("orders")
      // 8. serve through SQL
      graft.functions.GraftExtensions.register(s)
      s.sql(
        s"""SELECT o_orderkey % 9 = 0 AS corrected, count(*) AS n,
           |  CAST(sum(o_totalprice) AS DOUBLE) AS sum_price
           |FROM snapshot_table('${served._1}', ${served._2})
           |GROUP BY corrected ORDER BY corrected""".stripMargin)
    },
    Some("""WITH base AS (
      |  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS p
      |  FROM orders),
      |corrected AS (
      |  SELECT k, CASE WHEN k % 9 = 0
      |    THEN CAST(p + 500 AS DECIMAL(18,2)) ELSE p END AS p
      |  FROM base WHERE k % 31 <> 0)
      |SELECT k % 9 = 0 AS corrected, count(*) AS n,
      |  CAST(sum(p) AS DOUBLE) AS sum_price
      |FROM corrected GROUP BY 1 ORDER BY 1""".stripMargin))

  /** maintenance_catalog_txn: MULTI-TABLE transactions
    * ([[graft.sources.SnapshotCatalog]]) — one catalog pointer pins a
    * consistent (orders, customer) version PAIR, so a reader never
    * joins new orders against old customers. The gate makes the hazard
    * observable: v2 of BOTH tables shifts the custkey space by 10^6,
    * so a mixed-version join matches ZERO rows — it requires the
    * catalog-resolved join to match fully at BOTH catalog versions,
    * requires a commit pinning a nonexistent snapshot to be refused,
    * then value-gates the v2 join rollup. Catalog time travel composes
    * with table time travel: version 1 resolves both tables at their
    * old snapshots. */
  val maintenanceCatalogTxn: QueryDef = QueryDef(
    "maintenance_catalog_txn",
    (s, d) => {
      val money = org.apache.spark.sql.types.DecimalType(18, 2)
      val (_, base) = graft.sources.TableIO.freshScratchDir(s, "snapshot/cat_txn")
      val (ordRoot, custRoot, catRoot) =
        (s"$base/orders", s"$base/customer", s"$base/_catalog")
      val ord = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast(money).as("o_totalprice"))
      val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
      graft.sources.SnapshotTable.commit(ord, ordRoot)
      graft.sources.SnapshotTable.commit(cust, custRoot)
      graft.sources.SnapshotCatalog.commit(s, catRoot,
        Map("orders" -> (ordRoot, 1L), "customer" -> (custRoot, 1L)))
      // coordinated key-space migration: EITHER version pair joins
      // fully; a mixed pair joins nowhere
      graft.sources.SnapshotTable.commit(
        ord.withColumn("o_custkey", col("o_custkey") + lit(1000000L)), ordRoot)
      graft.sources.SnapshotTable.commit(
        cust.withColumn("c_custkey", col("c_custkey") + lit(1000000L)), custRoot)
      graft.sources.SnapshotCatalog.commit(s, catRoot,
        Map("orders" -> (ordRoot, 2L), "customer" -> (custRoot, 2L)))
      def joined(v: Long) = graft.sources.SnapshotCatalog
        .readTable(s, catRoot, "orders", v)
        .join(graft.sources.SnapshotCatalog.readTable(s, catRoot, "customer", v),
          col("o_custkey") === col("c_custkey"))
      val nOrders = ord.count()
      require(joined(1L).count() == nOrders && joined(2L).count() == nOrders,
        "catalog-resolved joins must match fully at both versions")
      val mixed = graft.sources.SnapshotTable.readAt(s, ordRoot, 2L)
        .join(graft.sources.SnapshotTable.readAt(s, custRoot, 1L),
          col("o_custkey") === col("c_custkey")).count()
      require(mixed == 0L,
        s"the hazard the catalog removes must be real: mixed join matched $mixed")
      val rejected =
        try { graft.sources.SnapshotCatalog.commit(s, catRoot,
          Map("orders" -> (ordRoot, 99L))); false }
        catch { case e: IllegalArgumentException => e.getMessage.contains("missing") }
      require(rejected, "pinning a nonexistent snapshot must be refused")
      joined(2L)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice")).cast("double").as("sum_price"))
        .orderBy("c_mktsegment")
    },
    Some("""SELECT c_mktsegment, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))

  /** maintenance_snapshot_ndv: INCREMENTAL distinct-count statistics —
    * each commit/append harvests a KMV sketch (64 smallest md5 hashes
    * of the column's distinct values) for ITS dir only (O(delta)), and
    * table-wide NDV is answered from sidecars alone by set-union + trim
    * ([[graft.sources.SnapshotTable.approxDistinct]]): the ANALYZE
    * statistic a 100 TB table keeps current without ever re-scanning.
    * md5 makes every hash engine-replayable, so the DuckDB oracle
    * recomputes the k-th minimum and the (k−1)·2^60/kth estimate
    * byte-identically — an APPROXIMATE statistic under an EXACT gate.
    * Covers both estimator paths: o_custkey (> k distinct → estimate)
    * and o_orderpriority (5 distinct → exact). */
  val maintenanceSnapshotNdv: QueryDef = QueryDef(
    "maintenance_snapshot_ndv",
    (s, d) => {
      val (_, root) = graft.sources.TableIO.freshScratchDir(s, "snapshot/orders_ndv")
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      val cols = Seq("o_custkey", "o_orderpriority")
      graft.sources.SnapshotTable.commitWithNdv(
        orders.filter(col("o_orderkey") % 2 === 0), root, cols)
      graft.sources.SnapshotTable.appendWithNdv(
        orders.filter(col("o_orderkey") % 2 === 1), root, cols)
      import s.implicits._
      cols.map { c =>
        val (kth, est, _) = graft.sources.SnapshotTable.approxDistinct(s, root, c)
        (c, kth, est)
      }.toDF("column_name", "kth_min", "est_ndv").orderBy("column_name")
    },
    Some("""WITH h AS (
      |  SELECT 'o_custkey' AS column_name,
      |    CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
      |      AS BIGINT) AS h
      |  FROM orders WHERE o_custkey IS NOT NULL
      |  UNION ALL
      |  SELECT 'o_orderpriority',
      |    CAST(concat('0x', substr(md5(o_orderpriority), 1, 15)) AS BIGINT)
      |  FROM orders WHERE o_orderpriority IS NOT NULL),
      |d AS (SELECT DISTINCT column_name, h FROM h),
      |r AS (SELECT column_name, h,
      |    row_number() OVER (PARTITION BY column_name ORDER BY h) AS rn,
      |    count(*) OVER (PARTITION BY column_name) AS n
      |  FROM d)
      |SELECT column_name,
      |  CAST(CASE WHEN max(n) < 64 THEN -1
      |    ELSE max(CASE WHEN rn = 64 THEN h END) END AS BIGINT) AS kth_min,
      |  CASE WHEN max(n) < 64 THEN CAST(max(n) AS DOUBLE)
      |    ELSE 63.0 * pow(2.0, 60) /
      |      CAST(max(CASE WHEN rn = 64 THEN h END) AS DOUBLE) END AS est_ndv
      |FROM r GROUP BY column_name ORDER BY column_name""".stripMargin))

  /** maintenance_snapshot_sql: the SQL front door — `snapshot_table()`
    * as a TABLE-VALUED FUNCTION
    * ([[graft.functions.GraftExtensions.snapshotTableTvf]], wired via
    * `SparkSessionExtensions.injectTableFunction`), so a plain
    * `spark.sql` user gets transactional snapshot reads, time travel
    * AND merge-on-read delete semantics with no Scala API: the gate
    * commits v1, equality-deletes the mod-7 keys (v2), and runs ONE
    * SQL statement unioning `snapshot_table(root, 1)` (pre-delete time
    * travel) with `snapshot_table(root)` (current, delete-masked) —
    * value-gating that the TVF resolves manifests, sequences deletes,
    * and splices into a larger query plan correctly. */
  val maintenanceSnapshotSql: QueryDef = QueryDef(
    "maintenance_snapshot_sql",
    (s, d) => {
      val (_, root) = graft.sources.TableIO.freshScratchDir(s, "snapshot/orders_sql")
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.SnapshotTable.commit(orders, root)
      graft.sources.SnapshotTable.deleteWhere(
        s, root, col("o_orderkey") % 7 === 0, Seq("o_orderkey"))
      graft.functions.GraftExtensions.register(s)
      s.sql(
        s"""SELECT snap, count(*) AS n,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
           |FROM (
           |  SELECT 1 AS snap, o_orderkey, o_totalprice
           |  FROM snapshot_table('$root', 1)
           |  UNION ALL
           |  SELECT 2 AS snap, o_orderkey, o_totalprice
           |  FROM snapshot_table('$root'))
           |GROUP BY snap ORDER BY snap""".stripMargin)
    },
    Some("""SELECT snap, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM (
      |  SELECT 1 AS snap, o_totalprice FROM orders
      |  UNION ALL
      |  SELECT 2 AS snap, o_totalprice FROM orders WHERE o_orderkey % 7 <> 0)
      |GROUP BY snap ORDER BY snap""".stripMargin))

  /** maintenance_snapshot_upsert: atomic MERGE-ON-READ upsert — one
    * commit carries BOTH the batch's equality-delete keys and its data
    * dir ([[graft.sources.SnapshotTable.upsert]]), so matched keys are
    * updated, unmatched keys inserted, and readers see the whole batch
    * or none of it. O(batch) cost: the table-sized anti-join a
    * copy-on-write MERGE pays is deferred to compaction. The gate
    * upserts price bumps for the mod-10 keys plus brand-new mod-13 keys
    * in ONE commit (structurally required: exactly one new snapshot
    * listing delete + data dirs), then value-gates the three-way
    * classification of the final table. */
  val maintenanceSnapshotUpsert: QueryDef = QueryDef(
    "maintenance_snapshot_upsert",
    (s, d) => {
      val money = org.apache.spark.sql.types.DecimalType(18, 2)
      val (_, root) = graft.sources.TableIO.freshScratchDir(s, "snapshot/orders_upsert")
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_totalprice").cast(money).as("o_totalprice"))
      graft.sources.SnapshotTable.commit(orders, root)
      val batch = orders.filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey"),
            (col("o_totalprice") + lit(1000)).cast(money).as("o_totalprice"))
        .unionByName(orders.filter(col("o_orderkey") % 13 === 0)
          .select((col("o_orderkey") + 30000000L).as("o_orderkey"),
            col("o_totalprice")))
      graft.sources.SnapshotTable.upsert(batch, root, Seq("o_orderkey"))
      val dirs = graft.sources.SnapshotTable.dirsAt(s, root, 2L)
      require(graft.sources.SnapshotTable.snapshots(s, root) == Seq(1L, 2L) &&
        dirs.count(_.startsWith("del-")) == 1 &&
        dirs.count(_.startsWith("snap-")) == 2,
        s"upsert must be ONE commit of delete keys + batch data, got $dirs")
      graft.sources.SnapshotTable.read(s, root)
        .withColumn("bucket",
          when(col("o_orderkey") >= 30000000L, lit("inserted"))
            .when(col("o_orderkey") % 10 === 0, lit("updated"))
            .otherwise(lit("kept")))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice")).cast("double").as("sum_price"))
        .orderBy("bucket")
    },
    Some("""WITH base AS (
      |  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS p
      |  FROM orders),
      |final AS (
      |  SELECT 'kept' AS bucket, p FROM base WHERE k % 10 <> 0
      |  UNION ALL
      |  SELECT 'updated', CAST(p + 1000 AS DECIMAL(18,2)) FROM base
      |  WHERE k % 10 = 0
      |  UNION ALL
      |  SELECT 'inserted', p FROM base WHERE k % 13 = 0)
      |SELECT bucket, count(*) AS n, CAST(sum(p) AS DOUBLE) AS sum_price
      |FROM final GROUP BY bucket ORDER BY bucket""".stripMargin))

  /** maintenance_compact_incremental: O(small-files) compaction —
    * [[graft.sources.SnapshotTable.compactSmall]] merges only the data
    * dirs under the row threshold, leaving big dirs byte-untouched
    * (structurally required: the base dir keeps its name in the new
    * manifest, and the new manifest is exactly `big + one merged dir`).
    * This is the maintenance pass a continuously-ingested 100 TB table
    * actually runs: thousands of O(delta) append dirs fold into one,
    * without ever rewriting the petabyte-scale base the way full
    * compact would. Content is value-gated unchanged. */
  val maintenanceCompactIncremental: QueryDef = QueryDef(
    "maintenance_compact_incremental",
    (s, d) => {
      val money = org.apache.spark.sql.types.DecimalType(18, 2)
      val (_, root) = graft.sources.TableIO.freshScratchDir(s, "snapshot/orders_csmall")
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_totalprice").cast(money).as("o_totalprice"))
      graft.sources.SnapshotTable.commit(
        orders.filter(col("o_orderkey") % 2 === 0), root)
      Seq(1, 3, 5, 7, 9).foreach { m =>
        graft.sources.SnapshotTable.append(
          orders.filter(col("o_orderkey") % 10 === m), root)
      }
      val bigDir = graft.sources.SnapshotTable.dirsAt(s, root, 1L).head
      val total = orders.count()
      val newId = graft.sources.SnapshotTable.compactSmall(
        s, root, smallMaxRows = total / 5, rowsPerFile = 500000)
      require(newId == 7L, s"five smalls must fold in one new commit, got $newId")
      val dirs = graft.sources.SnapshotTable.dirsAt(s, root, newId)
      require(dirs.size == 2 && dirs.head == bigDir,
        s"incremental compact must keep the big dir untouched, got $dirs")
      graft.sources.SnapshotTable.read(s, root)
        .groupBy((col("o_orderkey") % 2).as("m"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice")).cast("double").as("sum_price"))
        .orderBy("m")
    },
    Some("""SELECT o_orderkey % 2 AS m, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY m ORDER BY m""".stripMargin))

  /** maintenance_snapshot_concurrent: optimistic multi-writer ingest —
    * four writers race [[graft.sources.SnapshotTable.appendConcurrent]]
    * against the same table; each lost CAS costs one manifest re-read +
    * one dir rename + one retry, and every commit lists the winner's
    * dirs plus its own, so NO interleaving can lose rows. The gate
    * requires the chain to be linear (snapshots 1..5, final manifest =
    * 5 dirs) and value-gates the final content — deterministic however
    * the race resolves; the oracle is the plain union. This is the
    * multi-pipeline ingest posture: N independent jobs appending to one
    * 100 TB table with no coordinator beyond the filesystem's atomic
    * name-creation primitive. */
  val maintenanceSnapshotConcurrent: QueryDef = QueryDef(
    "maintenance_snapshot_concurrent",
    (s, d) => {
      val money = org.apache.spark.sql.types.DecimalType(18, 2)
      val (_, root) = graft.sources.TableIO.freshScratchDir(s, "snapshot/orders_conc")
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_totalprice").cast(money).as("o_totalprice"))
      graft.sources.SnapshotTable.commit(
        orders.filter(col("o_orderkey") % 5 === 0), root)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      try {
        val ids = scala.concurrent.Await.result(
          scala.concurrent.Future.sequence((1 to 4).map { m =>
            scala.concurrent.Future(graft.sources.SnapshotTable.appendConcurrent(
              orders.filter(col("o_orderkey") % 5 === m), root))
          }),
          scala.concurrent.duration.Duration(10, "min"))
        require(ids.sorted == (2L to 5L),
          s"racing appends must serialize into a linear chain, got $ids")
      } finally pool.shutdown()
      require(graft.sources.SnapshotTable.dirsAt(s, root, 5L).size == 5,
        "final manifest must reference the base dir + all four deltas")
      graft.sources.SnapshotTable.read(s, root)
        .groupBy((col("o_orderkey") % 5).as("m"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice")).cast("double").as("sum_price"))
        .orderBy("m")
    },
    Some("""SELECT o_orderkey % 5 AS m, count(*) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY m ORDER BY m""".stripMargin))

  /** maintenance_snapshot_branch: git-like BRANCHES over the snapshot
    * layer ([[graft.sources.SnapshotTable.branchCreate]] family — the
    * Iceberg/Nessie branch workflow): an experiment forks `dev` at v1,
    * appends on the branch while MAIN independently appends, and the
    * two lines stay isolated (each sees its own appends only — REQUIREd
    * by id, value-gated below). A keepLast=1 vacuum runs while the
    * branch is live: the branch's data dir sits in the root pool
    * referenced by NO main manifest, so this gates vacuum's
    * branch-aware reference counting (without it the branch would be
    * silently destroyed by routine retention). The fast-forward merge
    * then re-points the branch dirs at the merge commit's sequence and
    * consumes the ref; all three states (main pre-merge via time
    * travel, branch via its pre-merge read, merged current) are
    * value-gated in one labeled rollup. */
  val maintenanceSnapshotBranch: QueryDef = QueryDef(
    "maintenance_snapshot_branch",
    (s, d) => {
      val money = org.apache.spark.sql.types.DecimalType(18, 2)
      val (_, root) = graft.sources.TableIO.freshScratchDir(s, "snapshot/orders_branch")
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_totalprice").cast(money).as("o_totalprice"))
      val slice = (m: Int) => orders.filter(col("o_orderkey") % 3 === m)
      graft.sources.SnapshotTable.commit(slice(0), root) // v1
      graft.sources.SnapshotTable.branchCreate(s, root, "dev")
      graft.sources.SnapshotTable.branchAppend(slice(1), root, "dev")
      graft.sources.SnapshotTable.append(slice(2), root) // main v2
      require(graft.sources.SnapshotTable.currentSnapshot(s, root) == 2L &&
        graft.sources.SnapshotTable.branchCurrent(s, root, "dev") == 2L,
        "main and branch must advance independently")
      // retention while the branch is live: main keeps only v2, and the
      // branch's data dir must survive the sweep (branch-aware refcount)
      val removed = graft.sources.SnapshotTable.vacuum(s, root, keepLast = 1)
      require(removed == 1, s"vacuum must drop exactly main v1, dropped $removed")
      // read the branch through its SQL front door (snapshot_branch TVF)
      // so the gate drives the plain-SQL surface too
      graft.functions.GraftExtensions.register(s)
      val branchState =
        s.sql(s"SELECT * FROM snapshot_branch('$root', 'dev')").localCheckpoint(true)
      val merged = graft.sources.SnapshotTable.mergeBranch(s, root, "dev")
      require(merged == 3L &&
        graft.sources.SnapshotTable.branches(s, root).isEmpty,
        "merge must commit main v3 and consume the branch ref")
      graft.sources.SnapshotTable.readAt(s, root, 2L)
        .withColumn("stage", lit("main_pre_merge"))
        .unionByName(branchState.withColumn("stage", lit("branch")))
        .unionByName(graft.sources.SnapshotTable.read(s, root)
          .withColumn("stage", lit("main_merged")))
        .groupBy(col("stage"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice")).cast("double").as("sum_price"))
        .orderBy("stage")
    },
    Some("""WITH o AS (
      |  SELECT o_orderkey % 3 AS m,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS p
      |  FROM orders),
      |u AS (
      |  SELECT 'branch' AS stage, p FROM o WHERE m IN (0, 1)
      |  UNION ALL
      |  SELECT 'main_merged', p FROM o WHERE m IN (0, 1, 2)
      |  UNION ALL
      |  SELECT 'main_pre_merge', p FROM o WHERE m IN (0, 2))
      |SELECT stage, count(*) AS n_rows, CAST(sum(p) AS DOUBLE) AS sum_price
      |FROM u GROUP BY stage ORDER BY stage""".stripMargin))

  /** maintenance_snapshot_clone: SHALLOW CLONE
    * ([[graft.sources.SnapshotTable.cloneTo]] — Delta's shallow clone):
    * the clone's first manifest lists the source's data dirs by
    * absolute path, so cloning a table of ANY size moves zero data
    * bytes — REQUIREd physically (no snap-/del- dir exists under the
    * clone root right after cloning). The clone then diverges by a
    * merge-on-read DELETE (quantity >= 40) followed by an APPEND whose
    * rows include quantity >= 40 — those survive because the clone's
    * manifest id equals the source's snapshot id, keeping inherited dir
    * sequences strictly below clone-local commits (equality-delete
    * sequencing across the clone boundary, visible in the oracle as
    * "old slices filtered, new slice intact"). Equality deletes are
    * KEY-granular (the Iceberg contract): the driver's lineitem has
    * duplicate (orderkey, linenumber) keys, so a low-quantity twin of
    * a deleted key is masked too — the oracle models the key set, not
    * the predicate rows. The source is value-gated unchanged. */
  val maintenanceSnapshotClone: QueryDef = QueryDef(
    "maintenance_snapshot_clone",
    (s, d) => {
      val (fs, src) = graft.sources.TableIO.freshScratchDir(s, "snapshot/li_clone_src")
      val (_, dst) = graft.sources.TableIO.freshScratchDir(s, "snapshot/li_clone_dst")
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val slice = (m: Int) => li.filter(col("l_orderkey") % 4 === m)
      graft.sources.SnapshotTable.commit(slice(0), src)  // v1
      graft.sources.SnapshotTable.append(slice(1), src)  // v2
      val cloned = graft.sources.SnapshotTable.cloneTo(s, src, dst)
      val localDirs = () => fs.listStatus(new org.apache.hadoop.fs.Path(dst))
        .map(_.getPath.getName)
        .count(n => n.startsWith("snap-") || n.startsWith("del-"))
      require(cloned == 2L && localDirs() == 0,
        "shallow clone must re-point manifests only — zero local data dirs")
      graft.sources.SnapshotTable.deleteWhere(s, dst,
        col("l_quantity") >= 40, Seq("l_orderkey", "l_linenumber")) // v3
      graft.sources.SnapshotTable.append(slice(2), dst)             // v4
      require(localDirs() == 2,
        "clone-local writes must land under the clone root (1 del + 1 data)")
      val q = expr("cast(round(l_quantity * 100) as bigint)")
      graft.sources.SnapshotTable.read(s, src)
        .withColumn("stage", lit("src"))
        .unionByName(graft.sources.SnapshotTable.read(s, dst)
          .withColumn("stage", lit("clone_modified")))
        .groupBy(col("stage"))
        .agg(count(lit(1)).as("n_rows"), sum(q).as("sum_qty_x100"))
        .orderBy("stage")
    },
    Some("""WITH li AS (
      |  SELECT l_orderkey % 4 AS m, l_orderkey AS ok, l_linenumber AS ln,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS q,
      |    l_quantity
      |  FROM lineitem),
      |base AS (SELECT * FROM li WHERE m IN (0, 1)),
      |delkeys AS (
      |  SELECT DISTINCT ok, ln FROM base WHERE l_quantity >= 40),
      |kept AS (
      |  SELECT q FROM base b WHERE NOT EXISTS (
      |    SELECT 1 FROM delkeys k WHERE k.ok = b.ok AND k.ln = b.ln)),
      |u AS (
      |  SELECT 'clone_modified' AS stage, q FROM kept
      |  UNION ALL
      |  SELECT 'clone_modified', q FROM li WHERE m = 2
      |  UNION ALL
      |  SELECT 'src', q FROM li WHERE m IN (0, 1))
      |SELECT stage, count(*) AS n_rows, CAST(sum(q) AS BIGINT) AS sum_qty_x100
      |FROM u GROUP BY stage ORDER BY stage""".stripMargin))

  /** maintenance_summary_rewrite: the MATERIALIZED-SUMMARY REWRITE rule
    * ([[graft.plans.SummaryRewrite]] — Calcite's MV rewrite reduced to
    * the aggregate-rollup lattice) driven end to end: a per-(flag,
    * status) summary of a lineitem projection is materialized and
    * registered, and the gate's aggregate — grouped on a SUBSET of the
    * summary keys — is rewritten BY THE OPTIMIZER to scan the summary
    * (REQUIREd from the optimized plan's scan path: summary in, base
    * out). The oracle computes from the BASE data in DuckDB, so the
    * gate proves the rollup algebra is an identity, not just that the
    * redirect happened. All integers (quantity cents), so re-summing
    * partial sums is exactly the direct sum. */
  val maintenanceSummaryRewrite: QueryDef = QueryDef(
    "maintenance_summary_rewrite",
    (s, d) => {
      val (_, dir) = graft.sources.TableIO.freshScratchDir(s, "mv_rewrite")
      val base = s"$dir/base"
      val summary = s"$dir/summary"
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_linestatus"),
          expr("cast(round(l_quantity * 100) as bigint)").as("qty_cents"))
        .write.mode("overwrite").parquet(base)
      graft.functions.GraftExtensions.register(s)
      graft.plans.SummaryRewrite.summarize(s, base, summary,
        groupCols = Seq("l_returnflag", "l_linestatus"),
        sumCols = Seq("qty_cents"), minCols = Seq("qty_cents"),
        maxCols = Seq("qty_cents"))
      val q = s.read.parquet(base).groupBy(col("l_returnflag"))
        .agg(sum(col("qty_cents")).as("sum_qty"), count(lit(1)).as("n"),
          min(col("qty_cents")).as("min_qty"),
          max(col("qty_cents")).as("max_qty"))
        .orderBy("l_returnflag")
      val scanned = q.queryExecution.optimizedPlan.collectLeaves().collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(_.toUri.getPath)
            case _ => Nil
          }
      }.flatten
      require(scanned.exists(_.endsWith("/summary")) &&
        !scanned.exists(_.endsWith("/base")),
        s"optimizer must reroute the aggregate to the summary, scanned $scanned")
      // Materialize the (3-row, bounded-by-returnflag-cardinality)
      // result into a LOCAL relation before returning: the plan proof
      // above already REQUIREd the rewrite fired, and pinning the rows
      // here means any later re-plan of the returned frame (the verify
      // sink's coalesce, a driver-side re-execution) can never route
      // through the SummaryRewrite registry against a scratch dir in a
      // different lifecycle state.
      val pinned = q.collect().toSeq
      s.createDataFrame(
        s.sparkContext.parallelize(pinned, 1), q.schema)
        .orderBy("l_returnflag")
    },
    Some("""WITH b AS (
      |  SELECT l_returnflag,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS q
      |  FROM lineitem)
      |SELECT l_returnflag, CAST(sum(q) AS BIGINT) AS sum_qty,
      |  count(*) AS n,
      |  min(q) AS min_qty, max(q) AS max_qty
      |FROM b GROUP BY 1 ORDER BY l_returnflag""".stripMargin))

  /** ingest_delta_log: interop with the PUBLIC Delta Lake `_delta_log`
    * commit protocol ([[graft.sources.DeltaCompat]]) — a two-commit
    * synthetic table (commit 0 adds two part files; commit 1 removes
    * one and adds a third) is resolved WITHOUT any Delta library: the
    * JSON commits are read as an ordinary Spark job and last-action-
    * wins reconciliation per path yields the live file set, which must
    * be exactly {part1, part2} — the removed slice's rows absent, the
    * replacement present, value-gated against DuckDB computing the
    * surviving slices from lineitem. The migration story for a lake
    * that already holds Delta tables. */
  val ingestDeltaLog: QueryDef = QueryDef(
    "ingest_delta_log",
    (s, d) => {
      val (fs, dir) = graft.sources.TableIO.freshScratchDir(s, "delta_compat")
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        expr("cast(round(l_quantity * 100) as bigint)").as("qty_cents"),
        (col("l_orderkey") % 3).as("m"))
      // one pass over li (TableIO.writePartFiles), not a scan per part
      val pf = graft.sources.TableIO.writePartFiles(li, dir, "m", 3)
      val (p0, p1, p2) = (pf(0)._1, pf(1)._1, pf(2)._1)
      graft.sources.DeltaCompat.writeCommit(fs, dir, 0, Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        """{"metaData":{"id":"t1","format":{"provider":"parquet"}}}""",
        s"""{"add":{"path":"$p0","dataChange":true}}""",
        s"""{"add":{"path":"$p1","dataChange":true}}"""))
      graft.sources.DeltaCompat.writeCommit(fs, dir, 1, Seq(
        s"""{"remove":{"path":"$p0","dataChange":true}}""",
        s"""{"add":{"path":"$p2","dataChange":true}}"""))
      graft.sources.DeltaCompat.readDeltaTable(s, dir)
        .groupBy(col("m"))
        .agg(count(lit(1)).as("n"), sum(col("qty_cents")).as("sum_qty"))
        .orderBy("m")
    },
    Some("""WITH li AS (
      |  SELECT l_orderkey % 3 AS m,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS q
      |  FROM lineitem)
      |SELECT m, count(*) AS n, CAST(sum(q) AS BIGINT) AS sum_qty
      |FROM li WHERE m IN (1, 2) GROUP BY m ORDER BY m""".stripMargin))

  /** ingest_delta_log_checkpointed: the COMMON Delta migration case —
    * a table past the default checkpoint interval (12 commits here,
    * Delta checkpoints every 10), where `_last_checkpoint` routes the
    * read to a checkpoint parquet and the pre-checkpoint JSON is
    * already vacuumed ([[graft.sources.DeltaCompat.checkpoint]] writes
    * it; `liveFiles` replays only LATER commits on top). The chain
    * exercises every reconciliation edge across the checkpoint
    * boundary: a remove checkpointed as a tombstone, a post-checkpoint
    * re-add resurrecting that tombstone, and a post-checkpoint remove
    * of a checkpointed add. Value-gated against DuckDB computing the
    * surviving slices from lineitem. */
  val ingestDeltaLogCheckpointed: QueryDef = QueryDef(
    "ingest_delta_log_checkpointed",
    (s, d) => {
      val (fs, dir) = graft.sources.TableIO.freshScratchDir(s, "delta_compat_cp")
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        expr("cast(round(l_quantity * 100) as bigint)").as("qty_cents"),
        (col("l_orderkey") % 12).as("m"))
      // one pass over li (TableIO.writePartFiles), not 12 scans
      val parts = graft.sources.TableIO.writePartFiles(li, dir, "m", 12)
        .map(_._1)
      (0 to 6).foreach { i =>
        val header = if (i == 0) Seq(
          """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
          """{"metaData":{"id":"cp-table","format":{"provider":"parquet"}}}""")
        else Nil
        val rm = if (i == 6)
          Seq(s"""{"remove":{"path":"${parts(2)}","dataChange":true}}""")
        else Nil
        graft.sources.DeltaCompat.writeCommit(fs, dir, i.toLong, header ++ rm :+
          s"""{"add":{"path":"${parts(i)}","dataChange":true}}""")
      }
      val v = graft.sources.DeltaCompat.checkpoint(s, dir)
      require(v == 6L, s"checkpoint expected at version 6, got $v")
      // vacuum the subsumed JSON — the read must survive on the
      // checkpoint alone plus the later commits
      (0L to 6L).foreach(i => fs.delete(new org.apache.hadoop.fs.Path(
        f"$dir/_delta_log/$i%020d.json"), false))
      (7 to 11).foreach { i =>
        val extra = if (i == 9) Seq(
          s"""{"remove":{"path":"${parts(0)}","dataChange":true}}""",
          s"""{"add":{"path":"${parts(2)}","dataChange":true}}""")
        else Nil
        graft.sources.DeltaCompat.writeCommit(fs, dir, i.toLong, extra :+
          s"""{"add":{"path":"${parts(i)}","dataChange":true}}""")
      }
      // live: 1..11 (part 0 removed post-checkpoint; part 2 tombstoned
      // in the checkpoint, resurrected by commit 9)
      graft.sources.DeltaCompat.readDeltaTable(s, dir)
        .groupBy(col("m"))
        .agg(count(lit(1)).as("n"), sum(col("qty_cents")).as("sum_qty"))
        .orderBy("m")
    },
    Some("""WITH li AS (
      |  SELECT l_orderkey % 12 AS m,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS q
      |  FROM lineitem)
      |SELECT m, count(*) AS n, CAST(sum(q) AS BIGINT) AS sum_qty
      |FROM li WHERE m <> 0 GROUP BY m ORDER BY m""".stripMargin))

  /** ingest_hudi_cow: interop with the PUBLIC Apache Hudi COPY-ON-WRITE
    * layout ([[graft.sources.HudiCompat]]) — the second lake-migration
    * leg next to the Delta reader. The chain exercises the CoW
    * visibility rules end-to-end: commit 001 writes two file groups,
    * commit 002 REWRITES one of them (same fileId, new instant — the
    * update path; the old slice must be fully shadowed), and commit 003
    * writes a data file but never completes (a crashed/racing writer —
    * its rows must stay invisible). Value-gated against DuckDB
    * computing both slices from lineitem with the update applied. */
  val ingestHudiCow: QueryDef = QueryDef(
    "ingest_hudi_cow",
    (s, d) => {
      val (_, dir) = graft.sources.TableIO.freshScratchDir(s, "hudi_cow")
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        expr("cast(round(l_quantity * 100) as bigint)").as("qty_cents"))
      val h = graft.sources.HudiCompat
      h.beginCommit(s, dir, "001")
      h.writeBaseFile(li.filter(col("l_orderkey") % 2 === 0), dir, "m=0", "fgA", "001")
      h.writeBaseFile(li.filter(col("l_orderkey") % 2 === 1), dir, "m=1", "fgB", "001")
      h.completeCommit(s, dir, "001")
      // CoW update: rewrite fgA with qty bumped by 1 — the new slice
      // must shadow instant 001's base file entirely
      h.beginCommit(s, dir, "002")
      h.writeBaseFile(li.filter(col("l_orderkey") % 2 === 0)
        .withColumn("qty_cents", col("qty_cents") + 1), dir, "m=0", "fgA", "002")
      h.completeCommit(s, dir, "002")
      // in-flight writer: data lands, commit never completes
      h.beginCommit(s, dir, "003")
      h.writeBaseFile(li.filter(col("l_orderkey") % 1000 === 0)
        .withColumn("qty_cents", lit(-1L)), dir, "m=1", "fgC", "003")
      h.readHoodieTable(s, dir)
        .groupBy((col("l_orderkey") % 2).as("m"))
        .agg(count(lit(1)).as("n"), sum(col("qty_cents")).as("sum_qty"))
        .orderBy("m")
    },
    Some("""WITH li AS (
      |  SELECT l_orderkey % 2 AS m,
      |    CAST(round(l_quantity * 100) AS BIGINT)
      |      + CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END AS q
      |  FROM lineitem)
      |SELECT m, count(*) AS n, CAST(sum(q) AS BIGINT) AS sum_qty
      |FROM li GROUP BY m ORDER BY m""".stripMargin))

  /** ingest_delta_incremental: INCREMENTAL PULL from a foreign Delta
    * table ([[graft.sources.DeltaCompat.addedBetween]]) — the
    * continuous-sync consumption mode: replay only the files ADDED in
    * a commit window instead of re-reading the table. The fixture lays
    * four append commits; the gate reads window (1, 3] and value-gates
    * exactly the two appended slices (the later commit's slice
    * excluded, the earlier ones excluded). */
  val ingestDeltaIncremental: QueryDef = QueryDef(
    "ingest_delta_incremental",
    (s, d) => {
      val (fs, dir) = graft.sources.TableIO.freshScratchDir(s, "delta_incr")
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        expr("cast(round(l_quantity * 100) as bigint)").as("qty_cents"),
        (col("l_orderkey") % 5).as("m"))
      // only residues 0..3 become commits — one pass over that slice
      val pf = graft.sources.TableIO
        .writePartFiles(li.filter(col("m") <= 3), dir, "m", 4)
      def writePart(m: Int): String = pf(m)._1
      (0 to 3).foreach { i =>
        val header = if (i == 0) Seq(
          """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
          """{"metaData":{"id":"incr","format":{"provider":"parquet"}}}""")
        else Nil
        graft.sources.DeltaCompat.writeCommit(fs, dir, i.toLong, header :+
          s"""{"add":{"path":"${writePart(i)}","dataChange":true}}""")
      }
      graft.sources.DeltaCompat.readAddedBetween(s, dir, 1L, 3L)
        .groupBy(col("m"))
        .agg(count(lit(1)).as("n"), sum(col("qty_cents")).as("sum_qty"))
        .orderBy("m")
    },
    Some("""WITH li AS (
      |  SELECT l_orderkey % 5 AS m,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS q
      |  FROM lineitem)
      |SELECT m, count(*) AS n, CAST(sum(q) AS BIGINT) AS sum_qty
      |FROM li WHERE m IN (2, 3) GROUP BY m ORDER BY m""".stripMargin))

  /** ingest_delta_time_travel: version-addressed TIME TRAVEL through
    * the Delta log ([[graft.sources.DeltaCompat.readDeltaTable]] with
    * `asOf`) — the audit/debug consumption mode: read the table as it
    * stood at commit v, here BEFORE a later commit removed a slice.
    * REQUIREs the current read reflects the removal while the asOf
    * read is value-gated with the removed slice still present. */
  val ingestDeltaTimeTravel: QueryDef = QueryDef(
    "ingest_delta_time_travel",
    (s, d) => {
      val (fs, dir) = graft.sources.TableIO.freshScratchDir(s, "delta_tt")
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        expr("cast(round(l_quantity * 100) as bigint)").as("qty_cents"),
        (col("l_orderkey") % 3).as("m"))
      // one pass over li (TableIO.writePartFiles), not a scan per part
      val pf = graft.sources.TableIO.writePartFiles(li, dir, "m", 3)
      val (p0, p1, p2) = (pf(0)._1, pf(1)._1, pf(2)._1)
      graft.sources.DeltaCompat.writeCommit(fs, dir, 0, Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        s"""{"add":{"path":"$p0","dataChange":true}}""",
        s"""{"add":{"path":"$p1","dataChange":true}}"""))
      graft.sources.DeltaCompat.writeCommit(fs, dir, 1,
        Seq(s"""{"add":{"path":"$p2","dataChange":true}}"""))
      graft.sources.DeltaCompat.writeCommit(fs, dir, 2,
        Seq(s"""{"remove":{"path":"$p0","dataChange":true}}"""))
      // current state reflects the removal
      require(graft.sources.DeltaCompat.liveFiles(s, dir)
        .forall(!_.endsWith(p0)), "current read must exclude the removed slice")
      graft.sources.DeltaCompat.readDeltaTable(s, dir, asOf = Some(1L))
        .groupBy(col("m"))
        .agg(count(lit(1)).as("n"), sum(col("qty_cents")).as("sum_qty"))
        .orderBy("m")
    },
    Some("""WITH li AS (
      |  SELECT l_orderkey % 3 AS m,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS q
      |  FROM lineitem)
      |SELECT m, count(*) AS n, CAST(sum(q) AS BIGINT) AS sum_qty
      |FROM li GROUP BY m ORDER BY m""".stripMargin))

  /** ingest_delta_cdf: CHANGE DATA FEED — the Delta consumption mode
    * that survives rewrites, where the append-only incremental pull
    * must refuse ([[graft.sources.DeltaCompat.readChangeFeed]]): a
    * commit's row-level changes come from explicit `cdc` actions
    * (`_change_data/` parquet carrying `_change_type`) when present,
    * and are derived from whole-file adds/removes when not. The gate
    * walks all four change types across four commits — derived inserts
    * (commit 0), an explicit-cdc UPDATE rewrite (commit 1:
    * update_preimage/postimage for exactly the changed rows), a derived
    * append (commit 2), and a derived whole-file DELETE (commit 3) —
    * and value-gates the per-type counts and sums against DuckDB
    * recomputing each class from lineitem. */
  val ingestDeltaCdf: QueryDef = QueryDef(
    "ingest_delta_cdf",
    (s, d) => {
      val (fs, dir) = graft.sources.TableIO.freshScratchDir(s, "delta_cdf")
      fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
      val li = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("k"))
        .agg(sum(expr("cast(round(l_quantity * 100) as bigint)")).as("q"))
        .select(col("k"), (col("k") % 3).as("m"), col("q"))
        // reused by five file derivations below — compute once (guide §5)
        .localCheckpoint()
      graft.sources.TableIO.stageFile(li.filter(col("m") === 0), dir, "p0.parquet")
      graft.sources.TableIO.stageFile(li.filter(col("m") === 1), dir, "p1.parquet")
      graft.sources.DeltaCompat.writeCommit(fs, dir, 0, Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        """{"metaData":{"id":"t-cdf","format":{"provider":"parquet"},"configuration":{"delta.enableChangeDataFeed":"true"}}}""",
        """{"add":{"path":"p0.parquet","dataChange":true}}""",
        """{"add":{"path":"p1.parquet","dataChange":true}}"""))
      // commit 1: UPDATE rewrite of p0 (q -> q+1 where q >= 10000),
      // with the row-level delta recorded as explicit cdc
      val changed = li.filter(col("m") === 0 && col("q") >= 10000L)
      graft.sources.TableIO.stageFile(li.filter(col("m") === 0)
        .withColumn("q", when(col("q") >= 10000L, col("q") + 1L).otherwise(col("q"))),
        dir, "p0b.parquet")
      graft.sources.TableIO.stageFile(
        changed.withColumn("_change_type", lit("update_preimage"))
          .unionByName(changed.withColumn("q", col("q") + 1L)
            .withColumn("_change_type", lit("update_postimage"))),
        dir, "_change_data/cdc-1.parquet")
      graft.sources.DeltaCompat.writeCommit(fs, dir, 1, Seq(
        """{"remove":{"path":"p0.parquet","dataChange":true}}""",
        """{"add":{"path":"p0b.parquet","dataChange":true}}""",
        """{"cdc":{"path":"_change_data/cdc-1.parquet","dataChange":false}}"""))
      // commit 2: plain append (derived inserts)
      graft.sources.TableIO.stageFile(li.filter(col("m") === 2), dir, "p2.parquet")
      graft.sources.DeltaCompat.writeCommit(fs, dir, 2,
        Seq("""{"add":{"path":"p2.parquet","dataChange":true}}"""))
      // commit 3: whole-file delete (derived deletes; p1 not vacuumed)
      graft.sources.DeltaCompat.writeCommit(fs, dir, 3,
        Seq("""{"remove":{"path":"p1.parquet","dataChange":true}}"""))
      graft.sources.DeltaCompat.readChangeFeed(s, dir, -1L, 3L)
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"))
        .orderBy("_change_type")
    },
    Some("""WITH li AS (
      |  SELECT l_orderkey % 3 AS m,
      |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem GROUP BY l_orderkey),
      |ch AS (
      |  SELECT 'insert' AS _change_type, q FROM li
      |  UNION ALL
      |  SELECT 'update_preimage', q FROM li WHERE m = 0 AND q >= 10000
      |  UNION ALL
      |  SELECT 'update_postimage', q + 1 FROM li WHERE m = 0 AND q >= 10000
      |  UNION ALL
      |  SELECT 'delete', q FROM li WHERE m = 1)
      |SELECT _change_type, count(*) AS n, CAST(sum(q) AS BIGINT) AS sum_q
      |FROM ch GROUP BY 1 ORDER BY _change_type""".stripMargin))

  /** maintenance_delta_dv_delete: the DV WRITE path
    * ([[graft.sources.DeltaCompat.deleteWhere]]) — row-level deletes
    * without rewriting a single data file, the protocol's cheap-delete
    * story: matching row positions are discovered distributed
    * (`_metadata.row_index`), serialized as roaring sidecars, and the
    * files re-added carrying the new descriptors (existing masks
    * unioned in — DVs are absolute per file, last add wins) as ONE
    * commit with the protocol bumped to deletionVectors. Two layered
    * deletes prove mask union; time travel to v0 REQUIREs the full
    * pre-delete table still reads. Oracle: the surviving rows by
    * value. */
  val maintenanceDeltaDvDelete: QueryDef = QueryDef(
    "maintenance_delta_dv_delete",
    (s, d) => {
      val (fs, dir) = graft.sources.TableIO.freshScratchDir(s, "delta_dv_del")
      fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
      val li = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("k"))
        .agg(sum(expr("cast(round(l_quantity * 100) as bigint)")).as("q"))
        .select(col("k"), (col("k") % 2).as("m"), col("q"))
      // one pass over li (TableIO.writePartFiles), not a scan per part
      val pf = graft.sources.TableIO.writePartFiles(li, dir, "m", 2)
      val (p0, p1) = (pf(0)._1, pf(1)._1)
      graft.sources.DeltaCompat.writeCommit(fs, dir, 0L, Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        """{"metaData":{"id":"t-dvd","format":{"provider":"parquet"}}}""",
        s"""{"add":{"path":"$p0","dataChange":true}}""",
        s"""{"add":{"path":"$p1","dataChange":true}}"""))
      val total = pf(0)._2 + pf(1)._2 // footer counts: no count() job
      val v1 = graft.sources.DeltaCompat.deleteWhere(s, dir, col("k") % 10L === 3L)
      require(v1 == 1L, s"first delete must commit version 1, got $v1")
      val v2 = graft.sources.DeltaCompat.deleteWhere(s, dir, col("k") % 10L === 7L)
      require(v2 == 2L, s"second delete must commit version 2, got $v2")
      require(graft.sources.DeltaCompat
        .readDeltaTable(s, dir, asOf = Some(0L)).count() == total,
        "time travel to v0 must still read the full pre-delete table")
      graft.sources.DeltaCompat.readDeltaTable(s, dir)
        .groupBy(col("m"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"))
        .orderBy("m")
    },
    Some("""WITH li AS (
      |  SELECT l_orderkey AS k, l_orderkey % 2 AS m,
      |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT m, count(*) AS n, CAST(sum(q) AS BIGINT) AS sum_q
      |FROM li WHERE k % 10 NOT IN (3, 7) GROUP BY m ORDER BY m""".stripMargin))

  /** ingest_delta_partitioned: PARTITIONED Delta tables — the common
    * real-table shape, whose data files do NOT carry the partition
    * columns ([[graft.sources.DeltaCompat.createDeltaTable]] writes the
    * hive layout + `partitionValues`; `readDeltaTable` restores the
    * columns with declared types and, at bounded partition counts,
    * reads one LITERAL-bearing branch per partition so Catalyst
    * constant-folds partition filters into real pruning — REQUIREd:
    * the filtered plan holds exactly one live scan). Oracle: DuckDB
    * recomputes the filtered aggregate from lineitem. */
  val ingestDeltaPartitioned: QueryDef = QueryDef(
    "ingest_delta_partitioned",
    (s, d) => {
      val (_, dir) = graft.sources.TableIO.freshScratchDir(s, "delta_part")
      val li = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("k"))
        .agg(sum(expr("cast(round(l_quantity * 100) as bigint)")).as("q"))
        .select(col("k"), (col("k") % 4).cast("int").as("m"), col("q"))
      require(graft.sources.DeltaCompat
        .createDeltaTable(li.repartition(2), dir, Seq("m")) == 0L)
      val table = graft.sources.DeltaCompat.readDeltaTable(s, dir)
      require(table.schema("m").dataType ==
        org.apache.spark.sql.types.IntegerType,
        "the partition column must come back with its declared type")
      val filtered = table.filter(col("m") === 2)
      val scans = filtered.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      }
      require(scans.size == 1,
        s"a partition filter must prune to ONE scan branch, got ${scans.size}")
      filtered
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"),
          min(col("k")).as("min_k"))
    },
    Some("""WITH li AS (
      |  SELECT l_orderkey AS k, l_orderkey % 4 AS m,
      |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT count(*) AS n, CAST(sum(q) AS BIGINT) AS sum_q,
      |  min(k) AS min_k
      |FROM li WHERE m = 2""".stripMargin))

  /** maintenance_delta_merge: MERGE (upsert) INTO, copy-on-write
    * ([[graft.sources.DeltaCompat.mergeInto]]) — the lakehouse write
    * primitive: source rows replace same-key rows or insert, only
    * files holding a matched key are rewritten, and the commit carries
    * explicit cdc so the row-level delta is consumable. The gate
    * merges an update slice (every 7th order, amount bumped) plus an
    * insert slice (fresh keys above the table's range), REQUIREs the
    * change feed reports exactly the update/insert split, and
    * value-gates the post-merge table against DuckDB recomputing the
    * upsert. */
  val maintenanceDeltaMerge: QueryDef = QueryDef(
    "maintenance_delta_merge",
    (s, d) => {
      val (fs, dir) = graft.sources.TableIO.freshScratchDir(s, "delta_merge")
      // localCheckpoint: the aggregate is reused (part files + merge
      // sources) — compute it once, cut the lineage (guide §5)
      val li = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("k"))
        .agg(sum(expr("cast(round(l_quantity * 100) as bigint)")).as("q"))
        .select(col("k"), (col("k") % 2).as("m"), col("q"))
        .localCheckpoint()
      // one pass over li (TableIO.writePartFiles), not a scan per part
      val pf = graft.sources.TableIO.writePartFiles(li, dir, "m", 2)
      val (p0, p1) = (pf(0)._1, pf(1)._1)
      graft.sources.DeltaCompat.writeCommit(fs, dir, 0L, Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        """{"metaData":{"id":"t-merge","format":{"provider":"parquet"}}}""",
        s"""{"add":{"path":"$p0","dataChange":true}}""",
        s"""{"add":{"path":"$p1","dataChange":true}}"""))
      // updates: every 7th order, amount bumped; inserts: fresh keys
      // far above the table's range, amount = synthetic
      val updates = li.filter(col("k") % 7 === 0)
        .withColumn("q", col("q") + 5L)
      val inserts = li.filter(col("k") % 11 === 0)
        .select((col("k") + 100000000L).as("k"),
          ((col("k") + 100000000L) % 2).as("m"),
          (col("q") * 2L).as("q"))
      // one job for both fixture cardinalities (they gate the change-feed
      // REQUIRE below): conditional sums over the localCheckpointed
      // aggregate instead of one count() job per slice
      val nRow = li.agg(
        sum(when(col("k") % 7 === 0, 1L).otherwise(0L)),
        sum(when(col("k") % 11 === 0, 1L).otherwise(0L))).head()
      val (nUpd, nIns) = (nRow.getLong(0), nRow.getLong(1))
      val v1 = graft.sources.DeltaCompat.mergeInto(s, dir,
        updates.unionByName(inserts), Seq("k"))
      require(v1 == 1L, s"merge must commit version 1, got $v1")
      // the merge's row-level delta is consumable, with the right split
      val byType = graft.sources.DeltaCompat.readChangeFeed(s, dir, 0L, 1L)
        .groupBy(col("_change_type")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      require(byType == Map("update_preimage" -> nUpd,
        "update_postimage" -> nUpd, "insert" -> nIns),
        s"change feed must report $nUpd updates + $nIns inserts, got $byType")
      graft.sources.DeltaCompat.readDeltaTable(s, dir)
        .groupBy(col("m"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"))
        .orderBy("m")
    },
    Some("""WITH li AS (
      |  SELECT l_orderkey AS k, l_orderkey % 2 AS m,
      |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem GROUP BY l_orderkey),
      |merged AS (
      |  SELECT k, m, CASE WHEN k % 7 = 0 THEN q + 5 ELSE q END AS q FROM li
      |  UNION ALL
      |  SELECT k + 100000000, (k + 100000000) % 2, q * 2 FROM li
      |  WHERE k % 11 = 0)
      |SELECT m, count(*) AS n, CAST(sum(q) AS BIGINT) AS sum_q
      |FROM merged GROUP BY m ORDER BY m""".stripMargin))

  /** maintenance_delta_dv_compact: OPTIMIZE's deletion-materialization
    * leg ([[graft.sources.DeltaCompat.materializeDeletes]]) — after
    * cheap DV deletes, the files are rewritten clean in ONE
    * `dataChange=false` commit: readers stop paying the mask anti-join,
    * change-feed consumers see nothing, and time travel still reads
    * every earlier state. The gate layers two deleteWhere passes,
    * materializes, REQUIREs zero live DVs + all three time-travel
    * states, and value-gates the surviving rows. */
  val maintenanceDeltaDvCompact: QueryDef = QueryDef(
    "maintenance_delta_dv_compact",
    (s, d) => {
      val (fs, dir) = graft.sources.TableIO.freshScratchDir(s, "delta_dv_compact")
      val li = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("k"))
        .agg(sum(expr("cast(round(l_quantity * 100) as bigint)")).as("q"))
        .select(col("k"), (col("k") % 2).as("m"), col("q"))
      // one pass over li (TableIO.writePartFiles), not a scan per part
      val pf = graft.sources.TableIO.writePartFiles(li, dir, "m", 2)
      val (p0, p1) = (pf(0)._1, pf(1)._1)
      graft.sources.DeltaCompat.writeCommit(fs, dir, 0L, Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        """{"metaData":{"id":"t-dvc","format":{"provider":"parquet"}}}""",
        s"""{"add":{"path":"$p0","dataChange":true}}""",
        s"""{"add":{"path":"$p1","dataChange":true}}"""))
      val total = pf(0)._2 + pf(1)._2 // footer counts: no count() job
      require(graft.sources.DeltaCompat
        .deleteWhere(s, dir, col("k") % 10L === 3L) == 1L)
      require(graft.sources.DeltaCompat
        .deleteWhere(s, dir, col("k") % 10L === 7L) == 2L)
      val v3 = graft.sources.DeltaCompat.materializeDeletes(s, dir)
      require(v3 == 3L, s"materialization must commit version 3, got $v3")
      require(graft.sources.DeltaCompat.liveFilesWithDv(s, dir)
        .forall(_._2.isEmpty), "no live DV may remain after materialization")
      require(graft.sources.DeltaCompat
        .readDeltaTable(s, dir, asOf = Some(0L)).count() == total,
        "time travel to v0 must still read the full pre-delete table")
      graft.sources.DeltaCompat.readDeltaTable(s, dir)
        .groupBy(col("m"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"))
        .orderBy("m")
    },
    Some("""WITH li AS (
      |  SELECT l_orderkey AS k, l_orderkey % 2 AS m,
      |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT m, count(*) AS n, CAST(sum(q) AS BIGINT) AS sum_q
      |FROM li WHERE k % 10 NOT IN (3, 7) GROUP BY m ORDER BY m""".stripMargin))

  /** maintenance_delta_vacuum: disk reclaim after the cheap-delete /
    * OPTIMIZE pair ([[graft.sources.DeltaCompat.vacuum]]) — files no
    * kept version references (replaced originals, materialized DV
    * sidecars, superseded cdc) are physically deleted while every kept
    * version keeps reading. The gate layers delete → materialize →
    * vacuum(keepFrom = latest), REQUIREs the original part files and
    * sidecars are gone from disk, current + kept time travel still
    * read, and pre-vacuum history refuses; the surviving rows
    * value-gate against DuckDB. */
  val maintenanceDeltaVacuum: QueryDef = QueryDef(
    "maintenance_delta_vacuum",
    (s, d) => {
      val (fs, dir) = graft.sources.TableIO.freshScratchDir(s, "delta_vacuum")
      val li = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("k"))
        .agg(sum(expr("cast(round(l_quantity * 100) as bigint)")).as("q"))
        .select(col("k"), (col("k") % 2).as("m"), col("q"))
      // one pass over li (TableIO.writePartFiles), not a scan per part
      val pf = graft.sources.TableIO.writePartFiles(li, dir, "m", 2)
      val (p0, p1) = (pf(0)._1, pf(1)._1)
      graft.sources.DeltaCompat.writeCommit(fs, dir, 0L, Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        """{"metaData":{"id":"t-vac","format":{"provider":"parquet"}}}""",
        s"""{"add":{"path":"$p0","dataChange":true}}""",
        s"""{"add":{"path":"$p1","dataChange":true}}"""))
      // k % 5 == 3 hits both parities (k ≡ 3 and 8 mod 10), so BOTH
      // part files carry a DV and both get rewritten + reclaimed
      require(graft.sources.DeltaCompat
        .deleteWhere(s, dir, col("k") % 5L === 3L) == 1L)
      require(graft.sources.DeltaCompat.materializeDeletes(s, dir) == 2L)
      val gone = graft.sources.DeltaCompat.vacuum(s, dir, 2L)
      require(gone.exists(_.endsWith(p0)) && gone.exists(_.endsWith(p1)),
        s"vacuum must reclaim both replaced originals, got $gone")
      require(gone.exists(_.contains("deletion_vector_")),
        s"vacuum must reclaim the materialized DV sidecar, got $gone")
      require(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$p0")) &&
        !fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$p1")),
        "replaced originals must be gone from disk")
      require(graft.sources.DeltaCompat
        .readDeltaTable(s, dir, asOf = Some(2L)).count() ==
        graft.sources.DeltaCompat.readDeltaTable(s, dir).count(),
        "the kept version must still time-travel")
      val preVacuumRefuses =
        try { graft.sources.DeltaCompat.readDeltaTable(s, dir,
          asOf = Some(0L)).count(); false }
        catch { case _: Exception => true }
      require(preVacuumRefuses, "pre-vacuum history must refuse, not mis-read")
      graft.sources.DeltaCompat.readDeltaTable(s, dir)
        .groupBy(col("m"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"))
        .orderBy("m")
    },
    Some("""WITH li AS (
      |  SELECT l_orderkey AS k, l_orderkey % 2 AS m,
      |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT m, count(*) AS n, CAST(sum(q) AS BIGINT) AS sum_q
      |FROM li WHERE k % 5 <> 3 GROUP BY m ORDER BY m""".stripMargin))

  /** maintenance_delta_restore: ROLLBACK as a commit
    * ([[graft.sources.DeltaCompat.restore]]) — the standard recovery
    * op: restoring to an earlier version re-adds its files (deletion-
    * vector descriptors included) and removes the newer ones, history
    * intact, so the bad write stays inspectable while the table serves
    * the good state. The gate deletes (DV), merges (rewrite), restores
    * to the post-delete version, REQUIREs the rewritten state still
    * time-travels, and value-gates the restored table — which must
    * equal the post-delete state exactly. */
  val maintenanceDeltaRestore: QueryDef = QueryDef(
    "maintenance_delta_restore",
    (s, d) => {
      val (fs, dir) = graft.sources.TableIO.freshScratchDir(s, "delta_restore")
      // localCheckpoint: the aggregate is reused (part files + merge
      // sources) — compute it once, cut the lineage (guide §5)
      val li = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("k"))
        .agg(sum(expr("cast(round(l_quantity * 100) as bigint)")).as("q"))
        .select(col("k"), (col("k") % 2).as("m"), col("q"))
        .localCheckpoint()
      // one pass over li (TableIO.writePartFiles), not a scan per part
      val pf = graft.sources.TableIO.writePartFiles(li, dir, "m", 2)
      val (p0, p1) = (pf(0)._1, pf(1)._1)
      graft.sources.DeltaCompat.writeCommit(fs, dir, 0L, Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        """{"metaData":{"id":"t-res","format":{"provider":"parquet"}}}""",
        s"""{"add":{"path":"$p0","dataChange":true}}""",
        s"""{"add":{"path":"$p1","dataChange":true}}"""))
      // v1: DV delete; v2: a bad merge that zeroes a slice
      require(graft.sources.DeltaCompat
        .deleteWhere(s, dir, col("k") % 5L === 3L) == 1L)
      val bad = li.filter(col("k") % 4 === 1).withColumn("q", lit(0L))
      require(graft.sources.DeltaCompat.mergeInto(s, dir, bad, Seq("k")) == 2L)
      // restore to v1: the zeroed slice recovers, the delete stays
      require(graft.sources.DeltaCompat.restore(s, dir, 1L) == 3L)
      // the bad state remains inspectable
      require(graft.sources.DeltaCompat.readDeltaTable(s, dir, asOf = Some(2L))
        .filter(col("q") === 0L).count() > 0,
        "the bad merge's state must still time-travel")
      graft.sources.DeltaCompat.readDeltaTable(s, dir)
        .groupBy(col("m"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"))
        .orderBy("m")
    },
    Some("""WITH li AS (
      |  SELECT l_orderkey AS k, l_orderkey % 2 AS m,
      |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT m, count(*) AS n, CAST(sum(q) AS BIGINT) AS sum_q
      |FROM li WHERE k % 5 <> 3 GROUP BY m ORDER BY m""".stripMargin))

  /** ingest_iceberg_append: the Iceberg WRITE path
    * ([[graft.sources.IcebergCompat.createIcebergTable]] /
    * `appendSnapshot`) — transactional appends completing write parity
    * with the Delta writers: each append lands data files + a manifest,
    * a manifest list carrying the previous manifests, and the next
    * metadata version with `current-snapshot-id` moved, so every prior
    * snapshot still time-travels and the append-only window pulls
    * incrementally. REQUIREs the snapshot ladder (time travel counts at
    * both ids, incremental pull = exactly the appended slice), then
    * value-gates the current snapshot. */
  val ingestIcebergAppend: QueryDef = QueryDef(
    "ingest_iceberg_append",
    (s, d) => {
      val (_, dir) = graft.sources.TableIO.freshScratchDir(s, "iceberg_append")
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("price_cents"))
      val ic = graft.sources.IcebergCompat
      val s1 = ic.createIcebergTable(
        orders.filter(col("o_orderkey") % 3 === 0).repartition(2), dir)
      val n1 = ic.readIcebergTable(s, dir).count()
      val s2 = ic.appendSnapshot(orders.filter(col("o_orderkey") % 3 === 1), dir)
      val s3 = ic.appendSnapshot(orders.filter(col("o_orderkey") % 3 === 2), dir)
      require(s1 == 1L && s2 == 2L && s3 == 3L,
        s"snapshot ids must ladder 1,2,3, got $s1,$s2,$s3")
      require(ic.readIcebergTable(s, dir, snapshotId = Some(s1)).count() == n1,
        "the first snapshot must still time-travel after appends")
      val pulled = ic.readAddedBetween(s, dir, s2, s3).count()
      val expect = orders.filter(col("o_orderkey") % 3 === 2).count()
      require(pulled == expect,
        s"incremental pull must return exactly the appended slice " +
          s"($expect), got $pulled")
      ic.readIcebergTable(s, dir)
        .groupBy((col("o_custkey") % 10).as("kg"))
        .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("sum_cents"))
        .orderBy("kg")
    },
    Some("""SELECT o_custkey % 10 AS kg, count(*) AS n,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS sum_cents
      |FROM orders GROUP BY 1 ORDER BY kg""".stripMargin))

  /** maintenance_iceberg_expire: SNAPSHOT EXPIRY
    * ([[graft.sources.IcebergCompat.expireSnapshots]]) — the Iceberg
    * maintenance op bounding history: the metadata file is rewritten
    * without the expired snapshots and every manifest list, manifest,
    * and data file referenced ONLY by them is reclaimed, positive-list
    * so co-resident files outside Iceberg's knowledge survive. The
    * gate overwrites one file group across two snapshots, expires the
    * first, REQUIREs the replaced file + its metadata chain are gone
    * while the shared file stays, and value-gates the current
    * snapshot. */
  val maintenanceIcebergExpire: QueryDef = QueryDef(
    "maintenance_iceberg_expire",
    (s, d) => {
      val (fs, dir) = graft.sources.TableIO.freshScratchDir(s, "iceberg_expire")
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("price_cents"))
      val ic = graft.sources.IcebergCompat
      val na = graft.sources.TableIO.stageFile(
        orders.filter(col("o_orderkey") % 2 === 0), dir, "data/a.parquet")
      val nb = graft.sources.TableIO.stageFile(
        orders.filter(col("o_orderkey") % 2 === 1), dir, "data/b.parquet")
      // a2 rewrites a with bumped prices (snapshot 102 overwrites)
      val na2 = graft.sources.TableIO.stageFile(orders.filter(col("o_orderkey") % 2 === 0)
        .withColumn("price_cents", col("price_cents") + 1L), dir, "data/a2.parquet")
      val m1 = ic.writeManifest(s, dir, "m1.avro",
        Seq((1, "data/a.parquet", na), (1, "data/b.parquet", nb)))
      val ml1 = ic.writeManifestList(s, dir, "ml1.avro", Seq(m1))
      val m2 = ic.writeManifest(s, dir, "m2.avro",
        Seq((2, "data/a.parquet", na), (0, "data/b.parquet", nb),
          (1, "data/a2.parquet", na2)))
      val ml2 = ic.writeManifestList(s, dir, "ml2.avro", Seq(m2))
      ic.writeMetadata(s, dir, 2, Seq((101L, ml1), (102L, ml2)))
      val gone = ic.expireSnapshots(s, dir, Seq(102L))
      require(gone.exists(_.endsWith("data/a.parquet")) &&
        gone.exists(_.endsWith("m1.avro")) && gone.exists(_.endsWith("ml1.avro")),
        s"the replaced file and its metadata chain must be reclaimed, got $gone")
      require(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/data/a.parquet")) &&
        fs.exists(new org.apache.hadoop.fs.Path(s"$dir/data/b.parquet")),
        "only the expired-only file may vanish")
      val expiredRefuses =
        try { ic.readIcebergTable(s, dir, snapshotId = Some(101L)).count(); false }
        catch { case _: IllegalArgumentException => true }
      require(expiredRefuses, "the expired snapshot id must refuse, not mis-read")
      ic.readIcebergTable(s, dir)
        .groupBy((col("o_custkey") % 10).as("kg"))
        .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("sum_cents"))
        .orderBy("kg")
    },
    Some("""WITH o AS (
      |  SELECT o_custkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT)
      |      + CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END AS price_cents
      |  FROM orders)
      |SELECT o_custkey % 10 AS kg, count(*) AS n,
      |  CAST(sum(price_cents) AS BIGINT) AS sum_cents
      |FROM o GROUP BY 1 ORDER BY kg""".stripMargin))

  /** ingest_hudi_mor: MERGE-ON-READ — the default Hudi table type for
    * streaming ingest, where updates append Avro log blocks instead of
    * rewriting parquet ([[graft.sources.HudiCompat.readMorSnapshot]],
    * log framing in [[graft.sources.HudiLogFormat]]). The gate builds
    * one base file group updated through a completed deltacommit, one
    * LOG-ONLY file group (inserted into logs before any compaction —
    * no base file at all), and one IN-FLIGHT deltacommit whose ghost
    * blocks would zero the sums if block-level instant visibility
    * leaked. Log parsing runs in executors (one task per log file);
    * the merge is a key-partitioned window over base ∪ log rows. The
    * oracle recomputes the post-merge values from lineitem. */
  val ingestHudiMor: QueryDef = QueryDef(
    "ingest_hudi_mor",
    (s, d) => {
      val (_, dir) = graft.sources.TableIO.freshScratchDir(s, "hudi_mor")
      graft.sources.HudiCompat.writeProperties(s, dir, "MERGE_ON_READ", "k")
      // one row per order: the synthetic lineitem does NOT have unique
      // (orderkey, linenumber) pairs, and a Hudi record key must be
      // unique for upsert merges to be well-defined
      val li = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("k"))
        .agg(sum(expr("cast(round(l_quantity * 100) as bigint)")).as("q"))
        .select(col("k"), (col("k") % 3).as("grp"), col("q"))
      // base file group fgA: grp 0 at commit 001
      graft.sources.HudiCompat.beginCommit(s, dir, "001")
      graft.sources.HudiCompat.writeBaseFile(
        li.filter(col("grp") === 0), dir, "p=0", "fgA", "001")
      graft.sources.HudiCompat.completeCommit(s, dir, "001")
      // deltacommit 002: UPDATE fgA's high-quantity rows (q -> q+1)
      // via a log block, and INSERT grp 1 as a log-ONLY file group
      graft.sources.HudiCompat.beginDeltaCommit(s, dir, "002")
      graft.sources.HudiCompat.appendLogData(
        li.filter(col("grp") === 0 && col("q") >= 10000L)
          .withColumn("q", col("q") + 1L),
        dir, "p=0", "fgA", "001", 1, "002")
      graft.sources.HudiCompat.appendLogData(
        li.filter(col("grp") === 1), dir, "p=1", "fgB", "002", 1, "002")
      graft.sources.HudiCompat.completeDeltaCommit(s, dir, "002")
      // deltacommit 003 NEVER completes: its ghost rows (q=0 for every
      // fgA key) must stay invisible — the value gate fails if not
      graft.sources.HudiCompat.beginDeltaCommit(s, dir, "003")
      graft.sources.HudiCompat.appendLogData(
        li.filter(col("grp") === 0).withColumn("q", lit(0L)),
        dir, "p=0", "fgA", "001", 2, "003")
      graft.sources.HudiCompat.readHoodieTable(s, dir)
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"))
        .orderBy("grp")
    },
    Some("""WITH li AS (
      |  SELECT l_orderkey % 3 AS grp,
      |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT grp, count(*) AS n,
      |  CAST(sum(CASE WHEN grp = 0 AND q >= 10000 THEN q + 1 ELSE q END)
      |    AS BIGINT) AS sum_q
      |FROM li WHERE grp IN (0, 1) GROUP BY grp ORDER BY grp""".stripMargin))

  /** ingest_hudi_mor_incremental: record-level INCREMENTAL pull over a
    * MERGE-ON-READ table ([[graft.sources.HudiCompat
    * .readMorIncremental]]) — only the keys whose winning row was
    * written by an instant after the consumer's checkpoint: an update
    * arriving through a later log block surfaces with its merged
    * value; rows updated AT the checkpoint instant and log-only
    * inserts from it do not redeliver. Fixture: base at 001, a
    * deltacommit 002 (update + log-only insert), a deltacommit 003
    * updating a disjoint slice — the pull since 002 must return
    * exactly 003's slice, post-merge. */
  val ingestHudiMorIncremental: QueryDef = QueryDef(
    "ingest_hudi_mor_incremental",
    (s, d) => {
      val (_, dir) = graft.sources.TableIO.freshScratchDir(s, "hudi_mor_incr")
      graft.sources.HudiCompat.writeProperties(s, dir, "MERGE_ON_READ", "k")
      val li = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("k"))
        .agg(sum(expr("cast(round(l_quantity * 100) as bigint)")).as("q"))
        .select(col("k"), (col("k") % 3).as("grp"), col("q"))
      val h = graft.sources.HudiCompat
      h.beginCommit(s, dir, "001")
      h.writeBaseFile(li.filter(col("grp") === 0), dir, "p=0", "fgA", "001")
      h.completeCommit(s, dir, "001")
      // 002: update the high-q slice, insert grp 1 as a log-only group
      h.beginDeltaCommit(s, dir, "002")
      h.appendLogData(li.filter(col("grp") === 0 && col("q") >= 10000L)
        .withColumn("q", col("q") + 1L), dir, "p=0", "fgA", "001", 1, "002")
      h.appendLogData(li.filter(col("grp") === 1), dir, "p=1", "fgB", "002", 1, "002")
      h.completeDeltaCommit(s, dir, "002")
      // 003: update a DISJOINT low-q slice — the only delta after 002
      h.beginDeltaCommit(s, dir, "003")
      h.appendLogData(li.filter(col("grp") === 0 && col("q") < 3000L)
        .withColumn("q", col("q") + 7L), dir, "p=0", "fgA", "001", 2, "003")
      h.completeDeltaCommit(s, dir, "003")
      graft.sources.HudiCompat.readMorIncremental(s, dir, "002")
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"),
          min(col("q")).as("min_q"))
    },
    Some("""WITH li AS (
      |  SELECT l_orderkey % 3 AS grp,
      |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT count(*) AS n, CAST(sum(q + 7) AS BIGINT) AS sum_q,
      |  CAST(min(q + 7) AS BIGINT) AS min_q
      |FROM li WHERE grp = 0 AND q < 3000""".stripMargin))

  /** ingest_hudi_incremental: Hudi's flagship INCREMENTAL consumption
    * mode at file-slice granularity ([[graft.sources.HudiCompat
    * .readIncremental]]): only the file groups created or rewritten
    * after the consumer's checkpoint instant come back — here the CoW
    * rewrite of one group (values bumped) lands after instant 001
    * while the untouched group does not. */
  val ingestHudiIncremental: QueryDef = QueryDef(
    "ingest_hudi_incremental",
    (s, d) => {
      val (_, dir) = graft.sources.TableIO.freshScratchDir(s, "hudi_incr")
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        expr("cast(round(l_quantity * 100) as bigint)").as("qty_cents"))
      val h = graft.sources.HudiCompat
      h.beginCommit(s, dir, "001")
      h.writeBaseFile(li.filter(col("l_orderkey") % 2 === 0), dir, "m=0", "fgA", "001")
      h.writeBaseFile(li.filter(col("l_orderkey") % 2 === 1), dir, "m=1", "fgB", "001")
      h.completeCommit(s, dir, "001")
      h.beginCommit(s, dir, "002")
      h.writeBaseFile(li.filter(col("l_orderkey") % 2 === 0)
        .withColumn("qty_cents", col("qty_cents") + 1), dir, "m=0", "fgA", "002")
      h.completeCommit(s, dir, "002")
      h.readIncremental(s, dir, "001")
        .agg(count(lit(1)).as("n"), sum(col("qty_cents")).as("sum_qty"))
    },
    Some("""SELECT count(*) AS n,
      |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT) + 1) AS BIGINT) AS sum_qty
      |FROM lineitem WHERE l_orderkey % 2 = 0""".stripMargin))

  /** maintenance_hudi_clean: the Hudi CLEANER
    * ([[graft.sources.HudiCompat.clean]]) — completes the disk-reclaim
    * triad (Delta vacuum / Iceberg expire / Hudi clean): per file
    * group, slices older than the one serving the retention instant
    * are reclaimed, base files and attached logs together, while every
    * query at or after the retention keeps its answer. The gate
    * rewrites one group, cleans at the rewrite instant, REQUIREs the
    * superseded slice is gone and the untouched group intact, and
    * value-gates the post-clean table. */
  val maintenanceHudiClean: QueryDef = QueryDef(
    "maintenance_hudi_clean",
    (s, d) => {
      val (fs, dir) = graft.sources.TableIO.freshScratchDir(s, "hudi_clean")
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        expr("cast(round(l_quantity * 100) as bigint)").as("qty_cents"))
      val h = graft.sources.HudiCompat
      h.beginCommit(s, dir, "001")
      h.writeBaseFile(li.filter(col("l_orderkey") % 2 === 0), dir, "m=0", "fgA", "001")
      h.writeBaseFile(li.filter(col("l_orderkey") % 2 === 1), dir, "m=1", "fgB", "001")
      h.completeCommit(s, dir, "001")
      h.beginCommit(s, dir, "002")
      h.writeBaseFile(li.filter(col("l_orderkey") % 2 === 0)
        .withColumn("qty_cents", col("qty_cents") + 1), dir, "m=0", "fgA", "002")
      h.completeCommit(s, dir, "002")
      val before = h.readHoodieTable(s, dir).count()
      val gone = graft.sources.HudiCompat.clean(s, dir, "002")
      require(gone.size == 1 && gone.head.endsWith("fgA_0-0-0_001.parquet"),
        s"exactly the superseded fgA slice must be reclaimed, got $gone")
      require(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$dir/m=0/fgA_0-0-0_001.parquet")), "reclaimed slice must be gone")
      require(h.readHoodieTable(s, dir).count() == before,
        "the current snapshot must read identically after cleaning")
      h.readHoodieTable(s, dir)
        .groupBy((col("l_orderkey") % 2).as("m"))
        .agg(count(lit(1)).as("n"), sum(col("qty_cents")).as("sum_qty"))
        .orderBy("m")
    },
    Some("""SELECT l_orderkey % 2 AS m, count(*) AS n,
      |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)
      |    + CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS sum_qty
      |FROM lineitem GROUP BY 1 ORDER BY m""".stripMargin))

  /** pipeline_foreign_sync: the MIGRATION-BRIDGE composition the
    * interop readers exist for — keep a native [[graft.sources
    * .SnapshotTable]] continuously in sync with a foreign Delta table
    * WITHOUT re-reading it: initial load at the foreign head, foreign
    * table advances two commits, one incremental pull
    * ([[graft.sources.DeltaCompat.addedBetween]]) appends exactly the
    * delta. REQUIREs the sync touched only the window's files (the
    * destination chain stays O(delta): exactly one appended snapshot),
    * then value-gates the DESTINATION's content against DuckDB
    * computing the full foreign table from lineitem. */
  val pipelineForeignSync: QueryDef = QueryDef(
    "pipeline_foreign_sync",
    (s, d) => {
      val (fs, base) = graft.sources.TableIO.freshScratchDir(s, "foreign_sync")
      val src = s"$base/src"; val dst = s"$base/dst"
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        expr("cast(round(l_quantity * 100) as bigint)").as("qty_cents"),
        (col("l_orderkey") % 4).as("m"))
      // one pass over li (TableIO.writePartFiles): files not yet named
      // by a commit are invisible to readers, so writing all four parts
      // upfront preserves every incremental-pull observation below
      val pf = graft.sources.TableIO.writePartFiles(li, src, "m", 4)
      def writePart(m: Int): String = pf(m)._1
      graft.sources.DeltaCompat.writeCommit(fs, src, 0, Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        """{"metaData":{"id":"src","format":{"provider":"parquet"}}}""",
        s"""{"add":{"path":"${writePart(0)}","dataChange":true}}""",
        s"""{"add":{"path":"${writePart(1)}","dataChange":true}}"""))
      // initial load at the foreign head
      val v0 = graft.sources.DeltaCompat.latestVersion(s, src)
      graft.sources.SnapshotTable.commit(
        graft.sources.DeltaCompat.readDeltaTable(s, src), dst)
      // the foreign table advances two commits
      graft.sources.DeltaCompat.writeCommit(fs, src, 1,
        Seq(s"""{"add":{"path":"${writePart(2)}","dataChange":true}}"""))
      graft.sources.DeltaCompat.writeCommit(fs, src, 2,
        Seq(s"""{"add":{"path":"${writePart(3)}","dataChange":true}}"""))
      // ONE incremental pull appends exactly the delta
      val v1 = graft.sources.DeltaCompat.latestVersion(s, src)
      require(v1 > v0, "foreign table must have advanced")
      val id = graft.sources.SnapshotTable.append(
        graft.sources.DeltaCompat.readAddedBetween(s, src, v0, v1), dst)
      require(id == 2L, s"one appended snapshot expected at the destination, got $id")
      graft.sources.SnapshotTable.read(s, dst)
        .groupBy(col("m"))
        .agg(count(lit(1)).as("n"), sum(col("qty_cents")).as("sum_qty"))
        .orderBy("m")
    },
    Some("""SELECT l_orderkey % 4 AS m, count(*) AS n,
      |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem GROUP BY 1 ORDER BY m""".stripMargin))

  /** privacy_row_policy_foreign: ROW-LEVEL SECURITY carried INTO a
    * foreign-format read — the composition the r14 RowPolicy
    * descendant-path fix makes sound: a policy registered on the
    * table's ROOT governs the Hudi compat reader automatically, because
    * the resolved base files are descendants of the governed root (the
    * reader never bypasses the plan-time rule the way a direct
    * part-file read once did; Hudi/Iceberg resolve their metadata
    * driver-side, so only DATA rows ever hit the governed scan — a
    * Delta-root policy instead fails CLOSED on the log's own Spark
    * read, the right posture for a predicate its columns can't
    * satisfy). REQUIREs the policy predicate reached the physical
    * plan; value-gated against DuckDB applying the same predicate. */
  val privacyRowPolicyForeign: QueryDef = QueryDef(
    "privacy_row_policy_foreign",
    (s, d) => {
      val (_, dir) = graft.sources.TableIO.freshScratchDir(s, "hudi_rls")
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        expr("cast(round(l_quantity * 100) as bigint)").as("qty_cents"))
      val h = graft.sources.HudiCompat
      h.beginCommit(s, dir, "001")
      h.writeBaseFile(li.filter(col("l_orderkey") % 2 === 0), dir, "m=0", "fgA", "001")
      h.writeBaseFile(li.filter(col("l_orderkey") % 2 === 1), dir, "m=1", "fgB", "001")
      h.completeCommit(s, dir, "001")
      graft.functions.GraftExtensions.register(s)
      graft.plans.RowPolicy.register(dir, "qty_cents % 10L <> 3L")
      try {
        val q = h.readHoodieTable(s, dir)
          .groupBy((col("l_orderkey") % 2).as("m"))
          .agg(count(lit(1)).as("n"), sum(col("qty_cents")).as("sum_qty"))
          .orderBy("m")
        val phys = q.queryExecution.executedPlan.toString
        require(phys.contains("qty_cents"),
          "policy predicate must reach the physical plan")
        // force materialization INSIDE the registration window
        val rows = q.collect().toSeq
        import s.implicits._
        rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toDF("m", "n", "sum_qty")
      } finally graft.plans.RowPolicy.deregister(dir)
    },
    Some("""WITH li AS (
      |  SELECT l_orderkey % 2 AS m,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS q
      |  FROM lineitem)
      |SELECT m, count(*) AS n, CAST(sum(q) AS BIGINT) AS sum_qty
      |FROM li WHERE q % 10 <> 3 GROUP BY m ORDER BY m""".stripMargin))

  /** ingest_iceberg: interop with the PUBLIC Apache Iceberg format
    * ([[graft.sources.IcebergCompat]]) — metadata JSON → manifest-list
    * Avro → manifest Avro → parquet, resolved with nothing but the Avro
    * core + Jackson already on Spark's classpath. The chain exercises
    * the spec's entry-status algebra across two snapshots: snapshot 1
    * ADDs two slices; snapshot 2 (an overwrite) marks one DELETED,
    * carries the other EXISTING, and ADDs a replacement with bumped
    * values. Value-gated against DuckDB computing the surviving slices
    * from lineitem. */
  val ingestIceberg: QueryDef = QueryDef(
    "ingest_iceberg",
    (s, d) => {
      val (_, dir) = graft.sources.TableIO.freshScratchDir(s, "iceberg_compat")
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        expr("cast(round(l_quantity * 100) as bigint)").as("qty_cents"))
      val ic = graft.sources.IcebergCompat
      val na = graft.sources.TableIO.stageFile(
        li.filter(col("l_orderkey") % 2 === 0), dir, "data/even_v1.parquet")
      val nb = graft.sources.TableIO.stageFile(
        li.filter(col("l_orderkey") % 2 === 1), dir, "data/odd.parquet")
      val m1 = ic.writeManifest(s, dir, "m1.avro",
        Seq((1, "data/even_v1.parquet", na), (1, "data/odd.parquet", nb)))
      val ml1 = ic.writeManifestList(s, dir, "ml1.avro", Seq(m1))
      ic.writeMetadata(s, dir, 1, Seq((101L, ml1)))
      // snapshot 2: OVERWRITE the even slice with qty bumped by 1
      val nc = graft.sources.TableIO.stageFile(li.filter(col("l_orderkey") % 2 === 0)
        .withColumn("qty_cents", col("qty_cents") + 1), dir, "data/even_v2.parquet")
      val m2 = ic.writeManifest(s, dir, "m2.avro",
        Seq((2, "data/even_v1.parquet", na), (0, "data/odd.parquet", nb),
          (1, "data/even_v2.parquet", nc)))
      val ml2 = ic.writeManifestList(s, dir, "ml2.avro", Seq(m2))
      ic.writeMetadata(s, dir, 2, Seq((101L, ml1), (102L, ml2)))
      ic.readIcebergTable(s, dir)
        .groupBy((col("l_orderkey") % 2).as("m"))
        .agg(count(lit(1)).as("n"), sum(col("qty_cents")).as("sum_qty"))
        .orderBy("m")
    },
    Some("""WITH li AS (
      |  SELECT l_orderkey % 2 AS m,
      |    CAST(round(l_quantity * 100) AS BIGINT)
      |      + CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END AS q
      |  FROM lineitem)
      |SELECT m, count(*) AS n, CAST(sum(q) AS BIGINT) AS sum_qty
      |FROM li GROUP BY m ORDER BY m""".stripMargin))

  /** ingest_iceberg_incremental: INCREMENTAL PULL between Iceberg
    * snapshots ([[graft.sources.IcebergCompat.addedBetween]]) —
    * completes incremental-consumption parity across all three foreign
    * formats: snapshot 1 adds one slice, snapshot 2 carries it EXISTING
    * and adds two more; the (101 → 102] window value-gates exactly the
    * two appended slices. */
  val ingestIcebergIncremental: QueryDef = QueryDef(
    "ingest_iceberg_incremental",
    (s, d) => {
      val (_, dir) = graft.sources.TableIO.freshScratchDir(s, "iceberg_incr")
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        expr("cast(round(l_quantity * 100) as bigint)").as("qty_cents"),
        (col("l_orderkey") % 3).as("m"))
      val ic = graft.sources.IcebergCompat
      def writeSlice(m: Int): Long = graft.sources.TableIO.stageFile(
        li.filter(col("m") === m), dir, s"data/s$m.parquet")
      val n0 = writeSlice(0)
      val m1 = ic.writeManifest(s, dir, "m1.avro", Seq((1, "data/s0.parquet", n0)))
      val ml1 = ic.writeManifestList(s, dir, "ml1.avro", Seq(m1))
      val n1 = writeSlice(1)
      val n2 = writeSlice(2)
      val m2 = ic.writeManifest(s, dir, "m2.avro",
        Seq((0, "data/s0.parquet", n0), (1, "data/s1.parquet", n1),
          (1, "data/s2.parquet", n2)))
      val ml2 = ic.writeManifestList(s, dir, "ml2.avro", Seq(m2))
      ic.writeMetadata(s, dir, 1, Seq((101L, ml1), (102L, ml2)))
      ic.readAddedBetween(s, dir, 101L, 102L)
        .groupBy(col("m"))
        .agg(count(lit(1)).as("n"), sum(col("qty_cents")).as("sum_qty"))
        .orderBy("m")
    },
    Some("""WITH li AS (
      |  SELECT l_orderkey % 3 AS m,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS q
      |  FROM lineitem)
      |SELECT m, count(*) AS n, CAST(sum(q) AS BIGINT) AS sum_qty
      |FROM li WHERE m IN (1, 2) GROUP BY m ORDER BY m""".stripMargin))

  /** ingest_iceberg_v2_deletes: the format-v2 ROW-LEVEL DELETE semantics
    * applied, not refused — position deletes (file-addressed `(path,
    * pos)` rows anti-joined against the data scan's own
    * `_metadata.file_path`/`row_index` provenance, `deleteSeq >=
    * dataSeq`) and equality deletes (schema-id-resolved columns,
    * STRICT `deleteSeq > dataSeq` so a row re-inserted after the
    * delete survives). The fixture writes the base slice in a pinned
    * physical row order (sort-within-partition by the unique key), so
    * DuckDB replays positions with `row_number() OVER (ORDER BY key)`.
    * One data file at seq 1, position deletes of every 7th row at seq
    * 2, an equality delete of a customer slice at seq 2, and a seq-3
    * re-insert of part of that slice with bumped prices — every delete
    * rule observable in the values. */
  val ingestIcebergV2Deletes: QueryDef = QueryDef(
    "ingest_iceberg_v2_deletes",
    (s, d) => {
      val (_, dir) = graft.sources.TableIO.freshScratchDir(s, "iceberg_v2del")
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("price_cents"))
      // pinned physical row order: position p holds the (p+1)-smallest okey
      // stageFile coalesces each frame to one file: the distinct and the
      // bare filter below may arrive in several partitions, all must land
      val na = graft.sources.TableIO.stageFile(
        orders.coalesce(1).sortWithinPartitions("o_orderkey"), dir, "data/base.parquet")
      // position deletes: every 7th physical row of base.parquet
      val w = org.apache.spark.sql.expressions.Window.orderBy("o_orderkey")
      val target = s"$dir/data/base.parquet"
      val npd = graft.sources.TableIO.stageFile(orders.coalesce(1)
          .withColumn("pos", row_number().over(w).cast("long") - 1L)
          .filter(col("pos") % 7 === 0)
          .select(lit(target).as("file_path"), col("pos")), dir, "data/pd.parquet")
      // equality delete: the o_custkey % 97 == 0 slice, by customer
      val ned = graft.sources.TableIO.stageFile(orders.filter(col("o_custkey") % 97 === 0)
          .select(col("o_custkey")).distinct(), dir, "data/ed.parquet")
      // seq-3 re-insert: the even-okey half of that slice, price bumped
      val nb = graft.sources.TableIO.stageFile(
        orders.filter(col("o_custkey") % 97 === 0 && col("o_orderkey") % 2 === 0)
          .withColumn("price_cents", col("price_cents") + 1), dir, "data/reinsert.parquet")
      val ic = graft.sources.IcebergCompat
      val m = ic.writeManifestEntries(s, dir, "m1.avro", Seq(
        ic.Entry(1, "data/base.parquet", na, content = 0, seq = 1L),
        ic.Entry(1, "data/pd.parquet", npd, content = 1, seq = 2L),
        ic.Entry(1, "data/ed.parquet", ned, content = 2, seq = 2L,
          equalityIds = Seq(2)),
        ic.Entry(1, "data/reinsert.parquet", nb, content = 0, seq = 3L)))
      val ml = ic.writeManifestList(s, dir, "ml1.avro", Seq(m))
      ic.writeMetadata(s, dir, 1, Seq((101L, ml)),
        schemaFields = Seq((1, "o_orderkey"), (2, "o_custkey"), (3, "price_cents")))
      ic.readIcebergTable(s, dir)
        .groupBy((col("o_custkey") % 10).as("kg"))
        .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("sum_cents"))
        .orderBy("kg")
    },
    Some("""WITH a AS (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
      |    row_number() OVER (ORDER BY o_orderkey) - 1 AS pos
      |  FROM orders),
      |surv AS (
      |  SELECT o_custkey, price_cents FROM a
      |  WHERE pos % 7 <> 0 AND o_custkey % 97 <> 0),
      |reins AS (
      |  SELECT o_custkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) + 1 AS price_cents
      |  FROM orders WHERE o_custkey % 97 = 0 AND o_orderkey % 2 = 0),
      |u AS (SELECT * FROM surv UNION ALL SELECT * FROM reins)
      |SELECT o_custkey % 10 AS kg, count(*) AS n,
      |  CAST(sum(price_cents) AS BIGINT) AS sum_cents
      |FROM u GROUP BY 1 ORDER BY kg""".stripMargin))

  /** ingest_iceberg_v3_dv: FORMAT-V3 DELETION VECTORS applied — the
    * deleted row positions live as `deletion-vector-v1` blobs inside a
    * [[graft.sources.Puffin]] file (v3 adopted Delta's 64-bit roaring
    * portable serialization verbatim), framed by the manifest's
    * `referenced_data_file` / `content_offset` /
    * `content_size_in_bytes` fields and applied with the position-
    * delete sequence rule (`dvSeq >= dataSeq`). Two base files in
    * pinned physical order share ONE puffin file (one blob each —
    * every 5th physical row of the even-key slice deleted, every 3rd
    * of the odd); DuckDB replays the positions with `row_number()`
    * per slice. */
  val ingestIcebergV3Dv: QueryDef = QueryDef(
    "ingest_iceberg_v3_dv",
    (s, d) => {
      val (fs, dir) = graft.sources.TableIO.freshScratchDir(s, "iceberg_v3dv")
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("price_cents"))
      // pinned physical order per slice: position p holds the
      // (p+1)-smallest o_orderkey of that slice
      val na = graft.sources.TableIO.stageFile(orders.filter(col("o_orderkey") % 2 === 0)
        .coalesce(1).sortWithinPartitions("o_orderkey"), dir, "data/a.parquet")
      val nb = graft.sources.TableIO.stageFile(orders.filter(col("o_orderkey") % 2 === 1)
        .coalesce(1).sortWithinPartitions("o_orderkey"), dir, "data/b.parquet")
      // one puffin file, one DV blob per data file: positions are pure
      // arithmetic over the slice row counts
      val dvs = graft.sources.Puffin.writeDvFile(fs,
        new org.apache.hadoop.fs.Path(s"$dir/data/dv.puffin"), Seq(
          "data/a.parquet" -> (0L until na by 5L).toArray,
          "data/b.parquet" -> (0L until nb by 3L).toArray))
      val ic = graft.sources.IcebergCompat
      val m = ic.writeManifestEntries(s, dir, "m1.avro", Seq(
        ic.Entry(1, "data/a.parquet", na, content = 0, seq = 1L),
        ic.Entry(1, "data/b.parquet", nb, content = 0, seq = 1L),
        ic.Entry(1, "data/dv.puffin", dvs(0).cardinality, content = 1,
          seq = 2L, format = "PUFFIN",
          referencedDataFile = Some("data/a.parquet"),
          contentOffset = Some(dvs(0).offset), contentSize = Some(dvs(0).length)),
        ic.Entry(1, "data/dv.puffin", dvs(1).cardinality, content = 1,
          seq = 2L, format = "PUFFIN",
          referencedDataFile = Some("data/b.parquet"),
          contentOffset = Some(dvs(1).offset), contentSize = Some(dvs(1).length))))
      val ml = ic.writeManifestList(s, dir, "ml1.avro", Seq(m))
      ic.writeMetadata(s, dir, 1, Seq((101L, ml)),
        schemaFields = Seq((1, "o_orderkey"), (2, "o_custkey"),
          (3, "price_cents")),
        formatVersion = 3)
      ic.readIcebergTable(s, dir)
        .groupBy((col("o_custkey") % 10).as("kg"))
        .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("sum_cents"))
        .orderBy("kg")
    },
    Some("""WITH a AS (
      |  SELECT o_custkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
      |    o_orderkey % 2 AS m,
      |    row_number() OVER (PARTITION BY o_orderkey % 2
      |      ORDER BY o_orderkey) - 1 AS pos
      |  FROM orders),
      |surv AS (
      |  SELECT o_custkey, price_cents FROM a
      |  WHERE (m = 0 AND pos % 5 <> 0) OR (m = 1 AND pos % 3 <> 0))
      |SELECT o_custkey % 10 AS kg, count(*) AS n,
      |  CAST(sum(price_cents) AS BIGINT) AS sum_cents
      |FROM surv GROUP BY 1 ORDER BY kg""".stripMargin))

  /** maintenance_snapshot_uniform: DUAL-FORMAT export
    * ([[graft.sources.DeltaCompat.exportDeltaLog]] — the UniForm idea):
    * a snapshot table's manifest chain (commit, O(delta) append, a
    * COMPACT that rewrites the layout, another append) is translated
    * into a `_delta_log` living in the same root — zero data copied,
    * one JSON commit per snapshot, the compact surfacing exactly as
    * Delta expects (old files removed + compacted file added in one
    * commit). The gate REQUIREs one Delta commit per snapshot and that
    * the resolved live set equals the current manifest's files, then
    * value-gates the DELTA-protocol read of the table against DuckDB
    * computing from the base slices — the same bytes serve both
    * formats. */
  val maintenanceSnapshotUniform: QueryDef = QueryDef(
    "maintenance_snapshot_uniform",
    (s, d) => {
      val money = org.apache.spark.sql.types.DecimalType(18, 2)
      val (_, root) = graft.sources.TableIO.freshScratchDir(s, "snapshot/uniform")
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        (col("o_orderkey") % 4).as("m"),
        col("o_totalprice").cast(money).as("o_totalprice"))
      val slice = (m: Int) => orders.filter(col("m") === m)
      graft.sources.SnapshotTable.commit(slice(0), root)              // v1
      graft.sources.SnapshotTable.append(slice(1), root)              // v2
      graft.sources.SnapshotTable.compact(s, root, rowsPerFile = 100000) // v3
      graft.sources.SnapshotTable.append(slice(2), root)              // v4
      val n = graft.sources.DeltaCompat.exportDeltaLog(s, root)
      require(n == 4, s"one Delta commit per snapshot expected, wrote $n")
      val live = graft.sources.DeltaCompat.liveFiles(s, root)
        .map(_.split('/').takeRight(2).mkString("/")).toSet
      val manifest = graft.sources.SnapshotTable
        .dirsAt(s, root, 4L).toSet
      require(live.forall(f => manifest.contains(f.split('/').head)),
        s"Delta live set must resolve to the current manifest's dirs: $live vs $manifest")
      graft.sources.DeltaCompat.readDeltaTable(s, root)
        .groupBy(col("m"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice")).cast("double").as("sum_price"))
        .orderBy("m")
    },
    Some("""SELECT o_orderkey % 4 AS m, count(*) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders WHERE o_orderkey % 4 IN (0, 1, 2)
      |GROUP BY 1 ORDER BY m""".stripMargin))

  /** maintenance_snapshot_uniform_iceberg: the Iceberg leg of the
    * dual-format export ([[graft.sources.IcebergCompat
    * .exportIcebergMetadata]], sibling of the Delta-log export): the
    * same snapshot chain (commit, append, COMPACT, append) translated
    * into Iceberg `metadata/` over the same files — zero data copied,
    * one manifest per snapshot. The gate REQUIREs one exported snapshot
    * per table snapshot and that the Iceberg-resolved live set equals
    * the current manifest's dirs, then value-gates the ICEBERG-protocol
    * read against DuckDB computing from the base slices — one set of
    * parquet bytes now serves THREE formats (snapshot table, Delta,
    * Iceberg). */
  val maintenanceSnapshotUniformIceberg: QueryDef = QueryDef(
    "maintenance_snapshot_uniform_iceberg",
    (s, d) => {
      val money = org.apache.spark.sql.types.DecimalType(18, 2)
      val (_, root) = graft.sources.TableIO.freshScratchDir(s, "snapshot/uniform_ice")
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        (col("o_orderkey") % 4).as("m"),
        col("o_totalprice").cast(money).as("o_totalprice"))
      val slice = (m: Int) => orders.filter(col("m") === m)
      graft.sources.SnapshotTable.commit(slice(0), root)              // v1
      graft.sources.SnapshotTable.append(slice(1), root)              // v2
      graft.sources.SnapshotTable.compact(s, root, rowsPerFile = 100000) // v3
      graft.sources.SnapshotTable.append(slice(2), root)              // v4
      val n = graft.sources.IcebergCompat.exportIcebergMetadata(s, root)
      require(n == 4, s"one Iceberg snapshot per table snapshot expected, wrote $n")
      val live = graft.sources.IcebergCompat.liveFiles(s, root)
        .map(_.split('/').takeRight(2).mkString("/")).toSet
      val manifest = graft.sources.SnapshotTable.dirsAt(s, root, 4L).toSet
      require(live.forall(f => manifest.contains(f.split('/').head)),
        s"Iceberg live set must resolve to the current manifest's dirs: $live vs $manifest")
      graft.sources.IcebergCompat.readIcebergTable(s, root)
        .groupBy(col("m"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice")).cast("double").as("sum_price"))
        .orderBy("m")
    },
    Some("""SELECT o_orderkey % 4 AS m, count(*) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders WHERE o_orderkey % 4 IN (0, 1, 2)
      |GROUP BY 1 ORDER BY m""".stripMargin))

  /** pipeline_branch_experiment: the FORK → VALIDATE → MERGE-OR-DROP
    * experimentation workflow the branch layer exists for (Nessie/LakeFS
    * promotion flow): two candidate data drops are staged on branches,
    * each validated IN ISOLATION (mean document length of the branch's
    * NEW rows against a fixed bar — main never sees unvalidated data),
    * and only the passing branch merges; the failing one is dropped and
    * a keepLast=1 vacuum REQUIREs its data dirs are physically
    * reclaimed (the reject path must not leak storage). The final main
    * state — original corpus plus exactly the validated drop — is
    * value-gated against DuckDB replaying the acceptance predicate. */
  val pipelineBranchExperiment: QueryDef = QueryDef(
    "pipeline_branch_experiment",
    (s, d) => {
      val (fs, root) = graft.sources.TableIO.freshScratchDir(s, "snapshot/docs_exp")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      graft.sources.SnapshotTable.commit(
        docs.filter(col("source") =!= "src0"), root) // v1: curated corpus
      val bar = 100L
      def stage(name: String, candidate: org.apache.spark.sql.DataFrame): Boolean = {
        graft.sources.SnapshotTable.branchCreate(s, root, name)
        graft.sources.SnapshotTable.branchAppend(candidate, root, name)
        // validate the branch's new rows in isolation: left-anti vs main
        val newRows = graft.sources.SnapshotTable.branchRead(s, root, name)
          .join(graft.sources.SnapshotTable.read(s, root),
            Seq("doc_id"), "left_anti")
        val Array(n, sum) = newRows
          .agg(count(lit(1)),
            coalesce(org.apache.spark.sql.functions.sum(col("n_chars")), lit(0L)))
          .head().toSeq.map(_.toString.toLong).toArray
        val pass = n > 0 && sum >= bar * n // mean >= bar, in exact integers
        if (pass) graft.sources.SnapshotTable.mergeBranch(s, root, name)
        else graft.sources.SnapshotTable.branchDrop(s, root, name)
        pass
      }
      val badPassed = stage("exp-short",
        docs.filter(col("source") === "src0" && col("n_chars") < bar))
      val goodPassed = stage("exp-long",
        docs.filter(col("source") === "src0" && col("n_chars") >= bar))
      require(!badPassed && goodPassed,
        "the short-doc drop must fail validation; the long-doc drop must pass")
      // the reject path must not leak storage
      graft.sources.SnapshotTable.vacuum(s, root, keepLast = 1)
      val leaked = fs.listStatus(new org.apache.hadoop.fs.Path(root))
        .map(_.getPath.getName).filter(_.contains("-br")).toSeq
      require(leaked.isEmpty, s"dropped branch dirs must be reclaimed: $leaked")
      graft.sources.SnapshotTable.read(s, root)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("source")
    },
    Some("""SELECT source, count(*) AS n,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |WHERE source <> 'src0' OR n_chars >= 100
      |GROUP BY 1 ORDER BY source""".stripMargin))

  /** ingest_delta_dv: DELETION-VECTOR reads — the default-on row-level
    * delete representation of recent Delta writers (PROTOCOL.md
    * "Deletion Vectors": a roaring bitmap of deleted row indexes in a
    * sidecar file, attached to the `add` via its descriptor). A
    * two-file table is committed, then one file is re-added carrying a
    * DV that masks exactly its high-quantity rows (positions resolved
    * via `_metadata.row_index` on the deterministically-ordered file);
    * [[graft.sources.DeltaCompat.readDeltaTable]] applies the mask as
    * an anti-join on (file, row_index) — the bitmap plane stays
    * driver-side metadata, deleted rows never leave the scan. The
    * oracle recomputes the surviving rows from lineitem by value. */
  val ingestDeltaDv: QueryDef = QueryDef(
    "ingest_delta_dv",
    (s, d) => {
      val (fs, dir) = graft.sources.TableIO.freshScratchDir(s, "delta_dv")
      fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
      val li = Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        expr("cast(round(l_quantity * 100) as bigint)").as("qty_cents"),
        (col("l_orderkey") % 2).as("m"))
      // one pass over li; sortCols pins the physical row order the DV
      // positions below address (same pinned layout as the old
      // per-part orderBy+coalesce(1) writes)
      val pf = graft.sources.TableIO.writePartFiles(li, dir, "m", 2,
        sortCols = Seq("l_orderkey", "l_linenumber"))
      val (p0, p1) = (pf(0)._1, pf(1)._1)
      // deleted row POSITIONS of part 0: where qty >= 2500 cents —
      // resolved from the file itself via the parquet row index, so
      // the bitmap matches physical order exactly
      val positions = s.read.parquet(s"$dir/$p0")
        .select(col("_metadata.row_index"))
        .filter(col("qty_cents") >= 2500L)
        .collect().map(_.getLong(0))
      val dv = graft.sources.DeletionVectors.writeSidecar(fs, dir, positions)
      graft.sources.DeltaCompat.writeCommit(fs, dir, 0, Seq(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
        """{"metaData":{"id":"t-dv","format":{"provider":"parquet"}}}""",
        s"""{"add":{"path":"$p0","dataChange":true}}""",
        s"""{"add":{"path":"$p1","dataChange":true}}"""))
      graft.sources.DeltaCompat.writeCommit(fs, dir, 1, Seq(
        s"""{"add":{"path":"$p0","dataChange":true,"deletionVector":{"storageType":"${dv.storageType}","pathOrInlineDv":"${dv.pathOrInlineDv}","offset":${dv.offset.get},"sizeInBytes":${dv.sizeInBytes},"cardinality":${dv.cardinality}}}}"""))
      graft.sources.DeltaCompat.readDeltaTable(s, dir)
        .groupBy(col("m"))
        .agg(count(lit(1)).as("n"), sum(col("qty_cents")).as("sum_qty"))
        .orderBy("m")
    },
    Some("""WITH li AS (
      |  SELECT l_orderkey % 2 AS m,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS q
      |  FROM lineitem)
      |SELECT m, count(*) AS n, CAST(sum(q) AS BIGINT) AS sum_qty
      |FROM li WHERE m = 1 OR q < 2500
      |GROUP BY m ORDER BY m""".stripMargin))

  /** ingest_delta_column_mapping: COLUMN-MAPPING reads — the other
    * default-on feature of modern Delta tables (`delta.columnMapping
    * .mode=name`/`id`): physical parquet columns carry opaque names
    * (`col-<uuid>`), and the logical schema lives in
    * `metaData.schemaString` with per-field
    * `delta.columnMapping.physicalName`. The reader resolves physical →
    * logical from the metaData (valid under BOTH modes, since writers
    * must record physicalName either way); the path-only API refuses.
    * Value-gated against DuckDB on the logical column names. */
  val ingestDeltaColumnMapping: QueryDef = QueryDef(
    "ingest_delta_column_mapping",
    (s, d) => {
      val (fs, dir) = graft.sources.TableIO.freshScratchDir(s, "delta_cm")
      fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
      import org.apache.spark.sql.types._
      val cust = Tables.customer(s, d).select(
        col("c_nationkey").cast("long").as("col-n8f2"),
        col("c_mktsegment").as("col-s1c7"),
        expr("cast(round(c_acctbal * 100) as bigint)").as("col-b4e9"))
      graft.sources.TableIO.stageFile(cust, dir, "part-00000.snappy.parquet")
      def field(name: String, phys: String, id: Long, dt: DataType) =
        StructField(name, dt, nullable = true, new MetadataBuilder()
          .putLong("delta.columnMapping.id", id)
          .putString("delta.columnMapping.physicalName", phys).build())
      val schemaJson = StructType(Seq(
        field("nation", "col-n8f2", 1L, LongType),
        field("mktsegment", "col-s1c7", 2L, StringType),
        field("bal_cents", "col-b4e9", 3L, LongType)))
        .json.replace("\\", "\\\\").replace("\"", "\\\"")
      graft.sources.DeltaCompat.writeCommit(fs, dir, 0L, Seq(
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"t-cm","format":{"provider":"parquet"},"schemaString":"$schemaJson","configuration":{"delta.columnMapping.mode":"name"}}}""",
        """{"add":{"path":"part-00000.snappy.parquet","dataChange":true}}"""))
      val t = graft.sources.DeltaCompat.readDeltaTable(s, dir)
      require(t.columns.toSeq == Seq("nation", "mktsegment", "bal_cents"),
        s"column mapping must surface logical names, got ${t.columns.toSeq}")
      t.groupBy(col("nation"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("mktsegment")).as("n_seg"),
          sum(col("bal_cents")).as("sum_bal"))
        .orderBy("nation")
    },
    Some("""SELECT c_nationkey AS nation, count(*) AS n,
      |  count(DISTINCT c_mktsegment) AS n_seg,
      |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
      |    AS sum_bal
      |FROM customer GROUP BY 1 ORDER BY nation""".stripMargin))

  val all: Seq[QueryDef] = Seq(
    maintenanceSummaryRewrite, ingestDeltaLog, ingestDeltaLogCheckpointed,
    ingestDeltaDv, ingestDeltaColumnMapping, ingestDeltaCdf,
    ingestDeltaPartitioned,
    maintenanceDeltaDvDelete, maintenanceDeltaMerge, maintenanceDeltaDvCompact,
    maintenanceDeltaVacuum, maintenanceDeltaRestore, maintenanceIcebergExpire,
    ingestIcebergAppend,
    ingestHudiCow, ingestDeltaIncremental, ingestDeltaTimeTravel,
    privacyRowPolicyForeign,
    ingestHudiIncremental, ingestHudiMor, ingestHudiMorIncremental,
    maintenanceHudiClean,
    pipelineForeignSync,
    ingestIceberg, ingestIcebergIncremental, ingestIcebergV2Deletes,
    ingestIcebergV3Dv,
    maintenanceSnapshotUniform, maintenanceSnapshotUniformIceberg,
    pipelineBranchExperiment,
    ingestLogParse, ingestWarc, ingestWarcGz,
    cleanColumns, cleanColumnsOneOff, cleanColumnsWide, cleanRows, cleanRowsWide,
    profileBinary, profileBinaryWide, profileFalseArray, profileFalseArrayWide,
    mergeTableVersions,
    mergeTableVersionsStrict, mergeTableVersionsWide, mergeTableVersionsBucketed,
    sensitiveTier, maintenanceCompact, maintenanceZorder,
    maintenanceIncrementalAgg, maintenanceMergeUpsert, maintenanceAnalyzeStats,
    maintenanceVacuum, maintenanceSnapshot, maintenanceSnapshotAppend,
    maintenanceSnapshotCdc, maintenanceSnapshotEvolution, maintenanceSnapshotIvm,
    maintenanceDataSkipping, maintenanceSchemaDrift, maintenanceZorderSkipping,
    maintenanceSnapshotTag, maintenanceSnapshotRollback,
    maintenanceSnapshotDeleteMor, maintenanceSnapshotConcurrent,
    maintenanceSnapshotPartitionEvolution, maintenanceBloomMetadata,
    maintenanceSnapshotUpsert, maintenanceCompactIncremental,
    maintenanceSnapshotWap, maintenanceSnapshotSql, maintenanceSnapshotNdv,
    maintenanceCatalogTxn, pipelineLakehouse, maintenanceMetadataMinmax,
    maintenanceSnapshotScd2, pipelineIncrementalSync,
    maintenanceSnapshotBranch, maintenanceSnapshotClone,
    ingestCsvDirty,
    ingestSchemaEvolution, ingestJsonl, ingestOrc, ingestXml,
    ingestFixedWidth, ingestPartitioned)
}
