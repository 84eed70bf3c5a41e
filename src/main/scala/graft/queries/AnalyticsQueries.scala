package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical-profiling analytics: second-moment statistics computed
  * from exact DECIMAL power sums (so they cross-engine hash-match where
  * a naive stddev/corr over doubles would drift with partition order),
  * value histograms, and cohort retention.
  *
  * Scale notes: the moments query is one map-side-combinable hash
  * aggregation (power sums are associative); the histogram is the same
  * shape with a computed bucket key; retention is two hash aggregations
  * (per-user cohort, then cohort x month), both partial-aggregated
  * before their shuffles.
  */
object AnalyticsQueries {

  /** Per-group stddev and correlation from exact integer power sums
    * (n, Σx, Σy, Σx², Σy², Σxy): values are fixed-point cents
    * (`round(v*100)` as long), so every sum is exact integer arithmetic
    * inside whole-stage codegen — no per-row Decimal objects. A built-in
    * `stddev`/`corr` over doubles is NOT deterministic across engines —
    * or even across partitionings — because float addition isn't
    * associative; integer power sums are.
    *
    * The two large product sums (Σy², Σxy) are carried as hi/lo 64-bit
    * lanes split at 2^23. The lane conventions differ per engine —
    * Spark uses floor-div `shiftright` + non-negative `pmod`; DuckDB's
    * `//` and `%` are BOTH truncating (probed: `-7 // 2 = -3`) — but
    * each is a consistent decomposition `p = hi*2^23 + lo`, and two
    * exact decompositions of the same integer sum recombine (one exact
    * shift, one rounding add) to the same correctly-rounded double, so
    * the hash gate holds even with negative products. They are then
    * recombined
    * in DOUBLE with the identical IEEE expression on both engines:
    * each lane sum stays exact in a long up to ~5e11 rows per group
    * (≈100 TB of lineitem), and both engines convert each lane with a
    * single correctly-rounded long→double, so the recombined doubles are
    * bit-identical. Σx² fits a plain long to ~3.7e11 rows/group. */
  val qStatsMoments: QueryDef = QueryDef(
    "q_stats_moments",
    (s, d) => {
      val m = graft.ops.Stats.moments(Tables.lineitem(s, d),
        Seq("l_returnflag"), "l_quantity", "l_extendedprice", scale = 2)
      m.select(col("l_returnflag"), col("n"),
          round(graft.ops.Stats.stddevFromMoments(
            col("n"), col("sx"), col("sxx")), 4).as("stddev_qty"),
          round(graft.ops.Stats.corrFromMoments(
            col("n"), col("sx"), col("sy"),
            col("sxx"), col("syy"), col("sxy")), 4).as("corr_qty_price"))
        .orderBy("l_returnflag")
    },
    Some("""WITH t AS (
      |  SELECT l_returnflag,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS lx,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS ly
      |  FROM lineitem),
      |p AS (
      |  SELECT l_returnflag, lx, ly, ly * ly AS pyy, lx * ly AS pxy FROM t),
      |a AS (
      |  SELECT l_returnflag, count(*) AS n,
      |    sum(lx) AS sxl, sum(ly) AS syl, sum(lx * lx) AS sxxl,
      |    sum(pyy // 8388608) AS syy_hi, sum(pyy % 8388608) AS syy_lo,
      |    sum(pxy // 8388608) AS sxy_hi, sum(pxy % 8388608) AS sxy_lo
      |  FROM p GROUP BY l_returnflag),
      |m AS (
      |  SELECT l_returnflag, n,
      |    CAST(sxl AS DOUBLE) / 100.0 AS sx,
      |    CAST(syl AS DOUBLE) / 100.0 AS sy,
      |    CAST(sxxl AS DOUBLE) / 10000.0 AS sxx,
      |    (CAST(syy_hi AS DOUBLE) * 8388608.0 + CAST(syy_lo AS DOUBLE)) / 10000.0 AS syy,
      |    (CAST(sxy_hi AS DOUBLE) * 8388608.0 + CAST(sxy_lo AS DOUBLE)) / 10000.0 AS sxy
      |  FROM a)
      |SELECT l_returnflag, n,
      |  round(sqrt((sxx - sx * sx / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)), 4) AS stddev_qty,
      |  round((CAST(n AS DOUBLE) * sxy - sx * sy) /
      |    (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) *
      |     sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 4) AS corr_qty_price
      |FROM m ORDER BY l_returnflag""".stripMargin))

  /** Per-group OLS regression (the SQL `REGR_SLOPE`/`REGR_INTERCEPT`/
    * `REGR_R2` family) from the SAME exact-moment kernel as
    * [[qStatsMoments]] — the point of the power-sum design: one
    * map-side-combinable aggregation of (n, Σx, Σy, Σx², Σy², Σxy)
    * serves stddev, correlation AND the least-squares fit, all
    * order-free exact integers until the closed-form boundary doubles.
    * slope = (nΣxy − ΣxΣy)/(nΣx² − Σx²), intercept = (Σy − slope·Σx)/n,
    * r² = (nΣxy − ΣxΣy)² / ((nΣx² − Σx²)(nΣy² − Σy²)); the oracle
    * writes the identical expression trees on identically-reconstructed
    * sums. */
  val qRegressionByGroup: QueryDef = QueryDef(
    "q_regression_by_group",
    (s, d) => {
      val m = graft.ops.Stats.moments(Tables.lineitem(s, d),
        Seq("l_returnflag"), "l_quantity", "l_extendedprice", scale = 2)
      val n = col("n").cast("double")
      val sxy = n * col("sxy") - col("sx") * col("sy")
      val sxx = n * col("sxx") - col("sx") * col("sx")
      val syy = n * col("syy") - col("sy") * col("sy")
      m.select(col("l_returnflag"), col("n"),
          round(sxy / sxx, 6).as("slope"),
          round((col("sy") - (sxy / sxx) * col("sx")) / n, 4).as("intercept"),
          round((sxy * sxy) / (sxx * syy), 6).as("r2"))
        .orderBy("l_returnflag")
    },
    Some("""WITH t AS (
      |  SELECT l_returnflag,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS lx,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS ly
      |  FROM lineitem),
      |p AS (
      |  SELECT l_returnflag, lx, ly, ly * ly AS pyy, lx * ly AS pxy FROM t),
      |a AS (
      |  SELECT l_returnflag, count(*) AS n,
      |    sum(lx) AS sxl, sum(ly) AS syl, sum(lx * lx) AS sxxl,
      |    sum(pyy // 8388608) AS syy_hi, sum(pyy % 8388608) AS syy_lo,
      |    sum(pxy // 8388608) AS sxy_hi, sum(pxy % 8388608) AS sxy_lo
      |  FROM p GROUP BY l_returnflag),
      |m AS (
      |  SELECT l_returnflag, n,
      |    CAST(sxl AS DOUBLE) / 100.0 AS sx,
      |    CAST(syl AS DOUBLE) / 100.0 AS sy,
      |    CAST(sxxl AS DOUBLE) / 10000.0 AS sxx,
      |    (CAST(syy_hi AS DOUBLE) * 8388608.0 + CAST(syy_lo AS DOUBLE)) / 10000.0 AS syy,
      |    (CAST(sxy_hi AS DOUBLE) * 8388608.0 + CAST(sxy_lo AS DOUBLE)) / 10000.0 AS sxy
      |  FROM a),
      |f AS (
      |  SELECT l_returnflag, n,
      |    CAST(n AS DOUBLE) * sxy - sx * sy AS cxy,
      |    CAST(n AS DOUBLE) * sxx - sx * sx AS cxx,
      |    CAST(n AS DOUBLE) * syy - sy * sy AS cyy,
      |    sx, sy
      |  FROM m)
      |SELECT l_returnflag, n,
      |  round(cxy / cxx, 6) AS slope,
      |  round((sy - (cxy / cxx) * sx) / CAST(n AS DOUBLE), 4) AS intercept,
      |  round((cxy * cxy) / (cxx * cyy), 6) AS r2
      |FROM f ORDER BY l_returnflag""".stripMargin))

  /** Fixed-width value histogram of order totals: bucket assignment is
    * one deterministic double division + floor (no arithmetic on the
    * aggregated values themselves — min/max/count carry parquet values
    * through untouched). */
  val qHistogram: QueryDef = QueryDef(
    "q_histogram",
    (s, d) => Tables.orders(s, d)
      .groupBy(floor(col("o_totalprice") / lit(50000.0)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      .orderBy("bucket"),
    Some("""SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
      |  count(*) AS n, min(o_totalprice) AS lo, max(o_totalprice) AS hi
      |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin))

  /** Cohort retention: users grouped by first-activity week, counted as
    * retained in each subsequent week they appear (the product-analytics
    * staple). Both engines truncate to the same Monday week start, so the
    * day-difference is an exact multiple of 7. */
  val qRetentionCohorts: QueryDef = QueryDef(
    "q_retention_cohorts",
    (s, d) => {
      val weeks = Tables.events(s, d)
        .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
        .distinct()
      val cohorts = weeks.groupBy(col("user_id")).agg(min(col("w")).as("cohort_w"))
      weeks.join(cohorts, "user_id")
        .groupBy(date_format(col("cohort_w"), "yyyy-MM-dd").as("cohort"),
          (datediff(col("w"), col("cohort_w")) / 7).cast("long").as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort", "week_offset")
    },
    Some("""WITH weeks AS (
      |  SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events),
      |cohorts AS (
      |  SELECT user_id, min(w) AS cohort_w FROM weeks GROUP BY user_id)
      |SELECT strftime(cohort_w, '%Y-%m-%d') AS cohort,
      |  date_diff('day', cohort_w, w) // 7 AS week_offset,
      |  count(DISTINCT weeks.user_id) AS n_users
      |FROM weeks JOIN cohorts ON weeks.user_id = cohorts.user_id
      |GROUP BY 1, 2 ORDER BY cohort, week_offset""".stripMargin))

  /** Per-group exact interpolated percentiles (sort-based aggregate per
    * group, unlike the hash-aggregable moments) — document-length
    * quartiles per language. */
  val qGroupPercentiles: QueryDef = QueryDef(
    "q_group_percentiles",
    (s, d) => Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(expr("percentile(n_chars, array(0.25, 0.5, 0.75))").as("q"),
        count(lit(1)).as("n_docs"))
      .select(col("lang"),
        round(element_at(col("q"), 1), 4).as("q25"),
        round(element_at(col("q"), 2), 4).as("q50"),
        round(element_at(col("q"), 3), 4).as("q75"),
        col("n_docs"))
      .orderBy("lang"),
    Some("""SELECT lang,
      |  round(quantile_cont(n_chars, 0.25), 4) AS q25,
      |  round(quantile_cont(n_chars, 0.5), 4) AS q50,
      |  round(quantile_cont(n_chars, 0.75), 4) AS q75,
      |  count(*) AS n_docs
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))

  /** Time-series GAP FILLING over a generated calendar spine: hourly
    * purchase counts with every missing hour materialized as an explicit
    * zero — the densification step monitoring/forecasting needs before
    * any window arithmetic (a lag over a gappy series silently compares
    * non-adjacent hours). The spine is `sequence(min_hour, max_hour,
    * 1 hour)` exploded from the 1-row extent aggregate — rows =
    * calendar hours, independent of corpus size — left-joined to the
    * aggregated counts (never to raw events). */
  val qFillGaps: QueryDef = QueryDef(
    "q_fill_gaps",
    (s, d) => {
      val p = Tables.events(s, d).filter(col("event_type") === "purchase")
      val spine = p
        .agg(date_trunc("hour", min(col("ts"))).as("lo"),
          date_trunc("hour", max(col("ts"))).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("interval 1 hour"))).as("hr"))
      val counts = p.groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"))
      spine.join(counts, Seq("hr"), "left")
        .select(date_format(col("hr"), "yyyy-MM-dd HH").as("hour"),
          coalesce(col("n"), lit(0L)).as("n_events"))
        .orderBy("hour")
    },
    Some("""WITH b AS (
      |  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      |  FROM events WHERE event_type = 'purchase'),
      |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM b),
      |c AS (SELECT date_trunc('hour', ts) AS hr, count(*) AS n
      |      FROM events WHERE event_type = 'purchase' GROUP BY 1)
      |SELECT strftime(spine.hr, '%Y-%m-%d %H') AS hour, coalesce(n, 0) AS n_events
      |FROM spine LEFT JOIN c USING (hr) ORDER BY hour""".stripMargin))

  /** Ordered FUNNEL conversion (view → click → purchase, each stage
    * strictly after the user's FIRST occurrence of the previous one) —
    * the product-analytics sequence query, expressed as three chained
    * conditional-min windows over ONE user_id partitioning: stage k's
    * window references stage k−1's column, so Catalyst plans all three
    * in a single exchange + sort. Per-stage user counts and the two
    * conversion ratios (exact-integer division at the boundary). */
  val qFunnelConversion: QueryDef = QueryDef(
    "q_funnel_conversion",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
      Tables.events(s, d)
        .withColumn("t_view",
          min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("t_click",
          min(when(col("event_type") === "click" && col("ts") > col("t_view"),
            col("ts"))).over(w))
        .withColumn("t_purchase",
          min(when(col("event_type") === "purchase" && col("ts") > col("t_click"),
            col("ts"))).over(w))
        .agg(
          countDistinct(when(col("t_view").isNotNull, col("user_id")))
            .as("n_view"),
          countDistinct(when(col("t_click").isNotNull, col("user_id")))
            .as("n_click"),
          countDistinct(when(col("t_purchase").isNotNull, col("user_id")))
            .as("n_purchase"))
        .select(col("n_view"), col("n_click"), col("n_purchase"),
          // nullif guards: Spark's Divide returns NULL on /0 while
          // DuckDB (IEEE float ops) yields Inf/NaN — an empty funnel
          // stage would split the engines; NULL-on-empty, identically
          // written in both, keeps the gate data-independent
          (col("n_click").cast("double") /
            nullif(col("n_view"), lit(0)).cast("double")).as("view_to_click"),
          (col("n_purchase").cast("double") /
            nullif(col("n_click"), lit(0)).cast("double")).as("click_to_purchase"))
    },
    Some("""WITH s1 AS (
      |  SELECT user_id, event_type, ts,
      |    min(CASE WHEN event_type = 'view' THEN ts END)
      |      OVER (PARTITION BY user_id) AS t_view
      |  FROM events),
      |s2 AS (
      |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
      |      OVER (PARTITION BY user_id) AS t_click
      |  FROM s1),
      |s3 AS (
      |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
      |      OVER (PARTITION BY user_id) AS t_purchase
      |  FROM s2),
      |agg AS (
      |  SELECT count(DISTINCT CASE WHEN t_view IS NOT NULL THEN user_id END) AS n_view,
      |    count(DISTINCT CASE WHEN t_click IS NOT NULL THEN user_id END) AS n_click,
      |    count(DISTINCT CASE WHEN t_purchase IS NOT NULL THEN user_id END) AS n_purchase
      |  FROM s3)
      |SELECT n_view, n_click, n_purchase,
      |  CAST(n_click AS DOUBLE) / CAST(nullif(n_view, 0) AS DOUBLE) AS view_to_click,
      |  CAST(n_purchase AS DOUBLE) / CAST(nullif(n_click, 0) AS DOUBLE) AS click_to_purchase
      |FROM agg""".stripMargin))

  /** Robust outlier gating via MAD (median absolute deviation): per
    * source, median document length, MAD, and the count outside
    * median ± 3·MAD — the robust twin of z-score gating (`emb_zscore`),
    * immune to the outliers it hunts (mean/std are dragged by the very
    * tail being flagged; medians are not). Two exact-percentile passes
    * (the [[qGroupPercentiles]] sort-based aggregate) with the tiny
    * per-source stats BROADCAST back between them — the corpus never
    * shuffles, it is scanned twice (med pass, then dev+gate pass fused).
    * The threshold compare runs on RAW doubles built by the identical
    * expression tree in both engines; display values round at the
    * boundary as usual. */
  val textOutliersMad: QueryDef = QueryDef(
    "text_outliers_mad",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("source"), col("n_chars"))
      val med = docs.groupBy(col("source"))
        .agg(expr("percentile(n_chars, 0.5)").as("med"))
      val dev = docs.join(broadcast(med), "source")
        .withColumn("adev", abs(col("n_chars") - col("med")))
      val mad = dev.groupBy(col("source"))
        .agg(expr("percentile(adev, 0.5)").as("mad"))
      dev.join(broadcast(mad), "source")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_chars") > col("med") + lit(3.0) * col("mad")
            || col("n_chars") < col("med") - lit(3.0) * col("mad"), 1L)
            .otherwise(0L)).as("n_outliers"),
          round(first(col("med")), 4).as("med_r"),
          round(first(col("mad")), 4).as("mad_r"))
        .orderBy("source")
    },
    Some("""WITH s AS (
      |  SELECT source, quantile_cont(n_chars, 0.5) AS med
      |  FROM documents GROUP BY source),
      |dev AS (
      |  SELECT d.source, n_chars, med, abs(n_chars - med) AS adev
      |  FROM documents d JOIN s USING (source)),
      |m AS (SELECT source, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY source)
      |SELECT dev.source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN n_chars > med + 3.0 * mad
      |                  OR n_chars < med - 3.0 * mad THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers,
      |  round(any_value(med), 4) AS med_r, round(any_value(mad), 4) AS mad_r
      |FROM dev JOIN m USING (source)
      |GROUP BY dev.source ORDER BY dev.source""".stripMargin))

  /** Approximate per-group median (Greenwald-Khanna `percentile_approx`)
    * with an in-query RANK-error gate. Like the HLL twin
    * (`sketch_hll_distinct`), the approximate VALUE is engine-specific,
    * so what crosses the oracle is the portable part: the group count
    * plus a boolean asserting the returned value's true rank sits within
    * 1% of the 0.5 target (GK guarantees n/accuracy = 0.01% here — 100×
    * slack). The rank is audited against the data itself by joining the
    * 3-row sketch result back to the corpus (broadcast — the corpus
    * never shuffles). Scale story: GK state is O(1/ε log εn) per group
    * and mergeable, vs an exact median's full per-group sort. */
  val qPercentileApprox: QueryDef = QueryDef(
    "q_percentile_approx",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val apx = li.groupBy(col("l_returnflag"))
        .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000))
          .as("apx"))
      // Tie-robust rank audit (round-10 ADVICE): a run of duplicates at the
      // returned value occupies the whole rank interval [n_lt/n, n_le/n], and
      // GK only promises SOME rank in that interval is within the bound — so
      // the gate asserts the 0.5 target falls inside the interval widened by
      // the bound, not that n_le/n alone lands near 0.5.
      li.join(broadcast(apx), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("l_extendedprice") < col("apx"), 1L).otherwise(0L))
            .as("n_lt"),
          sum(when(col("l_extendedprice") <= col("apx"), 1L).otherwise(0L))
            .as("n_le"))
        .select(col("l_returnflag"), col("n_rows"),
          (col("n_lt").cast("double") / col("n_rows").cast("double") - 0.01 <= 0.5
            && col("n_le").cast("double") / col("n_rows").cast("double") + 0.01 >= 0.5)
            .as("rank_within_bound"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, count(*) AS n_rows, TRUE AS rank_within_bound
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** Sliding (overlapping) time windows: 2-hour windows sliding by 1
    * hour — each event lands in two windows (the overlap structure
    * streaming monitoring uses; the oracle expands the window membership
    * explicitly). */
  val qWindowSliding: QueryDef = QueryDef(
    "q_window_sliding",
    (s, d) => Tables.events(s, d)
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH").as("win_start"),
        col("event_type"), col("n_events"))
      .orderBy("win_start", "event_type"),
    Some("""WITH w AS (
      |  SELECT event_type,
      |    unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR, date_trunc('hour', ts)]) AS ws
      |  FROM events)
      |SELECT strftime(ws, '%Y-%m-%d %H') AS win_start, event_type, count(*) AS n_events
      |FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin))

  /** Deterministic PageRank (3 unrolled power iterations, damping 0.85,
    * integer mass units of 1e12) over the bipartite customer→supplier
    * order graph — the link-centrality quality prior of web curation
    * pipelines, made bit-deterministic via [[graft.ops.Graph]]'s integer
    * recipe so the DuckDB oracle replays the SAME iterations. Top-20
    * nodes by rank, ties to the lower node id. */
  /** Drop-dangling unrolled-iteration oracle (shared by q_pagerank and
    * q_pagerank_converged — the tol=0 early stop is bit-identical to the
    * fixed count, so both replay the same CTE chain). */
  private def pagerankDropOracleSql(iters: Int, scale: Long, base: Long): String = {
    val rounds = (1 to iters).map { t =>
      s"""r$t AS (
         |  SELECT node,
         |    CAST(($base // n) + (85 * COALESCE(s, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes CROSS JOIN nn
         |  LEFT JOIN (
         |    SELECT dst, CAST(sum(CAST(r // d AS BIGINT)) AS BIGINT) AS s
         |    FROM e JOIN r${t - 1} ON e.src = r${t - 1}.node
         |           JOIN deg ON e.src = deg.src
         |    GROUP BY dst) c ON nodes.node = c.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
      |  SELECT o_custkey AS src, l_suppkey + 1000000 AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      |nn AS (SELECT count(*) AS n FROM nodes),
      |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
      |r0 AS (SELECT node, CAST($scale // n AS BIGINT) AS r FROM nodes CROSS JOIN nn),
      |$rounds
      |SELECT node, r AS rank_micro FROM r$iters
      |ORDER BY r DESC, node ASC LIMIT 20""".stripMargin
  }

  private def pagerankEdges(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.orders(s, d)
      .join(Tables.lineitem(s, d),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"),
        (col("l_suppkey") + 1000000).as("dst"))

  /** Deterministic LABEL-PROPAGATION communities
    * ([[graft.ops.Graph.labelPropagation]] — Raghavan et al. 2007 with
    * the (count desc, label asc) tie-break and a self-vote, the two
    * repairs that make synchronous LPA reproducible) over the
    * symmetrized customer–supplier order graph, 3 fixed rounds; top-20
    * communities by size. The oracle replays every round unrolled —
    * vote union, (node, label) count, ranked argmax — so each label
    * decision, not just the census, is cross-engine gated. */
  val qLabelProp: QueryDef = QueryDef(
    "q_label_prop",
    (s, d) => graft.ops.Graph.labelPropagation(pagerankEdges(s, d), rounds = 3)
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("n_nodes").desc, col("community").asc).limit(20)
      .select(col("community"), col("n_nodes")),
    Some {
      val rounds = (1 to 3).map { t =>
        s"""v$t AS (SELECT e.dst AS node, l.lbl FROM e JOIN l${t - 1} l ON e.src = l.node
           |  UNION ALL SELECT node, lbl FROM l${t - 1}),
           |c$t AS (SELECT node, lbl, count(*) AS c FROM v$t GROUP BY node, lbl),
           |l$t AS (SELECT node, lbl FROM (
           |  SELECT node, lbl,
           |    row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl ASC) AS rn
           |  FROM c$t) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH be AS (
         |  SELECT o_custkey AS src, l_suppkey + 1000000 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS (SELECT DISTINCT src, dst FROM (
         |  SELECT src, dst FROM be UNION ALL SELECT dst AS src, src AS dst FROM be)
         |  WHERE src <> dst),
         |l0 AS (SELECT node, node AS lbl FROM (SELECT DISTINCT src AS node FROM e)),
         |$rounds
         |SELECT lbl AS community, count(*) AS n_nodes FROM l3
         |GROUP BY lbl ORDER BY n_nodes DESC, community ASC LIMIT 20""".stripMargin
    })

  val qPagerank: QueryDef = {
    val iters = 3
    val scale = 1000000000000L
    val base = scale * 15 / 100
    QueryDef(
      "q_pagerank",
      (s, d) => graft.ops.Graph.pagerankMicro(pagerankEdges(s, d), iters, scale)
        .orderBy(col("r").desc, col("node").asc).limit(20)
        .select(col("node"), col("r").as("rank_micro")),
      Some(pagerankDropOracleSql(iters, scale, base)))
  }

  /** PageRank with the CONVERGENCE stop
    * ([[graft.ops.Graph.pagerankMicroConverged]], tol = 0): on this
    * bipartite graph customers have no in-edges (their rank is fixed
    * after round 1) and the suppliers they feed stabilize one round
    * later, so the integer fixed point arrives well before maxIters = 6
    * and the loop genuinely early-stops (GraphSpec pins the round
    * count) — while the tol = 0 contract keeps the result bit-identical
    * to the full 6 unrolled rounds the oracle replays. */
  val qPagerankConverged: QueryDef = {
    val iters = 6
    val scale = 1000000000000L
    val base = scale * 15 / 100
    QueryDef(
      "q_pagerank_converged",
      (s, d) => graft.ops.Graph
        .pagerankMicroConverged(pagerankEdges(s, d), maxIters = iters, scale)._1
        .orderBy(col("r").desc, col("node").asc).limit(20)
        .select(col("node"), col("r").as("rank_micro")),
      Some(pagerankDropOracleSql(iters, scale, base)))
  }

  /** PERSONALIZED PageRank
    * ([[graft.ops.Graph.pagerankPersonalizedMicro]]): teleport mass
    * lands only on the seed customers (custkey % 100 == 0), so rank is
    * relevance AS SEEN FROM the seeds — the recommendation variant.
    * Non-seed nodes start at zero and accrue only propagated mass; the
    * oracle replays the seeded initialization and every floor-divided
    * round unrolled. */
  val qPagerankPersonalized: QueryDef = {
    val iters = 3
    val scale = 1000000000000L
    val base = scale * 15 / 100
    QueryDef(
      "q_pagerank_personalized",
      (s, d) => {
        val seeds = Tables.customer(s, d)
          .filter(col("c_custkey") % 100 === 0).select(col("c_custkey"))
        graft.ops.Graph.pagerankPersonalizedMicro(
            pagerankEdges(s, d), seeds, iters, scale)
          .orderBy(col("r").desc, col("node").asc).limit(20)
          .select(col("node"), col("r").as("rank_micro"))
      },
      Some {
        val rounds = (1 to iters).map { t =>
          s"""r$t AS (
             |  SELECT nodes.node,
             |    CAST((CASE WHEN nodes.in_s = 1 THEN $base // sn ELSE 0 END) +
             |      (85 * COALESCE(s, 0)) // 100 AS BIGINT) AS r
             |  FROM nodes CROSS JOIN snn
             |  LEFT JOIN (
             |    SELECT dst, CAST(sum(CAST(r // d AS BIGINT)) AS BIGINT) AS s
             |    FROM e JOIN r${t - 1} ON e.src = r${t - 1}.node
             |           JOIN deg ON e.src = deg.src
             |    GROUP BY dst) c ON nodes.node = c.dst)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (
           |  SELECT o_custkey AS src, l_suppkey + 1000000 AS dst
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |seeds AS (SELECT DISTINCT c_custkey AS node FROM customer
           |          WHERE c_custkey % 100 = 0),
           |nodes AS (
           |  SELECT n.node, CASE WHEN sd.node IS NULL THEN 0 ELSE 1 END AS in_s
           |  FROM (SELECT src AS node FROM e UNION SELECT dst FROM e) n
           |  LEFT JOIN seeds sd ON n.node = sd.node),
           |snn AS (SELECT count(*) AS sn FROM seeds),
           |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
           |r0 AS (
           |  SELECT node, CAST(CASE WHEN in_s = 1 THEN $scale // sn ELSE 0 END
           |    AS BIGINT) AS r
           |  FROM nodes CROSS JOIN snn),
           |$rounds
           |SELECT node, r AS rank_micro FROM r$iters
           |ORDER BY r DESC, node ASC LIMIT 20""".stripMargin
      })
  }

  /** PageRank with the danglers' mass redistributed uniformly each round
    * (textbook formulation — rank MAGNITUDES comparable across graphs,
    * total mass conserved up to floor division). In this graph every
    * supplier node is dangling (no out-edges), so the mode genuinely
    * changes ranks, not just a constant offset. Same integer recipe; the
    * oracle replays the dangling aggregate as one scalar CTE per round. */
  val qPagerankDangling: QueryDef = {
    val iters = 3
    val scale = 1000000000000L
    val base = scale * 15 / 100
    QueryDef(
      "q_pagerank_dangling",
      (s, d) => {
        val e = Tables.orders(s, d)
          .join(Tables.lineitem(s, d),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("src"),
            (col("l_suppkey") + 1000000).as("dst"))
        graft.ops.Graph.pagerankMicro(e, iters, scale,
            redistributeDangling = true)
          .orderBy(col("r").desc, col("node").asc).limit(20)
          .select(col("node"), col("r").as("rank_micro"))
      },
      Some {
        val rounds = (1 to iters).map { t =>
          s"""dm$t AS (
             |  SELECT COALESCE(sum(r), 0) AS dm FROM r${t - 1}
             |  WHERE node NOT IN (SELECT src FROM deg)),
             |r$t AS (
             |  SELECT node,
             |    CAST(($base // n) + (85 * (COALESCE(s, 0) + dm // n)) // 100 AS BIGINT) AS r
             |  FROM nodes CROSS JOIN nn CROSS JOIN dm$t
             |  LEFT JOIN (
             |    SELECT dst, CAST(sum(CAST(r // d AS BIGINT)) AS BIGINT) AS s
             |    FROM e JOIN r${t - 1} ON e.src = r${t - 1}.node
             |           JOIN deg ON e.src = deg.src
             |    GROUP BY dst) c ON nodes.node = c.dst)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (
          |  SELECT o_custkey AS src, l_suppkey + 1000000 AS dst
          |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
          |nn AS (SELECT count(*) AS n FROM nodes),
          |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
          |r0 AS (SELECT node, CAST($scale // n AS BIGINT) AS r FROM nodes CROSS JOIN nn),
          |$rounds
          |SELECT node, r AS rank_micro FROM r$iters
          |ORDER BY r DESC, node ASC LIMIT 20""".stripMargin
      })
  }

  /** Corpus drift monitor: total-variation distance between the source
    * distributions of two corpus snapshots (here: even vs odd doc_id as
    * the two "days"). Division-free interior — TV = Σ|nAs·NB − nBs·NA| /
    * (2·NA·NB), so the sum is exact integer cross-multiplication and the
    * single division happens once, identically, at the boundary. The
    * pipeline alarm for "today's crawl mix shifted". Two map-side
    * combining counts + a 20-row join — nothing at corpus scale moves
    * twice. */
  val qSourceDrift: QueryDef = QueryDef(
    "q_source_drift",
    (s, d) => {
      val docs = Tables.documents(s, d)
      def counts(parity: Int, name: String) =
        docs.filter(col("doc_id") % 2 === parity)
          .groupBy(col("source")).agg(count(lit(1)).as(name))
      val j = counts(0, "na").join(counts(1, "nb"), Seq("source"), "full_outer")
        .select(col("source"),
          coalesce(col("na"), lit(0L)).as("na"),
          coalesce(col("nb"), lit(0L)).as("nb"))
      val tot = j.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
      j.crossJoin(broadcast(tot))
        .agg(
          count(lit(1)).as("n_sources"),
          max(col("ta")).as("n_a"), max(col("tb")).as("n_b"),
          sum(abs(col("na") * col("tb") - col("nb") * col("ta"))).as("t"))
        .select(col("n_sources"), col("n_a"), col("n_b"),
          round(col("t").cast("double") /
            (lit(2.0) * col("n_a").cast("double") * col("n_b").cast("double")), 6)
            .as("tv_distance"))
    },
    Some("""WITH a AS (
      |  SELECT source, count(*) AS na FROM documents WHERE doc_id % 2 = 0 GROUP BY source),
      |b AS (
      |  SELECT source, count(*) AS nb FROM documents WHERE doc_id % 2 = 1 GROUP BY source),
      |j AS (
      |  SELECT COALESCE(a.source, b.source) AS source,
      |    COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
      |  FROM a FULL OUTER JOIN b ON a.source = b.source),
      |tot AS (SELECT CAST(sum(na) AS BIGINT) AS ta, CAST(sum(nb) AS BIGINT) AS tb FROM j)
      |SELECT count(*) AS n_sources,
      |  max(ta) AS n_a, max(tb) AS n_b,
      |  round(CAST(CAST(sum(abs(na * tb - nb * ta)) AS BIGINT) AS DOUBLE) /
      |        (2.0 * CAST(max(ta) AS DOUBLE) * CAST(max(tb) AS DOUBLE)), 6) AS tv_distance
      |FROM j, tot""".stripMargin))

  /** Exact triangle census over the co-purchase graph
    * ([[graft.ops.Graph.triangleCensus]] — the Suri & Vassilvitskii
    * degree-ordered orientation, so the wedge join is O(m^1.5) total
    * with O(√m) per-vertex out-degree instead of dying on hub parts).
    * Edges are the `q_copurchase_pairs` generator (per-basket pair
    * explosion, bounded by TPC-H's ≤7-line baskets); the census counts
    * 4.6M wedges → 414k triangles at sf0.01, all replayed by the
    * oracle's identical join chain. Triangle density is the classic
    * graph-quality/community signal (clustering coefficient's
    * numerator) a curation pipeline computes over link/citation
    * graphs. */
  val qTriangles: QueryDef = QueryDef(
    "q_triangles",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val a = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pa"))
      val b = li.select(col("l_orderkey").as("ok2"), col("l_partkey").as("pb"))
      val edges = a.join(b, col("ok") === col("ok2") && col("pa") < col("pb"))
        .select(col("pa"), col("pb"))
      graft.ops.Graph.triangleCensus(edges, "pa", "pb")
    },
    Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |und AS (SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |n AS (SELECT node, count(*) AS d
      |  FROM (SELECT lo AS node FROM und UNION ALL SELECT hi FROM und) t
      |  GROUP BY node),
      |o AS (SELECT
      |    CASE WHEN dl.d < dh.d OR (dl.d = dh.d AND lo < hi) THEN lo ELSE hi END AS src,
      |    CASE WHEN dl.d < dh.d OR (dl.d = dh.d AND lo < hi) THEN hi ELSE lo END AS dst
      |  FROM und JOIN n dl ON und.lo = dl.node JOIN n dh ON und.hi = dh.node),
      |w AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |  FROM o e1 JOIN o e2 ON e1.dst = e2.src)
      |SELECT (SELECT count(*) FROM n) AS n_nodes,
      |  (SELECT count(*) FROM und) AS n_edges,
      |  (SELECT count(*) FROM w) AS n_wedges,
      |  (SELECT count(*) FROM w JOIN o ON w.a = o.src AND w.c = o.dst) AS n_triangles""".stripMargin))

  /** Multi-source shortest-path hop distances
    * ([[graft.ops.Graph.bfsHops]] — delta-frontier BFS, O(V+E) total join
    * work) over the UNDIRECTED customer—supplier co-transaction graph
    * (the q_pagerank edge set, symmetrized). Seeds are every 100th
    * customer; 3 hops reaches customer → their suppliers → co-customers
    * of those suppliers → THEIR suppliers — the "within k degrees of a
    * known-bad account" reach query fraud/abuse curation runs at scale.
    * The oracle replays the classic full min-relaxation unrolled
    * (min over prev ∪ neighbors+1, three rounds), which the
    * first-reached-round frontier algebra provably equals under unit
    * weights. */
  val qShortestPaths: QueryDef = QueryDef(
    "q_shortest_paths",
    (s, d) => {
      // e0 is consumed THREE times (both union legs + the seed filter):
      // materialize the fact-sized join+distinct once, or the plan pays
      // the orders⋈lineitem shuffle per consumer — the difference
      // between one fact pass and three at 100 TB
      val e0 = graft.ops.Materialize.invariant(Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("a"), (col("l_suppkey") + 1000000L).as("b"))
        .distinct())
      val e = e0.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(e0.select(col("b").as("src"), col("a").as("dst")))
      val seeds = e0.filter(col("a") % 100 === 0)
        .select(col("a").as("node")).distinct()
      graft.ops.Graph.bfsHops(e, seeds, maxHops = 3).orderBy("node")
    },
    Some("""WITH e0 AS (SELECT DISTINCT o_custkey AS a, l_suppkey + 1000000 AS b
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |e AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0),
      |r0 AS (SELECT DISTINCT a AS node, 0 AS hops FROM e0 WHERE a % 100 = 0),
      |r1 AS (SELECT node, min(hops) AS hops FROM (
      |  SELECT node, hops FROM r0
      |  UNION ALL SELECT e.dst, r0.hops + 1 FROM e JOIN r0 ON e.src = r0.node) u
      |  GROUP BY node),
      |r2 AS (SELECT node, min(hops) AS hops FROM (
      |  SELECT node, hops FROM r1
      |  UNION ALL SELECT e.dst, r1.hops + 1 FROM e JOIN r1 ON e.src = r1.node) u
      |  GROUP BY node),
      |r3 AS (SELECT node, min(hops) AS hops FROM (
      |  SELECT node, hops FROM r2
      |  UNION ALL SELECT e.dst, r2.hops + 1 FROM e JOIN r2 ON e.src = r2.node) u
      |  GROUP BY node)
      |SELECT node, hops FROM r3 ORDER BY node""".stripMargin))

  /** Market-basket ASSOCIATION RULES (Agrawal & Srikant's Apriori
    * output shape) over brand-level order baskets: for each directed
    * brand pair A→B above min support, confidence = P(B|A) and lift =
    * P(AB)/(P(A)·P(B)) — all in exact integer basis points / ppm
    * (`10000·n_both div n_ante`, `1e6·n_both·N div (n_ante·n_cons)`), so
    * both engines land on identical BIGINTs, no float division. Brands
    * (25 values) keep pair support meaningful on uniform TPC-H baskets
    * where raw part pairs almost never repeat. Scale shape: the pair
    * explosion is bounded by basket size (≤7 lines → ≤42 directed brand
    * pairs per order), per-item supports RIDE the basket relation as a
    * window count (so both self-join sides are the identical subplan
    * and share one exchange — separate support aggregates re-expanded
    * the lineitem⋈part scan, the unigramRarityScores class), and the
    * total-basket count is a slim lineitem-only distinct (no part
    * join). One join-scan + one single-column scan total. */
  val qAssocRules: QueryDef = QueryDef(
    "q_assoc_rules",
    (s, d) => {
      val bk = Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_brand").as("item"))
        .distinct()
        .withColumn("n_item", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("item"))))
      val tot = Tables.lineitem(s, d)
        .agg(countDistinct(col("l_orderkey")).as("n_baskets"))
      val a = bk.select(col("ok"), col("item").as("ante"),
        col("n_item").as("n_ante"))
      val c = bk.select(col("ok").as("ok2"), col("item").as("cons"),
        col("n_item").as("n_cons"))
      a.join(c, col("ok") === col("ok2") && col("ante") =!= col("cons"))
        .groupBy(col("ante"), col("cons"))
        .agg(count(lit(1)).as("n_both"),
          max(col("n_ante")).as("n_ante"), max(col("n_cons")).as("n_cons"))
        .filter(col("n_both") >= 5)
        .crossJoin(broadcast(tot))
        .select(col("ante"), col("cons"), col("n_both"),
          expr("(10000 * n_both) div n_ante").as("conf_bp"),
          expr("(1000000 * n_both * n_baskets) div (n_ante * n_cons)")
            .as("lift_ppm"))
        .orderBy(col("lift_ppm").desc, col("ante").asc, col("cons").asc)
        .limit(40)
    },
    Some("""WITH b AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS item
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_baskets FROM b),
      |it AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item FROM b GROUP BY item),
      |p AS (SELECT a.item AS ante, c.item AS cons, CAST(count(*) AS BIGINT) AS n_both
      |  FROM b a JOIN b c ON a.ok = c.ok AND a.item <> c.item GROUP BY 1, 2)
      |SELECT ante, cons, n_both,
      |  CAST((10000 * n_both) // ia.n_item AS BIGINT) AS conf_bp,
      |  CAST((1000000 * n_both * n_baskets) // (ia.n_item * ic.n_item) AS BIGINT)
      |    AS lift_ppm
      |FROM p JOIN it ia ON p.ante = ia.item JOIN it ic ON p.cons = ic.item
      |CROSS JOIN n
      |WHERE n_both >= 5
      |ORDER BY lift_ppm DESC, ante ASC, cons ASC LIMIT 40""".stripMargin))

  /** Rolling z-score anomaly gate over the hourly event stream — the
    * time-series outlier monitor a pipeline runs on its OWN ingest
    * volumes. Per (event_type, hour): compare the hour's count against
    * the trailing-24-observed-hours window (current hour excluded) and
    * flag |z| > 3 — evaluated entirely in INTEGER algebra from the
    * window sums, `(n·cnt − S1)² > 9·(n·S2 − S1²)` ⟺ (cnt−μ)² > 9σ²
    * (population σ², both sides exact BIGINTs), so Spark and DuckDB
    * agree bit-for-bit with no float stddev in sight. Warm-up hours
    * (fewer than 12 trailing observations) never flag. One shuffle on
    * event_type; the rolling frame is an in-partition sort. */
  val qAnomalyHourly: QueryDef = QueryDef(
    "q_anomaly_hourly",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("hour"))
        .rowsBetween(-24, -1)
      Tables.events(s, d)
        .groupBy(date_format(date_trunc("hour", col("ts")),
          "yyyy-MM-dd HH").as("hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("hour"), col("event_type"), col("cnt"),
          count(lit(1)).over(w).as("n_w"),
          coalesce(sum(col("cnt")).over(w), lit(0L)).as("s1"),
          coalesce(sum(col("cnt") * col("cnt")).over(w), lit(0L)).as("s2"))
        .select(col("hour"), col("event_type"), col("cnt"), col("n_w"),
          (col("n_w") >= 12 &&
            (col("n_w") * col("cnt") - col("s1")) *
              (col("n_w") * col("cnt") - col("s1")) >
            lit(9L) * (col("n_w") * col("s2") - col("s1") * col("s1")))
            .as("anomaly"))
        .orderBy(col("event_type"), col("hour"))
    },
    Some("""WITH h AS (
      |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
      |    event_type, CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT hour, event_type, cnt,
      |    CAST(count(*) OVER win AS BIGINT) AS n_w,
      |    CAST(COALESCE(sum(cnt) OVER win, 0) AS BIGINT) AS s1,
      |    CAST(COALESCE(sum(cnt * cnt) OVER win, 0) AS BIGINT) AS s2
      |  FROM h
      |  WINDOW win AS (PARTITION BY event_type ORDER BY hour
      |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
      |SELECT hour, event_type, cnt, n_w,
      |  (n_w >= 12 AND
      |   (n_w * cnt - s1) * (n_w * cnt - s1) > 9 * (n_w * s2 - s1 * s1))
      |    AS anomaly
      |FROM w ORDER BY event_type, hour""".stripMargin))

  /** Clickstream PATH MINING: the top event-type TRIGRAMS inside
    * sessions — the "what do users do in three steps" sequence-pattern
    * query behind funnel design and anomaly triage. Sessionize with the
    * q_events_sessions 30-min-gap algebra (deterministic (ts, event_id)
    * total order), then take steps that never cross a session boundary
    * and count trigrams into a top 20 under a total order. The boundary
    * gate runs as `lead(session_id) == session_id` over the SAME
    * user-keyed window as the sessionizer (session rows are contiguous
    * in (ts, event_id) order, so this equals the textbook
    * per-(user, session) window the oracle replays) — a repartition by
    * (user_id, session_id) for a second window would be a pointless
    * second corpus shuffle. One Exchange on user_id total, then a
    * map-combined count on the trigram key and a TakeOrdered top-k;
    * PlanAuditSpec pins the single-exchange shape. */
  val qUserPaths: QueryDef = QueryDef(
    "q_user_paths",
    (s, d) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val newSession = when(
        unix_timestamp(col("ts")) -
          unix_timestamp(lag(col("ts"), 1).over(byUser)) > 1800, 1).otherwise(0)
      Tables.events(s, d)
        .withColumn("new_s", coalesce(newSession, lit(0)))
        .withColumn("session_id", sum(col("new_s")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("step2",
          when(lead(col("session_id"), 1).over(byUser) === col("session_id"),
            lead(col("event_type"), 1).over(byUser)))
        .withColumn("step3",
          when(lead(col("session_id"), 2).over(byUser) === col("session_id"),
            lead(col("event_type"), 2).over(byUser)))
        .filter(col("step2").isNotNull && col("step3").isNotNull)
        .groupBy(col("event_type").as("step1"), col("step2"), col("step3"))
        .agg(count(lit(1)).as("n_paths"))
        .orderBy(col("n_paths").desc, col("step1").asc, col("step2").asc,
          col("step3").asc)
        .limit(20)
    },
    Some("""WITH flagged AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    CASE WHEN date_diff('second', lag(ts) OVER w, ts) > 1800
      |      THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      |sessions AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged),
      |steps AS (
      |  SELECT event_type AS step1,
      |    lead(event_type, 1) OVER w2 AS step2,
      |    lead(event_type, 2) OVER w2 AS step3
      |  FROM sessions
      |  WINDOW w2 AS (PARTITION BY user_id, session_id ORDER BY ts ASC, event_id ASC))
      |SELECT step1, step2, step3, count(*) AS n_paths
      |FROM steps WHERE step3 IS NOT NULL
      |GROUP BY 1, 2, 3
      |ORDER BY n_paths DESC, step1 ASC, step2 ASC, step3 ASC LIMIT 20""".stripMargin))

  /** EXACT audience-overlap matrix — "how many users do segments A and B
    * share" for every event-type pair, the co-occurrence table audience
    * and dataset-mixture planning runs at scale. The trick that makes it
    * ONE corpus shuffle instead of k² set intersections: per user, fold
    * the types seen into a 5-bit MASK (one groupBy on user_id), count
    * users per mask (≤ 2⁵ rows), then every pairwise intersection /
    * union / Jaccard is integer algebra over the tiny mask-count
    * relation broadcast against a 10-row pair list. Jaccard in exact
    * ppm: 10⁶·|A∩B| div (|A|+|B|−|A∩B|). */
  val qAudienceOverlap: QueryDef = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val idxSql = types.zipWithIndex
      .map { case (t, i) => s"WHEN event_type = '$t' THEN $i" }
      .mkString("CASE ", " ", " ELSE NULL END")
    QueryDef(
      "q_audience_overlap",
      (s, d) => {
        val spark = s
        import spark.implicits._
        val masks = Tables.events(s, d)
          .select(col("user_id"), expr(idxSql).as("ti"))
          .filter(col("ti").isNotNull)
          .groupBy(col("user_id"))
          // bit_or folds per-user type bits without a distinct pass
          .agg(expr("bit_or(1 << ti)").as("mask"))
          .groupBy(col("mask")).agg(count(lit(1)).as("n_users"))
        val pairs = (for {
          a <- types.indices; b <- types.indices if a < b
        } yield (types(a), types(b), a, b)).toDF("type_a", "type_b", "ba", "bb")
        pairs.crossJoin(masks)
          .groupBy(col("type_a"), col("type_b"))
          .agg(
            sum(when(expr("(mask >> ba) % 2 = 1"), col("n_users"))
              .otherwise(lit(0L))).as("n_a"),
            sum(when(expr("(mask >> bb) % 2 = 1"), col("n_users"))
              .otherwise(lit(0L))).as("n_b"),
            sum(when(expr("(mask >> ba) % 2 = 1 AND (mask >> bb) % 2 = 1"),
              col("n_users")).otherwise(lit(0L))).as("n_both"))
          .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
            col("n_both"),
            expr("(1000000 * n_both) div (n_a + n_b - n_both)").as("jaccard_ppm"))
          .orderBy("type_a", "type_b")
      },
      Some(s"""WITH m AS (
        |  SELECT user_id, bit_or(1 << ($idxSql)) AS mask
        |  FROM events WHERE ($idxSql) IS NOT NULL GROUP BY user_id),
        |mc AS (SELECT mask, CAST(count(*) AS BIGINT) AS n_users FROM m GROUP BY mask),
        |p AS (SELECT * FROM (VALUES
        |  ${(for { a <- types.indices; b <- types.indices if a < b }
             yield s"('${types(a)}', '${types(b)}', $a, $b)").mkString(", ")})
        |  t(type_a, type_b, ba, bb)),
        |agg AS (
        |  SELECT type_a, type_b,
        |    CAST(sum(CASE WHEN (mask >> ba) % 2 = 1 THEN n_users ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN (mask >> bb) % 2 = 1 THEN n_users ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN (mask >> ba) % 2 = 1 AND (mask >> bb) % 2 = 1
        |      THEN n_users ELSE 0 END) AS BIGINT) AS n_both
        |  FROM p CROSS JOIN mc GROUP BY type_a, type_b)
        |SELECT type_a, type_b, n_a, n_b, n_both,
        |  CAST((1000000 * n_both) // (n_a + n_b - n_both) AS BIGINT) AS jaccard_ppm
        |FROM agg ORDER BY type_a, type_b""".stripMargin))
  }

  /** Interval UNION (gaps-and-islands): each event opens a 15-minute
    * activity interval; overlapping/touching intervals per user merge
    * into islands, and the query reports per-user busy-time statistics —
    * the coverage/utilization operator behind SLA windows, GPU-hour
    * accounting, and dedup of overlapping crawl windows. The algebra is
    * the classic one: running max of interval END over the (ts,
    * event_id)-ordered history (current row EXCLUDED), island starts
    * where ts exceeds it, island id = running sum of starts — every
    * step integer micros, one user-keyed shuffle shared by both window
    * passes, then two hash aggregations (island, then user). */
  val qMergeIntervals: QueryDef = QueryDef(
    "q_merge_intervals",
    (s, d) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").asc, col("event_id").asc)
      val prevMaxEnd = max(col("end_us"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, -1))
      Tables.events(s, d)
        .filter(col("user_id") % 10 === 0)
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(ts)").as("ts_us"))
        .withColumn("end_us", col("ts_us") + lit(900000000L))
        .withColumn("new_i",
          when(col("ts_us") > coalesce(prevMaxEnd, lit(Long.MinValue)), 1)
            .otherwise(0))
        .withColumn("island", sum(col("new_i")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("island"))
        .agg(min(col("ts_us")).as("i_start"), max(col("end_us")).as("i_end"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_busy"),
          expr("sum(i_end - i_start) div 1000000").as("busy_secs_total"),
          expr("max(i_end - i_start) div 1000000").as("longest_secs"))
        .orderBy("user_id")
    },
    Some("""WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    epoch_us(ts) + 900000000 AS end_us
      |  FROM events WHERE user_id % 10 = 0),
      |fl AS (
      |  SELECT user_id, ts_us, end_us,
      |    CASE WHEN ts_us > COALESCE(max(end_us) OVER (
      |      PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      -9223372036854775808) THEN 1 ELSE 0 END AS new_i,
      |    event_id
      |  FROM e),
      |isl AS (
      |  SELECT user_id, ts_us, end_us,
      |    sum(new_i) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM fl),
      |g AS (
      |  SELECT user_id, island, min(ts_us) AS i_start, max(end_us) AS i_end
      |  FROM isl GROUP BY user_id, island)
      |SELECT user_id, count(*) AS n_busy,
      |  CAST(sum(i_end - i_start) // 1000000 AS BIGINT) AS busy_secs_total,
      |  CAST(max(i_end - i_start) // 1000000 AS BIGINT) AS longest_secs
      |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** User GROWTH accounting: new users per hour (hour of first-seen
    * event) and the cumulative registered base — the activation curve.
    * The running distinct is NOT a window over the corpus: first-seen
    * hour per user is one min-aggregation, hourly news a second, and
    * the cumulative sum runs over the tiny hour relation. */
  val qUserGrowth: QueryDef = QueryDef(
    "q_user_growth",
    (s, d) => {
      val firstSeen = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_ts"))
        .select(date_format(date_trunc("hour", col("first_ts")),
          "yyyy-MM-dd HH").as("hour"))
        .groupBy(col("hour")).agg(count(lit(1)).as("new_users"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("hour"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      firstSeen
        .withColumn("total_users", sum(col("new_users")).over(w))
        .orderBy("hour")
    },
    Some("""WITH fs AS (
      |  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id),
      |wk AS (
      |  SELECT strftime(date_trunc('hour', first_ts), '%Y-%m-%d %H') AS hour,
      |    count(*) AS new_users
      |  FROM fs GROUP BY 1)
      |SELECT hour, new_users,
      |  CAST(sum(new_users) OVER (ORDER BY hour
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS total_users
      |FROM wk ORDER BY hour""".stripMargin))

  /** RFM segmentation (recency / frequency / monetary) — the classic
    * customer-mart scoring operator: per customer, days since last
    * order measured against the CORPUS max date (a one-row broadcast
    * aggregate, so the anchor is data-derived yet identical in both
    * engines — no wall-clock in the gate), order count, and exact
    * decimal-cents spend; each dimension coded 0-2 by fixed thresholds
    * into a 3-digit segment. One shuffle on the customer key, one
    * broadcast. */
  val qRfmSegments: QueryDef = QueryDef(
    "q_rfm_segments",
    (s, d) => {
      val orders = Tables.orders(s, d)
      val anchor = orders.agg(max(col("o_orderdate")).as("max_d"))
      orders.groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_d"),
          count(lit(1)).as("frequency"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("spend_cents"))
        .crossJoin(broadcast(anchor))
        .select(col("o_custkey"),
          datediff(col("max_d"), col("last_d")).cast("long").as("recency_days"),
          col("frequency"), col("spend_cents"))
        .withColumn("segment",
          (when(col("recency_days") <= 30, 2)
            .when(col("recency_days") <= 90, 1).otherwise(0) * 100 +
           when(col("frequency") >= 20, 2)
            .when(col("frequency") >= 10, 1).otherwise(0) * 10 +
           when(col("spend_cents") >= 300000000L, 2)
            .when(col("spend_cents") >= 100000000L, 1).otherwise(0))
            .cast("long"))
        .filter(col("o_custkey") % 10 === 0)
        .orderBy("o_custkey")
    },
    Some("""WITH a AS (SELECT max(o_orderdate) AS max_d FROM orders),
      |g AS (
      |  SELECT o_custkey, max(o_orderdate) AS last_d,
      |    CAST(count(*) AS BIGINT) AS frequency,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS spend_cents
      |  FROM orders GROUP BY o_custkey)
      |SELECT o_custkey,
      |  CAST(date_diff('day', CAST(last_d AS DATE), CAST(max_d AS DATE)) AS BIGINT)
      |    AS recency_days,
      |  frequency, spend_cents,
      |  CAST((CASE WHEN date_diff('day', CAST(last_d AS DATE), CAST(max_d AS DATE)) <= 30 THEN 2
      |        WHEN date_diff('day', CAST(last_d AS DATE), CAST(max_d AS DATE)) <= 90 THEN 1
      |        ELSE 0 END) * 100
      |    + (CASE WHEN frequency >= 20 THEN 2 WHEN frequency >= 10 THEN 1 ELSE 0 END) * 10
      |    + (CASE WHEN spend_cents >= 300000000 THEN 2
      |        WHEN spend_cents >= 100000000 THEN 1 ELSE 0 END) AS BIGINT) AS segment
      |FROM g CROSS JOIN a
      |WHERE o_custkey % 10 = 0
      |ORDER BY o_custkey""".stripMargin))

  /** [[graft.ops.Graph.kCoreRounds]] unrolled: each round recounts
    * degrees over the surviving edge set and keeps both-endpoint-
    * surviving edges — one CTE pair per round. The CTEs are
    * MATERIALIZED: each e_t is referenced twice by round t+1, so the
    * default inline expansion doubles the plan per round (measured:
    * >9 min inlined vs 0.8 s materialized at sf0.1). */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { t =>
      s"""n$t AS MATERIALIZED (SELECT node FROM (
         |  SELECT node, count(*) AS d FROM (
         |    SELECT lo AS node FROM e${t - 1} UNION ALL SELECT hi FROM e${t - 1}) u
         |  GROUP BY node) q WHERE d >= $k),
         |e$t AS MATERIALIZED (SELECT lo, hi FROM e${t - 1}
         |  WHERE lo IN (SELECT node FROM n$t) AND hi IN (SELECT node FROM n$t))""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |$steps
      |SELECT node, count(*) AS degree FROM (
      |  SELECT lo AS node FROM e$rounds UNION ALL SELECT hi FROM e$rounds) u
      |GROUP BY node ORDER BY node""".stripMargin
  }

  /** k-core of the co-purchase part graph ([[graft.ops.Graph.kCoreRounds]],
    * k = 70, four synchronized peel rounds — the threshold sits inside
    * the degree distribution at every SF, so the peel genuinely
    * cascades: 200→153 nodes at sf0.001, 20000→19674 at sf0.1) — the dense-core extraction
    * that ranks parts by embeddedness; on link graphs the same peel
    * strips spam rings and orphan pages before PageRank spends rank on
    * them. Fixed-round contract: both engines replay exactly four
    * rounds, so the gate holds converged or not. */
  val qKCore: QueryDef = QueryDef(
    "q_kcore",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val a = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("lo"))
      val b = li.select(col("l_orderkey").as("ok2"), col("l_partkey").as("hi"))
      val edges = a.join(b, col("ok") === col("ok2") && col("lo") < col("hi"))
        .select(col("lo"), col("hi"))
      graft.ops.Graph.kCoreRounds(edges, k = 70, rounds = 4).orderBy("node")
    },
    Some(kcoreOracleSql(70, 4)))

  /** CUSUM changepoint detection over hourly volumes — q_anomaly_hourly
    * flags SPIKES; CUSUM accumulates small persistent drifts until they
    * cross a decision threshold (Page 1954), which is how ingest
    * monitors catch a slow leak no single hour would flag. The
    * recursive s_t = max(0, s_{t−1} + dev_t) is NOT a window aggregate,
    * but the classic prefix identity s_t = P_t − min(0, min_{i≤t} P_i)
    * (P = running sum of deviations) is — two cumulative windows over
    * the bounded hourly relation, everything in integer milli-counts
    * (mean scaled by 1000 with `div`, slack 250, threshold 5000), so
    * both engines replay identical integers. */
  val qChangepointCusum: QueryDef = QueryDef(
    "q_changepoint_cusum",
    (s, d) => {
      val hourly = Tables.events(s, d)
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH")
          .as("hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      val base = hourly.groupBy(col("event_type"))
        .agg(expr("(1000 * sum(cnt)) div count(1)").as("mean_sc"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("hour"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      hourly.join(broadcast(base), "event_type")
        .withColumn("dev", lit(1000L) * col("cnt") - col("mean_sc") - lit(250L))
        .withColumn("p", sum(col("dev")).over(w))
        .withColumn("cusum", col("p") - least(lit(0L), min(col("p")).over(w)))
        .select(col("hour"), col("event_type"), col("cnt"), col("cusum"),
          (col("cusum") > 5000L).as("drifting"))
        .orderBy("event_type", "hour")
    },
    Some("""WITH h AS (
      |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
      |    event_type, CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT event_type,
      |  CAST((1000 * sum(cnt)) // count(*) AS BIGINT) AS mean_sc
      |  FROM h GROUP BY event_type),
      |p AS (
      |  SELECT hour, h.event_type, cnt,
      |    CAST(sum(1000 * cnt - mean_sc - 250) OVER win AS BIGINT) AS p
      |  FROM h JOIN b ON h.event_type = b.event_type
      |  WINDOW win AS (PARTITION BY h.event_type ORDER BY hour
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |c AS (
      |  SELECT hour, event_type, cnt,
      |    p - least(0, min(p) OVER (PARTITION BY event_type ORDER BY hour
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cusum
      |  FROM p)
      |SELECT hour, event_type, cnt, CAST(cusum AS BIGINT) AS cusum,
      |  cusum > 5000 AS drifting
      |FROM c ORDER BY event_type, hour""".stripMargin))

  /** Customer-value SKYLINE ([[graft.ops.Stats.skyline2d]]): the Pareto
    * frontier under (recency ↓, spend ↑) — "no other customer is both
    * more recent AND higher-spending". The multi-criteria shortlist
    * operator (supplier selection, doc-quality frontiers) the top-k
    * family cannot express: no single score ranks the frontier. The
    * oracle is the textbook quadratic NOT EXISTS dominance test over
    * the %10 sample; the engine's ordered-scan formulation must land on
    * exactly the same frontier. */
  val qSkyline: QueryDef = QueryDef(
    "q_skyline",
    (s, d) => {
      val orders = Tables.orders(s, d)
      val anchor = orders.agg(max(col("o_orderdate")).as("max_d"))
      val pts = orders.groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_d"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("spend_cents"))
        .crossJoin(broadcast(anchor))
        .filter(col("o_custkey") % 10 === 0)
        .select(col("o_custkey"),
          datediff(col("max_d"), col("last_d")).cast("long").as("recency_days"),
          col("spend_cents"))
      graft.ops.Stats.skyline2d(pts, "recency_days", "spend_cents")
        .orderBy("o_custkey")
    },
    Some("""WITH a AS (SELECT max(o_orderdate) AS max_d FROM orders),
      |g AS (
      |  SELECT o_custkey,
      |    CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
      |      CAST(max_d AS DATE)) AS BIGINT) AS recency_days,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS spend_cents
      |  FROM orders CROSS JOIN a GROUP BY o_custkey, max_d),
      |f AS (SELECT * FROM g WHERE o_custkey % 10 = 0)
      |SELECT o_custkey, recency_days, spend_cents FROM f q
      |WHERE NOT EXISTS (SELECT 1 FROM f p
      |  WHERE p.recency_days <= q.recency_days
      |    AND p.spend_cents >= q.spend_cents
      |    AND (p.recency_days < q.recency_days
      |      OR p.spend_cents > q.spend_cents))
      |ORDER BY o_custkey""".stripMargin))

  /** HITS hubs-and-authorities (Kleinberg) over the customer→supplier
    * bipartite purchase graph: two mutual-reinforcement rounds with the
    * raw INTEGER update (a ← Σ h over in-edges, h ← Σ a over out-edges —
    * normalization only rescales, so the unnormalized integer ranking is
    * the HITS ranking, exactly cross-engine; the PageRank integer-mass
    * precedent). Top-20 authorities with both rounds' scores.
    *
    * Scale shape: the distinct edge list materializes once (DISK_ONLY,
    * loop-invariant) and every round is one edge-partitioned join + one
    * map-combined sum keyed by the node — no per-node windows, no driver
    * state. At true web scale the scores need per-round rescaling before
    * i64 overflow (~4 rounds at 1e9 edges); the ranking logic is
    * unchanged. */
  val qHits: QueryDef = QueryDef(
    "q_hits",
    (s, d) => {
      val e = graft.ops.Materialize.invariant(
        Tables.orders(s, d)
          .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("hub"), col("l_suppkey").as("auth"))
          .distinct())
      val h1 = e.groupBy(col("hub")).agg(count(lit(1)).as("h1"))
      val a1 = e.join(h1, "hub").groupBy(col("auth"))
        .agg(sum(col("h1")).as("authority_1"))
      val h2 = e.join(a1, "auth").groupBy(col("hub"))
        .agg(sum(col("authority_1")).as("h2"))
      val a2 = e.join(h2, "hub").groupBy(col("auth"))
        .agg(sum(col("h2")).as("authority_2"))
      a2.join(a1, "auth")
        .orderBy(col("authority_2").desc, col("auth").asc)
        .limit(20)
        .select(col("auth").as("supplier"), col("authority_1"),
          col("authority_2"))
    },
    Some("""WITH e AS (
      |  SELECT DISTINCT o_custkey AS hub, l_suppkey AS auth
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |h1 AS (SELECT hub, count(*) AS h1 FROM e GROUP BY hub),
      |a1 AS (SELECT auth, CAST(sum(h1) AS BIGINT) AS a1
      |       FROM e JOIN h1 USING (hub) GROUP BY auth),
      |h2 AS (SELECT hub, CAST(sum(a1) AS BIGINT) AS h2
      |       FROM e JOIN a1 USING (auth) GROUP BY hub),
      |a2 AS (SELECT auth, CAST(sum(h2) AS BIGINT) AS a2
      |       FROM e JOIN h2 USING (hub) GROUP BY auth)
      |SELECT auth AS supplier, a1 AS authority_1, a2 AS authority_2
      |FROM a2 JOIN a1 USING (auth)
      |ORDER BY a2 DESC, auth ASC LIMIT 20""".stripMargin))

  /** ROBUST per-group statistics: 10%-trimmed mean and winsorized mean of
    * order totals per priority — the outlier-resistant location estimates
    * metric pipelines prefer over the raw mean. Bounds come from exact
    * integer rank cuts (trim the bottom/top ⌊n/10⌋ rows by (cents, key)
    * order — a RANK cut, not a value percentile, so ties are
    * deterministic), all sums exact integer cents, one IEEE division per
    * output. One window over the group partitioning + one map-combined
    * aggregate. */
  val qTrimmedMean: QueryDef = QueryDef(
    "q_trimmed_mean",
    (s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderpriority").as("prio"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderkey"))
      val w = Window.partitionBy(col("prio"))
        .orderBy(col("cents").asc, col("o_orderkey").asc)
      val wn = Window.partitionBy(col("prio"))
      val ranked = o
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(wn))
        .withColumn("cut", expr("n div 10"))
      ranked
        .groupBy(col("prio"))
        .agg(first(col("n")).as("n"), first(col("cut")).as("cut"),
          sum(col("cents")).as("sum_all"),
          sum(when(col("rk") > col("cut") && col("rk") <= col("n") - col("cut"),
            col("cents")).otherwise(0L)).as("sum_trim"),
          min(when(col("rk") === col("cut") + 1, col("cents"))).as("lo"),
          min(when(col("rk") === col("n") - col("cut"), col("cents"))).as("hi"))
        .select(col("prio"), col("n"),
          round(col("sum_all").cast("double") /
            nullif(col("n") * 100, lit(0L)).cast("double"), 4).as("mean"),
          round(col("sum_trim").cast("double") /
            nullif((col("n") - col("cut") * 2) * 100, lit(0L)).cast("double"), 4)
            .as("trimmed_mean"),
          round((col("sum_trim") + col("cut") * (col("lo") + col("hi")))
              .cast("double") /
            nullif(col("n") * 100, lit(0L)).cast("double"), 4)
            .as("winsorized_mean"))
        .orderBy("prio")
    },
    Some("""WITH o AS (
      |  SELECT o_orderpriority AS prio,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
      |  FROM orders),
      |r AS (
      |  SELECT prio, cents,
      |    CAST(row_number() OVER (PARTITION BY prio
      |      ORDER BY cents ASC, o_orderkey ASC) AS BIGINT) AS rk,
      |    CAST(count(*) OVER (PARTITION BY prio) AS BIGINT) AS n
      |  FROM o),
      |c AS (SELECT *, n // 10 AS cut FROM r),
      |a AS (
      |  SELECT prio, any_value(n) AS n, any_value(cut) AS cut,
      |    CAST(sum(cents) AS BIGINT) AS sum_all,
      |    CAST(sum(CASE WHEN rk > cut AND rk <= n - cut THEN cents ELSE 0 END) AS BIGINT) AS sum_trim,
      |    min(CASE WHEN rk = cut + 1 THEN cents END) AS lo,
      |    min(CASE WHEN rk = n - cut THEN cents END) AS hi
      |  FROM c GROUP BY prio)
      |SELECT prio, n,
      |  round(CAST(sum_all AS DOUBLE) / CAST(nullif(n * 100, 0) AS DOUBLE), 4) AS mean,
      |  round(CAST(sum_trim AS DOUBLE) /
      |        CAST(nullif((n - 2 * cut) * 100, 0) AS DOUBLE), 4) AS trimmed_mean,
      |  round(CAST(sum_trim + cut * (lo + hi) AS DOUBLE) /
      |        CAST(nullif(n * 100, 0) AS DOUBLE), 4) AS winsorized_mean
      |FROM a ORDER BY prio""".stripMargin))

  /** GINI COEFFICIENT of order value per market segment (revenue
    * concentration — the inequality statistic behind "top 1% of
    * customers" dashboards), via the exact rank formula
    * G = (2·Σᵢ i·xᵢ)/(n·Σx) − (n+1)/n over the (cents, key)-ordered
    * ranks. Integer interior (Σ i·xᵢ in cents·rank units) accumulated in
    * DECIMAL(38,0) (HUGEINT on the oracle side): rank·cents is ~n·x̄ per
    * row and the moment sum ~n²·x̄, which blows through Int64 around
    * 3e6 orders per segment — decimal lifts the exact bound to 1e38
    * (n ≲ 1e14 orders at TPC-H prices). One IEEE expression at the
    * boundary. One group-partitioned window + one aggregate. */
  val qGiniSegment: QueryDef = QueryDef(
    "q_gini_segment",
    (s, d) => {
      val o = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment").as("segment"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("segment"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderkey"))
      val w = Window.partitionBy(col("segment"))
        .orderBy(col("cents").asc, col("o_orderkey").asc)
      o.withColumn("rk", row_number().over(w).cast("long"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n"),
          sum(col("cents").cast("decimal(38,0)")).as("sx"),
          sum(col("rk").cast("decimal(19,0)") * col("cents")).as("six"))
        .select(col("segment"), col("n"),
          round(
            lit(2.0) * col("six").cast("double") /
              nullif(col("n").cast("decimal(19,0)") * col("sx"),
                lit(0L)).cast("double")
            - (col("n") + 1).cast("double") / col("n").cast("double"), 4)
            .as("gini"))
        .orderBy("segment")
    },
    Some("""WITH o AS (
      |  SELECT c_mktsegment AS segment,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |r AS (
      |  SELECT segment, cents,
      |    CAST(row_number() OVER (PARTITION BY segment
      |      ORDER BY cents ASC, o_orderkey ASC) AS BIGINT) AS rk
      |  FROM o),
      |a AS (
      |  SELECT segment, count(*) AS n,
      |    sum(CAST(cents AS HUGEINT)) AS sx,
      |    sum(CAST(rk AS HUGEINT) * cents) AS six
      |  FROM r GROUP BY segment)
      |SELECT segment, n,
      |  round(2.0 * CAST(six AS DOUBLE)
      |          / CAST(nullif(CAST(n AS HUGEINT) * sx, 0) AS DOUBLE)
      |        - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 4) AS gini
      |FROM a ORDER BY segment""".stripMargin))

  /** PARETO CONCENTRATION (the 80/20 dashboard number): revenue share of
    * the top-1/top-10/top-25 percent of customers. The corpus collapses
    * to per-customer revenue FIRST (map-combined, customer-dimension
    * sized), so the ranking window runs over customers, never orders;
    * shares are exact integer cent sums with one IEEE division each.
    * Decile membership is an exact rank cut (rk ≤ ⌊n·p/100⌋),
    * deterministic ties on (cents desc, custkey asc). */
  val qPareto: QueryDef = QueryDef(
    "q_pareto_share",
    (s, d) => {
      val cust = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val w = Window.orderBy(col("cents").desc, col("o_custkey").asc)
      val whole = Window.partitionBy()
      val ranked = cust
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(whole))
        .withColumn("total", sum(col("cents")).over(whole))
      val tiers = Seq(1L, 10L, 25L)
      val perTier = tiers.map { p =>
        ranked.filter(col("rk") <= expr(s"(n * $p) div 100"))
          .groupBy()
          .agg(first(lit(p)).as("top_pct"), count(lit(1)).as("n_customers"),
            sum(col("cents")).as("tier_cents"), first(col("total")).as("total"))
      }.reduce(_ union _)
      // A global agg over an empty tier (n·p/100 < 1 customer) still emits
      // one all-null row; the oracle's JOIN+GROUP BY emits none — drop it.
      perTier.filter(col("n_customers") > 0)
        .select(col("top_pct"), col("n_customers"),
          round(col("tier_cents").cast("double") /
            nullif(col("total"), lit(0L)).cast("double"), 4).as("revenue_share"))
        .orderBy("top_pct")
    },
    Some("""WITH cust AS (
      |  SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY o_custkey),
      |r AS (
      |  SELECT o_custkey, cents,
      |    CAST(row_number() OVER (ORDER BY cents DESC, o_custkey ASC) AS BIGINT) AS rk,
      |    CAST(count(*) OVER () AS BIGINT) AS n,
      |    CAST(sum(cents) OVER () AS BIGINT) AS total
      |  FROM cust),
      |tiers AS (SELECT CAST(unnest([1, 10, 25]) AS BIGINT) AS top_pct)
      |SELECT top_pct, count(*) AS n_customers,
      |  round(CAST(sum(cents) AS DOUBLE) /
      |        CAST(nullif(any_value(total), 0) AS DOUBLE), 4) AS revenue_share
      |FROM r JOIN tiers ON rk <= (n * top_pct) // 100
      |GROUP BY top_pct ORDER BY top_pct""".stripMargin))

  /** BOM ROLLUP — the recursive-CTE workload (WITH RECURSIVE in the SQL
    * engines; reference analog: hierarchy explosion over part/assembly
    * tables): a bill-of-materials tree is derived from `part`
    * (parent(c) = c div 10, so key ranges make it a forest rooted at
    * keys 1..9; per-edge quantity (c % 7) + 1), and the query computes,
    * for every ancestor below key 100, how many descendant parts it
    * transitively contains and the TOTAL UNIT COUNT — the sum over
    * descendants of the product of edge quantities along the path (a
    * tree, so the path is unique and the product well-defined).
    *
    * Spark has no recursive CTE; the scalable re-expression is an
    * ITERATIVE FRONTIER JOIN: level k+1 extends each closure row by one
    * parent hop. The hierarchy depth is log10(maxkey) — 5 levels at
    * sf0.1, ~7 at 100 TB — so the loop is O(depth) joins, each a small
    * equi-join on the child key, and the frontier SHRINKS by 10x per
    * hop (keys integer-divide). Early exit on an empty frontier keeps
    * the plan finite without trusting the depth estimate. Quantities
    * are exact longs (q <= 7, depth <= 7 → path product <= 7^7, far
    * inside long). */
  val qBomRollup: QueryDef = QueryDef(
    "q_bom_rollup",
    (s, d) => {
      val edges = Tables.part(s, d)
        .select(col("p_partkey").cast("long").as("child"))
        .filter(col("child") >= 10)
        .select(col("child"), expr("child div 10").as("parent"),
          ((col("child") % 7) + 1).cast("long").as("q"))
      var acc = edges.select(col("child").as("descendant"),
        col("parent").as("anc"), col("q").as("units"), lit(1L).as("depth"))
      var frontier = acc
      var level = 1
      // depth is bounded by log10(max partkey); cap guards the loop
      while (level < 12 && !frontier.isEmpty) {
        val ext = frontier.alias("f")
          .join(edges.alias("e"), col("f.anc") === col("e.child"))
          .select(col("f.descendant"), col("e.parent").as("anc"),
            (col("f.units") * col("e.q")).as("units"),
            (col("f.depth") + 1).as("depth"))
        frontier = ext.localCheckpoint(true)
        acc = acc.unionByName(frontier)
        level += 1
      }
      acc.filter(col("anc") < 100)
        .groupBy(col("anc"))
        .agg(count(lit(1)).as("n_desc"), sum(col("units")).as("total_units"),
          max(col("depth")).as("max_depth"))
        .orderBy("anc")
    },
    Some("""WITH RECURSIVE e AS (
      |  SELECT CAST(p_partkey AS BIGINT) AS child,
      |    CAST(p_partkey // 10 AS BIGINT) AS parent,
      |    CAST((p_partkey % 7) + 1 AS BIGINT) AS q
      |  FROM part WHERE p_partkey >= 10),
      |cl AS (
      |  SELECT child AS descendant, parent AS anc, q AS units,
      |    CAST(1 AS BIGINT) AS depth
      |  FROM e
      |  UNION ALL
      |  SELECT cl.descendant, e.parent, cl.units * e.q, cl.depth + 1
      |  FROM cl JOIN e ON cl.anc = e.child)
      |SELECT anc, CAST(count(*) AS BIGINT) AS n_desc,
      |  CAST(sum(units) AS BIGINT) AS total_units,
      |  CAST(max(depth) AS BIGINT) AS max_depth
      |FROM cl WHERE anc < 100 GROUP BY anc ORDER BY anc""".stripMargin))

  val all: Seq[QueryDef] = Seq(qStatsMoments, qHistogram, qRetentionCohorts, qHits,
    qTrimmedMean, qGiniSegment, qPareto,
    qGroupPercentiles, qPercentileApprox, textOutliersMad, qFunnelConversion,
    qFillGaps, qWindowSliding, qRegressionByGroup,
    qPagerank, qLabelProp, qPagerankConverged, qPagerankDangling,
    qPagerankPersonalized, qSourceDrift, qTriangles,
    qShortestPaths, qAssocRules, qAnomalyHourly, qUserPaths, qAudienceOverlap,
    qMergeIntervals, qUserGrowth, qRfmSegments, qKCore, qChangepointCusum,
    qSkyline, qBomRollup)
}
