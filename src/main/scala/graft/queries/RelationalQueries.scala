package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Engine-grade relational operators over the TPC-H-ish star schema —
  * the analytics surface a user of the cleaned tables needs (aggregation,
  * joins of every flavor, windows, top-k, set ops, time bucketing).
  *
  * Monetary arithmetic is done in DECIMAL(18,2)-derived types on BOTH
  * sides (Spark and the DuckDB oracle) so sums are exact integers
  * internally and hash-compare byte-identically — summing doubles would be
  * order-dependent and nondeterministic under parallel aggregation.
  *
  * Scale notes (100 TB): every aggregate here is partial-aggregable
  * (map-side combine); joins declare the small side so Catalyst broadcasts
  * dimensions (region/nation/customer) instead of shuffling the fact
  * table; windows partition by a key (never a global window without a
  * partition except the bounded top-k, which AQE handles via a single
  * reduced partition after local limits).
  */
object RelationalQueries {

  private val money = DecimalType(18, 2)

  /** TPC-H Q1-style: scan + filter + wide aggregate with map-side combine. */
  val q1Agg: QueryDef = QueryDef(
    "q1_agg",
    (s, d) => Tables.lineitem(s, d)
      .filter(col("l_shipdate") < lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // sums are computed in DECIMAL (exact, order-independent under
        // parallel partial aggregation) and only the FINAL value is cast
        // to DOUBLE: both engines correctly round the identical decimal
        // to the identical 64-bit float, so the driver's hash compare is
        // representation-stable (decimal sum result precision differs
        // between engines: Spark 28,2 vs DuckDB 38,2).
        sum(col("l_quantity").cast(money)).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(money)).cast("double").as("sum_base_price"),
        sum(col("l_extendedprice").cast(money) * (lit(1).cast(money) - col("l_discount").cast(money))).cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"),
        countDistinct(col("l_orderkey")).as("distinct_orders"))
      .orderBy("l_returnflag", "l_linestatus"),
    Some("""SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  count(*) AS count_order,
      |  count(DISTINCT l_orderkey) AS distinct_orders
      |FROM lineitem
      |WHERE l_shipdate < TIMESTAMP '1998-09-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin))

  /** Fact-to-dimension join: broadcast the dimension side (A13 family /
    * engine join). Revenue per nation per region via a 5-table chain. */
  val qMultiJoin: QueryDef = QueryDef(
    "q_multi_join",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      // nation/region are FIXED-size dimensions -> always broadcast;
      // customer scales with the data, so no hint — Catalyst/AQE picks
      // broadcast at this SF by stats and falls back to shuffle join at
      // sizes where broadcasting would be wrong
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sum(col("l_extendedprice").cast(money) * (lit(1).cast(money) - col("l_discount").cast(money))).cast("double").as("revenue"),
          count(lit(1)).as("n_lineitems"))
        .orderBy("r_name", "n_name")
    },
    Some("""SELECT r_name, n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  count(*) AS n_lineitems
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin))

  /** Window top-k: top 3 orders by total price per market segment
    * (dense partitioned window, deterministic tie-break). */
  val qWindowTopk: QueryDef = QueryDef(
    "q_window_topk",
    (s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      o.join(c, col("o_custkey") === col("c_custkey")) // size-based join pick
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("c_mktsegment"), col("rk"), col("o_orderkey"),
          col("o_totalprice").cast(money).as("total_price"))
        .orderBy("c_mktsegment", "rk")
    },
    Some("""SELECT c_mktsegment, rk, o_orderkey, total_price FROM (
      |  SELECT c_mktsegment, o_orderkey,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS total_price,
      |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      |  FROM orders JOIN customer ON o_custkey = c_custkey) t
      |WHERE rk <= 3 ORDER BY c_mktsegment, rk""".stripMargin))

  /** Running aggregate window: per-customer cumulative order value over
    * time (frame-bounded window, the classic sessionized-ledger shape). */
  val qWindowRunning: QueryDef = QueryDef(
    "q_window_running",
    (s, d) => {
      val o = Tables.orders(s, d)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      o.filter(col("o_custkey") % 100 === 0)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast(money)).over(w).cast("double").as("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
      |FROM orders WHERE o_custkey % 100 = 0
      |ORDER BY o_custkey, o_orderkey""".stripMargin))

  /** Left-semi join: customers having at least one high-priority order. */
  val qSemiJoin: QueryDef = QueryDef(
    "q_semi_join",
    (s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin))

  /** Left-anti join: customers with no orders at all. */
  val qAntiJoin: QueryDef = QueryDef(
    "q_anti_join",
    (s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin))

  /** Set operations: urgent-order customers vs big-spender customers
    * (UNION / INTERSECT / EXCEPT counts in one result row). */
  val qSetOps: QueryDef = QueryDef(
    "q_set_ops",
    (s, d) => {
      val o = Tables.orders(s, d)
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      val big = o.filter(col("o_totalprice") > 300000.0).select(col("o_custkey"))
      val union = urgent.union(big).distinct().count()
      val inter = urgent.intersect(big).count()
      val except = urgent.except(big).count()
      s.createDataFrame(Seq((union, inter, except)))
        .toDF("n_union", "n_intersect", "n_except")
    },
    Some("""SELECT
      |  (SELECT count(*) FROM (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |    UNION SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0) a) AS n_union,
      |  (SELECT count(*) FROM (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |    INTERSECT SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0) b) AS n_intersect,
      |  (SELECT count(*) FROM (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |    EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0) c) AS n_except""".stripMargin))

  /** Global top-k (sort + limit with pass-through values). */
  val qTopkOrders: QueryDef = QueryDef(
    "q_topk_orders",
    (s, d) => Tables.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(20)
      .select(col("o_orderkey"), col("o_totalprice")),
    Some("""SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin))

  /** Time-bucketed aggregation over the events stream table (the batch
    * twin of the Structured Streaming hourly window in
    * [[graft.streaming.EventStreams]]). */
  val qEventsHourly: QueryDef = QueryDef(
    "q_events_hourly",
    (s, d) => Tables.events(s, d)
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH").as("hour"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("sum_value"))
      .orderBy("hour", "event_type"),
    Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour, event_type,
      |  count(*) AS n_events,
      |  count(DISTINCT user_id) AS n_users,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin))

  /** Grouping sets / rollup: order counts by (priority, status) with
    * subtotals — the cube-family operator. */
  val qRollup: QueryDef = QueryDef(
    "q_rollup",
    (s, d) => Tables.orders(s, d)
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast(money)).cast("double").as("total"))
      .orderBy(col("o_orderpriority").asc_nulls_first, col("o_orderstatus").asc_nulls_first),
    Some("""SELECT o_orderpriority, o_orderstatus, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
      |ORDER BY o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin))

  /** CUBE over the same aggregate — all four grouping sets ((p,s), (p),
    * (s), ()) in one pass (ROLLUP's lattice superset; Spark plans both
    * through Expand). Completes the grouping-sets family next to
    * `q_rollup`. */
  val qCube: QueryDef = QueryDef(
    "q_cube",
    (s, d) => Tables.orders(s, d)
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast(money)).cast("double").as("total"))
      .orderBy(col("o_orderpriority").asc_nulls_first, col("o_orderstatus").asc_nulls_first),
    Some("""SELECT o_orderpriority, o_orderstatus, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY CUBE (o_orderpriority, o_orderstatus)
      |ORDER BY o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin))

  /** Sessionization in batch (gaps-and-islands): a new session starts
    * after >30 min of per-user inactivity; lag + cumulative sum assigns
    * session ids, then one aggregate per session. The batch twin of the
    * streaming `flatMapGroupsWithState` sessionizer. */
  val qEventsSessions: QueryDef = QueryDef(
    "q_events_sessions",
    (s, d) => {
      val e = Tables.events(s, d).filter(col("user_id") % 10 === 0)
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val newSession = when(
        unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(byUser)) > 1800, 1
      ).otherwise(0)
      val sessionized = e
        .withColumn("new_s", coalesce(newSession, lit(0)))
        .withColumn("session_id",
          sum(col("new_s")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sessionized.groupBy(col("user_id"), col("session_id"))
        .agg(
          count(lit(1)).as("n_events"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          sum(col("value").cast(DecimalType(18, 4))).cast("double").as("total_value"))
        .orderBy("user_id", "session_id")
    },
    Some("""WITH e AS (SELECT * FROM events WHERE user_id % 10 = 0),
      |flagged AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      |sessions AS (
      |  SELECT user_id, event_id, ts, value,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM sessions GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin))

  /** Co-occurrence PAIR mining (market-basket shape): part pairs ordered
    * together, top-20 by support — the co-occurrence statistics corpus
    * analysis runs over tags/domains/entities. Pair generation is
    * per-order and bounded by the max basket size (≤7 lineitems in
    * TPC-H), so the self-join on the order key explodes |basket|², never
    * corpus²; one shuffle on the order key, map-combined pair counts,
    * TakeOrdered top-20 with the (count desc, pair asc) total order. */
  val qCopurchasePairs: QueryDef = QueryDef(
    "q_copurchase_pairs",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val a = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pa"))
      val b = li.select(col("l_orderkey").as("ok2"), col("l_partkey").as("pb"))
      a.join(b, col("ok") === col("ok2") && col("pa") < col("pb"))
        .groupBy(col("pa"), col("pb"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_orders").desc, col("pa").asc, col("pb").asc)
        .limit(20)
    },
    Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n_orders
      |FROM li a JOIN li b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |GROUP BY pa, pb
      |ORDER BY n_orders DESC, pa ASC, pb ASC LIMIT 20""".stripMargin))

  /** `q_events_sessions`'s NATIVE twin: Spark's built-in `session_window`
    * generator instead of the lag/flag/running-sum window algebra. The
    * two define sessions identically — session_window merges events whose
    * gap is <= the 30-min gap duration (adjacent ranges merge; verified
    * empirically: two events exactly 1800s apart form ONE session, 1µs
    * over forms two — SessionWindowSpec pins the boundary), which is
    * exactly the lag formulation's "new session iff diff > 1800".
    * The oracle replays the lag algebra at MICROSECOND precision
    * (epoch_us diffs, not second-truncated unix_timestamp — session_window
    * compares raw event times). Scale: one shuffle on user_id, then an
    * in-partition sort+merge — same exchange count as the window route,
    * but a single operator Catalyst plans directly. */
  val qSessionWindowNative: QueryDef = QueryDef(
    "q_session_window_native",
    (s, d) => Tables.events(s, d).filter(col("user_id") % 10 === 0)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("total_value"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("n_events"), col("total_value"))
      .orderBy("user_id", "session_start"),
    Some("""WITH e AS (SELECT * FROM events WHERE user_id % 10 = 0),
      |flagged AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |      THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      |sess AS (
      |  SELECT user_id, event_id, ts, value,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged)
      |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin))

  /** Correlated-subquery shape — customers richer than their nation's
    * average balance — decorrelated manually into an aggregate+join so
    * the arithmetic stays in exact DECIMAL (balance * n > sum instead of
    * balance > sum/n: no division, no rounding drift). */
  val qCorrelatedAvg: QueryDef = QueryDef(
    "q_correlated_avg",
    (s, d) => {
      val c = Tables.customer(s, d)
      val natAgg = c.groupBy(col("c_nationkey").as("nk"))
        .agg(sum(col("c_acctbal").cast(money)).as("bal_sum"), count(lit(1)).as("n"))
      c.join(broadcast(natAgg), col("c_nationkey") === col("nk"))
        .filter(col("c_acctbal").cast(money) * col("n") > col("bal_sum"))
        .select(col("c_custkey"), col("c_nationkey"))
        .orderBy("c_custkey")
    },
    Some("""WITH nat AS (
      |  SELECT c_nationkey AS nk, sum(CAST(c_acctbal AS DECIMAL(18,2))) AS bal_sum, count(*) AS n
      |  FROM customer GROUP BY 1)
      |SELECT c_custkey, c_nationkey
      |FROM customer JOIN nat ON c_nationkey = nk
      |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > bal_sum
      |ORDER BY c_custkey""".stripMargin))

  /** Pivot: order counts by status x priority (conditional-aggregation
    * oracle with matching generated column names). */
  val qPivot: QueryDef = {
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    QueryDef(
      "q_pivot",
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority", priorities)
        .count()
        .na.fill(0L)
        .orderBy("o_orderstatus"),
      Some {
        val cols = priorities.map(p =>
          s"""count(*) FILTER (WHERE o_orderpriority = '$p') AS "$p"""").mkString(",\n  ")
        s"""SELECT o_orderstatus,\n  $cols\nFROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""
      })
  }

  /** Scalar string-function battery over part names (dialect-shared
    * subset: upper/lower/substring/replace/trim/lpad/concat/length/
    * position/left/right/reverse). */
  val qStringFuncs: QueryDef = QueryDef(
    "q_string_funcs",
    (s, d) => Tables.part(s, d)
      .filter(col("p_partkey") % 100 === 0)
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("u"),
        lower(col("p_brand")).as("l"),
        substring(col("p_name"), 3, 8).as("sub"),
        regexp_replace(col("p_name"), " ", "_").as("rep"),
        trim(col("p_name")).as("t"),
        lpad(col("p_brand"), 12, "#").as("pad"),
        concat_ws("|", col("p_brand"), col("p_type")).as("cat"),
        length(col("p_name")).cast("long").as("len"),
        locate("a", col("p_name")).cast("long").as("pos"),
        reverse(col("p_type")).as("rev"))
      .orderBy("p_partkey"),
    Some("""SELECT p_partkey,
      |  upper(p_name) AS u, lower(p_brand) AS l,
      |  substring(p_name, 3, 8) AS sub,
      |  replace(p_name, ' ', '_') AS rep,
      |  trim(p_name) AS t,
      |  lpad(p_brand, 12, '#') AS pad,
      |  concat_ws('|', p_brand, p_type) AS cat,
      |  CAST(length(p_name) AS BIGINT) AS len,
      |  CAST(strpos(p_name, 'a') AS BIGINT) AS pos,
      |  reverse(p_type) AS rev
      |FROM part WHERE p_partkey % 100 = 0 ORDER BY p_partkey""".stripMargin))

  /** Date/time scalar battery over order dates (year/month/day/dow/doy,
    * truncation, interval arithmetic, datediff — emitted as ints/strings
    * for cross-engine exactness). */
  val qDateFuncs: QueryDef = QueryDef(
    "q_date_funcs",
    (s, d) => Tables.orders(s, d)
      .filter(col("o_orderkey") % 500 === 0)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        dayofweek(col("o_orderdate")).cast("long").as("dow"),
        dayofyear(col("o_orderdate")).cast("long").as("doy"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
        date_format(col("o_orderdate") + expr("INTERVAL 90 DAYS"), "yyyy-MM-dd").as("plus90"),
        datediff(lit("1998-12-31").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("days_to_eoy"))
      .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS BIGINT) AS y,
      |  CAST(month(o_orderdate) AS BIGINT) AS m,
      |  CAST(day(o_orderdate) AS BIGINT) AS dom,
      |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
      |  CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
      |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
      |  strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d') AS plus90,
      |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS BIGINT) AS days_to_eoy
      |FROM orders WHERE o_orderkey % 500 = 0 ORDER BY o_orderkey""".stripMargin))

  /** Null-handling battery: coalesce/nullif/nvl/greatest/least/CASE over
    * derived NULLs. */
  val qNullFuncs: QueryDef = QueryDef(
    "q_null_funcs",
    (s, d) => {
      val c = Tables.customer(s, d).filter(col("c_custkey") % 50 === 0)
      val maybeNull = when(col("c_custkey") % 3 === 0, col("c_mktsegment"))
      c.select(
        col("c_custkey"),
        coalesce(maybeNull, lit("none")).as("co"),
        nullif(col("c_mktsegment"), lit("BUILDING")).as("ni"),
        isnull(maybeNull).as("is_n"),
        greatest(col("c_custkey") % 7, col("c_custkey") % 11).cast("long").as("g"),
        least(col("c_custkey") % 7, col("c_custkey") % 11).cast("long").as("lt"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey,
      |  coalesce(CASE WHEN c_custkey % 3 = 0 THEN c_mktsegment END, 'none') AS co,
      |  nullif(c_mktsegment, 'BUILDING') AS ni,
      |  (CASE WHEN c_custkey % 3 = 0 THEN c_mktsegment END) IS NULL AS is_n,
      |  CAST(greatest(c_custkey % 7, c_custkey % 11) AS BIGINT) AS g,
      |  CAST(least(c_custkey % 7, c_custkey % 11) AS BIGINT) AS lt
      |FROM customer WHERE c_custkey % 50 = 0 ORDER BY c_custkey""".stripMargin))

  /** Per-group exact MODE with a deterministic tie-break (smallest
    * value wins) — the missing order-statistics aggregate next to
    * median/percentiles. Shape: the corpus collapses to (group, value)
    * counts in one map-combinable aggregation; the arg-max-by-count is
    * then a packed-long min over that bounded relation — value domains
    * are cents < 10^7, so key = -cnt * 10^7 + value_cents orders by
    * (count DESC, value ASC) exactly, the same encoding both engines
    * minimize. */
  val qMode: QueryDef = QueryDef(
    "q_mode",
    (s, d) => Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"),
        expr("cast(round(l_quantity * 100) as bigint)").as("v"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("cnt") * lit(-10000000L) + col("v")).as("packed"),
        max(col("cnt")).as("mode_n"))
      .select(col("l_returnflag"),
        (col("packed") + col("mode_n") * lit(10000000L)).as("mode_cents"),
        col("mode_n"))
      .orderBy("l_returnflag"),
    Some("""WITH c AS (
      |  SELECT l_returnflag, CAST(round(l_quantity * 100) AS BIGINT) AS v,
      |    count(*) AS cnt
      |  FROM lineitem GROUP BY 1, 2),
      |m AS (
      |  SELECT l_returnflag,
      |    min(cnt * (-10000000) + v) AS packed, max(cnt) AS mode_n
      |  FROM c GROUP BY 1)
      |SELECT l_returnflag,
      |  CAST(packed + mode_n * 10000000 AS BIGINT) AS mode_cents,
      |  CAST(mode_n AS BIGINT) AS mode_n
      |FROM m ORDER BY l_returnflag""".stripMargin))

  /** Per-group exact WEIGHTED MEDIAN (weight = extendedprice cents):
    * the robust-statistics aggregate a plain median can't replace when
    * rows carry mass. Scale shape: the corpus first collapses to
    * (group, value) weight sums — map-side combinable, the full data
    * never sorts — then a cumulative window over the BOUNDED distinct-
    * value relation picks the lower weighted median (first value where
    * 2*cumweight >= total), all exact integer comparisons. */
  val qWeightedMedian: QueryDef = QueryDef(
    "q_weighted_median",
    (s, d) => {
      val perValue = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"),
          expr("cast(round(l_quantity * 100) as bigint)").as("v"))
        .agg(expr("sum(cast(round(l_extendedprice * 100) as bigint))").as("w"))
      val cw = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag")).orderBy(col("v").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val tot = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag"))
      perValue
        .withColumn("cum", sum(col("w")).over(cw))
        .withColumn("total", sum(col("w")).over(tot))
        .filter(col("cum") * 2 >= col("total"))
        .groupBy(col("l_returnflag"))
        .agg(min(col("v")).as("wmedian_cents"), max(col("total")).as("total_w"))
        .orderBy("l_returnflag")
    },
    Some("""WITH pv AS (
      |  SELECT l_returnflag, CAST(round(l_quantity * 100) AS BIGINT) AS v,
      |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |cw AS (
      |  SELECT l_returnflag, v,
      |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY v ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(w) OVER (PARTITION BY l_returnflag) AS total
      |  FROM pv)
      |SELECT l_returnflag, min(v) AS wmedian_cents,
      |  CAST(max(total) AS BIGINT) AS total_w
      |FROM cw WHERE cum * 2 >= total GROUP BY 1 ORDER BY l_returnflag""".stripMargin))

  /** SALTED equi-join under engineered skew
    * ([[graft.ops.Skew.saltedJoin]]): 60% of events collapse onto one
    * hot key, and the join against a per-key dimension is salted 8 ways
    * — the hot key's probe spreads over 8 reducers while the dimension
    * pays 8x replication (the classic trade AQE's skew splitting makes
    * for SMJs, here explicit so it also covers planned shuffle-hash
    * joins). The result set equals the plain join for ANY salt
    * assignment — salts only re-route rows — which is exactly why a
    * cross-engine oracle can gate the technique. Checksum = Σ v·k_n in
    * exact longs. */
  val qSaltedJoin: QueryDef = QueryDef(
    "q_salted_join",
    (s, d) => {
      val ev = Tables.events(s, d).select(
        when(col("user_id") % 5 < 3, 0L).otherwise(col("user_id")).as("k"),
        expr("cast(round(value * 100) as bigint)").as("v"))
      val dim = ev.groupBy(col("k")).agg(count(lit(1)).as("k_n"))
      graft.ops.Skew.saltedJoin(ev, dim, "k", salts = 8,
          saltSource = col("v"))
        .groupBy((col("k") % 7).as("kg"))
        .agg(count(lit(1)).as("n"), sum(col("v") * col("k_n")).as("checksum"))
        .orderBy("kg")
    },
    Some("""WITH ev AS (
      |  SELECT CASE WHEN user_id % 5 < 3 THEN 0 ELSE user_id END AS k,
      |    CAST(round(value * 100) AS BIGINT) AS v
      |  FROM events),
      |dim AS (SELECT k, count(*) AS k_n FROM ev GROUP BY k)
      |SELECT k % 7 AS kg, count(*) AS n,
      |  CAST(sum(v * k_n) AS BIGINT) AS checksum
      |FROM ev JOIN dim USING (k) GROUP BY 1 ORDER BY kg""".stripMargin))

  /** EXACT interpolated percentiles (ANSI PERCENTILE_CONT for p = 1/4,
    * 2/4, 3/4) in quarter-units: position (n−1)·k lands between sorted
    * ranks lo = pos div 4 and lo+1 with fraction pos % 4 quarters, so
    * pcont·4 = v_lo·(4−frac) + v_hi·frac is an exact integer — no
    * float interpolation in the gate (both engines replay the same
    * rank arithmetic rather than trusting their own percentile_cont
    * implementations to round identically). Shape: one group sort
    * (row_number) + a 6-rows-per-group rank lookup as an equi-join —
    * the corpus is never re-sorted per percentile. */
  val qPercentileCont: QueryDef = QueryDef(
    "q_percentile_cont",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("v").asc)
      val sorted = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("g"),
          expr("cast(round(l_quantity * 100) as bigint)").as("v"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("g"))))
      val spark = s
      import spark.implicits._
      val pos = sorted.select(col("g"), col("n")).distinct()
        .crossJoin(broadcast(Seq(1, 2, 3).toDF("k")))
        .withColumn("lo", expr("((n - 1) * k) div 4 + 1"))
        .withColumn("frac4", expr("((n - 1) * k) % 4"))
      val need = pos.select(col("g"), col("k"), col("frac4"), explode(array(
          struct(col("lo").as("need"), lit(0).as("role")),
          struct((col("lo") + 1).as("need"), lit(1).as("role")))).as("x"))
        .select(col("g"), col("k"), col("frac4"), col("x.need"), col("x.role"))
      need.join(sorted.select(col("g"), col("rn").as("need"), col("v")),
          Seq("g", "need"), "left")
        .groupBy(col("g"), col("k"), col("frac4"))
        .agg(max(when(col("role") === 0, col("v"))).as("v_lo"),
          max(when(col("role") === 1, col("v"))).as("v_hi"))
        .select(col("g"), col("k"),
          (col("v_lo") * (lit(4) - col("frac4")) +
            coalesce(col("v_hi"), col("v_lo")) * col("frac4")).as("pcont_x4"))
        .orderBy("g", "k")
    },
    Some("""WITH sorted AS (
      |  SELECT l_returnflag AS g,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS v,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY CAST(round(l_quantity * 100) AS BIGINT) ASC) AS rn,
      |    count(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem),
      |pos AS (
      |  SELECT DISTINCT g, n, k.k,
      |    ((n - 1) * k.k) // 4 + 1 AS lo, ((n - 1) * k.k) % 4 AS frac4
      |  FROM sorted, (SELECT unnest([1, 2, 3]) AS k) k),
      |need AS (
      |  SELECT g, k, frac4, lo AS need, 0 AS role FROM pos
      |  UNION ALL
      |  SELECT g, k, frac4, lo + 1, 1 FROM pos),
      |vals AS (
      |  SELECT need.g, need.k, need.frac4, need.role, sorted.v
      |  FROM need LEFT JOIN sorted
      |    ON need.g = sorted.g AND need.need = sorted.rn),
      |agg AS (
      |  SELECT g, k, frac4,
      |    max(CASE WHEN role = 0 THEN v END) AS v_lo,
      |    max(CASE WHEN role = 1 THEN v END) AS v_hi
      |  FROM vals GROUP BY 1, 2, 3)
      |SELECT g, CAST(k AS INT) AS k,
      |  CAST(v_lo * (4 - frac4) + coalesce(v_hi, v_lo) * frac4 AS BIGINT)
      |    AS pcont_x4
      |FROM agg ORDER BY g, k""".stripMargin))

  /** PK-FK JOIN ELIMINATION under a RELY constraint
    * ([[graft.plans.JoinElimination]]): the BI-generated shape — fact
    * joined to a dimension on a declared foreign key with NO dimension
    * column used — is rewritten by the optimizer to `fk IS NOT NULL`
    * over the fact alone (REQUIREd: no Join in the optimized plan; the
    * same query asking for a dimension column KEEPS its join). The
    * oracle runs the REAL join in DuckDB, so the gate also audits the
    * declaration itself: were the constraint false (orphaned or
    * duplicated keys), the joinless plan's values would diverge. */
  val qJoinElimination: QueryDef = QueryDef(
    "q_join_elimination",
    (s, d) => {
      val (_, dir) = graft.sources.TableIO.freshScratchDir(s, "join_elim")
      val factP = s"$dir/fact"
      val dimP = s"$dir/dim"
      Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          expr("cast(round(o_totalprice * 100) as bigint)").as("price_cents"))
        .write.mode("overwrite").parquet(factP)
      Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
        .write.mode("overwrite").parquet(dimP)
      graft.functions.GraftExtensions.register(s)
      graft.plans.JoinElimination.registerFk(factP, "o_custkey",
        dimP, "c_custkey")
      val fact = s.read.parquet(factP)
      val dim = s.read.parquet(dimP)
      val q = fact.join(dim, fact("o_custkey") === dim("c_custkey"))
        .select(fact("o_custkey"), fact("price_cents"))
        .groupBy((col("o_custkey") % 10).as("kg"))
        .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("sum_cents"))
        .orderBy("kg")
      val hasJoin = (df: org.apache.spark.sql.DataFrame) =>
        df.queryExecution.optimizedPlan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
        }.nonEmpty
      require(!hasJoin(q),
        "the declared-FK join with no dimension column used must be eliminated")
      val q2 = fact.join(dim, fact("o_custkey") === dim("c_custkey"))
        .select(fact("o_custkey"), dim("c_mktsegment"))
      require(hasJoin(q2),
        "a query USING a dimension column must keep its join")
      q
    },
    Some("""WITH f AS (
      |  SELECT o_custkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      |  FROM orders),
      |j AS (
      |  SELECT f.o_custkey, f.price_cents
      |  FROM f JOIN customer ON f.o_custkey = c_custkey)
      |SELECT o_custkey % 10 AS kg, count(*) AS n,
      |  CAST(sum(price_cents) AS BIGINT) AS sum_cents
      |FROM j GROUP BY 1 ORDER BY kg""".stripMargin))

  /** DISTINCT ELIMINATION under a RELY unique-key declaration
    * ([[graft.plans.DistinctElimination]]): the defensive-dedup shape —
    * `SELECT DISTINCT` whose key set contains a declared unique key —
    * is rewritten to drop the dedup entirely (REQUIREd: no Aggregate/
    * Deduplicate below the final rollup; the same distinct WITHOUT the
    * key column keeps its dedup). At 100 TB each eliminated DISTINCT is
    * a full-corpus hash shuffle. The oracle runs the REAL DISTINCT in
    * DuckDB, so the gate also audits the declaration: were the key not
    * unique, the dedup-free plan's counts would diverge. */
  val qDistinctElimination: QueryDef = QueryDef(
    "q_distinct_elimination",
    (s, d) => {
      val (_, dir) = graft.sources.TableIO.freshScratchDir(s, "distinct_elim")
      val t = s"$dir/orders_u"
      Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          expr("cast(round(o_totalprice * 100) as bigint)").as("price_cents"))
        .write.mode("overwrite").parquet(t)
      graft.functions.GraftExtensions.register(s)
      graft.plans.DistinctElimination.registerUnique(t, Seq("o_orderkey"))
      val u = s.read.parquet(t)
      def dedups(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.optimizedPlan.collect {
          case dd: org.apache.spark.sql.catalyst.plans.logical.Deduplicate => dd
        }.size
      val base = u.select(col("o_orderkey"), col("o_custkey")).distinct()
      require(dedups(base) == 0 && base.queryExecution.optimizedPlan.collect {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
        }.isEmpty,
        "key-covering DISTINCT must be eliminated from the plan")
      val kept = u.select(col("o_custkey")).distinct()
      require(dedups(kept) + kept.queryExecution.optimizedPlan.collect {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
        }.size >= 1,
        "a DISTINCT that projects away the key must keep its dedup")
      base
        .groupBy((col("o_custkey") % 10).as("kg"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_custs"))
        .orderBy("kg")
    },
    Some("""WITH u AS (SELECT DISTINCT o_orderkey, o_custkey FROM orders)
      |SELECT o_custkey % 10 AS kg, count(*) AS n_orders,
      |  count(DISTINCT o_custkey) AS n_custs
      |FROM u GROUP BY 1 ORDER BY kg""".stripMargin))

  val all: Seq[QueryDef] = Seq(
    q1Agg, qMultiJoin, qWindowTopk, qWindowRunning, qSemiJoin, qAntiJoin,
    qSetOps, qTopkOrders, qEventsHourly, qRollup, qCube, qEventsSessions,
    qSessionWindowNative, qCopurchasePairs,
    qCorrelatedAvg, qPivot, qStringFuncs, qDateFuncs, qNullFuncs,
    qMode, qWeightedMedian, qSaltedJoin, qPercentileCont, qJoinElimination,
    qDistinctElimination)
}
