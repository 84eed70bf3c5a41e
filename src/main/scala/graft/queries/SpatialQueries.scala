package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Spatial operators via GRID BLOCKING — the scalable spatial-join
  * pattern (the geohash/S2 cell idea reduced to its algebra): points
  * land in fixed-size integer grid cells, candidate pairs come from a
  * 3x3 neighbor-cell equi-join (cell size >= radius makes the cover
  * complete for the L2 ball), and the exact distance predicate prunes
  * the candidates. The naive alternative is an all-pairs cross join —
  * O(n*m) at any scale; grid blocking is O(pairs that could match),
  * and the equi-join on cell id shuffles both sides ONCE by cell.
  * The DuckDB oracle deliberately runs the NAIVE all-pairs form, so the
  * gate also proves blocking completeness (grid join == naive join).
  *
  * Coordinates are synthesized from md5 arithmetic (micro-degree longs
  * in a 2 deg x 2 deg box), so both engines derive bit-identical
  * points and every distance is exact integer arithmetic — no
  * trigonometry in the gate (haversine's sin/cos have no cross-engine
  * ulp contract; for city-scale radii the planar approximation is the
  * operator's real-world form anyway).
  */
object SpatialQueries {

  /** micro-degree box: coordinates in [0, 2_000_000). */
  private val BoxUDeg = 2000000L

  /** Cell size 0.1 deg; radius 0.05 deg — cell >= radius, so the 3x3
    * neighborhood covers the L2 ball completely. */
  private val CellUDeg = 100000L
  private val RadiusUDeg = 50000L

  private def hashCoord(tag: String, key: Column): Column =
    conv(substring(md5(concat(lit(tag + ":"), key.cast("string"))), 1, 12),
      16, 10).cast("long") % BoxUDeg

  private def hashCoordSql(tag: String, key: String): String =
    s"CAST(concat('0x', substr(md5(concat('$tag:', CAST($key AS VARCHAR))), 1, 12)) AS BIGINT) % $BoxUDeg"

  /** RADIUS JOIN (spatial nearest-facility query): every customer
    * paired with its nearest supplier within 0.05 deg, found via grid
    * blocking — customers exploded into their 3x3 neighbor cells (the
    * SMALL per-row constant-factor side), suppliers posted once in
    * their own cell, one equi-join on cell id, exact integer L2
    * predicate, then an arg-min per customer (min_by on (d2, suppkey)
    * — deterministic tie-break). Scale shape: one shuffle per side
    * keyed by cell; candidate count is bounded by local density, never
    * n*m; the 9x explode is on the probe side only. */
  val qGeoGridJoin: QueryDef = QueryDef(
    "q_geo_grid_join",
    (s, d) => {
      val cust = Tables.customer(s, d).select(
        col("c_custkey").as("ckey"),
        hashCoord("lat", col("c_custkey")).as("clat"),
        hashCoord("lon", col("c_custkey")).as("clon"))
      val supp = Tables.supplier(s, d).select(
        col("s_suppkey").as("skey"),
        hashCoord("lat", col("s_suppkey")).as("slat"),
        hashCoord("lon", col("s_suppkey")).as("slon"))
        .withColumn("cell",
          expr(s"(slat div $CellUDeg) * 1000 + (slon div $CellUDeg)"))
      val probe = cust
        .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("cell",
          expr(s"(clat div $CellUDeg + dx) * 1000 + (clon div $CellUDeg + dy)"))
      probe.join(supp, "cell")
        .withColumn("d2",
          (col("clat") - col("slat")) * (col("clat") - col("slat")) +
          (col("clon") - col("slon")) * (col("clon") - col("slon")))
        .filter(col("d2") <= lit(RadiusUDeg * RadiusUDeg))
        // arg-min as one packed long (d2 <= 2*r^2 = 5e9, suppkey < 1e7
        // by construction of the test corpora: 5e16 < Long.Max) — the
        // same exact encoding the oracle uses, tie-break on suppkey
        .groupBy(col("ckey"))
        .agg(count(lit(1)).as("n_nearby"),
          min(col("d2") * lit(10000000L) + col("skey")).as("packed"))
        .select(col("ckey"), col("n_nearby"),
          (col("packed") % 10000000L).as("nearest_suppkey"),
          expr("packed div 10000000").as("d2"))
        .orderBy("ckey")
    },
    Some(s"""WITH cust AS (
      |  SELECT c_custkey AS ckey,
      |    ${hashCoordSql("lat", "c_custkey")} AS clat,
      |    ${hashCoordSql("lon", "c_custkey")} AS clon
      |  FROM customer),
      |supp AS (
      |  SELECT s_suppkey AS skey,
      |    ${hashCoordSql("lat", "s_suppkey")} AS slat,
      |    ${hashCoordSql("lon", "s_suppkey")} AS slon
      |  FROM supplier),
      |pairs AS (
      |  SELECT ckey, skey,
      |    (clat - slat) * (clat - slat) + (clon - slon) * (clon - slon) AS d2
      |  FROM cust, supp
      |  WHERE (clat - slat) * (clat - slat) + (clon - slon) * (clon - slon)
      |        <= ${RadiusUDeg * RadiusUDeg})
      |SELECT ckey, count(*) AS n_nearby,
      |  CAST(min(d2 * 10000000 + skey) % 10000000 AS BIGINT) AS nearest_suppkey,
      |  CAST(min(d2 * 10000000 + skey) // 10000000 AS BIGINT) AS d2
      |FROM pairs GROUP BY ckey ORDER BY ckey""".stripMargin))

  /** GRID DENSITY (spatial heat map): order volume per 0.1-deg cell of
    * the synthesized customer map, top-20 densest cells with exact
    * centroid rationals — one hash aggregation after a broadcast-sized
    * key join, the standard map-tile aggregation shape. */
  val qGeoDensity: QueryDef = QueryDef(
    "q_geo_density",
    (s, d) => {
      val cust = Tables.customer(s, d).select(
        col("c_custkey").as("ckey"),
        hashCoord("lat", col("c_custkey")).as("clat"),
        hashCoord("lon", col("c_custkey")).as("clon"))
      Tables.orders(s, d)
        .select(col("o_custkey").as("ckey"))
        .join(cust, "ckey")
        .groupBy(expr(s"clat div $CellUDeg").as("cell_lat"),
          expr(s"clon div $CellUDeg").as("cell_lon"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("clat")).as("sum_lat"), sum(col("clon")).as("sum_lon"))
        .orderBy(col("n_orders").desc, col("cell_lat").asc, col("cell_lon").asc)
        .limit(20)
    },
    Some(s"""WITH cust AS (
      |  SELECT c_custkey AS ckey,
      |    ${hashCoordSql("lat", "c_custkey")} AS clat,
      |    ${hashCoordSql("lon", "c_custkey")} AS clon
      |  FROM customer),
      |j AS (
      |  SELECT clat, clon FROM orders JOIN cust ON o_custkey = ckey),
      |g AS (
      |  SELECT clat // $CellUDeg AS cell_lat, clon // $CellUDeg AS cell_lon,
      |    count(*) AS n_orders,
      |    CAST(sum(clat) AS BIGINT) AS sum_lat,
      |    CAST(sum(clon) AS BIGINT) AS sum_lon
      |  FROM j GROUP BY 1, 2)
      |SELECT cell_lat, cell_lon, n_orders, sum_lat, sum_lon
      |FROM g ORDER BY n_orders DESC, cell_lat ASC, cell_lon ASC LIMIT 20""".stripMargin))

  val all: Seq[QueryDef] = Seq(qGeoGridJoin, qGeoDensity)
}
