package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType

/** As-of (point-in-time) join: for every left row, the single latest
  * right row with the same key and right.ts <= left.ts — the
  * training-data primitive for aligning events to the feature/label
  * snapshot that was current when the event happened (no lookahead).
  *
  * Spark-first composition (preference (a) of SURVEY §7 — no custom
  * plan node needed): union both sides, then one `last(..., ignoreNulls)`
  * running window per key ordered by (ts, side, tie-break) carries the
  * most recent right-side row onto each left row. ONE shuffle on the key,
  * no join explosion, no per-row probing — at 100 TB this is a single
  * exchange + sort, the same cost profile DuckDB/kdb implement natively.
  * Right rows sort BEFORE left rows at equal timestamps, giving
  * inclusive (<=) semantics, matching DuckDB `ASOF JOIN ... ON l.ts >=
  * r.ts` which the oracle uses.
  *
  * All carried right columns travel together in ONE struct, so the
  * output is always a single consistent right row — carrying columns
  * independently would let a NULL in one column of the latest right row
  * resurrect that column's value from an older right row.
  */
object AsOf {

  /** @param rightValueCols right columns to carry (everything else from
    *                       the right side is dropped)
    * @param rightTieBreak  orders right rows that share (key, ts): the
    *                       row greatest under this ordering wins.
    *                       Defaults to `rightValueCols`, which makes the
    *                       result deterministic whenever those columns
    *                       are orderable; pass an explicit ordering key
    *                       when they are not (e.g. map columns).
    * @return left rows + `rightValueCols` (null where no right row
    *         precedes the left row) */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, rightValueCols: Seq[String],
      rightTieBreak: Seq[String] = Nil): DataFrame = {
    val leftCols = left.columns.toSeq
    require(!rightValueCols.contains(key), "key cannot be a carried value column")
    val side = "__side"
    val ts = "__ts"
    val rs = "__r"
    val tb = "__tb"
    val tieCols = if (rightTieBreak.nonEmpty) rightTieBreak else rightValueCols
    val rStructType = StructType(rightValueCols.map(c => right.schema(c)))
    val tbStructType = StructType(tieCols.map(c => right.schema(c)))
    val l = left.select(
      col(key) +: col(leftTs).as(ts) +: lit(1).as(side) +:
        lit(null).cast(rStructType).as(rs) +: lit(null).cast(tbStructType).as(tb) +:
        leftCols.filterNot(_ == key).map(col): _*)
    val r = right.select(
      col(key) +: col(rightTs).as(ts) +: lit(0).as(side) +:
        struct(rightValueCols.map(col): _*).as(rs) +:
        struct(tieCols.map(col): _*).as(tb) +:
        leftCols.filterNot(_ == key)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    // Among right rows with equal (key, ts) the tie-break orders them and
    // `last` picks the greatest; left rows (side=1) always sort after the
    // right rows they may take values from, so tb being null there is
    // irrelevant (side is compared first).
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts).asc, col(side).asc, col(tb).asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = l.unionByName(r)
      .withColumn(rs, last(col(rs), ignoreNulls = true).over(w))
    carried.filter(col(side) === 1)
      .select(leftCols.map(col) ++
        rightValueCols.map(c => col(rs).getField(c).as(c)): _*)
  }

  /** The same as-of semantics through the custom plan node
    * ([[graft.plans.AsOfJoinNode]] -> merge-scan
    * [[graft.plans.AsOfJoinExec]]) — extension path (c): the operator is
    * a first-class citizen of the plan instead of a union+window
    * encoding. Requires [[graft.functions.GraftExtensions]] (or
    * `register`) so the strategy is installed. On right rows sharing
    * (key, ts) the one latest in (key, ts) sort order wins — pre-sort or
    * pre-aggregate the right side if that order is ambiguous.
    *
    * The right side is re-aliased internally so the two children never
    * share attribute ids (both deriving from one source — the self-join
    * shape — would otherwise make column pruning ambiguous). */
  def asOfJoinNative(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, rightValueCols: Seq[String]): DataFrame = {
    val lPlan = left.queryExecution.analyzed
    // fresh exprIds for every right attribute (Alias always mints a new id)
    val rPlan = right.select(right.columns.toIndexedSeq.map(c => col(c).as(c)): _*)
      .queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name.equalsIgnoreCase(n))
        .getOrElse(throw new IllegalArgumentException(s"no column $n"))
    val node = graft.plans.AsOfJoinNode(lPlan, rPlan,
      attr(lPlan, key), attr(rPlan, key),
      attr(lPlan, leftTs), attr(rPlan, rightTs),
      rightValueCols.map(attr(rPlan, _)))
    org.apache.spark.sql.graftbridge.Bridge.ofRows(left.sparkSession, node)
  }

  /** As-of join with a staleness bound (the kdb `wj`/feature-store
    * freshness variant): carried values are nulled when the matched
    * right row is older than `toleranceSeconds` before the left
    * timestamp. Composed over [[asOfJoinNative]] by carrying the right
    * timestamp and post-projecting — the merge-scan does the heavy
    * lifting; the bound is a row-local expression. */
  def asOfJoinTolerance(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, rightValueCols: Seq[String],
      toleranceSeconds: Long): DataFrame = {
    require(!rightValueCols.contains(rightTs), "rightTs is carried implicitly")
    val joined = asOfJoinNative(left, right, key, leftTs, rightTs,
      rightValueCols :+ rightTs)
    val fresh = unix_micros(col(leftTs)) - unix_micros(col(rightTs)) <=
      toleranceSeconds * 1000000L
    joined.select(left.columns.toIndexedSeq.map(col) ++
      rightValueCols.map(c => when(fresh, col(c)).otherwise(lit(null)).as(c)): _*)
  }
}
