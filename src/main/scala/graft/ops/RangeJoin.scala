package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Range (interval-containment) join: left rows whose point timestamp
  * falls inside a right row's [start, end] interval, equi-matched on a
  * key.
  *
  * A naive formulation — equi-join on the key, then the range predicate
  * as a post-filter — materializes every (left, right) pair per key
  * before filtering; hot keys explode quadratically. This implementation
  * uses time binning: each interval is exploded to the bins it covers,
  * each point maps to exactly one bin, and the join key becomes
  * (key, bin) — candidates are only the pairs whose bin overlaps, then
  * the exact BETWEEN filter runs on that reduced set. Bin width trades
  * replication (intervals spanning many bins) against candidate
  * precision; pass roughly the typical interval length.
  */
object RangeJoin {

  /** @param binSeconds bin width; intervals are replicated into
    *                   ceil(len/bin)+1 bins, points into one */
  def pointInInterval(
      left: DataFrame, right: DataFrame, key: String,
      pointTs: String, startTs: String, endTs: String,
      binSeconds: Long): DataFrame = {
    // helper column name chosen collision-free against BOTH inputs, and
    // the two sides are alias-qualified so the range filter resolves even
    // when the right table shares non-key column names with the left
    // (e.g. both having `ts`).
    val bin = Iterator.from(0).map(i => s"__bin$i")
      .find(n => !left.columns.contains(n) && !right.columns.contains(n)).get
    val width = lit(binSeconds)
    val lb = left.withColumn(bin,
      (unix_timestamp(col(pointTs)) / width).cast("long"))
    val rb = right.withColumn(bin, explode(sequence(
      (unix_timestamp(col(startTs)) / width).cast("long"),
      (unix_timestamp(col(endTs)) / width).cast("long"))))
    val gl = "__range_l"
    val gr = "__range_r"
    lb.as(gl).join(rb.as(gr),
        col(s"$gl.$key") === col(s"$gr.$key") && col(s"$gl.$bin") === col(s"$gr.$bin"))
      .filter(col(s"$gl.$pointTs") >= col(s"$gr.$startTs") &&
        col(s"$gl.$pointTs") <= col(s"$gr.$endTs"))
      .select(left.columns.toIndexedSeq.map(c => col(s"$gl.$c")) ++
        right.columns.filterNot(_ == key).map(c => col(s"$gr.$c")): _*)
  }
}
