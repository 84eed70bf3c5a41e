package graft.transform

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.QuotingUtils.quoteIfNeeded
import org.apache.spark.sql.functions._

import graft.config.Constants

/** N-way merge of table versions on `Connect_ID`: the
  * `merge_table_versions` capability.
  *
  * Mirrors `merge_table_versions`
  * (`/root/reference/core/transformations.py:19-172`):
  *  - per-table column validity filtering (forbidden names + excluded
  *    substrings, `core/utils.py:305-350`);
  *  - case-insensitive common-column computation with case-maps back to
  *    each table's original spelling;
  *  - common columns coalesce in v1..vN order (earliest table wins),
  *    sorted by name; unique columns appended per table, sorted;
  *  - output names lowercased except `Connect_ID`;
  *  - FULL OUTER join chain on `Connect_ID`.
  *
  * Join semantics — two modes:
  *  - `strict = false` (default): the *fold* (left-to-right full-outer
  *    with coalesced key) — a `Connect_ID` present in v1 and v2 but
  *    absent from the last table merges into ONE row. The correct
  *    semantics; what `dfs.reduce(_.join(_, Seq("Connect_ID"),
  *    "full_outer"))` gives. Decision documented in SURVEY.md §2.C-1.
  *  - `strict = true`: the reference's LITERAL SQL shape
  *    (`core/transformations.py:126-136`) — every earlier version joins
  *    against the *base* (last) table's key, so a `Connect_ID` present
  *    in two non-base versions but absent from base yields one row per
  *    such version (their base-key join predicates are NULL ≠ NULL).
  *    For byte-for-byte replay of reference outputs.
  *
  * Scale: full-outer cannot broadcast (both sides must preserve unmatched
  * rows), so each join is a sort-merge with an exchange on `Connect_ID`.
  * All N-1 joins share the same key, so Catalyst reuses the partitioning
  * across the chain — one shuffle per input, not per join. At the 100 TB
  * north star, pre-bucketing every version table by `Connect_ID`
  * (`df.write.bucketBy(n, "Connect_ID")`) removes the exchanges entirely.
  */
object MergeTableVersions {

  /** Validity filter (B13/B14): drop forbidden names and columns containing
    * excluded substrings, preserving input order (the reference loses order
    * to a set, then re-sorts at emit; sorting at emit makes order moot). */
  def validColumns(columns: Seq[String]): Seq[String] = {
    val forbidden = Constants.ForbiddenNonCidVariableNamesLower
    val excluded = Constants.ExcludedNonCidSubstrings.map(_.toLowerCase)
    columns.filter { c =>
      val lower = c.toLowerCase
      !forbidden.contains(lower) && !excluded.exists(lower.contains)
    }
  }

  /** The merge planned from the versions' column names: the output
    * clauses over the aliases `v1`..`vN`, the columns each version keeps,
    * and the FULL OUTER join chain, which starts at version `first` and
    * then joins each version in `joins` on its condition. */
  final case class Plan(clauses: Seq[Clause], kept: Seq[Seq[String]], first: Int,
      joins: Seq[(Int, Column)])

  private def alias(i: Int) = s"v${i + 1}"

  def plan(columns: Seq[Seq[String]], strict: Boolean = false): Plan = {
    require(columns.size >= 2, "at least two source tables must be provided")
    val aliases = columns.indices.map(alias)
    val valid = columns.map(validColumns)
    valid.zipWithIndex.foreach { case (cols, i) =>
      require(cols.exists(_.equalsIgnoreCase("connect_id")),
        s"source table ${i + 1} has no Connect_ID column")
    }
    val caseMaps = valid.map(cols => cols.map(c => c.toLowerCase -> c).toMap)
    val commonLower = caseMaps.map(_.keySet).reduce(_ intersect _)

    // SELECT clauses: coalesced common columns first (sorted), then unique
    // columns per table (sorted). Ref: core/transformations.py:86-124.
    val processed = mutable.Set.empty[String]
    val clauses = mutable.ListBuffer.empty[Clause]
    for (cl <- commonLower.toSeq.sorted) {
      val out = if (cl == "connect_id") "Connect_ID" else cl
      val parts = aliases.zip(caseMaps).map { case (a, m) => col(s"$a.${m(cl)}") }
      clauses += Clause(out, coalesce(parts: _*), "Common columns, earliest version first")
      processed += cl
    }
    for ((a, cols) <- aliases.zip(valid)) {
      val unique = cols.filterNot(c => processed.contains(c.toLowerCase))
      for (c <- unique.sorted) {
        val out = if (c == "Connect_ID") "Connect_ID" else c.toLowerCase
        clauses += Clause(out, col(s"$a.$c"), s"Columns only in $a")
        processed += c.toLowerCase
      }
    }

    val key = aliases.zip(caseMaps).map { case (a, m) => col(s"$a.${m("connect_id")}") }
    val last = columns.size - 1
    // strict: the reference's chain, the base (last) joined with each
    // earlier version on its key; else the fold on the coalesced key so far
    if (strict)
      Plan(clauses.toSeq, valid, last, (last - 1 to 0 by -1).map(i => i -> (key.last === key(i))))
    else Plan(clauses.toSeq, valid, 0, (1 to last).map { i =>
      i -> ((if (i == 1) key.head else coalesce(key.take(i): _*)) === key(i))
    })
  }

  /** The plan's join chain over the versions' frames. */
  def joined(p: Plan, dfs: Seq[DataFrame]): DataFrame = {
    val v = dfs.zip(p.kept).zipWithIndex.map { case ((df, cols), i) =>
      df.select(cols.map(col): _*).alias(alias(i))
    }
    p.joins.foldLeft(v(p.first)) { case (j, (i, on)) => j.join(v(i), on, "full_outer") }
  }

  /** The same chain as SQL FROM text over each version's FROM name:
    * version i is `(SELECT <kept columns> FROM <froms(i)>) AS v<i+1>`. */
  def from(p: Plan, froms: Seq[String]): String = {
    def version(i: Int) =
      s"(SELECT ${p.kept(i).map(quoteIfNeeded).mkString(", ")} FROM ${froms(i)}) AS ${alias(i)}"
    (version(p.first) +: p.joins.map { case (i, on) =>
      s"FULL OUTER JOIN ${version(i)} ON ${Clause.exprSql(on)}"
    }).mkString("\n")
  }

  def apply(dfs: Seq[DataFrame], strict: Boolean = false): DataFrame = {
    val p = plan(dfs.map(_.schema.fieldNames.toSeq), strict)
    joined(p, dfs).select(p.clauses.map(_.aliased): _*)
  }
}
