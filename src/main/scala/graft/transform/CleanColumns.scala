package graft.transform

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.config.Constants
import graft.naming.Naming

/** Schema-driven column cleaning: the `clean_columns` capability.
  *
  * Re-expresses the reference's 4-step SQL generator
  * (`/root/reference/core/transformations.py:178-648`) as a pure plan over
  * column names producing a single `df.select(...)` — one Catalyst
  * `Project` over the scan, so column pruning and whole-stage codegen fuse
  * the whole pipeline into one pass regardless of how many of the (often
  * thousands of) survey columns are touched.
  *
  * Steps (ref `process_columns`, `core/transformations.py:536-622`):
  *   0. `Connect_ID` first, always preserved;
  *   1. table-specific one-off renames (coalescing duplicate targets);
  *   2. substring excision (`_num`, `state_`) with collision coalescing;
  *   3. custom transforms (age/year extraction — targets keep case);
  *   4. loop-variable grouping/coalescing + non-loop pass-through.
  *
  * Step 2 implements the intended per-concern semantics (each step consumes
  * only its own columns) rather than the reference's accidental
  * capture-everything behavior — see SURVEY.md §2.C-2.
  */
object CleanColumns {

  /** Pure planner: column names + table id → ordered output clauses. */
  def plan(columns: Seq[String], tableId: String = ""): Seq[Clause] = {
    val processed = mutable.Set.empty[String]
    val out = mutable.ListBuffer.empty[Clause]

    // Step 0: Connect_ID always first (ref transformations.py:560-563)
    if (columns.contains("Connect_ID")) {
      out += Clause("Connect_ID", col("Connect_ID"), "Connect_ID (always preserved)")
      processed += "connect_id"
    }

    out ++= oneOffRenameClauses(columns, tableId, processed)
    out ++= substringRemovalClauses(columns, processed)
    out ++= customTransformClauses(columns, tableId, processed)
    out ++= loopVariableClauses(columns, processed)
    out.toSeq
  }

  /** Apply the plan as a single projection. */
  def apply(df: DataFrame, tableId: String = ""): DataFrame =
    df.select(plan(df.schema.fieldNames.toSeq, tableId).map(_.aliased): _*)

  /** The plan as the archived SQL text (`core/transformations.py:585-631`),
    * annotated per step, rendered from the same clauses the projection
    * executes. */
  def toSql(columns: Seq[String], tableId: String, source: String, dest: String): String =
    Clause.sql(plan(columns, tableId), source, dest, source)

  /** One column as itself; several coalesced in the given order. */
  private def coalesced(cols: Seq[String]): Column =
    if (cols.size == 1) col(cols.head) else coalesce(cols.map(col): _*)

  /** Step 1 (ref `_build_one_off_renames_clauses`,
    * `core/transformations.py:178-280`): apply the configured renames for
    * this table; when several sources map to one target (or the target
    * already exists as a source column) the group coalesces in mapping
    * order, original column first. */
  private def oneOffRenameClauses(
      columns: Seq[String], tableId: String, processed: mutable.Set[String]): Seq[Clause] = {
    val mappings = Constants.OneOffColumnRenameMappings.getOrElse(tableId, Seq.empty)
    if (mappings.isEmpty) return Seq.empty

    val colCaseMap = columns.map(c => c.toLowerCase -> c).toMap
    val columnsLower = columns.map(_.toLowerCase).toSet
    val targetSeen = mutable.Set.empty[String]
    val groups = mutable.LinkedHashMap.empty[String, mutable.ListBuffer[String]]

    for (m <- mappings) {
      val srcLower = m.source.toLowerCase
      val tgtLower = m.target.toLowerCase
      if (columnsLower.contains(srcLower)) {
        val sourceCol = colCaseMap.getOrElse(srcLower, m.source)
        if (targetSeen.contains(tgtLower) || columnsLower.contains(tgtLower)) {
          val g = groups.getOrElseUpdate(tgtLower, {
            val b = mutable.ListBuffer.empty[String]
            if (columnsLower.contains(tgtLower)) b += colCaseMap(tgtLower)
            b
          })
          g += sourceCol
        } else {
          targetSeen += tgtLower
          groups(tgtLower) = mutable.ListBuffer(sourceCol)
        }
      }
    }

    groups.iterator.flatMap { case (tgtLower, sources) =>
      val targetCased = mappings.find(_.target.toLowerCase == tgtLower).map(_.target).getOrElse(tgtLower)
      val targetStd = Naming.standardizeCase(targetCased)
      if (processed.contains(targetStd.toLowerCase)) None
      else {
        processed += targetStd.toLowerCase
        sources.foreach(s => processed += s.toLowerCase)
        Some(Clause(targetCased, coalesced(sources.toSeq),
          "Step 1: One-off column renames from config"))
      }
    }.toSeq
  }

  /** Step 2 (ref `_build_substring_removal_clauses`,
    * `core/transformations.py:282-367`, intended semantics per SURVEY
    * §2.C-2): only groups containing at least one column with a fixable
    * substring are consumed; name collisions coalesce with
    * fewest-substrings-first priority. */
  private def substringRemovalClauses(
      columns: Seq[String], processed: mutable.Set[String]): Seq[Clause] = {
    val subs = Constants.SubstringsToFix
    val unprocessed = columns.filterNot(c => processed.contains(c.toLowerCase))
    if (!unprocessed.exists(c => subs.exists(c.contains))) return Seq.empty

    val groups = mutable.LinkedHashMap.empty[String, mutable.ListBuffer[String]]
    for (c <- unprocessed) {
      val newName = Naming.standardizeCase(Naming.exciseSubstrings(c, subs))
      groups.getOrElseUpdate(newName, mutable.ListBuffer.empty) += c
    }

    groups.iterator
      .filter { case (_, cols) => cols.exists(c => subs.exists(c.contains)) }
      .flatMap { case (newName, cols) =>
        if (processed.contains(newName.toLowerCase)) None
        else {
          processed += newName.toLowerCase
          cols.foreach(c => processed += c.toLowerCase)
          Some(Clause(newName, coalesced(cols.toSeq.sortBy(c => subs.count(c.contains))),
            "Step 2: Substring removal (state_, _num, etc.)"))
        }
      }.toSeq
  }

  /** Step 3 (ref `_build_custom_transform_clauses`,
    * `core/transformations.py:369-431`): configured expression transforms;
    * targets keep their original case (SURVEY §2.C-4); the source column is
    * NOT marked processed (it still passes through step 4, matching the
    * reference). */
  private def customTransformClauses(
      columns: Seq[String], tableId: String, processed: mutable.Set[String]): Seq[Clause] = {
    val transforms = Constants.CustomTransforms.getOrElse(tableId, Seq.empty)
    if (transforms.isEmpty) return Seq.empty
    val columnsLower = columns.map(_.toLowerCase).toSet
    transforms.flatMap { t =>
      if (!columnsLower.contains(t.source.toLowerCase)) None
      else if (processed.contains(t.target.toLowerCase)) None
      else {
        processed += t.target.toLowerCase
        Some(Clause(t.target, t.build(t.source, t.target),
          "Step 3: Custom column transformations"))
      }
    }
  }

  /** Step 4 (ref `_build_loop_variable_clauses`,
    * `core/transformations.py:433-534`): drop impure names; group loop
    * variables by (CID set, loop, version) and coalesce each group under
    * the canonical name `d_<cid>..._<loop><version>`; non-loop variables
    * pass through with substrings excised, lowercased, and any version tag
    * moved to the end. */
  private def loopVariableClauses(
      columns: Seq[String], processed: mutable.Set[String]): Seq[Clause] = {
    val out = mutable.ListBuffer.empty[Clause]
    val remaining = columns.filterNot(c => processed.contains(c.toLowerCase))

    // impure names are dropped from the output entirely
    remaining.foreach { v =>
      if (!Naming.isPureVariable(v)) processed += v.toLowerCase
    }
    val valid = remaining.filter(v => !processed.contains(v.toLowerCase) && Naming.isPureVariable(v))

    val grouped = Naming.groupVarsByCidAndLoopNum(valid)
    val allLoopVars = grouped.flatMap(_._2).toSet
    val nonLoopVars = valid.filterNot(allLoopVars.contains)

    for ((key, varList) <- grouped) {
      val firstVar = varList.head
      val orderedIds = Naming.extractOrderedConceptIds(Naming.exciseVersion(firstVar))
      val rawName = orderedIds.map(cid => s"d_$cid").mkString("_") +
        s"_${key.loopNumber}" + key.versionSuffix
      val newName = Naming.standardizeCase(
        Naming.exciseSubstrings(rawName, Constants.SubstringsToFix))
      if (!processed.contains(newName.toLowerCase)) {
        out += Clause(newName, coalesced(varList), "Step 4: Loop variable processing")
        processed += newName.toLowerCase
        varList.foreach(v => processed += v.toLowerCase)
      }
    }

    for (v <- nonLoopVars) {
      var newName = Naming.standardizeCase(
        Naming.exciseSubstrings(v, Constants.SubstringsToFix))
      val versionTag = Naming.extractVersionSuffix(newName)
      if (versionTag.nonEmpty)
        newName = Naming.exciseVersion(newName) + versionTag
      if (!processed.contains(newName.toLowerCase)) {
        out += Clause(newName, col(v), "Step 4: Non-loop pass-through")
        processed += newName.toLowerCase
        processed += v.toLowerCase
      }
    }
    out.toSeq
  }
}
