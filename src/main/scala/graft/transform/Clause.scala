package graft.transform

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.QuotingUtils.quoteIfNeeded
import org.apache.spark.sql.graftbridge.Bridge

/** One output column of a planned projection. `step` is the comment the
  * archived SQL carries where a run of clauses from one step begins. */
final case class Clause(output: String, expr: Column, step: String) {
  def aliased: Column = expr.as(output)
}

/** The one renderer of a clause list as SQL. The projection that runs is
  * `df.select(clauses.map(_.aliased))` and the archived SQL is [[sql]]
  * over the same list, so the two cannot drift; the reference archives
  * each generated query and then executes that text
  * (`core/transformations.py:624-631`). */
object Clause {

  /** `SELECT <clauses> FROM <from>` under a header comment, with a
    * comment at each step change; each item is the clause's own Column
    * rendered as Spark SQL, `AS` its output name. */
  def sql(clauses: Seq[Clause], source: String, dest: String, from: String): String = {
    val body = clauses.zipWithIndex.map { case (c, i) =>
      val comment = if (i == 0 || clauses(i - 1).step != c.step) s"    -- ${c.step}\n" else ""
      s"$comment    ${exprSql(c.expr)} AS ${quoteIfNeeded(c.output)}"
    }.mkString(",\n")
    s"""/* Combined transformation query for $source -> $dest */
       |SELECT
       |$body
       |FROM $from""".stripMargin
  }

  /** A Column as Spark SQL text, for a FROM that [[sql]] is given. */
  private[transform] def exprSql(c: Column): String = Bridge.eagerExpression(c).sql
}
