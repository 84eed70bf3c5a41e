package graft.transform

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.config.Constants

/** Fixed 18-column PII-tier projection: the `create_sensitive_tier`
  * capability. Ref: `/root/reference/core/transformations.py:785-830`.
  * Resolution is case-insensitive (Spark default matches BigQuery);
  * outputs are aliased to the projection list's spelling so the result
  * schema matches the reference's SQL text exactly. */
object SensitiveTier {
  val clauses: Seq[Clause] =
    Constants.SensitiveTierColumns.map(c => Clause(c, col(c), "Sensitive-tier columns"))

  def apply(df: DataFrame): DataFrame = df.select(clauses.map(_.aliased): _*)
}
