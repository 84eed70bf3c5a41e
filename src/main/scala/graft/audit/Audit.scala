package graft.audit

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.DataFrame

/** Plan/SQL audit archiving: the reference persists every generated SQL
  * string before execution (`/root/reference/core/utils.py:54-89`,
  * `core/transformations.py:624-631`). Every endpoint here persists its
  * SQL (runnable with `spark.sql`) and the analyzed + physical plan text
  * of the DataFrame about to be written. Local filesystem
  * here; on a cluster the same bytes would go through the Hadoop FS API
  * (s3a/gs connectors) — the call shape is identical. */
object Audit {

  /** Save arbitrary text, creating parent dirs (ref `save_sql_string`). */
  def saveText(text: String, path: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, text.getBytes(StandardCharsets.UTF_8))
  }

  /** Archive a DataFrame's logical + physical plan before execution. */
  def savePlan(df: DataFrame, path: String): Unit = {
    val qe = df.queryExecution
    saveText(s"-- analyzed plan\n${qe.analyzed}\n-- optimized plan\n${qe.optimizedPlan}" +
      s"\n-- physical plan\n${qe.executedPlan}", path)
  }
}
