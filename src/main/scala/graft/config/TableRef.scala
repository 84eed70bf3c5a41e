package graft.config

/** Fully-qualified table reference `project.dataset.table` (B1).
  * Ref: `parse_fq_table`, `/root/reference/core/utils.py:30-38`. */
final case class TableRef(project: String, dataset: String, table: String) {
  /** The per-table config key the rename/transform maps use
    * (`dataset.table`, ref `core/transformations.py:195`). */
  def configKey: String = s"$dataset.$table"
}

object TableRef {
  def parse(fqTable: String): TableRef = fqTable.split('.') match {
    case Array(p, d, t) => TableRef(p, d, t)
    case _ => throw new IllegalArgumentException(
      s"Table name '$fqTable' is not fully qualified as project.dataset.table")
  }
}
