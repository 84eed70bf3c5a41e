package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.{FileSystem, Path}

/** MULTI-TABLE transactional catalog over [[SnapshotTable]]s: one
  * pointer file pins a CONSISTENT SET of (table → snapshot id)
  * versions, flipped atomically — the cross-table guarantee a single
  * table's manifest cannot give. The canonical failure it removes: a
  * pipeline replaces `orders` and `customer` in two independent
  * commits, and a reader joins NEW orders against OLD customers. Under
  * a catalog commit the reader resolves BOTH tables from one catalog
  * version, so it sees the pre-state or the post-state, never a mix —
  * Nessie/Iceberg-catalog semantics from the commit primitive the table
  * layer already relies on ([[TableIO.commitFile]]: dot-temp write +
  * atomic create-exclusive publish of a fresh name).
  *
  * Layout under the catalog root:
  * {{{
  *   <catRoot>/_cat-00000000000000000001   # lines: name \t tableRoot \t snapshotId
  *   <catRoot>/_cat-00000000000000000002
  * }}}
  *
  * Time travel composes: an old catalog version resolves its tables at
  * their OLD snapshot ids (still readable until table-level vacuum
  * passes retention — vacuum keepLast must cover the catalog versions
  * still in use, the standard cross-layer retention contract, stated
  * here explicitly). Single catalog committer; table-level commits stay
  * independent (the catalog pins, it does not serialize producers).
  */
object SnapshotCatalog {

  private val CatPrefix = "_cat-"

  private def fmt(id: Long): String = f"$id%020d"

  private def fsFor(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Committed catalog versions at `catRoot`, ascending. */
  def versions(spark: SparkSession, catRoot: String): Seq[Long] = {
    val (fs, p) = fsFor(spark, catRoot)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).iterator
      .map(_.getPath.getName)
      .filter(_.startsWith(CatPrefix))
      .map(n => n.stripPrefix(CatPrefix).toLong)
      .toSeq.sorted
  }

  def currentVersion(spark: SparkSession, catRoot: String): Long = {
    val v = versions(spark, catRoot)
    require(v.nonEmpty, s"no committed catalog version at $catRoot")
    v.last
  }

  /** Atomically publish a new catalog version pinning `tables` (name →
    * (table root, snapshot id)). Every pinned snapshot must exist (a
    * catalog must never point at an unreadable state). Returns the new
    * catalog version. */
  def commit(spark: SparkSession, catRoot: String,
      tables: Map[String, (String, Long)]): Long = {
    require(tables.nonEmpty, "a catalog commit pins at least one table")
    tables.foreach { case (name, (root, id)) =>
      require(SnapshotTable.snapshots(spark, root).contains(id),
        s"catalog commit would pin missing snapshot $id of '$name' at $root")
      require(!name.contains("\t") && !name.contains("\n"),
        s"bad table name: '$name'")
    }
    val (fs, rootPath) = fsFor(spark, catRoot)
    fs.mkdirs(rootPath)
    val next = versions(spark, catRoot).lastOption.getOrElse(0L) + 1L
    val body = tables.toSeq.sortBy(_._1)
      .map { case (n, (r, id)) => s"$n\t$r\t$id" }
      .mkString("", "\n", "\n")
    val dst = new Path(rootPath, CatPrefix + fmt(next))
    require(TableIO.commitFile(fs, dst, body.getBytes("UTF-8")),
      s"catalog version $dst already exists — catalogs take a single committer")
    next
  }

  /** The (table → (root, snapshot id)) pins of catalog `version`. */
  def tablesAt(spark: SparkSession, catRoot: String,
      version: Long): Map[String, (String, Long)] = {
    val (fs, rootPath) = fsFor(spark, catRoot)
    TableIO.readText(fs, new Path(rootPath, CatPrefix + fmt(version)))
      .split("\n").iterator.map(_.trim).filter(_.nonEmpty)
      .map { line =>
        val parts = line.split("\t")
        require(parts.length == 3, s"corrupt catalog line: '$line'")
        parts(0) -> (parts(1), parts(2).toLong)
      }.toMap
  }

  /** Read `name` as pinned by catalog `version` (default: current) —
    * all tables read through the same version are mutually consistent. */
  def readTable(spark: SparkSession, catRoot: String, name: String,
      version: Long = -1L): DataFrame = {
    val v = if (version >= 0) version else currentVersion(spark, catRoot)
    val pins = tablesAt(spark, catRoot, v)
    val (root, id) = pins.getOrElse(name,
      throw new IllegalArgumentException(
        s"catalog version $v at $catRoot has no table '$name' " +
          s"(has: ${pins.keys.toSeq.sorted.mkString(", ")})"))
    SnapshotTable.readAt(spark, root, id)
  }
}
