package graft.sources

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Interop front door for the PUBLIC Apache Iceberg table format (the
  * open spec's `metadata/vN.metadata.json` → manifest list → manifest
  * chain) — the third lake-migration leg next to [[DeltaCompat]] and
  * [[HudiCompat]], built on nothing but the Avro core library and
  * Jackson already on Spark's classpath.
  *
  * Resolution follows the spec: `version-hint.text` (or the highest
  * `vN.metadata.json`) names the current metadata file; its
  * `current-snapshot-id` picks the snapshot; the snapshot's
  * `manifest-list` Avro file lists manifests (content 0 = data, 1 =
  * deletes); each manifest's entries carry a `status` (1 ADDED /
  * 0 EXISTING / 2 DELETED), an optional `sequence_number`, and a
  * `data_file` record (`content` 0 = data, 1 = position deletes,
  * 2 = equality deletes). Reads are GENERIC (field-by-NAME over
  * whatever writer schema the file embeds), so files written by real
  * Iceberg libraries resolve the same as this module's own fixture
  * writers.
  *
  * FORMAT-V2 ROW-LEVEL DELETES ARE APPLIED, not refused:
  *  - POSITION deletes (`content = 1` files holding `(file_path, pos)`
  *    rows) anti-join against the data rows' own parquet provenance
  *    (`_metadata.file_path` / `_metadata.row_index` — exactly the
  *    coordinates the spec's positions refer to), scoped by the spec's
  *    sequence rule `deleteSeq >= dataSeq`;
  *  - EQUALITY deletes (`content = 2` files whose `equality_ids` name
  *    schema field ids) anti-join on the named columns with the strict
  *    rule `deleteSeq > dataSeq`, so a row re-inserted AFTER the
  *    delete survives — the re-insert case that makes sequence-blind
  *    equality deletion silently wrong.
  * Both anti-joins broadcast the DELETE side: delete files are
  * corrections, orders of magnitude smaller than the corpus, and the
  * data side never reshuffles.
  *
  * FORMAT-V3 DELETION VECTORS are applied too: a content-1 entry with
  * `referenced_data_file` frames a `deletion-vector-v1` blob inside a
  * [[Puffin]] file; its positions anti-join like position deletes
  * (`deleteSeq >= dataSeq`) and SUPERSEDE any position-delete files
  * for the same data file, per the v3 rule. Row-lineage columns are
  * metadata-assigned and not materialized.
  *
  * Scope (checked loudly): format-version > 3 refuses; data files must
  * be parquet (delete vectors puffin). Manifest METADATA is read
  * driver-side — the metadata plane is MBs where the data plane is
  * TBs; a table whose manifests themselves are huge wants the real
  * library's distributed planning. */
object IcebergCompat {

  private val mapper = new ObjectMapper()

  private def fsFor(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Resolve a spec path: Iceberg writes ABSOLUTE URIs (`file:/…`,
    * `s3://…`); fixture/relative paths resolve against the table root. */
  private def resolve(dir: String, p: String): Path = {
    val uri = java.net.URI.create(p.replace(" ", "%20"))
    if (uri.isAbsolute || p.startsWith("/")) new Path(uri.getPath)
    else new Path(s"$dir/$p")
  }

  /** Scheme-stripped comparable form of a file URI/path — both
    * `_metadata.file_path` (`file:/…`) and delete-row `file_path`
    * values normalize to the plain filesystem path. */
  private def normPath(c: Column): Column =
    regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*:/*", "/")

  /** The current metadata JSON file. `version-hint.text` is a hint that
    * can only lag (it is written after `vN.metadata.json` is published):
    * start at the hinted version, or at the highest listed one when the
    * hint is absent, unparsable or dangling, then step to N+1, N+2, …
    * while those files exist — the Hadoop-table convention. */
  def currentMetadataFile(spark: SparkSession, dir: String): Path = {
    val fs = fsFor(spark, dir)
    val meta = new Path(s"$dir/metadata")
    require(fs.exists(meta), s"$dir has no metadata/ — not an Iceberg table")
    def file(v: Long) = new Path(meta, s"v$v.metadata.json")
    val hint = new Path(meta, "version-hint.text")
    val hinted = Option.when(fs.exists(hint))(TableIO.readText(fs, hint).trim)
      .flatMap(_.toLongOption).filter(v => fs.exists(file(v)))
    val start = hinted.getOrElse {
      val vs = fs.listStatus(meta).map(_.getPath.getName).collect {
        case n if n.matches("v\\d+\\.metadata\\.json") =>
          n.stripPrefix("v").stripSuffix(".metadata.json").toLong
      }
      require(vs.nonEmpty, s"no vN.metadata.json under $meta")
      vs.max
    }
    var v = start
    while (fs.exists(file(v + 1))) v += 1
    file(v)
  }

  /** The current metadata file, its version N and its parsed JSON. */
  private final case class Metadata(file: Path, version: Int,
      root: com.fasterxml.jackson.databind.JsonNode)

  /** The one metadata load behind [[snapshotIds]], [[resolveSnapshot]],
    * [[appendSnapshot]] and [[expireSnapshots]]. */
  private def loadMetadata(spark: SparkSession, dir: String): Metadata = {
    val fs = fsFor(spark, dir)
    val mf = currentMetadataFile(spark, dir)
    require(fs.exists(mf), s"metadata file missing: $mf")
    Metadata(mf, mf.getName.stripPrefix("v").stripSuffix(".metadata.json").toInt,
      mapper.readTree(TableIO.readText(fs, mf)))
  }

  /** The current schema node: `current-schema-id` among `schemas`, else
    * the first of them, else the v1 `schema` field. */
  private def currentSchema(
      root: com.fasterxml.jackson.databind.JsonNode): com.fasterxml.jackson.databind.JsonNode =
    if (root.has("schemas")) {
      val cur = root.path("current-schema-id").asLong(0L)
      root.path("schemas").elements().asScala
        .find(_.path("schema-id").asLong(-1L) == cur)
        .getOrElse(root.path("schemas").elements().asScala.toSeq.headOption
          .getOrElse(root.path("schema")))
    } else root.path("schema")

  /** Commit metadata version `version` of the table at `dir`: publish
    * `vN.metadata.json` via [[TableIO.commitFile]] (an existing version
    * fails the call and is left untouched), then point `version-hint.text`
    * at it. The publish is the commit: a failed hint write only leaves
    * the hint lagging, which [[currentMetadataFile]] steps past, so it
    * does not fail the call (a caller that retried would append twice).
    * The one metadata commit behind [[createIcebergTable]],
    * [[appendSnapshot]], [[expireSnapshots]] and [[writeMetadata]]. */
  private def commitMetadata(spark: SparkSession, dir: String, version: Int,
      json: Array[Byte]): Unit = {
    val fs = fsFor(spark, dir)
    val target = new Path(s"$dir/metadata/v$version.metadata.json")
    require(TableIO.commitFile(fs, target, json), s"Iceberg metadata $target already exists")
    try {
      val hint = fs.create(new Path(s"$dir/metadata/version-hint.text"), true)
      try hint.write(version.toString.getBytes("UTF-8")) finally hint.close()
    } catch { case NonFatal(_) => }
  }

  private def readAvro(spark: SparkSession, path: Path): Seq[GenericRecord] = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(path), s"manifest file missing: $path")
    val in = fs.open(path)
    try {
      val rdr = new DataFileStream[GenericRecord](in,
        new GenericDatumReader[GenericRecord]())
      try rdr.iterator().asScala.toVector finally rdr.close()
    } finally in.close()
  }

  /** Diagnostic/spec hook: each data_file entry's `record_count` in a
    * manifest — the field foreign engines trust for count(*) and scan
    * planning, so exports must write it truthfully. */
  def manifestRecordCounts(spark: SparkSession, manifestPath: String): Seq[Long] =
    readAvro(spark, new Path(manifestPath)).flatMap { r =>
      field(r, "data_file").collect { case df: GenericRecord =>
        longField(df, "record_count").getOrElse(0L)
      }
    }

  private def field(r: GenericRecord, name: String): Option[AnyRef] =
    if (r.getSchema.getField(name) != null) Option(r.get(name)) else None

  private def longField(r: GenericRecord, name: String): Option[Long] =
    field(r, name).map {
      case n: java.lang.Number => n.longValue()
      case other => throw new IllegalArgumentException(
        s"field $name is not numeric: $other")
    }

  /** One resolved content file of the current snapshot. `content`:
    * 0 data, 1 position deletes, 2 equality deletes. `seq` is the
    * entry's data sequence number (entry field, else the manifest-list
    * entry's, else 0 — the v1 default). `equalityNames` are the
    * schema-resolved column names for content = 2. A format-v3
    * DELETION VECTOR is a content-1 entry whose `referencedDataFile`
    * names its one data file and whose `contentOffset`/`contentSize`
    * frame the `deletion-vector-v1` blob inside the puffin `path`. */
  final case class ContentFile(path: String, content: Int, seq: Long,
      equalityNames: Seq[String],
      referencedDataFile: Option[String] = None,
      contentOffset: Option[Long] = None,
      contentSize: Option[Long] = None)

  /** The table's snapshot ids in metadata order (oldest first) — the
    * offset ladder for incremental/streaming consumption. */
  def snapshotIds(spark: SparkSession, dir: String): Seq[Long] = {
    val md = loadMetadata(spark, dir)
    val snaps = md.root.path("snapshots")
    require(snaps.isArray, s"no snapshots array in ${md.file}")
    (0 until snaps.size).map(i => snaps.get(i).path("snapshot-id").asLong(-1L))
  }

  /** All live content files of the current snapshot (status != DELETED
    * across its manifests), with sequence numbers and resolved
    * equality columns. */
  def resolveSnapshot(spark: SparkSession, dir: String,
      snapshotId: Option[Long] = None): Seq[ContentFile] = {
    val Metadata(mf, _, root) = loadMetadata(spark, dir)
    val fv = root.path("format-version").asInt(1)
    require(fv <= 3, s"Iceberg format-version $fv is newer than this " +
      "compat reader's spec knowledge (v3) — refuse rather than mis-read")
    // v3's row-lineage columns (_row_id, _last_updated_sequence_number)
    // are metadata-assigned and not required for correct data reads;
    // its deletion vectors ARE applied (puffin blobs, below)
    // field-id -> name map from the current schema (for equality_ids)
    val idToName: Map[Long, String] = {
      val schemaNode = currentSchema(root)
      if (schemaNode.has("fields"))
        schemaNode.path("fields").elements().asScala
          .map(f => f.path("id").asLong(-1L) -> f.path("name").asText(""))
          .filter(t => t._1 >= 0 && t._2.nonEmpty).toMap
      else Map.empty
    }
    // TIME TRAVEL: any snapshot listed in the metadata file is
    // addressable by id; default = the current one
    val snapId = snapshotId.getOrElse(root.path("current-snapshot-id").asLong(-1L))
    require(snapId > 0, s"no current-snapshot-id in $mf (empty table?)")
    val snaps = root.path("snapshots")
    require(snaps.isArray, s"no snapshots array in $mf")
    val snap = snaps.elements().asScala
      .find(_.path("snapshot-id").asLong(-2L) == snapId)
      .getOrElse(throw new IllegalArgumentException(
        s"current-snapshot-id $snapId not found among snapshots in $mf"))
    val mlPath = snap.path("manifest-list").asText("")
    require(mlPath.nonEmpty,
      s"snapshot $snapId has no manifest-list (v1 inline manifests are " +
        "out of scope — rewrite the table with a manifest list)")
    val out = scala.collection.mutable.ArrayBuffer.empty[ContentFile]
    readAvro(spark, resolve(dir, mlPath)).foreach { me =>
      val mPath = field(me, "manifest_path").map(_.toString).getOrElse(
        throw new IllegalArgumentException("manifest-list entry has no manifest_path"))
      val mlSeq = longField(me, "sequence_number").getOrElse(0L)
      readAvro(spark, resolve(dir, mPath)).foreach { e =>
        val status = longField(e, "status").getOrElse(0L)
        if (status != 2L) { // 2 = DELETED entry
          val df = field(e, "data_file").collect { case r: GenericRecord => r }
            .getOrElse(throw new IllegalArgumentException(
              s"manifest entry without data_file in $mPath"))
          val fmt = field(df, "file_format").map(_.toString.toUpperCase)
            .getOrElse("PARQUET")
          val content = longField(df, "content").getOrElse(0L).toInt
          require(content >= 0 && content <= 2,
            s"unknown content id $content in $mPath")
          val refFile = field(df, "referenced_data_file").map(_.toString)
          require(fmt == "PARQUET" ||
              (fmt == "PUFFIN" && content == 1 && refFile.nonEmpty),
            s"file format $fmt unsupported (parquet data/deletes, or a " +
              "puffin deletion vector referencing its data file)")
          val seq = longField(e, "sequence_number").getOrElse(mlSeq)
          val eqNames =
            if (content != 2) Nil
            else field(df, "equality_ids") match {
              case Some(l: java.util.List[_]) => l.asScala.toSeq.map {
                case n: java.lang.Number =>
                  idToName.getOrElse(n.longValue(),
                    throw new IllegalArgumentException(
                      s"equality field id $n not found in the table schema"))
                case other => throw new IllegalArgumentException(
                  s"non-numeric equality id $other")
              }
              case _ => throw new IllegalArgumentException(
                s"equality-delete file without equality_ids in $mPath")
            }
          out += ContentFile(
            resolve(dir, field(df, "file_path").map(_.toString).getOrElse(
              throw new IllegalArgumentException("data_file without file_path")))
              .toUri.getPath,
            content, seq, eqNames,
            referencedDataFile = refFile,
            contentOffset = longField(df, "content_offset"),
            contentSize = longField(df, "content_size_in_bytes"))
        }
      }
    }
    out.toSeq
  }

  /** Live DATA-file paths of the current snapshot (delete files are
    * resolved by [[readIcebergTable]], not listed here). */
  def liveFiles(spark: SparkSession, dir: String): Seq[String] = {
    val files = resolveSnapshot(spark, dir).filter(_.content == 0).map(_.path)
    require(files.nonEmpty, s"Iceberg table at $dir has no live data files")
    files.sorted
  }

  /** Read the table's current snapshot — or (`snapshotId`) any
    * snapshot still listed in the metadata file: TIME TRAVEL — with v2
    * row-level deletes APPLIED. Delete sides broadcast (they are
    * corrections, not corpora); the data side keeps its scan
    * partitioning. */
  def readIcebergTable(spark: SparkSession, dir: String,
      snapshotId: Option[Long] = None): DataFrame = {
    val files = resolveSnapshot(spark, dir, snapshotId)
    val data = files.filter(_.content == 0)
    require(data.nonEmpty, s"Iceberg table at $dir has no live data files")
    // v3 deletion vectors are content-1 entries with a referenced data
    // file; plain parquet position-delete files have none
    val dvDel = files.filter(f => f.content == 1 && f.referencedDataFile.nonEmpty)
    val posDel = files.filter(f => f.content == 1 && f.referencedDataFile.isEmpty)
    val eqDel = files.filter(_.content == 2)
    val plain = TableIO.readFilesFooter(spark, data.map(_.path))
    if (dvDel.isEmpty && posDel.isEmpty && eqDel.isEmpty) return plain
    import spark.implicits._
    // per-data-file sequence numbers ride a broadcast map keyed by the
    // normalized path — metadata-sized, like the delete sides
    val seqDf = broadcast(data.map(f => (f.path, f.seq)).toDF("_gf_p", "_gf_seq")
      .withColumn("_gf_p", normPath(col("_gf_p"))))
    var df = plain
      .withColumn("_gf_p", normPath(col("_metadata.file_path")))
      .withColumn("_gf_pos", col("_metadata.row_index"))
      .join(seqDf, Seq("_gf_p"), "left")
    // DV target paths, normalized — a DV supersedes any position-delete
    // FILES for its data file (the v3 rule: the vector must already
    // contain all of their positions, so applying both would be
    // redundant at best and the spec says ignore them)
    val dvTargets: Seq[String] = dvDel.map(f =>
      "/" + resolve(dir, f.referencedDataFile.get).toUri.getPath
        .dropWhile(_ == '/'))
    if (dvDel.nonEmpty) {
      val fs = fsFor(spark, dir)
      require(dvTargets.distinct.size == dvTargets.size,
        s"multiple deletion vectors reference one data file at $dir — " +
          "at most one DV per file (v3 rule)")
      // blob parse is driver-side metadata (one DV is bounded by the
      // rows of ONE file); the data plane sees only the anti-join
      val rows: Seq[(String, Long, Long)] = dvDel.flatMap { f =>
        val off = f.contentOffset.getOrElse(throw new IllegalArgumentException(
          s"deletion vector ${f.path} has no content_offset"))
        val len = f.contentSize.getOrElse(throw new IllegalArgumentException(
          s"deletion vector ${f.path} has no content_size_in_bytes"))
        val target = resolve(dir, f.referencedDataFile.get).toUri.getPath
        Puffin.readDvBlob(fs, new Path(f.path), off, len)
          .map(p => (target, p, f.seq))
      }
      val dv = broadcast(rows.toDF("_gv_target", "_gv_pos", "_gv_seq")
        .withColumn("_gv_target", normPath(col("_gv_target"))))
      df = df.join(dv,
        df("_gf_p") === dv("_gv_target") && df("_gf_pos") === dv("_gv_pos") &&
          dv("_gv_seq") >= df("_gf_seq"),
        "left_anti")
    }
    if (posDel.nonEmpty) {
      // delete-file seq also rides _metadata provenance of the delete scan
      val pdSeq = broadcast(posDel.map(f => (f.path, f.seq))
        .toDF("_gd_p", "_gd_seq").withColumn("_gd_p", normPath(col("_gd_p"))))
      val pd = broadcast(TableIO.readFilesFooter(spark, posDel.map(_.path))
        .select(normPath(col("file_path")).as("_gd_target"),
          col("pos").cast("long").as("_gd_pos"),
          normPath(col("_metadata.file_path")).as("_gd_p"))
        .join(pdSeq, Seq("_gd_p"))
        .filter(if (dvTargets.isEmpty) lit(true)
          else !col("_gd_target").isin(dvTargets: _*)))
      df = df.join(pd,
        df("_gf_p") === pd("_gd_target") && df("_gf_pos") === pd("_gd_pos") &&
          pd("_gd_seq") >= df("_gf_seq"),
        "left_anti")
    }
    eqDel.groupBy(_.equalityNames).foreach { case (names, group) =>
      require(names.nonEmpty, "equality delete with empty column list")
      val edSeq = broadcast(group.map(f => (f.path, f.seq))
        .toDF("_ge_p", "_ge_seq").withColumn("_ge_p", normPath(col("_ge_p"))))
      val ed = broadcast(TableIO.readFilesFooter(spark, group.map(_.path))
        .withColumn("_ge_p", normPath(col("_metadata.file_path")))
        .join(edSeq, Seq("_ge_p"))
        .select(col("_ge_seq") +: names.map(n => col(n).as(s"_ge_$n")): _*))
      // STRICT seq rule: a row re-inserted after the delete survives
      val cond = names.map(n => df(n) <=> ed(s"_ge_$n"))
        .reduce(_ && _) && ed("_ge_seq") > df("_gf_seq")
      df = df.join(ed, cond, "left_anti")
    }
    df.drop("_gf_p", "_gf_pos", "_gf_seq")
  }

  /** INCREMENTAL PULL between two snapshots: the data files present in
    * `toSnapshotId`'s state but not in `fromSnapshotId`'s — the
    * Iceberg leg of a continuous foreign-lake sync, completing parity
    * with [[DeltaCompat.addedBetween]] / [[HudiCompat
    * .incrementalFiles]]. Append-only windows only, checked loudly:
    * a data file LEAVING the state (overwrite/delete) or any change to
    * the delete-file set means replaying just the added files would
    * diverge from the table — callers fall back to a full re-read or a
    * keyed upsert. */
  def addedBetween(spark: SparkSession, dir: String,
      fromSnapshotId: Long, toSnapshotId: Long): Seq[String] = {
    val from = resolveSnapshot(spark, dir, Some(fromSnapshotId))
    val to = resolveSnapshot(spark, dir, Some(toSnapshotId))
    val fromData = from.filter(_.content == 0).map(_.path).toSet
    val toData = to.filter(_.content == 0).map(_.path).toSet
    require(fromData.subsetOf(toData),
      s"window ($fromSnapshotId -> $toSnapshotId] at $dir removes data " +
        s"files ${(fromData -- toData).mkString(", ")} — not an " +
        "append-only window; re-read or upsert")
    val fromDel = from.filter(_.content != 0).map(f => (f.path, f.seq)).toSet
    val toDel = to.filter(_.content != 0).map(f => (f.path, f.seq)).toSet
    require(fromDel == toDel,
      s"window ($fromSnapshotId -> $toSnapshotId] at $dir changes the " +
        "delete-file set — row-level deletes touch pre-window rows; " +
        "re-read or upsert")
    (toData -- fromData).toSeq.sorted
  }

  /** Read the rows appended between two snapshots (append-only). */
  def readAddedBetween(spark: SparkSession, dir: String,
      fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    val files = addedBetween(spark, dir, fromSnapshotId, toSnapshotId)
    require(files.nonEmpty,
      s"no files added in ($fromSnapshotId -> $toSnapshotId] at $dir")
    TableIO.readFilesFooter(spark, files)
  }

  /** Spark type → Iceberg primitive type name (the open spec's
    * vocabulary); out-of-vocabulary types refuse loudly. */
  private def icebergTypeOf(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => "long"
      case IntegerType => "int"
      case StringType => "string"
      case DoubleType => "double"
      case FloatType => "float"
      case BooleanType => "boolean"
      case BinaryType => "binary"
      case DateType => "date"
      case TimestampType => "timestamptz"
      case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
      case other => throw new IllegalArgumentException(
        s"no Iceberg mapping for Spark type ${other.simpleString}")
    }
  }

  /** Write `df` as parquet data files under `dir`/data, returning each
    * file's (table-relative path, true row count from its footer) —
    * record_count is a REQUIRED trusted manifest field. Names carry a
    * per-call UUID, so a retry never collides with the files a failed
    * attempt left behind. */
  private def writeDataFiles(df: DataFrame, dir: String,
      tag: String): Seq[(String, Long)] = {
    val attempt = java.util.UUID.randomUUID()
    TableIO.stageFiles(df, dir, s"$tag-$attempt") { (i, _) =>
      f"data/$tag-$attempt-$i%05d.parquet"
    }
  }

  /** CREATE an Iceberg table at `dir` from `df` — the writer-side
    * bootstrap completing write parity with
    * [[DeltaCompat.createDeltaTable]]: data files, one manifest + one
    * manifest list, and a v1 metadata file whose schema carries the
    * REAL field types (so equality deletes and foreign engines resolve
    * them). Returns the first snapshot id. */
  def createIcebergTable(df: DataFrame, dir: String): Long = {
    val spark = df.sparkSession
    val fs = fsFor(spark, dir)
    require(!fs.exists(new Path(s"$dir/metadata")),
      s"$dir already has metadata/ — createIcebergTable bootstraps new " +
        "tables only")
    val files = writeDataFiles(df, dir, "create-1")
    val m = writeManifestEntries(spark, dir, "m-app-1.avro",
      files.map { case (p, n) => Entry(1, p, n, content = 0, seq = 1L) })
    val ml = writeManifestList(spark, dir, "ml-app-1.avro", Seq(m))
    val fields = df.schema.fields.zipWithIndex.map { case (f, i) =>
      s"""{"id":${i + 1},"name":${mapper.writeValueAsString(f.name)},""" +
        s""""required":false,"type":"${icebergTypeOf(f.dataType)}"}"""
    }.mkString("[", ",", "]")
    val json =
      s"""{"format-version":2,"table-uuid":"graft-${java.util.UUID.randomUUID()}",
         |"current-snapshot-id":1,
         |"current-schema-id":0,
         |"schemas":[{"schema-id":0,"type":"struct","fields":$fields}],
         |"snapshots":[{"snapshot-id":1,"sequence-number":1,"manifest-list":"$ml"}]}"""
        .stripMargin.replace("\n", "")
    commitMetadata(spark, dir, 1, json.getBytes("UTF-8"))
    1L
  }

  /** APPEND `df` as a NEW SNAPSHOT — the transactional Iceberg write:
    * new data files + a manifest for them, a new manifest LIST
    * carrying the previous snapshot's manifests (their entries keep
    * their own sequence numbers) plus the new one, and the metadata
    * file rewritten at the next version with the snapshot appended and
    * `current-snapshot-id` moved. Schema checked by NAME against the
    * current schema. Returns the new snapshot id. */
  def appendSnapshot(df: DataFrame, dir: String): Long = {
    val spark = df.sparkSession
    val Metadata(_, version, root) = loadMetadata(spark, dir)
    val snaps = root.path("snapshots")
    require(snaps.isArray && snaps.size > 0, s"no snapshots at $dir")
    val schemaNames = currentSchema(root).path("fields").elements().asScala
      .map(_.path("name").asText("")).toSeq
    if (schemaNames.nonEmpty)
      require(df.columns.sorted.toSeq == schemaNames.sorted,
        s"append schema (${df.columns.sorted.mkString(", ")}) != table " +
          s"schema (${schemaNames.sorted.mkString(", ")})")
    val currentId = root.path("current-snapshot-id").asLong(-1L)
    val cur = snaps.elements().asScala
      .find(_.path("snapshot-id").asLong(-2L) == currentId)
      .getOrElse(throw new IllegalArgumentException(
        s"current-snapshot-id $currentId not among snapshots at $dir"))
    val newId = snaps.elements().asScala
      .map(_.path("snapshot-id").asLong(0L)).max + 1
    val seq = snaps.size + 1L
    val files = writeDataFiles(df, dir, s"append-$newId")
    val m = writeManifestEntries(spark, dir, s"m-app-$newId.avro",
      files.map { case (p, n) => Entry(1, p, n, content = 0, seq = seq) })
    // previous manifests carry over with their content codes
    val prevMl = cur.path("manifest-list").asText("")
    val prev = readAvro(spark, resolve(dir, prevMl)).map { me =>
      (field(me, "manifest_path").map(_.toString).getOrElse(
        throw new IllegalArgumentException("manifest-list entry has no path")),
        longField(me, "content").getOrElse(0L).toInt)
    }
    val ml = writeManifestList(spark, dir, s"ml-app-$newId.avro",
      prev.map(_._1) :+ m, prev.map(_._2) :+ 0)
    val obj = root.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val snapNode = mapper.readTree(
      s"""{"snapshot-id":$newId,"sequence-number":$seq,"manifest-list":"$ml"}""")
    snaps.asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
      .add(snapNode)
    obj.put("current-snapshot-id", newId)
    commitMetadata(spark, dir, version + 1, mapper.writeValueAsBytes(obj))
    newId
  }

  /** EXPIRE SNAPSHOTS — the Iceberg maintenance op that bounds
    * time-travel history and reclaims disk: the metadata file is
    * rewritten keeping only `keep` snapshot ids (the CURRENT snapshot
    * must be kept), and every manifest list, manifest, and content
    * file referenced ONLY by expired snapshots is physically deleted.
    * Deletion is positive-list — the union of expired footprints minus
    * the union of kept footprints — so files outside the Iceberg
    * metadata's knowledge (e.g. a co-resident native snapshot chain in
    * a dual-format export root) are never touched. Expired ids stop
    * resolving (time travel to them refuses by id). Returns the
    * deleted absolute paths, sorted. */
  def expireSnapshots(spark: SparkSession, dir: String,
      keep: Seq[Long]): Seq[String] = {
    val Metadata(mf, version, root) = loadMetadata(spark, dir)
    val current = root.path("current-snapshot-id").asLong(-1L)
    require(keep.contains(current),
      s"the current snapshot $current must be kept")
    val snaps = root.path("snapshots")
    require(snaps.isArray, s"no snapshots array in $mf")
    val all = (0 until snaps.size).map(i =>
      snaps.get(i).path("snapshot-id").asLong(-1L))
    val unknown = keep.filterNot(all.contains)
    require(unknown.isEmpty,
      s"kept snapshot ids ${unknown.mkString(", ")} do not exist at $dir")
    val expired = all.filterNot(keep.contains)
    if (expired.isEmpty) return Nil
    // a snapshot's footprint: its manifest list, manifests, and every
    // content file (data, delete, puffin) — all absolute paths
    def footprint(id: Long): Set[String] = {
      val snap = snaps.elements().asScala
        .find(_.path("snapshot-id").asLong(-2L) == id).get
      val ml = snap.path("manifest-list").asText("")
      require(ml.nonEmpty, s"snapshot $id has no manifest-list")
      val mlPath = resolve(dir, ml).toUri.getPath
      val manifests = readAvro(spark, new Path(mlPath)).map { me =>
        resolve(dir, field(me, "manifest_path").map(_.toString).getOrElse(
          throw new IllegalArgumentException(
            "manifest-list entry has no manifest_path"))).toUri.getPath
      }
      // content files including ones their manifests mark DELETED —
      // the footprint is what the snapshot's metadata POINTS AT; an
      // earlier-kept snapshot protecting a file keeps it via its own
      // footprint
      val contents = resolveSnapshot(spark, dir, Some(id)).map(_.path)
      Set(mlPath) ++ manifests ++ contents
    }
    val keptFp = keep.map(footprint).foldLeft(Set.empty[String])(_ ++ _)
    val victims = expired.map(footprint).foldLeft(Set.empty[String])(_ ++ _)
      .diff(keptFp).toSeq.sorted
    // rewrite the metadata FIRST (readers stop resolving expired ids
    // before their files vanish), then reclaim
    val keptJson = snaps.elements().asScala
      .filter(s => keep.contains(s.path("snapshot-id").asLong(-2L)))
      .map(_.toString).mkString("[", ",", "]")
    val obj = root.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    obj.set("snapshots", mapper.readTree(keptJson))
    commitMetadata(spark, dir, version + 1, mapper.writeValueAsBytes(obj))
    val fs = fsFor(spark, dir)
    victims.foreach(p => fs.delete(new Path(p), false))
    victims
  }

  // ---- fixture/export writers (minimal spec-shaped Avro + JSON) ----

  /** One fixture manifest row: `status` 1 ADDED / 0 EXISTING /
    * 2 DELETED; `content` 0 data / 1 position deletes / 2 equality
    * deletes; `seq` the entry's data sequence number; `equalityIds`
    * schema field ids for content = 2. A v3 DELETION VECTOR entry sets
    * `format = "PUFFIN"`, `content = 1`, and the three referenced-blob
    * fields. */
  final case class Entry(status: Int, path: String, records: Long,
      content: Int = 0, seq: Long = 0L, equalityIds: Seq[Int] = Nil,
      format: String = "PARQUET",
      referencedDataFile: Option[String] = None,
      contentOffset: Option[Long] = None,
      contentSize: Option[Long] = None)

  private val manifestEntrySchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |  {"name":"status","type":"int"},
      |  {"name":"sequence_number","type":["null","long"],"default":null},
      |  {"name":"data_file","type":{"type":"record","name":"r2","fields":[
      |    {"name":"content","type":"int"},
      |    {"name":"file_path","type":"string"},
      |    {"name":"file_format","type":"string"},
      |    {"name":"record_count","type":"long"},
      |    {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null},
      |    {"name":"referenced_data_file","type":["null","string"],"default":null},
      |    {"name":"content_offset","type":["null","long"],"default":null},
      |    {"name":"content_size_in_bytes","type":["null","long"],"default":null}
      |  ]}}
      |]}""".stripMargin.replace("\n", ""))

  private val manifestFileSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |  {"name":"manifest_path","type":"string"},
      |  {"name":"manifest_length","type":"long"},
      |  {"name":"content","type":"int"},
      |  {"name":"sequence_number","type":["null","long"],"default":null}
      |]}""".stripMargin.replace("\n", ""))

  private def writeAvro(spark: SparkSession, path: Path, schema: Schema,
      rows: Seq[GenericRecord]): Unit = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(path.getParent)
    val out = fs.create(path, true)
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    try { w.create(schema, out); rows.foreach(w.append) }
    finally w.close() // closes the stream
  }

  /** Fixture: write a manifest for `entries`. Paths relative to the
    * table root (or absolute). */
  def writeManifestEntries(spark: SparkSession, dir: String, name: String,
      entries: Seq[Entry]): String = {
    val rows = entries.map { en =>
      val df = new GenericData.Record(
        manifestEntrySchema.getField("data_file").schema())
      df.put("content", en.content)
      df.put("file_path", en.path)
      df.put("file_format", en.format)
      df.put("record_count", en.records)
      df.put("equality_ids",
        if (en.equalityIds.isEmpty) null
        else en.equalityIds.map(Integer.valueOf).asJava)
      df.put("referenced_data_file", en.referencedDataFile.orNull)
      df.put("content_offset",
        en.contentOffset.map(java.lang.Long.valueOf).orNull)
      df.put("content_size_in_bytes",
        en.contentSize.map(java.lang.Long.valueOf).orNull)
      val e = new GenericData.Record(manifestEntrySchema)
      e.put("status", en.status)
      e.put("sequence_number", java.lang.Long.valueOf(en.seq))
      e.put("data_file", df)
      e
    }
    writeAvro(spark, new Path(s"$dir/metadata/$name"), manifestEntrySchema, rows)
    s"metadata/$name"
  }

  /** Fixture: write a DATA manifest for `files` (status, relPath, n). */
  def writeManifest(spark: SparkSession, dir: String, name: String,
      files: Seq[(Int, String, Long)]): String =
    writeManifestEntries(spark, dir, name,
      files.map { case (st, p, n) => Entry(st, p, n) })

  /** Fixture: write a manifest LIST naming `manifests` — (path,
    * content 0 data / 1 deletes). */
  def writeManifestList(spark: SparkSession, dir: String, name: String,
      manifests: Seq[String], contents: Seq[Int] = Nil): String = {
    val cs = if (contents.isEmpty) manifests.map(_ => 0) else contents
    require(cs.length == manifests.length, "contents must match manifests")
    val rows = manifests.zip(cs).map { case (m, c) =>
      val r = new GenericData.Record(manifestFileSchema)
      r.put("manifest_path", m)
      r.put("manifest_length", 0L)
      r.put("content", c)
      r.put("sequence_number", null)
      r
    }
    writeAvro(spark, new Path(s"$dir/metadata/$name"), manifestFileSchema, rows)
    s"metadata/$name"
  }

  /** DUAL-FORMAT EXPORT (the UniForm idea, Iceberg leg — sibling of
    * [[DeltaCompat.exportDeltaLog]]): write Iceberg `metadata/` INTO a
    * [[SnapshotTable]] root so the SAME parquet files read as an
    * Iceberg table — zero data copied, one manifest + manifest-list
    * per snapshot, all snapshots listed in the metadata file with
    * current = the latest.
    * Merge-on-read delete dirs refuse loudly (Iceberg expresses
    * row-level deletes as delete FILES with sequence numbers, not
    * equality-delete dirs — compact first). Returns the number of
    * snapshots exported. */
  def exportIcebergMetadata(spark: SparkSession, snapshotRoot: String): Int = {
    val fs = fsFor(spark, snapshotRoot)
    val ids = SnapshotTable.snapshots(spark, snapshotRoot)
    require(ids.nonEmpty, s"no committed snapshot at $snapshotRoot")
    val conf = spark.sparkContext.hadoopConfiguration
    val root = fs.makeQualified(new Path(snapshotRoot)).toUri.getPath
    // record_count is a REQUIRED, trusted manifest field: real Iceberg
    // engines answer count(*) and plan scans from it without touching
    // data, so it must be the file's true row count — the parquet
    // footer has it for the price of a metadata read, no data pages
    // touched
    def filesOf(dir: String): Seq[(String, Long)] =
      TableIO.listFilesRecursive(fs, new Path(snapshotRoot, dir))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(st => (st.getPath.toUri.getPath.stripPrefix(root + "/"),
          TableIO.footerRows(conf, st)))
    fs.delete(new Path(s"$snapshotRoot/metadata"), true) // re-export replaces
    val snapshots = ids.zipWithIndex.map { case (id, idx) =>
      val dirs = SnapshotTable.dirsAt(spark, snapshotRoot, id)
      require(dirs.forall(d => !d.substring(d.lastIndexOf('/') + 1)
          .startsWith("del-")),
        s"snapshot $id carries merge-on-read deletes — compact before " +
          "exporting Iceberg metadata")
      val entries = dirs.flatMap(filesOf).map { case (p, n) =>
        Entry(1, p, n, content = 0, seq = idx + 1L)
      }
      val m = writeManifestEntries(spark, snapshotRoot, f"m-$idx%05d.avro", entries)
      val ml = writeManifestList(spark, snapshotRoot, f"ml-$idx%05d.avro", Seq(m))
      (100L + idx, ml)
    }
    writeMetadata(spark, snapshotRoot, ids.size, snapshots)
    ids.size
  }

  /** Fixture: write `vN.metadata.json` + `version-hint.text` with a
    * snapshot per (id, manifestList), current = the last; `schemaFields`
    * (id, name) feed equality_ids resolution. Committed like every
    * other metadata version: an existing `vN` fails the call. */
  def writeMetadata(spark: SparkSession, dir: String, version: Int,
      snapshots: Seq[(Long, String)],
      schemaFields: Seq[(Int, String)] = Nil,
      formatVersion: Int = 2): Unit = {
    val snapsJson = snapshots.map { case (id, ml) =>
      s"""{"snapshot-id":$id,"manifest-list":"$ml"}"""
    }.mkString("[", ",", "]")
    val fieldsJson = schemaFields.map { case (id, n) =>
      s"""{"id":$id,"name":"$n","required":false,"type":"long"}"""
    }.mkString("[", ",", "]")
    val json =
      s"""{"format-version":$formatVersion,"table-uuid":"graft-fixture",
         |"current-snapshot-id":${snapshots.last._1},
         |"current-schema-id":0,
         |"schemas":[{"schema-id":0,"type":"struct","fields":$fieldsJson}],
         |"snapshots":$snapsJson}""".stripMargin.replace("\n", "")
    commitMetadata(spark, dir, version, json.getBytes("UTF-8"))
  }
}
