package graft.exec

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{DvExpressions, EqualityDeletes, FileLookup}
import graft.meta.{FileEntry, Puffin, SchemaField, TableMetadata}
import graft.selection.FileGroup

/** Merge-on-read DataFrame construction.
  *
  * The reference generates one SQL string per file group —
  * `data ANTI JOIN pos_deletes ANTI JOIN eq_deletes_k...` (SQL builder at
  * core/src/executor/datafusion/datafusion_processor.rs:438-584) — and runs
  * it on DataFusion. Here the same logical plan is declared directly with
  * the DataFrame API and Catalyst plans it:
  *
  *  - hidden columns (datafusion_processor.rs:48-51, populated in
  *    iceberg_file_task_scan.rs:410-429,590-639) come from Spark's native
  *    parquet metadata columns: `_metadata.file_path` and
  *    `_metadata.row_index` give the exact per-file row position without
  *    any window/shuffle, split-safe and fully distributed;
  *  - per-file constants (the data sequence number, the v3 first row id)
  *    come from a [[graft.functions.FileLookup]] probed with the raw
  *    `_metadata.file_path` inside the scan's generated code: the path is
  *    resolved once per file, and no row joins on a path string;
  *  - while a delete side's manifest byte sum stays under
  *    [[Mor.BroadcastDeleteBytesMax]] (delete files are small relative to
  *    data by construction), every delete kind is decoded on the driver
  *    when the frame is built, with Spark's own parquet reader and no
  *    Spark job: position deletes and deletion vectors fold into one
  *    position bitmap per data file, which the same lookup probes as a
  *    `dv_contains` filter, and each equality-ids run becomes a table of
  *    each key's largest delete sequence number, shipped as one broadcast
  *    and probed by an [[graft.functions.EqualityDeleted]] filter (the
  *    reference's `seq <` rule). The plan is scan -> filter -> project,
  *    with no join and no exchange (the plan you want at 100 TB); a run
  *    whose key types differ from the data columns' stays a broadcast
  *    anti join;
  *  - above the gate (a delete-heavy table: the FilesWithDeletes strategy
  *    exists precisely for those) nothing large is held on the driver:
  *    position deletes and deletion vectors become `(path, pos)` anti
  *    joins, equality deletes anti joins on their key, and Catalyst picks
  *    shuffled joins;
  *  - with a typed field-id schema ([[SchemaField]]), files are read by
  *    parquet field id instead of name, making the read correct across
  *    renames (the reference's `field_by_id` addressing,
  *    datafusion_processor.rs:693,741).
  */
object Mor {
  val SeqNumCol = "sys_hidden_seq_num"
  val FilePathCol = "sys_hidden_file_path"
  val PosCol = "sys_hidden_pos"

  /** Iceberg v3 row-lineage column: row N of a data file has id
    * `firstRowId + N` unless the file MATERIALIZES this column (rewrites
    * do — that is how ids survive compaction). */
  val RowIdCol = "_row_id"
  /** Engine-reserved parquet field id for the materialized [[RowIdCol]]
    * (far above any user column, mirroring Iceberg's reserved-id
    * convention for metadata columns). */
  val RowIdFieldId = 2147483540

  /** v3's second lineage column: the sequence number of the commit that
    * last CREATED/UPDATED the row — the data file's sequence for plain
    * rows, the materialized original for rewritten rows (compaction must
    * not look like an update). */
  val LastUpdatedSeqCol = "_last_updated_seq"
  val LastUpdatedSeqFieldId = 2147483539

  private def reservedField(name: String, id: Int): org.apache.spark.sql.types.StructField =
    org.apache.spark.sql.types.StructField(name,
      org.apache.spark.sql.types.LongType, nullable = true,
      new org.apache.spark.sql.types.MetadataBuilder()
        .putLong(SchemaField.ParquetFieldIdKey, id.toLong).build())
  private[graft] def rowIdField = reservedField(RowIdCol, RowIdFieldId)
  private[graft] def lastUpdatedSeqField =
    reservedField(LastUpdatedSeqCol, LastUpdatedSeqFieldId)

  /** Broadcast gate for delete sides, in manifest (compressed parquet)
    * bytes. 64 MiB compressed unpacks to a few hundred MB of hashed
    * relation — near the edge of what a driver/executor should hold; past
    * it, a shuffled join is the safe plan. */
  val BroadcastDeleteBytesMax: Long = 64L * 1024 * 1024

  /** The position-delete file schema (Iceberg spec: `file_path` and
    * `pos`, both required). Delete files are read with it, never with a
    * schema inferred from one file's footer. */
  private val PositionDeleteSchema: StructType =
    StructType(Seq(StructField("file_path", StringType), StructField("pos", LongType)))

  /** `c` of a position-delete row, failing the query when it is null: a
    * delete file without the column (or with a null in it) must not
    * silently match nothing and resurrect the rows it deletes. */
  private def requiredDeleteCol(c: String): Column =
    when(col(c).isNull, raise_error(concat(
      lit(missingDeleteValue(c)), col("_metadata.file_path"))))
      .otherwise(col(c))

  private def missingDeleteValue(c: String): String = s"position-delete file has no `$c` value: "

  private val FileSchemePrefix = "^file:/+"

  /** `_metadata.file_path` is a URI (file:///x); manifest paths are plain
    * absolute paths. Normalize URIs to paths for joining. */
  def normalizePath(c: Column): Column = regexp_replace(c, FileSchemePrefix, "/")

  /** [[normalizePath]] of one path value. */
  def normalizePath(p: String): String = p.replaceFirst(FileSchemePrefix, "/")

  /** A MANIFEST path in the exact form Spark renders
    * `_metadata.file_path` (Hadoop-canonical: empty URI authorities
    * collapse, `file:` stripped like [[normalizePath]]). Foreign clients
    * legally commit non-canonical spellings (`slowfs:///x` for
    * `slowfs:/x`); keying the per-file lookup by the canonical form keeps
    * the seq-number and row-lineage probes from silently missing — a miss
    * would DROP equality deletes (null sequence never wins the strict
    * `<`), resurrecting rows. */
  def canonicalManifestPath(p: String): String =
    normalizePath(try new org.apache.hadoop.fs.Path(p).toString
                  catch { case _: IllegalArgumentException => p })

  /** The engine's one table reader, the read-side twin of
    * [[SparkExecutor.writeTableFiles]]: reads `table`'s DATA files with
    * correct per-file column addressing. On a typed table, engine-written
    * files are read by parquet FIELD ID (rename-safe) and add_files-
    * imported (`nameMatched`) files by NAME — their footers carry no ids,
    * and Spark's id reader resolves id-less files to all-NULL columns, so
    * they get their own relation with the id metadata stripped (initial-
    * defaults kept). A legacy name-addressed table is read by name with the
    * footers' schema. Frames belong to `spark` ([[GraftScan.relation]]
    * scopes field-id resolution to the relation). `f` is applied to EACH
    * underlying relation before the union, so `_metadata.file_path`/
    * `row_index` references inside it still bind to their own scan;
    * filters inside `f` push down per branch. Every data-file read in the
    * engine (MOR, deleteWhere, COW discovery, bloom build, upsert's key
    * read-back, content validation) goes through here.
    *
    * Typed reads are backed by [[GraftFileIndex]], so any filter Catalyst
    * pushes to the scan — from `f`, from SQL, from frames composed on
    * top — skips files by manifest zone maps / null counts / identity-
    * partition values before tasks launch. The table's CURRENT partition
    * spec drives the pruning (identity fields give exact per-file
    * constants, bucket fields prune equality predicates), and its retired
    * stats names ([[graft.meta.TableMetadata.statsRetiredNames]]) are
    * never consulted. `metadataAggregates = false` makes the frame's
    * aggregates come from a real scan, never from manifest statistics
    * (validation counts — see [[GraftFileIndex.metadataAggregates]]). */
  def readDataWith(spark: SparkSession, table: TableMetadata, files: Seq[FileEntry],
      metadataAggregates: Boolean = true)(f: DataFrame => DataFrame): DataFrame =
    readFiles(spark, table, files, table.typedStruct, metadataAggregates)(f)

  /** [[readDataWith]] with the typed read schema `typed` (the table's,
    * widened by the lineage fields for row-id reads). */
  private def readFiles(spark: SparkSession, table: TableMetadata, files: Seq[FileEntry],
      typed: Option[StructType], metadataAggregates: Boolean)(
      f: DataFrame => DataFrame): DataFrame = {
    require(files.nonEmpty, "readDataWith: empty file list")
    def strippedIds(st: StructType): StructType = StructType(st.fields.map { fd =>
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(fd.metadata).remove(SchemaField.ParquetFieldIdKey)
      fd.copy(metadata = mb.build())
    })
    def relation(fs: Seq[FileEntry], st: StructType, byFieldId: Boolean): DataFrame =
      GraftScan.relation(spark, fs, st, table.partitionSpec, table.statsRetiredNames,
        metadataAggregates, byFieldId)
    val frames = typed match {
      case None => Seq(spark.read.schema(footerSchema(spark, files.head.path))
        .parquet(files.map(_.path): _*))
      case Some(st) =>
        val (byName, byId) = files.partition(_.nameMatched)
        Seq(
          Option.when(byId.nonEmpty)(relation(byId, st, byFieldId = true)),
          Option.when(byName.nonEmpty)(relation(byName, strippedIds(st), byFieldId = false))).flatten
    }
    frames.map(f).reduce(_ unionByName _)
  }

  /** `table`'s read schema: [[TableMetadata.typedStruct]], or for a legacy
    * name-addressed table the table's columns as `dataFile`'s footer types
    * them (evaluated only then). */
  def readSchema(spark: SparkSession, table: TableMetadata, dataFile: => FileEntry): StructType =
    table.typedStruct.getOrElse {
      val footer = footerSchema(spark, dataFile.path)
      StructType(table.schemaColumns.map(fieldOf(footer, _)))
    }

  /** The schema `spark.read.parquet(path)` infers from the file's footer,
    * read on the driver without the inference job. A legacy name-addressed
    * table's files are read with the schema of their first file, as that
    * inference does. */
  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p,
      spark.sessionState.newHadoopConf())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val footer = try r.getFooter finally r.close()
    GraftScan.asNullable(ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(p, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
  }

  /** The field of `schema` named `name`, as Catalyst resolves a column
    * (case-insensitively). */
  private def fieldOf(schema: StructType, name: String): StructField =
    schema.find(_.name == name).orElse(schema.find(_.name.equalsIgnoreCase(name)))
      .getOrElse(throw new IllegalArgumentException(
        s"column $name not in ${schema.fieldNames.mkString("[", ", ", "]")}"))

  /** Reads the rows of parquet `files` with `schema` on the driver, with no
    * Spark job: Spark's own parquet reader, built once and applied to each
    * file in turn, returning rows. `byFieldId` resolves columns by parquet
    * field id. The row passed to `f` is reused between calls. */
  private def readOnDriver(spark: SparkSession, files: Seq[FileEntry], schema: StructType,
      byFieldId: Boolean)(f: (FileEntry, InternalRow) => Unit): Unit = {
    val session = GraftScan.sessionWith(spark, if (byFieldId) GraftScan.FieldIdRead else Map.empty)
    val hadoopConf = session.sessionState.newHadoopConf()
    val readSchema = GraftScan.asNullable(schema)
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(session, readSchema,
      new StructType(), readSchema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      hadoopConf)
    files.foreach { e =>
      val path = new Path(e.path)
      val status = path.getFileSystem(hadoopConf).getFileStatus(path)
      val rows = read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(path), 0L,
        status.getLen, Array.empty, status.getModificationTime, status.getLen))
      try rows.foreach(f(e, _))
      finally rows match {
        case c: java.io.Closeable => c.close()
        case _ =>
      }
    }
  }

  /** The per-file lookup over `files`, keyed by canonical path;
    * `bitmaps` are keyed the same way. */
  private def fileLookup(files: Seq[FileEntry],
      bitmaps: Map[String, Puffin.PositionBitmap] = Map.empty): FileLookup =
    new FileLookup(files.map { f =>
      val p = canonicalManifestPath(f.path)
      FileLookup.Entry(p, f.sequenceNumber, f.firstRowId, bitmaps.get(p))
    })

  /** Broadcast when the manifest says the delete side is small; otherwise
    * leave the join strategy to Catalyst (SMJ/SHJ — shuffles the data side,
    * but cannot OOM the driver). */
  private def gated(df: DataFrame, manifestBytes: Long, maxBytes: Long): DataFrame =
    if (manifestBytes <= maxBytes) broadcast(df) else df

  /** Position-delete `file_path` VALUES are spec'd to name the data
    * file; the scan side carries the Hadoop-canonical rendering, and
    * legal URI spellings vary BOTH ways (`scheme:///x` in a manifest for
    * a canonical `scheme:/x` value, or the inverse — a foreign writer's
    * own path type re-renders). For every scheme'd data file this holds
    * each plausible spelling (manifest form, canonical form's
    * empty-authority variant) -> canonical. Scheme-less local paths have
    * one spelling, so the common case is empty. */
  private def pathSpellings(dataFiles: Seq[FileEntry]): Map[String, String] =
    dataFiles.flatMap { f =>
      val canon = canonicalManifestPath(f.path)
      // scheme:/p <-> scheme:///p (empty authority renders both ways)
      val variants = Seq(f.path, canon) ++
        "^([a-zA-Z][a-zA-Z0-9+.-]*):/(?!/)".r.findFirstMatchIn(canon)
          .map(m => m.group(1) + ":///" + canon.drop(m.group(1).length + 2))
      variants.distinct.filter(_ != canon).map(_ -> canon)
    }.toMap

  /** The rows of position-delete `files` as [[FilePathCol]]/[[PosCol]]
    * (then `extra`, which may read `_metadata`), read with the spec schema
    * and failing on a null value. */
  private[graft] def readPositionDeletes(spark: SparkSession, files: Seq[FileEntry],
      extra: Column*): DataFrame =
    spark.read.schema(PositionDeleteSchema).parquet(files.map(_.path): _*)
      .select(Seq(requiredDeleteCol("file_path").as(FilePathCol),
        requiredDeleteCol("pos").as(PosCol)) ++ extra: _*)

  /** The rows of position-delete `files` with each `file_path` naming one
    * of `dataFiles` in canonical form, for joins against a scan's
    * [[normalizePath]]ed [[FilePathCol]]. The spellings are remapped by a
    * BROADCAST left join (a per-row probe of a literal map would be a
    * linear scan over #files per delete row). */
  private[graft] def positionDeletes(spark: SparkSession, files: Seq[FileEntry],
      dataFiles: Seq[FileEntry]): DataFrame = {
    val pos = readPositionDeletes(spark, files)
    val remap = pathSpellings(dataFiles)
    if (remap.isEmpty) pos
    else {
      import spark.implicits._
      val remapDf = remap.toSeq.toDF("__variant", "__canon")
      pos.join(broadcast(remapDf), pos(FilePathCol) === col("__variant"), "left")
        .select(coalesce(col("__canon"), pos(FilePathCol)).as(FilePathCol), pos(PosCol))
    }
  }

  /** Position deletes of `files` folded into one bitmap per data file of
    * `dataFiles` (canonical path -> bitmap), decoded on the driver with no
    * Spark job. Rows naming other files are dropped; a negative `pos`
    * names no row and is skipped; a null value fails the read, as
    * [[readPositionDeletes]] does. Rows of one data file arrive together,
    * so a path is mapped once per run of equal values. */
  private def positionBitmaps(spark: SparkSession, files: Seq[FileEntry],
      dataFiles: Seq[FileEntry]): Map[String, Puffin.PositionBitmap] = {
    val remap = pathSpellings(dataFiles)
    val canon = dataFiles.map(f => canonicalManifestPath(f.path)).toSet
    val out = scala.collection.mutable.HashMap.empty[String, Puffin.PositionBitmap]
    var lastFile: UTF8String = null
    var bitmap: Puffin.PositionBitmap = null // null: the file is not in the group
    readOnDriver(spark, files, PositionDeleteSchema, byFieldId = false) { (f, r) =>
      if (r.isNullAt(0)) throw new IllegalStateException(missingDeleteValue("file_path") + f.path)
      if (r.isNullAt(1)) throw new IllegalStateException(missingDeleteValue("pos") + f.path)
      val file = r.getUTF8String(0)
      if (lastFile == null || lastFile != file) {
        lastFile = file.copy()
        val c = remap.getOrElse(lastFile.toString, lastFile.toString)
        bitmap = if (canon.contains(c)) out.getOrElseUpdate(c, Puffin.PositionBitmap.empty) else null
      }
      val pos = r.getLong(1)
      if (bitmap != null && pos >= 0) bitmap.add(pos)
    }
    out.toMap
  }

  /** Deletion vectors decoded on the driver, keyed by the canonical path
    * of the data file each references. */
  private def dvBitmaps(dvEntries: Seq[FileEntry]): Map[String, Puffin.PositionBitmap] =
    dvEntries.groupBy(e => canonicalManifestPath(e.referencedDataFile.get)).map {
      case (file, es) =>
        val b = Puffin.PositionBitmap.empty
        es.foreach(e => b.addAll(Puffin.decodeDvBlob(Puffin.readBlob(
          e.path, e.contentOffset.getOrElse(0L), e.contentSizeInBytes.get))))
        file -> b
    }

  /** Groups equality-delete files into runs of consecutive identical
    * `equalityIds`, each run becoming one anti-join (the reference's
    * consecutive-distinct grouping, datafusion_processor.rs:700-728). */
  def equalityDeleteGroups(files: Seq[FileEntry]): Seq[(Seq[String], Seq[FileEntry])] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Seq[String], scala.collection.mutable.ArrayBuffer[FileEntry])]
    for (f <- files) {
      if (out.nonEmpty && out.last._1 == f.equalityIds) out.last._2 += f
      else out += ((f.equalityIds, scala.collection.mutable.ArrayBuffer(f)))
    }
    out.map { case (ids, fs) => (ids, fs.toSeq) }.toSeq
  }

  /** The column of [[equalityDeleteKeys]] frames holding the deleting
    * file's sequence number. */
  val DelSeqCol = "__del_seq__"

  /** One run of [[equalityDeleteGroups]]: its key columns by their
    * CURRENT names, its files, and the schema its keys are read with. */
  private final case class EqualityRun(ids: Seq[String], files: Seq[FileEntry],
      keySchema: StructType)

  /** The equality-delete `files` of `table` as runs. On a typed table the
    * authoritative key is the `equalityFieldIds` list and the keys are
    * typed by the table and read by field id, so they match across
    * renames; on a legacy name-addressed table they are read by name,
    * typed by the run's first footer. */
  private def equalityRuns(spark: SparkSession, table: TableMetadata,
      files: Seq[FileEntry]): Seq[EqualityRun] = {
    val resolved =
      if (!table.isTyped) files
      else files.map { f =>
        if (f.equalityFieldIds.isEmpty) f
        else f.copy(equalityIds = f.equalityFieldIds.map(id => table.fieldById(id)
          .getOrElse(sys.error(s"equality-delete field id $id not in table schema")).name))
      }
    equalityDeleteGroups(resolved).map { case (eqIds, run) =>
      val keySchema =
        if (!table.isTyped) {
          val footer = footerSchema(spark, run.head.path)
          StructType(eqIds.map(fieldOf(footer, _)))
        } else StructType(eqIds.map(n => table.fieldByName(n)
          .getOrElse(sys.error(s"equality-delete column $n not in table schema")).toStructField))
      EqualityRun(eqIds, run, keySchema)
    }
  }

  /** The key rows of `run` under its key names plus [[DelSeqCol]]. */
  private def equalityKeyRows(spark: SparkSession, table: TableMetadata,
      run: EqualityRun): DataFrame = {
    val keys =
      if (!table.isTyped) spark.read.schema(run.keySchema).parquet(run.files.map(_.path): _*)
      else GraftScan.relation(spark, run.files, run.keySchema,
        statsRetired = table.statsRetiredNames, metadataAggregates = false, byFieldId = true)
    keys.select(run.ids.map(col) :+
      DvExpressions.fileConstant(col("_metadata.file_path"), fileLookup(run.files),
        FileLookup.DataSeq).as(DelSeqCol): _*)
  }

  /** The equality-delete `files` of `table`, one entry per run of
    * [[equalityDeleteGroups]]: the run's key columns by their CURRENT
    * names, its files, and its key rows under those names plus
    * [[DelSeqCol]] (see [[equalityRuns]] for how keys are addressed), for
    * the changelog's delete attribution. [[dataFrame]]'s anti joins read
    * the same rows. */
  def equalityDeleteKeys(spark: SparkSession, table: TableMetadata,
      files: Seq[FileEntry]): Seq[(Seq[String], Seq[FileEntry], DataFrame)] =
    equalityRuns(spark, table, files).map(r => (r.ids, r.files, equalityKeyRows(spark, table, r)))

  /** The keys of `run` decoded on the driver with no Spark job, each with
    * its largest delete sequence number, and shipped as one broadcast;
    * None when they pass [[EqualityDeletes.MaxKeyBytes]]. Keys with a null
    * column match nothing and are skipped. */
  private def equalityDeletes(spark: SparkSession, table: TableMetadata,
      run: EqualityRun): Option[EqualityDeletes] = {
    val key = UnsafeProjection.create(EqualityDeletes.keyExprs(run.keySchema.fields.toSeq
      .zipWithIndex.map { case (f, i) => BoundReference(i, f.dataType, nullable = true) }))
    val keys = new EqualityDeletes.KeyTable
    var fits = true
    readOnDriver(spark, run.files, run.keySchema, byFieldId = table.isTyped) { (f, r) =>
      val k = key(r)
      if (fits && !k.anyNull) fits = keys.add(k, f.sequenceNumber)
    }
    Option.when(fits)(new EqualityDeletes(spark.sparkContext.broadcast(keys.trim())))
  }

  /** Position-delete anti join: drop data rows whose (file_path, pos) has a
    * tombstone (datafusion_processor.rs:489-522; reference RIGHT ANTI ==
    * our LEFT ANTI).
    *
    * The delete side broadcasts only under the byte gate — same contract as
    * [[dataFrame]]. Callers holding manifest sizes pass them via
    * `deleteBytes`; otherwise Catalyst's plan-time size estimate stands in,
    * so an unexpectedly large delete relation degrades to a shuffled join
    * instead of OOMing the driver. (The reference merely *assumes* delete
    * sides are small, datafusion_processor.rs:524-571.) */
  def applyPositionDeletes(
      data: DataFrame, deletes: DataFrame,
      deleteBytes: Long = -1L,
      broadcastDeleteBytesMax: Long = BroadcastDeleteBytesMax): DataFrame = {
    val bytes =
      if (deleteBytes >= 0) deleteBytes
      else deletes.queryExecution.optimizedPlan.stats.sizeInBytes
        .min(BigInt(Long.MaxValue)).toLong
    data.join(gated(deletes, bytes, broadcastDeleteBytesMax), Seq(FilePathCol, PosCol), "left_anti")
  }

  /** Equality-delete anti join: drop data rows matching a tombstone's key
    * columns with strictly newer sequence number
    * (datafusion_processor.rs:524-571). `deletes` must carry the eq columns
    * plus `delSeqCol`; empty `eqIds` degrades to the pure seq theta-join
    * (-> BroadcastNestedLoopJoin, fine: delete side broadcast). */
  def applyEqualityDeletes(
      data: DataFrame, deletes: DataFrame, eqIds: Seq[String],
      dataSeqCol: String = SeqNumCol, delSeqCol: String = "__del_seq"): DataFrame = {
    val del = deletes.select(
      eqIds.map(c => col(c).as(s"__del_$c")) :+ col(delSeqCol).as("__del_seq__"): _*)
    // plain (null-unsafe) equality, matching the reference's generated `=`
    // predicates (datafusion_processor.rs:533-545)
    val eqCond = eqIds.map(c => data(c) === col(s"__del_$c")).reduceOption(_ && _)
    val seqCond = data(dataSeqCol) < col("__del_seq__")
    val cond = eqCond.map(_ && seqCond).getOrElse(seqCond)
    data.join(broadcast(del), cond, "left_anti")
  }

  /** The MOR DataFrame of `group`, a file group of `table`: the rows of
    * its data files that no position delete, deletion vector or newer
    * equality delete of the group removes, with the table's columns
    * ([[TableMetadata.schemaColumns]]; hidden columns are dropped, matching
    * the final SELECT at datafusion_processor.rs:573-581). The table also
    * decides how files are read: a typed table's data and equality-delete
    * files by FIELD ID (rename-safe), with equality keys resolved through
    * `equalityFieldIds` to their current names, and its partition spec and
    * retired stats names drive file pruning ([[readDataWith]]). Every
    * format version applies every delete kind: v3 keeps equality deletes
    * (foreign engines add them), and deletion vectors are position deletes
    * applied by the scan.
    *
    * @param broadcastDeleteBytesMax manifest-bytes gate per delete side:
    *                    under it, every delete kind is decoded on the
    *                    driver and probed in the scan; past it,
    *                    Catalyst's joins.
    * @param keepHidden  keep [[FilePathCol]]/[[PosCol]] in the output —
    *                    row lineage for consumers that must address
    *                    surviving rows physically (changelog delete
    *                    attribution, position-delete writers).
    * @param keepRowIds  emit [[RowIdCol]] and [[LastUpdatedSeqCol]] (v3 row
    *                    lineage): the materialized values when the file
    *                    carries them, else the inherited `firstRowId + row
    *                    position` and the file's sequence number. Requires
    *                    a typed table.
    * @param metadataAggregates false = this frame's aggregates must come
    *                    from a real scan, never from manifest statistics
    *                    (validation counts — see
    *                    [[GraftFileIndex.metadataAggregates]]).
    */
  def dataFrame(
      spark: SparkSession,
      table: TableMetadata,
      group: FileGroup,
      broadcastDeleteBytesMax: Long = BroadcastDeleteBytesMax,
      keepHidden: Boolean = false,
      keepRowIds: Boolean = false,
      metadataAggregates: Boolean = true
  ): DataFrame = {
    require(group.dataFiles.nonEmpty, "empty file group")
    val typed = table.typedStruct
    require(!keepRowIds || typed.isDefined,
      "row-lineage reads require a fully typed table schema")
    // the data read schema gains the optional materialized lineage
    // fields: files that carry them (rewrites) yield values, files that
    // don't (plain appends) fill NULL and inherit from the manifest
    val dataTyped =
      if (keepRowIds)
        typed.map(st => StructType(st.fields :+ rowIdField :+ lastUpdatedSeqField))
      else typed
    def readData(f: DataFrame => DataFrame): DataFrame =
      readFiles(spark, table, group.dataFiles, dataTyped, metadataAggregates)(f)

    // EVERY format version applies equality deletes: the v3 spec replaces
    // position-delete PARQUET with deletion vectors but keeps equality
    // deletes (streaming engines' delete shape) — graft's own v3 writers
    // emit DVs, but foreign engines (REST row-delta commits, attached
    // tables) legitimately add eq-deletes to v3 tables, and skipping them
    // silently resurrects rows (caught by the v3 REST fuzz)
    val eqDeletes = group.equalityDeleteFiles
    // v3 deletion vectors ride the position-delete content type but carry a
    // Puffin bitmap blob, not a parquet file
    val (dvEntries, posDeletes) = group.positionDeleteFiles.partition(_.isDeletionVector)
    require(dvEntries.forall(_.contentSizeInBytes.isDefined),
      "deletion-vector entries require content-size")
    // under the gate each kind becomes per-file bitmaps, all probed by one
    // `dv_contains` filter in the scan; above it, a (path, pos) anti join
    val posUnderGate = posDeletes.map(_.length).sum <= broadcastDeleteBytesMax
    val dvUnderGate = dvEntries.map(_.contentSizeInBytes.get).sum <= broadcastDeleteBytesMax
    val bitmaps = {
      type Bitmaps = Map[String, Puffin.PositionBitmap]
      val pos: Bitmaps =
        if (posDeletes.nonEmpty && posUnderGate) positionBitmaps(spark, posDeletes, group.dataFiles)
        else Map.empty
      val dv: Bitmaps = if (dvEntries.nonEmpty && dvUnderGate) dvBitmaps(dvEntries) else Map.empty
      dv.foreach { case (f, b) => pos.get(f).foreach(_.addAll(b)) }
      dv ++ pos
    }
    val posJoin = posDeletes.nonEmpty && !posUnderGate
    val dvJoin = dvEntries.nonEmpty && !dvUnderGate
    // each equality-ids run is probed in the scan when it is under the gate
    // (a run without key columns always is: its probe is one number) and
    // its key types are the data columns' own, else it is an anti join
    // whose strategy Catalyst picks
    lazy val dataSchema = dataTyped.getOrElse(footerSchema(spark, group.dataFiles.head.path))
    def probed(run: EqualityRun): Boolean =
      (run.ids.isEmpty || run.files.map(_.length).sum <= broadcastDeleteBytesMax) &&
        run.keySchema.forall { k =>
          EqualityDeletes.supports(k.dataType) &&
            dataSchema.find(_.name.equalsIgnoreCase(k.name)).exists(_.dataType == k.dataType)
        }
    val (probes, eqJoins) = equalityRuns(spark, table, eqDeletes)
      .map(run => (run, Option.when(probed(run))(equalityDeletes(spark, table, run)).flatten))
      .partitionMap {
        case (run, Some(deletes)) => Left((run.ids, deletes))
        case (run, None) => Right(run)
      }
    val needSeq = eqJoins.nonEmpty
    val needFilePos = posJoin || dvJoin || keepHidden

    val projected = table.schemaColumns.map(col)
    val hidden = if (keepHidden) Seq(col(FilePathCol), col(PosCol)) else Nil
    val lineage = if (keepRowIds) Seq(col(RowIdCol), col(LastUpdatedSeqCol)) else Nil

    // no deletes: plain projected scan (datafusion_processor.rs:447-458)
    if (!needSeq && bitmaps.isEmpty && probes.isEmpty && !needFilePos && !keepRowIds)
      return readData(_.select(projected: _*))

    val lookup = fileLookup(group.dataFiles, bitmaps)
    val file = col("_metadata.file_path")
    val rowIndex = col("_metadata.row_index")
    def dataSeq = DvExpressions.fileConstant(file, lookup, FileLookup.DataSeq)
    // what the scan drops: positions of the per-file bitmaps, then the
    // rows each probed equality-ids run deletes
    val deleted = Option.when(bitmaps.nonEmpty)(DvExpressions.dvContains(file, rowIndex, lookup)) ++
      probes.map { case (ids, deletes) =>
        DvExpressions.equalityDeleted(ids.map(col), dataSeq, deletes)
      }
    var df = readData { rel =>
      val live = deleted.reduceOption(_ || _).fold(rel)(d => rel.filter(!d))
      live.select(projected ++
        (if (needFilePos) Seq(normalizePath(file).as(FilePathCol), rowIndex.as(PosCol))
         else Nil) ++
        (if (needSeq) Seq(dataSeq.as(SeqNumCol)) else Nil) ++
        // v3 row lineage: the materialized value when the file carries one
        // (rewrites), else inherited from the manifest; files without an
        // assigned range (pre-v3 history) yield NULL ids rather than lies
        (if (keepRowIds) Seq(
          coalesce(col(RowIdCol), DvExpressions.fileConstant(
            file, lookup, FileLookup.FirstRowId) + rowIndex).as(RowIdCol),
          coalesce(col(LastUpdatedSeqCol), dataSeq).as(LastUpdatedSeqCol))
         else Nil): _*)
    }

    // past the gate, nothing large materializes on the driver: the
    // position-delete rows and the DV positions (decoded on executors)
    // feed anti joins whose strategy Catalyst picks
    if (posJoin)
      df = df.join(positionDeletes(spark, posDeletes, group.dataFiles),
        Seq(FilePathCol, PosCol), "left_anti")
    if (dvJoin) {
      val dvCanon = dvEntries.map(e =>
        e.copy(referencedDataFile = e.referencedDataFile.map(canonicalManifestPath)))
      df = df.join(graft.meta.DeletionVectors.positionsFrame(spark, dvCanon)
        .select(col("file_path").as(FilePathCol), col("pos").as(PosCol)),
        Seq(FilePathCol, PosCol), "left_anti")
    }

    // one anti join per remaining equality-ids run, in manifest order
    // (datafusion_processor.rs:524-571); broadcast when under the gate
    // (key types differ from the data's, which the join's coercion
    // handles), else Catalyst's choice
    for (run <- eqJoins) {
      val eqIds = run.ids
      val del = equalityKeyRows(spark, table, run)
        .select(eqIds.map(c => col(c).as(s"__del_$c")) :+ col(DelSeqCol): _*)
      val eqCond = eqIds.map(c => df(c) === col(s"__del_$c")).reduceOption(_ && _)
      val seqCond = df(SeqNumCol) < col(DelSeqCol)
      val cond = eqCond.map(_ && seqCond).getOrElse(seqCond)
      df = df.join(gated(del, run.files.map(_.length).sum, broadcastDeleteBytesMax), cond,
        "left_anti")
    }

    df.select(projected ++ hidden ++ lineage: _*)
  }
}
