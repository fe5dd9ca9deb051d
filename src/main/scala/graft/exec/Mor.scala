package graft.exec

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.functions.{DvExpressions, FileLookup}
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
  *    data by construction), position deletes and deletion vectors are
  *    read once when the frame is built and folded into one position
  *    bitmap per data file, which the same lookup probes as a
  *    `dv_contains` filter, and equality deletes are a broadcast anti join
  *    on their key: the data side never shuffles (the plan you want at
  *    100 TB);
  *  - above the gate (a delete-heavy table: the FilesWithDeletes strategy
  *    exists precisely for those) nothing large is held on the driver:
  *    position deletes and deletion vectors become `(path, pos)` anti
  *    joins and Catalyst picks shuffled joins;
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
      lit(s"position-delete file has no `$c` value: "), col("_metadata.file_path"))))
      .otherwise(col(c))

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
      case None => Seq(spark.read.parquet(files.map(_.path): _*))
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
    table.typedStruct.getOrElse(
      spark.read.parquet(dataFile.path).select(table.schemaColumns.map(col): _*).schema)

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
    * `dataFiles` (canonical path -> bitmap) in one Spark job, without a
    * shuffle: each scan task folds its own rows, and the driver unions the
    * serialized partial bitmaps and maps the spellings. Rows naming other
    * files are dropped; a negative `pos` names no row and is skipped.
    *
    * The input is the delete files' own scan, so there is at most one
    * partial per (task, named file) and never more than one per delete
    * row; each costs about what that row cost in the broadcast relation
    * the byte gate already admits. */
  private def positionBitmaps(spark: SparkSession, files: Seq[FileEntry],
      dataFiles: Seq[FileEntry]): Map[String, Puffin.PositionBitmap] = {
    val rows = readPositionDeletes(spark, files).filter(col(PosCol) >= 0)
    val parts = rows.queryExecution.toRdd.mapPartitions { it =>
      val byFile = new java.util.HashMap[String, Puffin.PositionBitmap]()
      var lastFile: org.apache.spark.unsafe.types.UTF8String = null
      var bitmap: Puffin.PositionBitmap = null
      it.foreach { r =>
        // readPositionDeletes already fails on a null; a second guard here
        // keeps an UnsafeRow's null long (read back as 0) out of the bitmap
        if (r.isNullAt(0) || r.isNullAt(1))
          throw new IllegalStateException("position-delete row with a null file_path or pos")
        val file = r.getUTF8String(0)
        if (lastFile == null || lastFile != file) {
          lastFile = file.copy()
          bitmap = byFile.computeIfAbsent(file.toString, _ => Puffin.PositionBitmap.empty)
        }
        bitmap.add(r.getLong(1))
      }
      import scala.jdk.CollectionConverters._
      byFile.asScala.iterator.map { case (f, b) => (f, b.serializePortable) }
    }.collect()
    val remap = pathSpellings(dataFiles)
    val canon = dataFiles.map(f => canonicalManifestPath(f.path)).toSet
    val out = scala.collection.mutable.HashMap.empty[String, Puffin.PositionBitmap]
    for ((file, bytes) <- parts) {
      val c = remap.getOrElse(file, file)
      if (canon.contains(c)) {
        val b = Puffin.PositionBitmap.deserializePortable(bytes)
        out.get(c).fold(out(c) = b)(_.addAll(b))
      }
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

  /** The equality-delete `files` of `table`, one entry per run of
    * [[equalityDeleteGroups]]: the run's key columns by their CURRENT
    * names, its files, and its key rows under those names plus
    * [[DelSeqCol]]. On a typed table the authoritative key is the
    * `equalityFieldIds` list and the files are read by field id, so the
    * keys match across renames. Both the MOR anti join and the
    * changelog's delete attribution read keys here. */
  def equalityDeleteKeys(spark: SparkSession, table: TableMetadata,
      files: Seq[FileEntry]): Seq[(Seq[String], Seq[FileEntry], DataFrame)] = {
    val resolved =
      if (!table.isTyped) files
      else files.map { f =>
        if (f.equalityFieldIds.isEmpty) f
        else f.copy(equalityIds = f.equalityFieldIds.map(id => table.fieldById(id)
          .getOrElse(sys.error(s"equality-delete field id $id not in table schema")).name))
      }
    equalityDeleteGroups(resolved).map { case (eqIds, run) =>
      val keys =
        if (!table.isTyped) spark.read.parquet(run.map(_.path): _*)
        else GraftScan.relation(spark, run, StructType(eqIds.map(n => table.fieldByName(n)
            .getOrElse(sys.error(s"equality-delete column $n not in table schema")).toStructField)),
          statsRetired = table.statsRetiredNames, metadataAggregates = false, byFieldId = true)
      val rows = keys.select(eqIds.map(col) :+
        DvExpressions.fileConstant(col("_metadata.file_path"), fileLookup(run),
          FileLookup.DataSeq).as(DelSeqCol): _*)
      (eqIds, run, rows)
    }
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
    *                    under it, position deletes and deletion vectors
    *                    are bitmaps probed in the scan and equality
    *                    deletes broadcast; past it, Catalyst's joins.
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
    val needSeq = eqDeletes.nonEmpty
    val needFilePos = posJoin || dvJoin || keepHidden

    val projected = table.schemaColumns.map(col)
    val hidden = if (keepHidden) Seq(col(FilePathCol), col(PosCol)) else Nil
    val lineage = if (keepRowIds) Seq(col(RowIdCol), col(LastUpdatedSeqCol)) else Nil

    // no deletes: plain projected scan (datafusion_processor.rs:447-458)
    if (!needSeq && bitmaps.isEmpty && !needFilePos && !keepRowIds)
      return readData(_.select(projected: _*))

    val lookup = fileLookup(group.dataFiles, bitmaps)
    val file = col("_metadata.file_path")
    val rowIndex = col("_metadata.row_index")
    def dataSeq = DvExpressions.fileConstant(file, lookup, FileLookup.DataSeq)
    var df = readData { rel =>
      val live =
        if (bitmaps.isEmpty) rel
        else rel.filter(!DvExpressions.dvContains(file, rowIndex, lookup))
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

    // one anti join per equality-ids run, in manifest order
    // (datafusion_processor.rs:524-571)
    for ((eqIds, files, keys) <- equalityDeleteKeys(spark, table, eqDeletes)) {
      val del = keys.select(eqIds.map(c => col(c).as(s"__del_$c")) :+ col(DelSeqCol): _*)
      val eqCond = eqIds.map(c => df(c) === col(s"__del_$c")).reduceOption(_ && _)
      val seqCond = df(SeqNumCol) < col(DelSeqCol)
      val cond = eqCond.map(_ && seqCond).getOrElse(seqCond)
      // empty-keys theta join stays broadcast regardless: a non-broadcast
      // nested-loop over two big sides has no good plan anyway, and the
      // reference emits the same degenerate shape
      val gatedDel =
        if (eqIds.isEmpty) broadcast(del)
        else gated(del, files.map(_.length).sum, broadcastDeleteBytesMax)
      df = df.join(gatedDel, cond, "left_anti")
    }

    df.select(projected ++ hidden ++ lineage: _*)
  }
}
