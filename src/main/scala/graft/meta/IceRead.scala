package graft.meta

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.exec.Mor
import graft.selection.FileGroup

/** User-facing read API: the merge-on-read view of a committed table —
  * what a query engine on top of this format would expose as
  * `spark.read.format("icelite").table(name)`.
  *
  * Builds one [[FileGroup]] from the branch snapshot's scan tasks and
  * returns [[Mor.dataFrame]] over it: data parquet scan, live position
  * deletes probed as per-file bitmaps and live equality deletes as key
  * tables inside it, hidden columns dropped.
  * The plan is the same shape the compaction rewrite executes, so reads
  * scale identically (no shuffle on the data path).
  */
object IceRead {

  def table(spark: SparkSession, catalog: Catalog, name: String, branch: String = "main"): DataFrame = {
    val meta = catalog.loadTable(name)
    // a VIEW entry has no files: reading it as a table would silently
    // return an empty frame — refuse and point at the right door
    require(!Views.isView(meta),
      s"$name is a VIEW — query it through GraftSql (SELECT FROM <cat>.$name) " +
        "or substitute Views.plan")
    // only main may be missing: an explicit branch stays strict
    val snapOpt =
      if (branch == "main") meta.branchHead(branch) else Some(meta.requireBranchHead(branch))
    snapOpt match {
      case Some(snap) => ofSnapshot(spark, meta, snap)
      case None =>
        // a table CREATED but never committed to (REST CreateTableRequest,
        // an attached empty foreign table) reads as EMPTY with its
        // declared schema — the same contract every engine gives a fresh
        // table — rather than throwing "no snapshot"
        require(meta.isTyped,
          s"table $name has no snapshot and no typed schema to shape an empty read")
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(meta.schema.map(_.toStructField)))
    }
  }

  /** Time travel: the MOR view of a specific historical snapshot. */
  def tableAt(spark: SparkSession, catalog: Catalog, name: String, snapshotId: Long): DataFrame = {
    val meta = catalog.loadTable(name)
    val snap = meta.snapshotById(snapshotId)
      .getOrElse(throw new IllegalStateException(s"table $name has no snapshot $snapshotId"))
    ofSnapshot(spark, meta, snap)
  }

  /** Time travel by tag: the MOR view at an immutable named ref. */
  def tableAtTag(spark: SparkSession, catalog: Catalog, name: String, tag: String): DataFrame = {
    val meta = catalog.loadTable(name)
    val id = meta.tags.getOrElse(tag,
      throw new IllegalArgumentException(s"table $name has no tag $tag"))
    tableAt(spark, catalog, name, id)
  }

  /** Time travel by wall clock: the newest snapshot committed at or
    * before `timestampMs` (Iceberg's TIMESTAMP AS OF). */
  def tableAsOf(spark: SparkSession, catalog: Catalog, name: String, timestampMs: Long): DataFrame = {
    val meta = catalog.loadTable(name)
    val snap = meta.snapshots.filter(_.timestampMs <= timestampMs)
      .sortBy(s => (s.timestampMs, s.snapshotId)).lastOption
      .getOrElse(throw new IllegalStateException(
        s"table $name has no snapshot at or before $timestampMs"))
    ofSnapshot(spark, meta, snap)
  }

  /** Partition-pruned read: drops manifest entries whose partition values
    * don't match before any Spark plan exists — at 100 TB this is the
    * difference between scanning one partition's files and listing a
    * million. Pruning is CONSERVATIVE: a file written under an older
    * partition spec (no value recorded for the key) is kept, and a
    * residual row filter derived from the current spec makes the result
    * exact anyway — so the read stays correct across partition-spec
    * evolution, and files from the current spec still prune away. Delete
    * files are scoped through scanTasks as before.
    *
    * Filter keys must be in the CURRENT partition spec: for a dropped key
    * there is no current transform to derive a residual filter from, so
    * old files kept by the conservative rule could leak non-matching rows
    * — rejected loudly instead. (Transform changes for an in-spec column
    * are rejected at evolution time, SchemaEvolution.updatePartitionSpec,
    * so the residual below always matches the domain of every recorded
    * manifest value.) */
  def tablePartition(spark: SparkSession, catalog: Catalog, name: String,
      partitionFilter: Map[String, String], branch: String = "main"): DataFrame = {
    val meta = catalog.loadTable(name)
    for (k <- partitionFilter.keys)
      require(meta.partitionSpec.exists(_.column == k),
        s"partition filter key $k is not in the current partition spec of $name " +
          s"(${meta.partitionSpec.map(_.column).mkString(", ")}); " +
          "filter the plain read instead")
    val snap = meta.requireBranchHead(branch)
    val pruned = ofSnapshot(spark, meta, snap, t =>
      // non-current-spec files (imported historical specs, or re-marked by
      // a transform evolution) record values in ANOTHER transform's
      // domain: never value-prune them, keep conservatively — the
      // residual row filter below corrects exactly
      t.specId != 0 ||
        partitionFilter.forall { case (k, v) =>
          t.partitionValues.get(k).forall(_ == v) // absent key -> keep (old spec)
        })
    // residual filter: recompute the partition expression per row for the
    // filtered keys (one shared definition with the writer,
    // SparkExecutor.partitionExpr), compared on the manifest's stringified
    // form
    partitionFilter.foldLeft(pruned) { case (df, (k, v)) =>
      // presence guaranteed by the require above — every filter key is in
      // the current spec
      val p = meta.partitionSpec.find(_.column == k).get
      df.filter(graft.exec.SparkExecutor.partitionExpr(p).cast("string") === v)
    }
  }

  /** Zone-map-pruned range read: files whose manifest min/max for `col`
    * cannot intersect [lo, hi] are dropped before planning (files without
    * stats are kept); the residual row filter is applied on top, so the
    * result equals `table(...).filter(col between lo and hi)` while
    * scanning only the matching files. */
  def tableRange(spark: SparkSession, catalog: Catalog, name: String,
      colName: String, lo: BigDecimal, hi: BigDecimal, branch: String = "main"): DataFrame = {
    val meta = catalog.loadTable(name)
    val snap = meta.requireBranchHead(branch)
    import org.apache.spark.sql.functions.col
    // retired stats names (renamed-away/dropped then possibly reused):
    // the recorded bounds may describe ANOTHER field — keep every file.
    // STRING columns must also never range-prune here: their recorded
    // bounds are LEXICOGRAPHIC min/max, so a numeric-looking bounds pair
    // like ("10","9") (values {"9","10"}) would wrongly drop a file
    // containing "10" for the numeric range [10,10] — silent row loss
    // (the residual filter casts numerically, the manifest compares as
    // text). An UNTYPED table cannot prove its column non-string, so it
    // never manifest-prunes either; the residual filter keeps the result
    // exact.
    val provablyNumeric = meta.fieldByName(colName).exists(f =>
      f.isTyped && (f.sparkType match {
        case _: org.apache.spark.sql.types.StringType => false
        case _: org.apache.spark.sql.types.CharType => false
        case _: org.apache.spark.sql.types.VarcharType => false
        case _: org.apache.spark.sql.types.BinaryType => false
        case _ => true
      }))
    val keep: FileEntry => Boolean =
      if (meta.statsRetiredNames.contains(colName) || !provablyNumeric) _ => true
      else _.mayContainRange(colName, lo, hi)
    ofSnapshot(spark, meta, snap, keep)
      .filter(col(colName) >= lo.toDouble && col(colName) <= hi.toDouble)
  }

  /** Manifest entries a range read would scan (for tests/inspection). */
  def selectFilesByRange(meta: TableMetadata, snap: Snapshot,
      colName: String, lo: BigDecimal, hi: BigDecimal): Seq[FileEntry] =
    meta.scanTasks(snap).filter(_.mayContainRange(colName, lo, hi))

  /** MOR view of the current snapshot PLUS the v3 `_row_id` lineage
    * column: a row's id is stable across deletes, upserts of OTHER keys,
    * and compaction (rewrites materialize it) — the identity downstream
    * attribution and audit joins key on. Requires a v3, typed table. */
  def tableWithRowIds(spark: SparkSession, catalog: Catalog, name: String,
      branch: String = "main"): DataFrame = {
    val meta = catalog.loadTable(name)
    require(meta.formatVersion >= 3,
      s"row lineage requires format version >= 3 (table $name is v${meta.formatVersion})")
    ofSnapshot(spark, meta, meta.requireBranchHead(branch), keepRowIds = true)
  }

  /** The MOR view of one snapshot; `keepHidden` retains
    * [[Mor.FilePathCol]]/[[Mor.PosCol]] row lineage (changelog delete
    * attribution needs to address live rows physically). */
  private[meta] def ofSnapshot(spark: SparkSession, meta: TableMetadata, snap: Snapshot,
      keep: FileEntry => Boolean = _ => true, keepHidden: Boolean = false,
      keepRowIds: Boolean = false): DataFrame = {
    val all = meta.scanTasks(snap)
    // a TYPED empty table (e.g. just created via SQL CREATE TABLE, or
    // truncated) reads as an empty relation with the declared schema —
    // `SELECT count(*)` must return 0, not error. Untyped tables have no
    // schema to synthesize a frame from, so they keep the hard error.
    require(all.nonEmpty || meta.typedStruct.isDefined,
      s"table ${meta.name} is empty")
    val tasks = all.filter(keep)
    if (tasks.isEmpty) {
      // pruned to nothing: an empty frame with the table schema, not an
      // error — a filter that matches no partition/zone is a valid query
      val base = Mor.readSchema(spark, meta, all.head)
      val schema =
        if (keepHidden) org.apache.spark.sql.types.StructType(base.fields ++ Seq(
          org.apache.spark.sql.types.StructField(Mor.FilePathCol, org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField(Mor.PosCol, org.apache.spark.sql.types.LongType)))
        else base
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    // partition-scoped equality deletes split the read into one MOR plan
    // per partition, unioned: each keeps the shuffle-free scan -> filter
    // -> project shape, so the union is just more parallel scan
    // partitions, not a different plan at scale
    FileGroup.ofTasks(snap, tasks).map { g =>
      Mor.dataFrame(spark, meta, g, keepHidden = keepHidden, keepRowIds = keepRowIds)
    }.reduce(_ unionAll _)
  }

  /** `snapshots` metadata table (like Iceberg's `table$snapshots`): one
    * row per snapshot with lineage, sequence, and summary — the history a
    * user inspects before time travel or expiry. */
  def snapshots(spark: SparkSession, catalog: Catalog, name: String): DataFrame = {
    import spark.implicits._
    val meta = catalog.loadTable(name)
    meta.snapshots.map { s =>
      (s.snapshotId, s.parentId, s.sequenceNumber, s.timestampMs,
        s.summary.getOrElse("operation", ""),
        s.manifest.count(_.content == FileContent.Data).toLong,
        s.manifest.count(_.content != FileContent.Data).toLong,
        s.summary)
    }.toDF("snapshot_id", "parent_id", "sequence_number", "timestamp_ms",
      "operation", "data_files", "delete_files", "summary")
  }

  /** `files` metadata table (like Iceberg's `table$files`): the branch
    * head's manifest as rows — path, content, size, records, sequence,
    * partition, equality ids. */
  def files(spark: SparkSession, catalog: Catalog, name: String,
      branch: String = "main"): DataFrame = {
    import spark.implicits._
    val meta = catalog.loadTable(name)
    val snap = meta.requireBranchHead(branch)
    snap.manifest.map { f =>
      (f.path, f.content.toString, f.length, f.recordCount, f.sequenceNumber,
        f.partitionValues, f.equalityIds, f.equalityFieldIds)
    }.toDF("file_path", "content", "file_size_bytes", "record_count",
      "sequence_number", "partition", "equality_ids", "equality_field_ids")
  }

  /** `partitions` metadata table (like Iceberg's `table$partitions`): one
    * row per partition of the branch head with file/record/byte totals and
    * delete-file counts — the planning input for partition-scoped
    * compaction and the first thing an operator inspects on a skewed
    * table. A partition is `(spec_id, partition)`, the [[FileEntry.specId]]
    * marker and its values, as in Iceberg's own `partitions` table.
    * Metadata-only (driver-side manifest aggregation, no scan); record
    * counts are manifest counts, i.e. PRE-merge-on-read totals. */
  def partitions(spark: SparkSession, catalog: Catalog, name: String,
      branch: String = "main"): DataFrame = {
    import spark.implicits._
    val meta = catalog.loadTable(name)
    val snap = meta.requireBranchHead(branch)
    FileGroup.byPartition(snap.manifest).map { files =>
      val (data, del) = files.partition(_.content == FileContent.Data)
      (files.head.partitionValues, data.size.toLong, data.map(_.recordCount).sum,
        data.map(_.length).sum, del.count(_.content == FileContent.PositionDeletes).toLong,
        del.count(_.content == FileContent.EqualityDeletes).toLong, files.head.specId)
    }.toDF("partition", "data_files", "record_count", "total_bytes",
        "position_delete_files", "equality_delete_files", "spec_id")
  }

  /** `count(*)` answered from manifest record counts alone — zero data
    * scan, the stats-only COUNT shortcut Iceberg engines take. At 100 TB
    * this is the difference between a driver-side sum over the manifest
    * and a full-table scan job. Exact ONLY when no delete file shades
    * the snapshot: a tombstone's row-count effect cannot be known
    * without reading data (a position delete may target an already-dead
    * row, an equality delete may match 0..n rows), so any live delete
    * file returns None and the caller falls back to
    * `table(...).count()`. */
  def fastCount(catalog: Catalog, name: String, branch: String = "main"): Option[Long] = {
    val meta = catalog.loadTable(name)
    val snap = meta.requireBranchHead(branch)
    val (data, deletes) = snap.manifest.partition(_.content == FileContent.Data)
    if (deletes.nonEmpty) None else Some(data.map(_.recordCount).sum)
  }

  /** min/max of a numeric column answered from manifest zone maps alone
    * — zero data scan. Exact ONLY when no delete file shades the
    * snapshot (a delete could remove the extreme row) AND every data
    * file carries stats for the column (a file without them could hide
    * the true extreme); returns None otherwise, and None on an empty
    * table (no rows have no min). Values come back as the decimal
    * strings the zone maps store. */
  def fastMinMax(catalog: Catalog, name: String, column: String,
      branch: String = "main"): Option[(BigDecimal, BigDecimal)] = {
    val meta = catalog.loadTable(name)
    val snap = meta.requireBranchHead(branch)
    val (data, deletes) = snap.manifest.partition(_.content == FileContent.Data)
    val live = data.filter(_.recordCount > 0)
    if (deletes.nonEmpty || live.isEmpty) return None
    val bounds = live.map(f => f.columnStats.get(column).map { case (mn, mx) =>
      try Some((BigDecimal(mn), BigDecimal(mx)))
      catch { case _: NumberFormatException => None }
    }.flatten)
    if (bounds.exists(_.isEmpty)) None
    else {
      val bs = bounds.flatten
      Some((bs.map(_._1).min, bs.map(_._2).max))
    }
  }

  /** `refs` metadata table (like Iceberg's `table$refs`): every named
    * ref — movable branches and immutable tags — with its snapshot. */
  def refs(spark: SparkSession, catalog: Catalog, name: String): DataFrame = {
    import spark.implicits._
    val meta = catalog.loadTable(name)
    (meta.refs.toSeq.sortBy(_._1).map { case (n, id) => (n, "branch", id) } ++
      meta.tags.toSeq.sortBy(_._1).map { case (n, id) => (n, "tag", id) })
      .toDF("name", "type", "snapshot_id")
  }

  /** `history` metadata table (like Iceberg's `table$history`): every
    * snapshot with whether it is an ancestor of the CURRENT head — the
    * rollback-aware lineage view (after a rollback, abandoned snapshots
    * stay readable but show is_current_ancestor = false). */
  def history(spark: SparkSession, catalog: Catalog, name: String): DataFrame = {
    import spark.implicits._
    val meta = catalog.loadTable(name)
    val ancestors = Iterator.iterate(meta.currentSnapshot)(
        _.flatMap(_.parentId).flatMap(meta.snapshotById))
      .takeWhile(_.isDefined).flatten.map(_.snapshotId).toSet
    meta.snapshots.map { s =>
      (s.timestampMs, s.snapshotId, s.parentId, ancestors.contains(s.snapshotId))
    }.toDF("made_current_at", "snapshot_id", "parent_id", "is_current_ancestor")
  }

  /** `metrics` metadata table: the spec scan/commit reports foreign
    * readers POST to the REST metrics endpoint, persisted (bounded, see
    * [[IcebergRestServe]]) under `<location>/metadata/metrics/` and
    * served back through SQL — the observability signal a catalog
    * operator reads (the reference records the analogous registry,
    * core/src/common/metrics.rs:24-52). Numeric leaves of the report's
    * `metrics` object flatten to dotted keys (`result-data-files.value`,
    * `total-planning-duration.total-duration`, ...). Empty for tables
    * never served or never reported against. */
  def metrics(spark: SparkSession, catalog: Catalog, name: String): DataFrame = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val dir = MetaIO.join(catalog.loadTable(name).location, "metadata", "metrics")
    // bounded by the server's retention (a few hundred small JSON files):
    // driver-side decode, like every other metadata table
    val rows: Seq[org.apache.spark.sql.Row] =
      MetaIO.listFiles(dir).map(_._1).sorted.flatMap { p =>
        scala.util.Try(JsonMethods.parse(MetaIO.readString(p))).toOption
      }.map { j =>
        def strOf(v: JValue): Option[String] = v match {
          case JString(s) => Some(s); case _ => None
        }
        def lngOf(v: JValue): Option[Long] = v match {
          case JInt(x) => Some(x.toLong); case JLong(x) => Some(x); case _ => None
        }
        // DOUBLE leaves: integer counters/timers are exact to 2^53, and a
        // fractional metric (json4s: JDouble/JDecimal) must not silently
        // vanish from the observability table
        def flat(prefix: String, v: JValue): Seq[(String, Double)] = v match {
          case JObject(kv) => kv.flatMap { case (k, x) =>
            flat(if (prefix.isEmpty) k else s"$prefix.$k", x) }
          case JDouble(x) => Seq(prefix -> x)
          case JDecimal(x) => Seq(prefix -> x.toDouble)
          case other => lngOf(other).map(prefix -> _.toDouble).toSeq
        }
        org.apache.spark.sql.Row(
          lngOf(j \ "received-at-ms").map(Long.box).orNull,
          strOf(j \ "report-type").orNull,
          lngOf(j \ "snapshot-id").map(Long.box).orNull,
          lngOf(j \ "schema-id").map(Long.box).orNull,
          (j \ "filter") match {
            case JNothing | JNull => null
            case f => JsonMethods.compact(JsonMethods.render(f))
          },
          (j \ "projected-field-names") match {
            case JArray(xs) => xs.collect { case JString(s) => s }
            case _ => Seq.empty[String]
          },
          flat("", j \ "metrics").toMap,
          (j \ "metadata") match {
            case JObject(kv) => kv.collect { case (k, JString(v)) => k -> v }.toMap
            case _ => Map.empty[String, String]
          })
      }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("received_at_ms", LongType),
      StructField("report_type", StringType),
      StructField("snapshot_id", LongType),
      StructField("schema_id", LongType),
      StructField("filter", StringType),
      StructField("projected_field_names", ArrayType(StringType, containsNull = false)),
      StructField("metrics", MapType(StringType, DoubleType, valueContainsNull = false)),
      StructField("metadata", MapType(StringType, StringType, valueContainsNull = false))))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** `all_files` metadata table (like Iceberg's `table$all_files`): one
    * row per (snapshot, manifest entry) across the WHOLE history — the
    * input for retention/GC auditing ("which snapshots still pin this
    * file"). Metadata-only; a path appears once per snapshot that lists
    * it. */
  def allFiles(spark: SparkSession, catalog: Catalog, name: String): DataFrame = {
    import spark.implicits._
    val meta = catalog.loadTable(name)
    meta.snapshots.flatMap { s =>
      s.manifest.map(f => (s.snapshotId, f.path, f.content.toString,
        f.length, f.recordCount, f.sequenceNumber))
    }.toDF("snapshot_id", "file_path", "content", "file_size_bytes",
      "record_count", "sequence_number")
  }

  /** `entries` metadata table (like Iceberg's `table$entries`): one row
    * per manifest entry of the branch head, with the spec's entry fields
    * — `status` (1 = ADDED by the head snapshot, 0 = EXISTING, i.e. the
    * same encoding the Iceberg export writes), the snapshot that ADDED
    * the file (derived from history: the first snapshot listing it), and
    * the data-file facts. Metadata-only. */
  /** Adding snapshot per file key: the first (oldest-sequence) snapshot
    * listing it — shared by [[entries]] and [[allEntries]] so the two
    * metadata tables can never disagree on the derivation. */
  private def addedBySnapshot(meta: TableMetadata): Map[String, Long] =
    meta.snapshots.sortBy(_.sequenceNumber)
      .flatMap(s => s.manifest.map(f => f.resolutionKey -> s.snapshotId))
      .groupBy(_._1).view.mapValues(_.head._2).toMap

  def entries(spark: SparkSession, catalog: Catalog, name: String,
      branch: String = "main"): DataFrame = {
    import spark.implicits._
    val meta = catalog.loadTable(name)
    val snap = meta.requireBranchHead(branch)
    val addedBy = addedBySnapshot(meta)
    snap.manifest.map { f =>
      (if (f.sequenceNumber == snap.sequenceNumber) 1 else 0,
        addedBy.getOrElse(f.resolutionKey, snap.snapshotId),
        f.sequenceNumber, f.sequenceNumber,
        f.path, f.content.toString, f.length, f.recordCount, f.partitionValues)
    }.toDF("status", "snapshot_id", "sequence_number", "file_sequence_number",
      "file_path", "content", "file_size_in_bytes", "record_count", "partition")
  }

  /** `manifests` metadata table (like Iceberg's `table$manifests`): one
    * row per manifest GROUP of the branch head. Graft's manifests live
    * embedded in the table metadata rather than as separate avro files,
    * so each row describes the (content, partition-spec) group an
    * Iceberg export would write as one manifest — same grouping, same
    * counts — with `path` empty until an export materializes it. */
  def manifests(spark: SparkSession, catalog: Catalog, name: String,
      branch: String = "main"): DataFrame = {
    import spark.implicits._
    val meta = catalog.loadTable(name)
    val snap = meta.requireBranchHead(branch)
    snap.manifest.groupBy(f =>
      (if (f.content == FileContent.Data) 0 else 1, f.specId)).toSeq.sortBy(_._1)
      .map { case ((content, specId), files) =>
        val added = files.filter(_.sequenceNumber == snap.sequenceNumber)
        val existing = files.filterNot(_.sequenceNumber == snap.sequenceNumber)
        ("", content, specId, snap.snapshotId,
          added.size.toLong, existing.size.toLong,
          added.map(_.recordCount).sum, existing.map(_.recordCount).sum,
          files.map(_.sequenceNumber).min, snap.sequenceNumber)
      }.toDF("path", "content", "partition_spec_id", "added_snapshot_id",
        "added_files_count", "existing_files_count",
        "added_rows_count", "existing_rows_count",
        "min_sequence_number", "sequence_number")
  }

  /** `all_entries` metadata table (like Iceberg's `table$all_entries`):
    * [[entries]] across the WHOLE history — one row per (snapshot,
    * manifest entry), ADDED/EXISTING relative to each listing snapshot.
    * Metadata-only. */
  def allEntries(spark: SparkSession, catalog: Catalog, name: String): DataFrame = {
    import spark.implicits._
    val meta = catalog.loadTable(name)
    val addedBy = addedBySnapshot(meta)
    meta.snapshots.flatMap { snap =>
      snap.manifest.map { f =>
        (snap.snapshotId,
          if (f.sequenceNumber == snap.sequenceNumber) 1 else 0,
          addedBy.getOrElse(f.resolutionKey, snap.snapshotId),
          f.sequenceNumber, f.path, f.content.toString, f.length,
          f.recordCount, f.partitionValues)
      }
    }.toDF("listing_snapshot_id", "status", "snapshot_id", "sequence_number",
      "file_path", "content", "file_size_in_bytes", "record_count", "partition")
  }

  /** `position_deletes` metadata table (like Iceberg's
    * `table$position_deletes`): every live position tombstone of the
    * branch head as (file_path, pos) rows with provenance — parquet
    * delete files read distributed, deletion vectors decoded
    * EXECUTOR-side from their Puffin blob coordinates (one ranged read
    * per blob, never the whole container on the driver). The delete
    * debugging view: "which rows of which files are shaded, and by which
    * delete file". */
  def positionDeletes(spark: SparkSession, catalog: Catalog, name: String,
      branch: String = "main"): DataFrame = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val meta = catalog.loadTable(name)
    val snap = meta.requireBranchHead(branch)
    val (dvs, posFiles) = snap.manifest
      .filter(_.content == FileContent.PositionDeletes)
      .partition(_.isDeletionVector)
    val cols = Seq("file_path", "pos", "delete_file", "sequence_number")
    val empty = Seq.empty[(String, Long, String, Long)].toDF(cols: _*)
    val fromParquet =
      if (posFiles.isEmpty) empty
      else {
        // join key: _metadata.file_path is a file: URI; the manifest
        // stores plain paths — normalize the scheme off before matching
        val seqOf = posFiles.map(f => (MetaIO.normalize(f.path), f.path, f.sequenceNumber))
          .toDF("__k", "delete_file", "sequence_number")
        Mor.readPositionDeletes(spark, posFiles,
            Mor.normalizePath(col("_metadata.file_path")).as("__k"))
          .withColumnRenamed(Mor.FilePathCol, "file_path")
          .withColumnRenamed(Mor.PosCol, "pos")
          // tiny dimension (one row per delete file): broadcast by size
          .join(org.apache.spark.sql.functions.broadcast(seqOf), Seq("__k"))
          .select(cols.map(col): _*)
      }
    val fromDvs =
      if (dvs.isEmpty) empty
      else {
        val coords = dvs.map(e => (e.path, e.contentOffset.getOrElse(0L),
          e.contentSizeInBytes.get, e.referencedDataFile.get, e.sequenceNumber))
        spark.createDataset(coords).flatMap { case (path, off, len, referenced, seq) =>
          Puffin.decodeDvBlob(Puffin.readBlob(path, off, len))
            .positions.map(p => (referenced, p, path, seq))
        }.toDF(cols: _*)
      }
    fromParquet.unionAll(fromDvs)
  }

  /** Registers the MOR view as a temp view for SQL access. */
  def createTempView(spark: SparkSession, catalog: Catalog, name: String,
      viewName: String, branch: String = "main"): Unit =
    table(spark, catalog, name, branch).createOrReplaceTempView(viewName)

  /** One-call SQL attach: every table in the catalog becomes a temp view
    * (optionally `prefix`ed) and the native graft functions (vec_dot,
    * jaccard_ge, nfc, iceberg_bucket, minhash_lanes, vec_hamming)
    * register in the session — after this, plain `spark.sql` queries the
    * whole warehouse with MOR semantics and pushdown intact (views are
    * plans, not materializations; Catalyst optimizes through them).
    * Returns the attached view names. */
  def attachViews(spark: SparkSession, catalog: Catalog,
      prefix: String = ""): Seq[String] = {
    graft.functions.GraftExtensions.register(spark)
    catalog.listTables.flatMap { t =>
      // one unattachable table (snapshot-less, or emptied by partition
      // drops) must not abort the whole warehouse attach
      try { val v = prefix + t; createTempView(spark, catalog, t, v); Some(v) }
      catch {
        case e: Exception =>
          System.err.println(s"[attachViews] skipping $t: ${e.getMessage}")
          None
      }
    }
  }
}
