package graft.meta

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.exec.SparkExecutor
import graft.selection.Defaults

/** Write/ingest API for the table format: create, append, and MOR delete
  * files, each committed as a CAS-retried snapshot. Together with
  * [[IceRead]] this closes the loop — a pipeline can ingest (batch or
  * streaming via foreachBatch), delete by key or position, query the MOR
  * view, compact, and garbage-collect, all against the same metadata.
  */
object IceWrite {

  /** Creates the table and commits the DataFrame as snapshot 1 — in ONE
    * metadata write: data files are staged first (the table location is
    * known before the table exists — write-then-commit, the Iceberg
    * pattern), then the catalog's create persists metadata that already
    * carries snapshot 1. The previous two-step (empty create + append
    * commit) paid a second full metadata round trip on EVERY table
    * creation — measurable on commit-I/O-bound paths like the index
    * builders and CDC mirrors, pure waste at any scale. */
  def create(
      spark: SparkSession,
      catalog: Catalog,
      name: String,
      df: DataFrame,
      partitionSpec: Seq[PartitionField] = Nil,
      sortOrder: Seq[SortField] = Nil,
      formatVersion: Int = 2,
      targetFileSizeBytes: Long = Defaults.TargetFileSize,
      /** table properties riding the SAME create commit — idempotence
        * fences ([[exactlyOnceAppend]]'s first batch) need the rows and
        * the fence indivisible from the very first snapshot. */
      extraProperties: Map[String, String] = Map.empty): TableMetadata = {
    require(!catalog.tableExists(name), s"table $name already exists")
    val schema = SchemaField.fromStruct(df.schema)
    val table = TableMetadata(
      name = name, location = catalog.tableLocation(name), formatVersion = formatVersion,
      schema = schema, lastColumnId = schema.map(_.id).foldLeft(0)(math.max),
      partitionSpec = partitionSpec, sortOrder = sortOrder,
      properties = extraProperties)
    val written = SparkExecutor.writeTableFiles(spark, table, df,
      targetFileSizeBytes = targetFileSizeBytes)
    require(written.nonEmpty || df.isEmpty, s"create of $name wrote no files")
    catalog.createTable(table
      .withSnapshot(None,
        written.map(_.copy(content = FileContent.Data, sequenceNumber = 1L)),
        "append", 1L))
  }

  /** Appends rows as new data files (new snapshot, fresh sequence number).
    * `branch` targets a non-main ref; `stageWapId` commits the snapshot
    * UNPUBLISHED (write-audit-publish — see [[cherrypickSnapshot]]). */
  def append(spark: SparkSession, catalog: Catalog, name: String, df: DataFrame,
      targetFileSizeBytes: Long = Defaults.TargetFileSize,
      extraProperties: Map[String, String] = Map.empty,
      branch: String = "main",
      stageWapId: Option[String] = None): TableMetadata =
    appendInternal(spark, catalog, name, df, FileContent.Data, Nil, targetFileSizeBytes,
      branch = branch, extraProperties = extraProperties, stageWapId = stageWapId)

  /** Append with a post-write, pre-commit validation hook: the hook sees
    * the written file entries AFTER the one data pass completes (so an
    * `observe` attached to `df` has its metrics) and BEFORE any metadata
    * commits — throwing aborts the append with nothing visible. Powers
    * [[Constraints.checkedAppend]]'s single-pass CHECK enforcement. */
  private[meta] def appendValidated(spark: SparkSession, catalog: Catalog, name: String,
      df: DataFrame, afterWrite: Seq[FileEntry] => Unit): TableMetadata =
    appendInternal(spark, catalog, name, df, FileContent.Data, Nil,
      Defaults.TargetFileSize, afterWrite = afterWrite)

  /** Appends an equality-delete file: every existing row whose `equalityIds`
    * columns match a key row (and whose sequence number is older) vanishes
    * from the MOR view. `keys` must contain exactly the equality columns. */
  def appendEqualityDeletes(spark: SparkSession, catalog: Catalog, name: String,
      keys: DataFrame, equalityIds: Seq[String]): TableMetadata = {
    require(keys.columns.toSeq.sorted == equalityIds.sorted,
      s"keys columns ${keys.columns.toSeq} must equal equalityIds $equalityIds")
    appendInternal(spark, catalog, name, keys.select(equalityIds.map(org.apache.spark.sql.functions.col): _*),
      FileContent.EqualityDeletes, equalityIds, Defaults.TargetFileSize)
  }

  /** Appends a position-delete file; `positions` needs (file_path, pos). */
  def appendPositionDeletes(spark: SparkSession, catalog: Catalog, name: String,
      positions: DataFrame): TableMetadata = {
    require(positions.columns.toSet == Set("file_path", "pos"),
      "positions must have columns (file_path, pos)")
    appendInternal(spark, catalog, name, positions, FileContent.PositionDeletes, Nil,
      Defaults.TargetFileSize)
  }

  /** Iceberg's `add_files` migration: registers EXISTING parquet files as
    * table data with ZERO data read or rewrite — record counts and zone
    * maps come from file footers alone, so importing 100 TB costs one
    * footer read per file and one metadata commit. The commit is a normal
    * CAS-retried append snapshot at a fresh sequence number (existing
    * equality deletes, which only kill OLDER sequences, provably cannot
    * shade the imported rows).
    *
    * Imported files carry no parquet field ids, so their manifest entries
    * are marked `nameMatched` and reads resolve their columns BY NAME
    * ([[graft.exec.Mor]] reads them through a separate id-stripped
    * relation unioned with the id-addressed one). Column renames are
    * refused while such files are live; compaction rewrites them with ids
    * stamped, graduating the table back to rename-safe addressing.
    *
    * Footer-only validation: every table column must be present by name
    * in every file unless the column has an `initial-default` (which
    * fills it per file); the merged Spark read schema must agree with the
    * declared column types. Partition values come from hive-style
    * `col=value` path segments for IDENTITY transform columns (the only
    * transform whose directory value equals the column value); partition
    * columns must ALSO be materialized inside the files — this engine
    * addresses files by explicit path, never by directory convention, so
    * a value living only in the directory name would read as missing.
    */
  def addFiles(spark: SparkSession, catalog: Catalog, name: String,
      paths: Seq[String]): TableMetadata = {
    require(paths.nonEmpty, "addFiles: no files given")
    // normalize once: the duplicate guard and the manifest must compare
    // the SAME spelling ('/data//f.parquet' == '/data/./f.parquet')
    val normPaths = paths.map(MetaIO.normalize)
    val meta = catalog.loadTable(name)
    require(meta.partitionSpec.forall(_.isIdentity),
      "addFiles supports identity-partitioned or unpartitioned tables only " +
        s"(spec: ${meta.partitionSpec.map(_.transform).mkString(", ")})")

    if (meta.isTyped) {
      // footer schemas of EVERY file merged (mergeSchema — without it
      // Spark infers from one footer and a per-file type conflict slips
      // through to fail at read time) vs declared types
      val fileSchema = spark.read.option("mergeSchema", "true")
        .parquet(normPaths: _*).schema
      for (f <- meta.schema; got <- fileSchema.find(_.name == f.name))
        require(got.dataType == f.sparkType,
          s"addFiles: column ${f.name} is ${got.dataType.sql} in the files " +
            s"but ${f.dataType} in the table schema")
    }
    val requiredCols = meta.schema.filter(_.initialDefault.isEmpty).map(_.name)

    val conf = spark.sessionState.newHadoopConf()
    val entries = normPaths.map { raw =>
      require(MetaIO.exists(raw) && MetaIO.isFile(raw), s"addFiles: no such file: $raw")
      val present = SparkExecutor.parquetFooterColumns(conf, raw).toSet
      val missing = requiredCols.filterNot(present.contains)
      require(missing.isEmpty,
        s"addFiles: $raw lacks columns ${missing.mkString(", ")} " +
          "(only columns with an initial-default may be absent)")
      val partVals = meta.partitionSpec.map { spec =>
        val seg = raw.split('/').iterator
          .find(_.startsWith(spec.column + "="))
          .getOrElse(sys.error(
            s"addFiles: $raw has no ${spec.column}=<value> path segment for " +
              "the identity partition spec"))
        spec.column -> org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.substring(spec.column.length + 1))
      }.toMap
      val fi = SparkExecutor.parquetFooterInfo(conf, raw)
      FileEntry(
        path = raw, length = MetaIO.size(raw),
        content = FileContent.Data, recordCount = fi.rows,
        sequenceNumber = 0L, // stamped at commit
        partitionValues = partVals, columnStats = fi.stats,
        nullCounts = fi.nullCounts, nameMatched = true)
    }
    // the duplicate guard runs INSIDE the CAS retry loop against the
    // fresh head — two concurrent addFiles of the same path cannot both
    // land (the loser reloads, sees the winner's entry, and refuses)
    commitSnapshot(catalog, name,
      Seq(StampSet(entries, FileContent.Data, Nil, Nil)), operation = "append",
      branch = "main",
      pruneParent = parent => {
        val dups = normPaths.toSet.intersect(parent.map(_.path).toSet)
        require(dups.isEmpty,
          s"addFiles: already registered: ${dups.take(3).mkString(", ")}")
        parent
      })
  }

  /** `migrate` for a parquet directory: infers the schema from footers,
    * creates the (typed, field-id) table, and registers every *.parquet
    * under `dir` via [[addFiles]] — zero data rewrite end to end. */
  def importParquetTable(spark: SparkSession, catalog: Catalog, name: String,
      dir: String, partitionSpec: Seq[PartitionField] = Nil): TableMetadata = {
    val files = MetaIO.listFilesRecursive(dir)
      .map(_._1).filter(_.endsWith(".parquet")).sorted
    require(files.nonEmpty, s"importParquetTable: no parquet files under $dir")
    val schema = SchemaField.fromStruct(
      spark.read.option("mergeSchema", "true").parquet(files: _*).schema)
    catalog.createTable(TableMetadata(
      name = name, location = "", formatVersion = 2,
      schema = schema, lastColumnId = schema.map(_.id).foldLeft(0)(math.max),
      partitionSpec = partitionSpec))
    addFiles(spark, catalog, name, files)
  }

  /** foreachBatch sink for Structured Streaming ingestion:
    * {{{ ds.writeStream.foreachBatch(IceWrite.streamingAppend(catalog, name)).start() }}}
    * Each micro-batch commits one snapshot (CAS-retried, so concurrent
    * writers interleave safely). */
  def streamingAppend(catalog: Catalog, name: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty) { append(batch.sparkSession, catalog, name, batch): Unit }

  /** foreachBatch sink with EXACTLY-ONCE appends. foreachBatch's native
    * contract is at-least-once: after a crash between the sink call and
    * the checkpoint advance, the epoch REPLAYS, and a plain
    * [[streamingAppend]] ingests its rows twice. Here the epoch id is a
    * fence (`stream.<sinkId>.batch-id` table property) committed in the
    * SAME CAS metadata swap as the data snapshot — the fence and the
    * rows are indivisible, so a replayed epoch observes its own fence
    * and skips, and no crash point can separate them:
    *
    *  - crash before the commit: nothing landed, replay appends once;
    *  - crash after the commit: fence landed WITH the rows, replay
    *    skips; the streaming checkpoint advances on the replay.
    *
    * First batch creates the table empty (schema-only snapshot), then
    * runs the same fenced append — a crash between those two leaves an
    * empty fence-less table that the replay simply fills. One sink per
    * (table, sinkId); distinct sinkIds fence independently, so several
    * streams can feed one table. Epoch ids must be monotonic per sink,
    * which Structured Streaming guarantees. */
  def exactlyOnceAppend(catalog: Catalog, name: String,
      sinkId: String = "sink"): (DataFrame, Long) => Unit = {
    val prop = s"stream.$sinkId.batch-id"
    (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        if (!catalog.tableExists(name))
          // first batch: rows AND fence land in the ONE create commit —
          // no crack for a crash to separate them, and no second
          // metadata round trip
          create(spark, catalog, name, batch,
            extraProperties = Map(prop -> batchId.toString)): Unit
        else {
          val fenced = catalog.loadTable(name).properties.get(prop)
            .exists(_.toLong >= batchId)
          if (!fenced)
            append(spark, catalog, name, batch,
              extraProperties = Map(prop -> batchId.toString)): Unit
        }
      }
  }

  /** foreachBatch CDC sink: each micro-batch is an atomic MOR [[upsert]]
    * keyed by `keys` — late re-deliveries and in-place updates of the same
    * key converge to the newest row without rewriting data files. The
    * streaming face of MERGE INTO.
    *
    * `orderCol` is the monotonic change-ordering column (a CDC version,
    * source offset, or event timestamp): when one micro-batch carries
    * several rows for a key, the row with the HIGHEST `orderCol` wins —
    * deterministically. (`dropDuplicates(keys)` would keep an arbitrary
    * row, making the final table state depend on partition scheduling.)
    * Residual `orderCol` ties break on the full row's JSON, so equal-
    * content duplicates are harmless and the reduce stays deterministic. */
  def streamingUpsert(catalog: Catalog, name: String,
      keys: Seq[String], orderCol: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty) {
        import org.apache.spark.sql.functions.{col, row_number, struct, to_json}
        require(batch.columns.contains(orderCol),
          s"streamingUpsert order column $orderCol not in batch schema")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*)
          .orderBy(col(orderCol).desc,
            to_json(struct(batch.columns.map(col).toSeq: _*)).desc)
        val latest = batch.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        upsert(batch.sparkSession, catalog, name, latest, keys): Unit
      }

  /** Column `name` carrying field id `id` as `parquet.field.id` metadata. */
  private def fieldIdCol(name: String, id: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.col(name).as(name,
      new org.apache.spark.sql.types.MetadataBuilder()
        .putLong(SchemaField.ParquetFieldIdKey, id.toLong).build())

  /** Stamps each column with its stable field id so the parquet writer puts
    * ids in the file footer (Spark's `parquet.field.id` metadata +
    * `spark.sql.parquet.fieldId.write.enabled`) — the write half of rename-
    * safe id-addressed reads. Columns are emitted in table-schema order;
    * absent (newly added, nullable) columns are simply not written and read
    * back as NULL by id. The v3 lineage columns a rewrite materializes
    * ([[graft.exec.Mor.RowIdCol]], [[graft.exec.Mor.LastUpdatedSeqCol]])
    * follow with their reserved ids, so id-matched readers (ours and
    * external v3 engines) resolve them in rewritten files. */
  def withFieldIds(df: DataFrame, schema: Seq[SchemaField]): DataFrame = {
    import graft.exec.Mor
    val ids = schema.map(f => f.name -> f.id) ++ Seq(
      Mor.RowIdCol -> Mor.RowIdFieldId, Mor.LastUpdatedSeqCol -> Mor.LastUpdatedSeqFieldId)
    val known = ids.map(_._1).toSet
    val unknown = df.columns.filterNot(known.contains)
    require(unknown.isEmpty, s"columns not in table schema: ${unknown.mkString(",")}")
    val present = df.columns.toSet
    df.select(ids.collect { case (n, id) if present.contains(n) => fieldIdCol(n, id) }: _*)
  }

  /** Iceberg's RESERVED field ids for position-delete files (table spec
    * "Position Delete Files"; the reference pins the same constants,
    * core/src/compaction/mod.rs:1595-1609). Spec-compliant readers project
    * delete files BY these ids, so tombstone parquet written without them
    * is invisible to external engines — deletes silently resurrect. */
  val PosDeleteFilePathFieldId: Int = 2147483546
  val PosDeletePosFieldId: Int = 2147483545

  /** Stamps the reserved ids onto a `(file_path, pos)` tombstone frame so
    * the parquet footer carries them. Our own readers stay name-matched
    * (ids are additive); external id-addressed readers need them. Every
    * pos-delete parquet writer must route through this. */
  def withPosDeleteFieldIds(df: DataFrame): DataFrame = {
    require(df.columns.toSet == Set("file_path", "pos"),
      s"position-delete frame must be exactly (file_path, pos), got ${df.columns.mkString(",")}")
    df.select(fieldIdCol("file_path", PosDeleteFilePathFieldId),
      fieldIdCol("pos", PosDeletePosFieldId))
  }

  /** One batch of files to stamp into a snapshot (an upsert commits an
    * equality-delete set AND a data set atomically in one snapshot). */
  private final case class StampSet(
      files: Seq[FileEntry],
      content: FileContent.Value,
      equalityIds: Seq[String] = Nil,
      equalityFieldIds: Seq[Int] = Nil)

  /** Commits one snapshot containing `sets` on `branch` (CAS-retried).
    * All files in the snapshot share one fresh sequence number — which is
    * exactly what makes an atomic upsert work: its equality deletes
    * (seq N) erase only rows with seq < N, so its own data files (also
    * seq N) survive. Non-main branches move only their ref — main's view
    * is untouched until a publish fast-forwards it (write-audit-publish). */
  private def commitSnapshot(
      catalog: Catalog, name: String, sets: Seq[StampSet],
      operation: String, branch: String,
      /** table properties committed in the SAME CAS as the snapshot —
        * the atomicity hook idempotence fences ride on */
      extraProperties: Map[String, String] = Map.empty,
      /** parent-manifest filter applied INSIDE the retry loop (so a lost
        * CAS race re-evaluates against the fresh head): returns the kept
        * entries. Powers partition drop/overwrite, which remove whole
        * files from the manifest rather than appending tombstones. */
      pruneParent: Seq[FileEntry] => Seq[FileEntry] = identity,
      /** write-audit-publish STAGING (Iceberg's `spark.wap.id`): the
        * snapshot commits into the snapshot list with `wap.id` in its
        * summary but NO ref moves — readers see nothing until
        * [[cherrypickSnapshot]] publishes it. */
      stageWapId: Option[String] = None): TableMetadata =
    catalog.transact(name) { meta =>
      val base = meta.commitBase(branch)
      val newSeq = meta.lastSequenceNumber + 1
      val stamped = sets.flatMap(s => s.files.map(_.copy(
        content = s.content, sequenceNumber = newSeq,
        equalityIds = s.equalityIds, equalityFieldIds = s.equalityFieldIds)))
      meta.withSnapshot(base, pruneParent(base.map(_.manifest).getOrElse(Nil)) ++ stamped,
        operation, newSeq, branch, publish = stageWapId.isEmpty,
        summary = stageWapId.map("wap.id" -> _).toMap)
        .copy(properties = meta.properties ++ extraProperties)
    }

  private def eqIdsOf(meta: TableMetadata, equalityIds: Seq[String]): Seq[Int] =
    if (meta.isTyped) equalityIds.map(n => meta.fieldByName(n).getOrElse(
      throw new IllegalArgumentException(s"equality column $n not in schema")).id)
    else Nil

  private def appendInternal(
      spark: SparkSession,
      catalog: Catalog,
      name: String,
      df: DataFrame,
      content: FileContent.Value,
      equalityIds: Seq[String],
      targetFileSizeBytes: Long,
      branch: String = "main",
      extraProperties: Map[String, String] = Map.empty,
      afterWrite: Seq[FileEntry] => Unit = _ => (),
      stageWapId: Option[String] = None): TableMetadata = {
    val table0 = catalog.loadTable(name)
    // write the files once; only the metadata commit retries on conflict
    val written = SparkExecutor.writeTableFiles(spark, table0, df, content, targetFileSizeBytes)
    require(written.nonEmpty || df.isEmpty, s"append to $name wrote no files")
    afterWrite(written) // may throw (e.g. constraint violations) -> no commit
    commitSnapshot(catalog, name,
      Seq(StampSet(written, content, equalityIds, eqIdsOf(table0, equalityIds))),
      operation = if (content == FileContent.Data) "append" else "delete",
      branch = branch, extraProperties = extraProperties, stageWapId = stageWapId)
  }

  /** Shared prune for the partition-level ops: keeps manifest entries
    * OUTSIDE the matched partitions. An entry matches when every filter
    * key is present in its recorded partition values and equal; deletion
    * vectors follow their referenced data file. Strict by default: a
    * DATA file missing a filter key (written under an older partition
    * spec) makes membership undecidable, so the op refuses rather than
    * half-dropping a partition — compact first. */
  private def prunePartitions(filter: Map[String, String],
      parent: Seq[FileEntry]): Seq[FileEntry] = {
    def matches(e: FileEntry): Boolean =
      filter.forall { case (k, v) => e.partitionValues.get(k).contains(v) }
    // undecidable: a missing filter key, OR a non-current-spec file
    // (FileEntry.specId != 0) whose recorded values live in another
    // transform's domain — matching either by value would half-drop a
    // partition
    val undecidable = parent.filter(e =>
      e.content == FileContent.Data && !e.isDeletionVector &&
        (e.specId != 0 || filter.keys.exists(k => !e.partitionValues.contains(k))))
    require(undecidable.isEmpty,
      s"partition op is undecidable for ${undecidable.size} data file(s) written " +
        s"under an older partition spec (no current-spec value for " +
        s"${filter.keys.mkString(", ")}); compact the table first")
    val droppedData = parent.filter(e =>
      e.content == FileContent.Data && !e.isDeletionVector && matches(e))
      .map(_.path).toSet
    parent.filterNot { e =>
      if (e.isDeletionVector) droppedData.contains(e.referencedDataFile.get)
      else if (e.content == FileContent.Data) droppedData.contains(e.path)
      // scoped delete files in the matched partitions applied only to the
      // dropped data; global deletes (no partition scope) stay
      else e.partitionValues.nonEmpty && matches(e)
    }
  }

  /** METADATA-ONLY partition drop — the reason partitioned retention is
    * cheap: expiring a day of a date-partitioned table removes whole
    * files from the manifest in one CAS commit. No SparkSession in the
    * signature because NO data is read or written: at 100 TB this is a
    * driver-side manifest filter, not a job. Matched-partition scoped
    * delete files and DVs of dropped files go too; rows reappear in no
    * snapshot (time travel before the drop still sees them until
    * expiry). Filter keys must be identity partition columns of the
    * current spec. */
  def dropPartitions(catalog: Catalog, name: String,
      partitionFilter: Map[String, String]): TableMetadata = {
    require(partitionFilter.nonEmpty, "dropPartitions: empty filter")
    val meta0 = catalog.loadTable(name)
    for (k <- partitionFilter.keys) {
      val f = meta0.partitionSpec.find(_.column == k).getOrElse(
        throw new IllegalArgumentException(
          s"dropPartitions: $k is not in the partition spec of $name"))
      require(f.isValueAddressable,
        s"dropPartitions: $k has transform ${f.transform}; only identity and " +
          "time-transform partition values are faithful literals a drop can " +
          "name — bucket ordinals are not droppable by value")
    }
    commitSnapshot(catalog, name, Nil, operation = "delete", branch = "main",
      pruneParent = prunePartitions(partitionFilter, _))
  }

  /** Atomic full-table replace (SQL `INSERT OVERWRITE` on an
    * unpartitioned table): ONE snapshot drops every live file — data AND
    * deletes, which would dangle once their data files go — and adds the
    * incoming rows. An empty source truncates. No reader observes old and
    * new rows together; time travel to the pre-replace snapshot keeps
    * working because the dropped files stay on disk until expiry. */
  def replaceAll(spark: SparkSession, catalog: Catalog, name: String,
      df: DataFrame): TableMetadata = {
    val written = SparkExecutor.writeTableFiles(spark, catalog.loadTable(name), df)
    commitSnapshot(catalog, name,
      Seq(StampSet(written, FileContent.Data, Nil, Nil)),
      operation = "overwrite", branch = "main", pruneParent = _ => Nil)
  }

  /** Dynamic partition overwrite (INSERT OVERWRITE ... PARTITION): ONE
    * atomic snapshot replaces every partition PRESENT IN `df` with the
    * incoming rows — untouched partitions keep their files byte-for-byte,
    * and no reader observes a state with the old and new rows together.
    * The incoming frame is written once (partition fan-out, sorted,
    * size-targeted); the prune re-evaluates inside the CAS retry loop, so
    * losing a race to a concurrent append in a replaced partition still
    * replaces that partition wholly. Backfill shape: recompute one day,
    * overwrite one day. */
  def overwritePartitions(spark: SparkSession, catalog: Catalog, name: String,
      df: DataFrame): TableMetadata = {
    val meta0 = catalog.loadTable(name)
    require(meta0.partitionSpec.nonEmpty,
      s"overwritePartitions: $name is unpartitioned — use append/deleteWhere")
    require(meta0.partitionSpec.forall(_.isValueAddressable),
      "overwritePartitions replaces partitions by VALUE; bucket " +
        "transforms have no faithful literal to match on")
    if (df.isEmpty) return meta0
    val written = SparkExecutor.writeTableFiles(spark, meta0, df)
    val touched = written.map(_.partitionValues).distinct
    commitSnapshot(catalog, name,
      Seq(StampSet(written, FileContent.Data, Nil, Nil)),
      operation = "overwrite", branch = "main",
      pruneParent = parent => touched.foldLeft(parent)((kept, pv) =>
        prunePartitions(pv, kept)))
  }

  /** Atomic upsert (MERGE by key): ONE snapshot carries an equality-delete
    * file for the incoming keys plus the new data files at the same
    * sequence number — existing rows with those keys vanish, the incoming
    * rows survive, and no reader can observe the delete without the
    * insert. This is the MOR write pattern the reference's equality
    * deletes exist to serve. */
  def upsert(spark: SparkSession, catalog: Catalog, name: String,
      df: DataFrame, keys: Seq[String],
      targetFileSizeBytes: Long = Defaults.TargetFileSize,
      branch: String = "main"): TableMetadata = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    val table0 = catalog.loadTable(name)
    import org.apache.spark.sql.functions.col
    // ONE pass over the caller's plan: write the data files first, then
    // derive the equality-delete keys by reading the key columns BACK from
    // the files just written (column-pruned, tiny) — the old
    // keys-then-data order ran the whole input plan twice, which doubles
    // an expensive upsert source (e.g. the text-index postings aggregate)
    // at any scale. The distinct key set is identical by construction.
    val dataFiles = SparkExecutor.writeTableFiles(spark, table0, df,
      targetFileSizeBytes = targetFileSizeBytes)
    val keyDf =
      if (dataFiles.isEmpty) df.select(keys.map(col): _*).distinct() // empty source
      else graft.exec.Mor.readDataWith(spark, table0, dataFiles)(_.select(keys.map(col): _*))
        .distinct()
    val delFiles = SparkExecutor.writeTableFiles(spark, table0, keyDf,
      FileContent.EqualityDeletes, targetFileSizeBytes)
    commitSnapshot(catalog, name, Seq(
      StampSet(delFiles, FileContent.EqualityDeletes, keys, eqIdsOf(table0, keys)),
      StampSet(dataFiles, FileContent.Data)),
      operation = "overwrite", branch = branch)
  }

  /** Full MERGE INTO: conditional update / delete on matched rows plus
    * insert of unmatched source rows, committed as ONE atomic snapshot
    * (equality-delete file for the touched keys + the new data files at
    * the same sequence number — the same single-snapshot MOR pattern as
    * [[upsert]], which remains the fast path when every source row
    * unconditionally replaces its target row: blind upsert never reads
    * the table, while a conditional merge inherently must).
    *
    * Join semantics follow SQL MERGE: rows pair on equality of `keys`.
    * `matchedUpdateWhen` / `matchedDeleteWhen` / `updateSet` expressions
    * see the pair as DataFrame aliases `t` (target row) and `s` (source
    * row) — e.g. `col("s.ts") > col("t.ts")`. Delete wins over update when
    * both conditions hold (SQL evaluates WHEN clauses in order; pass the
    * delete first is the common form). Matched rows where neither holds
    * are untouched. `updateSet` maps column name -> expression; columns
    * not in the map keep the SOURCE value (whole-row replace by default).
    *
    * Source keys must be unique — one source row per target row, checked
    * (SQL MERGE raises on multi-match nondeterminism; so do we).
    *
    * `notMatchedBySource*` implement SQL's WHEN NOT MATCHED BY SOURCE:
    * target rows with no source pair can be deleted (retention sweeps:
    * "remove everything the new feed no longer contains") or updated
    * (`notMatchedBySourceSet`, expressions over the `t` alias only —
    * unset columns keep the target value). Off by default, so a plain
    * merge never touches unmatched target rows.
    *
    * Scale shape: the matched join shuffles on the keys (the source side
    * is NOT force-broadcast — merge sources can be arbitrarily large; AQE
    * broadcasts small ones), the not-matched set is a key-pruned left
    * anti join, and the commit is metadata-only. No data file is
    * rewritten — readers apply the tombstones, compaction folds them in
    * later. */
  def merge(spark: SparkSession, catalog: Catalog, name: String,
      source: DataFrame, keys: Seq[String],
      matchedUpdateWhen: org.apache.spark.sql.Column = org.apache.spark.sql.functions.lit(true),
      matchedDeleteWhen: org.apache.spark.sql.Column = org.apache.spark.sql.functions.lit(false),
      updateSet: Map[String, org.apache.spark.sql.Column] = Map.empty,
      insertWhen: org.apache.spark.sql.Column = org.apache.spark.sql.functions.lit(true),
      notMatchedBySourceUpdateWhen: org.apache.spark.sql.Column =
        org.apache.spark.sql.functions.lit(false),
      notMatchedBySourceDeleteWhen: org.apache.spark.sql.Column =
        org.apache.spark.sql.functions.lit(false),
      notMatchedBySourceSet: Map[String, org.apache.spark.sql.Column] = Map.empty,
      targetFileSizeBytes: Long = Defaults.TargetFileSize,
      branch: String = "main"): TableMetadata = {
    import org.apache.spark.sql.functions.{col, count, lit}
    require(keys.nonEmpty, "merge needs at least one key column")
    val table0 = catalog.loadTable(name)
    val cols = table0.schema.map(_.name)
    require(!source.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).take(1).nonEmpty,
      s"merge source has duplicate keys on (${keys.mkString(", ")}) — " +
        "one source row may match each target row (SQL MERGE rule)")
    val target = IceRead.table(spark, catalog, name, branch)
    val keyCond = keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
    val matched = target.alias("t").join(source.alias("s"), keyCond)
    // NULL-valued conditions mean "clause does not apply" (SQL WHEN
    // semantics) — coalesce to false BEFORE negating, or three-valued
    // logic makes `!NULL && other` NULL: the key would be tombstoned by
    // the (NULL || other) touched filter while the row silently drops out
    // of the re-insert set. Applies to every clause pair below.
    def applies(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      org.apache.spark.sql.functions.coalesce(c, lit(false))
    val deleteW = applies(matchedDeleteWhen)
    val updateW = applies(matchedUpdateWhen)
    // delete-before-update clause order; untouched rows fall through
    val toUpdate = matched.filter(!deleteW && updateW)
    val updated = toUpdate.select(cols.map(c =>
      updateSet.getOrElse(c, col(s"s.$c")).as(c)): _*)
    val inserted = source.alias("s").filter(insertWhen)
      .join(target.select(keys.map(col): _*), keys, "left_anti")
      .select(cols.map(c => col(s"s.$c").as(c)): _*)
    // WHEN NOT MATCHED BY SOURCE: target rows with no source pair —
    // conditions and set expressions see only the `t` alias (there is no
    // source row); columns outside notMatchedBySourceSet keep the TARGET
    // value. Same delete-over-update clause precedence as matched rows.
    // Statically-off clauses (the lit(false) defaults) skip the extra
    // target scans entirely, so a plain merge pays nothing for them.
    // NB: Spark 4 columns wrap lazy ColumnNodes — a catalyst-Literal
    // pattern match on expression(c) silently never fires, which would
    // charge EVERY merge the by-source scans below (caught by the SQL
    // front door's MERGE tests; ColumnBridge.isLiteralFalse checks the
    // node itself)
    def isLitFalse(c: org.apache.spark.sql.Column): Boolean =
      org.apache.spark.sql.graftbridge.ColumnBridge.isLiteralFalse(c)
    val bySourceOn =
      !(isLitFalse(notMatchedBySourceDeleteWhen) && isLitFalse(notMatchedBySourceUpdateWhen))
    val targetOnly = target.alias("t")
      .join(source.select(keys.map(col): _*), keys, "left_anti")
    val bsDeleteW = applies(notMatchedBySourceDeleteWhen)
    val bsUpdateW = applies(notMatchedBySourceUpdateWhen)
    val bySourceUpdated =
      if (!bySourceOn) None
      else Some(targetOnly
        .filter(!bsDeleteW && bsUpdateW)
        .select(cols.map(c =>
          notMatchedBySourceSet.getOrElse(c, col(s"t.$c")).as(c)): _*))
    val bySourceTouchedKeys =
      if (!bySourceOn) None
      else Some(targetOnly
        .filter(bsDeleteW || bsUpdateW)
        .select(keys.map(k => col(s"t.$k").as(k)): _*).distinct())
    // tombstone keys = matched rows that got updated or deleted (key value
    // is shared by both sides of the pair, so read it from the source)
    val matchedTouched = matched.filter(deleteW || updateW)
      .select(keys.map(k => col(s"s.$k").as(k)): _*).distinct()
    val touchedKeys = bySourceTouchedKeys
      .map(b => matchedTouched.unionAll(b).distinct())
      .getOrElse(matchedTouched)
    val delFiles = SparkExecutor.writeTableFiles(spark, table0, touchedKeys,
      FileContent.EqualityDeletes, targetFileSizeBytes)
    val newRows = bySourceUpdated.foldLeft(updated.unionAll(inserted))(_ unionAll _)
    val dataFiles = SparkExecutor.writeTableFiles(spark, table0, newRows,
      targetFileSizeBytes = targetFileSizeBytes)
    commitSnapshot(catalog, name, Seq(
      StampSet(delFiles, FileContent.EqualityDeletes, keys, eqIdsOf(table0, keys)),
      StampSet(dataFiles, FileContent.Data)),
      operation = "overwrite", branch = branch)
  }

  /** Row-level DELETE WHERE: scans the branch's data files with parquet
    * metadata columns, evaluates the predicate, and appends the matching
    * (file_path, pos) tombstones — no data file is rewritten. Re-deleting
    * an already-tombstoned row is a harmless duplicate. */
  def deleteWhere(spark: SparkSession, catalog: Catalog, name: String,
      condition: org.apache.spark.sql.Column, branch: String = "main"): TableMetadata = {
    val meta = catalog.loadTable(name)
    // format v3 replaces position-delete FILES with deletion vectors
    // (spec: writers must not add new position-delete files to v3
    // tables) — route the row-level delete to the DV writer so v3
    // tables stay export-faithful without a conversion pass
    if (meta.formatVersion >= 3)
      return deleteWhereDv(spark, catalog, name, condition, branch)
    val positions = matchingPositions(spark, meta, condition, branch)
    // REBALANCE: the tombstone projection inherits the scan's partitioning
    // (one partition per scanned file) and would otherwise land one tiny
    // pos-delete file per scanned data file; AQE sizes the output instead
    appendInternal(spark, catalog, name, positions.hint("rebalance"),
      FileContent.PositionDeletes, Nil, Defaults.TargetFileSize, branch)
  }

  /** `(file_path, pos)` of every row of `branch`'s data files that
    * matches `condition` — the tombstone set of a row-level DELETE.
    * Per-file addressing (field-id vs imported name-matched) comes from
    * [[graft.exec.Mor.readDataWith]]. */
  private def matchingPositions(spark: SparkSession, meta: TableMetadata,
      condition: org.apache.spark.sql.Column, branch: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val snap = meta.commitBase(branch).getOrElse(throw new IllegalStateException(
      s"table ${meta.name} has no snapshot on branch $branch"))
    val dataFiles = snap.manifest.filter(_.content == FileContent.Data)
    require(dataFiles.nonEmpty, s"table ${meta.name} has no data files")
    graft.exec.Mor.readDataWith(spark, meta, dataFiles)(
      _.withColumn("__fp", graft.exec.Mor.normalizePath(col("_metadata.file_path")))
        .withColumn("__pos", col("_metadata.row_index"))
        .filter(condition)
        .select(col("__fp").as("file_path"), col("__pos").as("pos")))
  }

  /** Row-level UPDATE ... SET ... WHERE: ONE atomic snapshot carries
    * (file_path, pos) tombstones for every matched row PLUS new data
    * files holding the updated copies at the same sequence number — no
    * reader observes the delete without the rewrite, and no data file is
    * rewritten in place (the MOR write pattern, like [[upsert]], but
    * positional: no key columns required).
    *
    * The matched set comes from the LIVE MOR view (deletes applied), not
    * the raw data files — an already-tombstoned row matching `condition`
    * must NOT be resurrected as an updated copy. `set` maps column name
    * -> expression over the row's columns (unqualified); expressions
    * cast to the table's declared column types.
    *
    * Scale shape: the filtered scan runs twice (tombstone projection +
    * updated-row projection) — two pruned passes beat caching an
    * unbounded matched set, and both plans push `condition` into the
    * parquet scan. The commit is metadata-only. */
  def updateWhere(spark: SparkSession, catalog: Catalog, name: String,
      set: Map[String, org.apache.spark.sql.Column],
      condition: org.apache.spark.sql.Column,
      branch: String = "main",
      targetFileSizeBytes: Long = Defaults.TargetFileSize): TableMetadata = {
    import org.apache.spark.sql.functions.col
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    val table0 = catalog.loadTable(name)
    val snap = table0.requireBranchHead(branch)
    // v3 row lineage: the rewritten copies MATERIALIZE the survivor's
    // _row_id (reserved field id, same convention as compaction) so an
    // UPDATE preserves row identity — the updated row is the SAME row,
    // its _last_updated_seq moving to the new snapshot's sequence via the
    // file's sequence number (nothing to materialize for that)
    val carryRowIds = table0.tracksRowLineage
    val live = IceRead.ofSnapshot(spark, table0, snap, keepHidden = true,
      keepRowIds = carryRowIds)
    val hiddenCols = Set(graft.exec.Mor.FilePathCol, graft.exec.Mor.PosCol,
      graft.exec.Mor.RowIdCol, graft.exec.Mor.LastUpdatedSeqCol)
    val colNames =
      if (table0.schema.nonEmpty) table0.schemaColumns
      else live.columns.toSeq.filterNot(hiddenCols)
    set.keys.foreach(k => require(colNames.contains(k),
      s"updateWhere: $name has no column $k (columns: ${colNames.mkString(", ")})"))
    val matched = live.filter(condition)
    val positions = matched.select(
      col(graft.exec.Mor.FilePathCol).as("file_path"),
      col(graft.exec.Mor.PosCol).as("pos"))
    val updated = matched.select(colNames.map { c =>
      val v = set.getOrElse(c, col(c))
      table0.fieldByName(c).filter(_.isTyped).fold(v)(f => v.cast(f.sparkType)).as(c)
    } ++ (if (carryRowIds) Seq(col(graft.exec.Mor.RowIdCol)) else Nil): _*)
    // the materialized _row_id gets its reserved lineage id from the writer
    def writeUpdatedCopies(): Seq[FileEntry] =
      SparkExecutor.writeTableFiles(spark, table0, updated,
        targetFileSizeBytes = targetFileSizeBytes)
    if (table0.formatVersion >= 3)
      // v3 forbids new position-delete FILES: the tombstones become
      // deletion vectors committed in the SAME snapshot as the rewritten
      // copies (commitDvSnapshot writes the data files only if rows
      // matched — an unmatched UPDATE stays a no-op with no commit)
      return commitDvSnapshot(spark, catalog, name, positions, branch,
        DeletionVectors.MaxDriverBlobBytes,
        newDataFiles = () => writeUpdatedCopies(), operation = "overwrite")
    val posFiles = SparkExecutor.writeTableFiles(spark, table0, positions,
      FileContent.PositionDeletes, targetFileSizeBytes)
    if (posFiles.isEmpty) return table0 // nothing matched: no-op, no commit
    val dataFiles = writeUpdatedCopies()
    commitSnapshot(catalog, name, Seq(
      StampSet(posFiles, FileContent.PositionDeletes, Nil, Nil),
      StampSet(dataFiles, FileContent.Data)),
      operation = "overwrite", branch = branch)
  }

  /** Row-level DELETE WHERE writing Iceberg v3 DELETION VECTORS directly:
    * the matching (file_path, pos) set becomes one Puffin bitmap blob per
    * affected data file — no parquet tombstone intermediate, so reads pay
    * the codegen'd bitmap probe immediately instead of an anti join
    * ([[graft.exec.Mor.dataFrame]]). A data file that already
    * carries a DV gets the union (at most one DV per file, per spec);
    * plain parquet tombstones from earlier v2-style deletes stay live
    * beside the DVs and compose at read. Re-deleting an already-deleted
    * row is a harmless no-op in the bitmap union. */
  def deleteWhereDv(spark: SparkSession, catalog: Catalog, name: String,
      condition: org.apache.spark.sql.Column, branch: String = "main",
      maxDriverBlobBytes: Long = DeletionVectors.MaxDriverBlobBytes): TableMetadata = {
    val positions = matchingPositions(spark, catalog.loadTable(name), condition, branch)
    commitDvSnapshot(spark, catalog, name, positions, branch, maxDriverBlobBytes)
  }

  /** Shared DV-snapshot commit: the (file_path, pos) tombstone set
    * becomes per-file deletion-vector blobs merged against the head's
    * existing DVs (one DV per data file, per spec), optionally committed
    * TOGETHER with `newDataFiles` in one snapshot — the v3 shape of a
    * row-level UPDATE (tombstone + rewritten copies, no reader observes
    * one without the other). `newDataFiles` is a thunk so the data write
    * only happens once something actually matched. */
  private def commitDvSnapshot(spark: SparkSession, catalog: Catalog,
      name: String, positions: DataFrame, branch: String,
      maxDriverBlobBytes: Long,
      newDataFiles: () => Seq[FileEntry] = () => Nil,
      operation: String = "delete"): TableMetadata = {
    val meta0 = catalog.loadTable(name)
    // driver gate: below it, blobs collect to the driver and one container
    // is written per attempt (simplest commit); above it — a dense delete
    // over a big table — the containers stream executor-side and only
    // manifest coordinates return (DeletionVectors.writeEntriesStreamed)
    val smallPath = DeletionVectors.underDriverGate(positions, maxDriverBlobBytes)
    val blobs =
      if (smallPath) DeletionVectors.buildBlobs(spark, positions) else Nil
    val affected: Set[String] =
      if (smallPath) blobs.map(_.referencedDataFile).toSet
      else {
        import spark.implicits._
        positions.select("file_path").distinct().as[String].collect().toSet
      }
    if (affected.isEmpty) return meta0
    // written once, outside the CAS loop: paths are fresh per call, so a
    // lost race re-commits the same files against the new head
    val dataEntries = newDataFiles()

    catalog.transact(name) { meta =>
      val base = meta.commitBase(branch)
        .getOrElse(throw new IllegalStateException(s"table $name lost its snapshot"))
      // merge against the CURRENT head's DVs (a concurrent DV delete may
      // have landed since the scan; re-merging per attempt keeps the union)
      val existingDv = base.manifest.filter(_.isDeletionVector)
        .map(f => f.referencedDataFile.get -> f).toMap
      val replacedKeys =
        affected.flatMap(existingDv.get).map(_.resolutionKey)
      val partitionOf = base.manifest.filter(_.content == FileContent.Data)
        .map(f => f.path -> f.partitionValues).toMap
      val newSeq = meta.lastSequenceNumber + 1
      val snapshotId = meta.nextSnapshotId
      val dvEntries =
        if (smallPath)
          DeletionVectors.writeEntries(meta.location,
            DeletionVectors.mergeWithExisting(blobs, existingDv),
            snapshotId, newSeq, f => partitionOf.getOrElse(f, Map.empty))
        else
          DeletionVectors.writeEntriesStreamed(spark, positions,
            existingDv.collect { case (f, e) if affected.contains(f) =>
              f -> (e.path, e.contentOffset.getOrElse(0L), e.contentSizeInBytes.get) },
            meta.location, snapshotId, newSeq,
            f => partitionOf.getOrElse(f, Map.empty))
      // new data files (the UPDATE shape) share the snapshot and its
      // sequence (and, on v3, claim their row ids against this head)
      meta.withSnapshot(Some(base),
        base.manifest.filterNot(f => replacedKeys.contains(f.resolutionKey)) ++ dvEntries ++
          dataEntries.map(_.copy(content = FileContent.Data, sequenceNumber = newSeq)),
        operation, newSeq, branch)
    }
  }

  /** Creates (or resets) a branch ref at `fromBranch`'s head — the
    * write-audit-publish staging point. */
  def createBranch(catalog: Catalog, name: String, branch: String,
      fromBranch: String = "main"): TableMetadata =
    catalog.transact(name) { meta =>
      val head = meta.commitBase(fromBranch).map(_.snapshotId)
        .getOrElse(throw new IllegalStateException(s"branch $fromBranch has no snapshot"))
      meta.copy(refs = meta.refs + (branch -> head))
    }

  /** Creates (or resets) a branch ref at an EXPLICIT snapshot (SQL's
    * `CREATE BRANCH b AS OF VERSION v`). */
  def createBranchAt(catalog: Catalog, name: String, branch: String,
      snapshotId: Long): TableMetadata =
    catalog.transact(name) { meta =>
      require(meta.snapshotById(snapshotId).nonEmpty,
        s"table $name has no snapshot $snapshotId")
      meta.copy(refs = meta.refs + (branch -> snapshotId))
    }

  /** Drops a branch ref. The snapshots it pointed at stay time-travelable
    * until expiry; `main` is the table identity and cannot drop. */
  def dropBranch(catalog: Catalog, name: String, branch: String): TableMetadata = {
    require(branch != "main", "cannot drop the main branch")
    catalog.transact(name) { meta =>
      require(meta.refs.contains(branch), s"no such branch: $branch")
      meta.copy(refs = meta.refs - branch)
    }
  }

  /** Rolls a branch back to an ANCESTOR snapshot (Iceberg's
    * rollback_to_snapshot): moves the ref — and for main, the current
    * snapshot pointer — without writing or deleting anything, so the
    * abandoned commits stay time-travelable until expiry. Restricted to
    * ancestors: rolling "back" to a divergent snapshot is a branch
    * reassignment, not a rollback — use [[createBranch]] for that. */
  def rollbackTo(catalog: Catalog, name: String, snapshotId: Long,
      branch: String = "main"): TableMetadata =
    catalog.transact(name) { meta =>
      val head = meta.requireBranchHead(branch)
      var cur: Option[Snapshot] = Some(head)
      while (cur.nonEmpty && cur.get.snapshotId != snapshotId)
        cur = cur.get.parentId.flatMap(meta.snapshotById)
      require(cur.nonEmpty,
        s"snapshot $snapshotId is not an ancestor of $branch's head ${head.snapshotId}")
      meta.copy(
        refs = meta.refs + (branch -> snapshotId),
        currentSnapshotId =
          if (branch == "main") Some(snapshotId) else meta.currentSnapshotId)
    }

  /** Creates an IMMUTABLE tag at a snapshot (Iceberg tags): a named
    * time-travel point that pins its snapshot against expiry. Tags never
    * move; re-tagging an existing name is an error (drop it first). */
  def createTag(catalog: Catalog, name: String, tag: String,
      snapshotId: Long): TableMetadata =
    catalog.transact(name) { meta =>
      require(meta.snapshotById(snapshotId).nonEmpty,
        s"table $name has no snapshot $snapshotId")
      require(!meta.tags.contains(tag),
        s"tag $tag already exists (tags are immutable; dropTag first)")
      meta.copy(tags = meta.tags + (tag -> snapshotId))
    }

  def dropTag(catalog: Catalog, name: String, tag: String): TableMetadata =
    catalog.transact(name) { meta =>
      require(meta.tags.contains(tag), s"no such tag: $tag")
      meta.copy(tags = meta.tags - tag)
    }

  /** Publishes a staged branch: fast-forwards main (and the current
    * snapshot pointer) to the branch head. Audit the branch with
    * [[IceRead.table]](branch) first; until publish, main readers see
    * nothing of the staged commits. */
  def publishBranch(catalog: Catalog, name: String, branch: String): TableMetadata =
    catalog.transact(name) { meta =>
      val head = meta.refs.getOrElse(branch,
        throw new IllegalArgumentException(s"no such branch: $branch"))
      meta.copy(refs = meta.refs + ("main" -> head), currentSnapshotId = Some(head))
    }

  /** Iceberg's `fast_forward` procedure: moves `branch` to `to`'s head,
    * refusing unless that is a true fast-forward (`branch`'s head, when
    * it exists, must be an ancestor of `to`'s head — divergent refs need
    * an explicit [[createBranch]] reset, not a silent history swap).
    * Returns (previous head if any, new head). */
  def fastForward(catalog: Catalog, name: String, branch: String,
      to: String): (Option[Long], Long) = {
    var prev: Option[Long] = None
    val committed = catalog.transact(name) { meta =>
      val toHead = meta.refs.getOrElse(to,
        throw new IllegalArgumentException(s"no such branch: $to"))
      prev = meta.refs.get(branch)
      prev.foreach { bh =>
        var cur = meta.snapshotById(toHead)
        while (cur.nonEmpty && cur.get.snapshotId != bh)
          cur = cur.get.parentId.flatMap(meta.snapshotById)
        require(cur.nonEmpty,
          s"$branch (head $bh) is not an ancestor of $to (head $toHead): not a fast-forward")
      }
      meta.copy(
        refs = meta.refs + (branch -> toHead),
        currentSnapshotId =
          if (branch == "main") Some(toHead) else meta.currentSnapshotId)
    }
    (prev, committed.refs(branch))
  }

  /** Iceberg's `set_current_snapshot` procedure: points main at ANY
    * existing snapshot — unlike [[rollbackTo]] it accepts non-ancestors
    * (the recover-from-a-bad-publish hammer). Returns (previous, new). */
  def setCurrentSnapshot(catalog: Catalog, name: String,
      snapshotId: Long): (Option[Long], Long) = {
    var prev: Option[Long] = None
    catalog.transact(name) { meta =>
      require(meta.snapshotById(snapshotId).nonEmpty,
        s"table $name has no snapshot $snapshotId")
      prev = meta.currentSnapshotId
      meta.copy(refs = meta.refs + ("main" -> snapshotId), currentSnapshotId = Some(snapshotId))
    }
    (prev, snapshotId)
  }

  /** Iceberg's `cherrypick_snapshot`: publishes one APPEND-SHAPED
    * snapshot (typically a `wap.id`-staged write) onto main. When the
    * snapshot's parent IS the current head this is a pure fast-forward
    * (the staged snapshot itself becomes current); when main moved since
    * staging, the snapshot's ADDED data files are re-applied as a fresh
    * append commit carrying `published-wap-id`. Snapshots that removed
    * files (overwrites, deletes, compactions) refuse — their conflict
    * semantics cannot be replayed blindly. */
  def cherrypickSnapshot(catalog: Catalog, name: String,
      snapshotId: Long): TableMetadata =
    catalog.transact(name) { meta =>
      val snap = meta.snapshotById(snapshotId).getOrElse(
        throw new IllegalArgumentException(s"table $name has no snapshot $snapshotId"))
      val parent = snap.parentId.flatMap(meta.snapshotById)
      // if the parent was expired we cannot derive the added-file set: an
      // empty parentKeys would make the whole staged manifest look "added"
      // and re-apply files that may have since been compacted away
      require(snap.parentId.isEmpty || parent.nonEmpty,
        s"snapshot $snapshotId's parent ${snap.parentId.get} was expired — " +
          "cannot derive its added files to cherry-pick")
      val parentKeys = parent.map(_.manifest.map(_.resolutionKey).toSet).getOrElse(Set.empty)
      val snapKeys = snap.manifest.map(_.resolutionKey).toSet
      require(parentKeys.subsetOf(snapKeys),
        s"snapshot $snapshotId removed files — only append-shaped snapshots cherry-pick")
      val added = snap.manifest.filterNot(f => parentKeys.contains(f.resolutionKey))
      require(added.forall(_.content == FileContent.Data),
        s"snapshot $snapshotId added delete files — only plain appends cherry-pick")
      val head = meta.currentSnapshot
      if (head.map(_.snapshotId) == snap.parentId)
        // fast-forward arm: the staged snapshot becomes current as-is
        meta.copy(refs = meta.refs + ("main" -> snap.snapshotId),
          currentSnapshotId = Some(snap.snapshotId))
      else {
        // re-apply arm: main moved since staging — add the staged data
        // files on top of the CURRENT head, fresh sequence (row-lineage
        // ids keep their staged assignment; the ranges were already
        // claimed through the cursor at staging)
        val headManifest = head.map(_.manifest).getOrElse(Nil)
        val headKeys = headManifest.map(_.resolutionKey).toSet
        require(!added.exists(f => headKeys.contains(f.resolutionKey)),
          s"snapshot $snapshotId's files are already in the current state " +
            "(cherry-picked twice?)")
        val newSeq = meta.lastSequenceNumber + 1
        meta.withSnapshot(head, headManifest ++ added.map(_.copy(sequenceNumber = newSeq)),
          "append", newSeq,
          summary = snap.summary.get("wap.id").map("published-wap-id" -> _).toMap)
      }
    }
}
