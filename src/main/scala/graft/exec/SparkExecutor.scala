package graft.exec

import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.{FileContent, FileEntry, IceWrite, MetaIO, PartitionField, SortField, TableMetadata}
import graft.selection.{Defaults, FileGroup}

/** Parquet writer tunables for the rolling sink — the reference's
  * `write_parquet_properties` knob (core/src/config/mod.rs:403; its
  * default is ZSTD + Iceberg's 128 MiB row groups, config/mod.rs:33,297),
  * expressed as the Spark/Hadoop writer options. Defaults preserve the
  * reference parity the hard-coded sink had. */
final case class ParquetWriteConfig(
    /** parquet codec: zstd (default), snappy, gzip, lz4, none, ... */
    compression: String = "zstd",
    /** target row-group size (parquet.block.size) — the scan-parallelism
      * and memory unit; Iceberg's default 128 MiB. */
    rowGroupBytes: Long = 128L * 1024 * 1024,
    /** data page size (parquet.page.size); None = writer default 1 MiB. */
    pageSizeBytes: Option[Long] = None,
    /** dictionary encoding toggle (parquet.enable.dictionary);
      * None = writer default (on). */
    dictionaryEnabled: Option[Boolean] = None,
    /** columns to write parquet bloom filters for — point-lookup file
      * skipping for readers that honor them. */
    bloomFilterColumns: Seq[String] = Nil)

object ParquetWriteConfig {
  /** Public Iceberg table-property names (Iceberg table-configuration
    * docs: write properties). A table that carries them keeps its write
    * tuning through export/import, and EVERY writer — ingest, upsert,
    * merge, partition overwrite, compaction, maintenance — honors them,
    * through [[SparkExecutor.writeTableFiles]]. */
  val CompressionKey = "write.parquet.compression-codec"
  val RowGroupKey = "write.parquet.row-group-size-bytes"
  val PageSizeKey = "write.parquet.page-size-bytes"
  val BloomPrefix = "write.parquet.bloom-filter-enabled.column."

  /** Writer config from table properties; absent keys keep `base`'s
    * values (so an explicit config passed by a caller still wins where
    * the caller set it and table properties fill the rest). */
  def fromProperties(props: Map[String, String],
      base: ParquetWriteConfig = ParquetWriteConfig()): ParquetWriteConfig =
    base.copy(
      compression = props.getOrElse(CompressionKey, base.compression),
      rowGroupBytes = props.get(RowGroupKey).map(_.trim.toLong).getOrElse(base.rowGroupBytes),
      pageSizeBytes = props.get(PageSizeKey).map(_.trim.toLong).orElse(base.pageSizeBytes),
      bloomFilterColumns = (base.bloomFilterColumns ++ props.collect {
        case (k, v) if k.startsWith(BloomPrefix) && v.trim.equalsIgnoreCase("true") =>
          k.stripPrefix(BloomPrefix)
      }).distinct.sorted)
}

/** One rewrite job: inputs (a planned file group) -> new data files of
  * `table`. Everything the table decides — output directory, layout,
  * field ids, row lineage, distribution mode and its `write.parquet.*`
  * properties — is derived from it by [[SparkExecutor.writeTableFiles]]. */
final case class RewriteRequest(
    group: FileGroup,
    table: TableMetadata,
    targetFileSizeBytes: Long = Defaults.TargetFileSize,
    /** smoothed OUTPUT bytes/record from earlier plans in this run
      * (dynamic size estimation, config/mod.rs:37-38); <= 0 means none —
      * fall back to the input-derived ratio. */
    bytesPerRecordHint: Double = 0.0,
    /** row-level hook applied to the MOR view before the write — identity
      * for compaction; copy-on-write UPDATE/purge (compaction.RowRewrite)
      * inject their row edits here so the scan -> write machinery,
      * size targeting, and commit path stay one implementation. */
    rowTransform: DataFrame => DataFrame = identity,
    /** parquet writer tunables for the rewritten files; the table's own
      * `write.parquet.*` properties override them per field. */
    parquet: ParquetWriteConfig = ParquetWriteConfig()
)

final case class RewriteStats(
    inputFiles: Int,
    inputBytes: Long,
    outputFiles: Int,
    outputBytes: Long,
    outputRecords: Long,
    durationMs: Long
)

final case class RewriteResult(addedFiles: Seq[FileEntry], stats: RewriteStats)

/** Executor seam, mirroring the reference's `CompactionExecutor` trait
  * (core/src/executor/mod.rs:36-38). */
trait CompactionExecutor {
  def rewriteFiles(spark: SparkSession, req: RewriteRequest): RewriteResult
}

/** The Spark executor: MOR scan -> anti joins -> repartition -> sort ->
  * rolling parquet write, all one Spark job (the reference runs the same
  * shape on DataFusion, executor/datafusion/mod.rs:51-161).
  *
  * Scale design: the only exchange in the plan is the final
  * `repartition(outputParallelism)` (the reference's RepartitionExec,
  * datafusion_processor.rs:180-189); deletes are broadcast so the data path
  * is scan -> BHJ* -> exchange -> sort-within-partition -> write. Target
  * file size is enforced with `maxRecordsPerFile` derived from the observed
  * input bytes/record ratio — same estimation gap as the reference's
  * rolling writer (it also sizes by uncompressed heuristics).
  */
object SparkExecutor extends CompactionExecutor {

  /** Inner columns of a multi-column clustering sort field — either
    * `zorder(a, b, ...)` or `hilbert(a, b)`; None for plain columns.
    * Every consumer that resolves domains or validates schema columns
    * must see both forms through this one helper. */
  def multiColsOf(sortColumn: String): Option[Seq[String]] =
    graft.functions.ZOrder.columnsOf(sortColumn)
      .orElse(graft.functions.HilbertCurve.columnsOf(sortColumn))

  /** Identity partition value column, a bucket column, or a TIME
    * transform literal. "bucket[n]" is the Iceberg-spec transform
    * ([[graft.functions.IcebergBucket]] — cross-engine compatible bucket
    * assignment); "sparkbucket[n]" is the engine-internal murmur3
    * opt-out; "year"/"month"/"day"/"hour" produce the Iceberg time
    * transform's human literal ("2026-01-01" etc), evaluated in the
    * session time zone — UTC everywhere here, per the Iceberg spec (see
    * [[graft.meta.PartitionField]]). Public: the writer, the testkit,
    * and partition-pruned reads must all derive partition values from
    * this one definition. */
  def partitionExpr(p: PartitionField): Column = (p.bucketN, p.sparkBucketN) match {
    case (Some(n), _) => graft.functions.IcebergBucketFunctions.iceberg_bucket(col(p.column), n)
    case (_, Some(n)) => pmod(hash(col(p.column)), lit(n))
    case _ => p.truncateW match {
      case Some(w) => graft.functions.IcebergTruncateFunctions.iceberg_truncate(col(p.column), w)
      case None => p.transform match {
        case "year" => date_format(col(p.column), "yyyy")
        case "month" => date_format(col(p.column), "yyyy-MM")
        case "day" => date_format(col(p.column), "yyyy-MM-dd")
        case "hour" => date_format(col(p.column), "yyyy-MM-dd-HH")
        case _ => col(p.column)
      }
    }
  }

  /** Directory-encoded partition columns are written from *copies* so data
    * files keep the full schema and remain readable by direct path (our
    * manifests address individual files, not directories). */
  private[exec] def partDirCol(p: PartitionField): String = s"__part_${p.column}"

  /** Shared rolling parquet sink: optional partition fan-out + per-
    * partition sort + size-targeted files under a fresh uuid dir; returns
    * the written entries (with footer stats). The raw sink: engine writes
    * go through [[writeTableFiles]], which derives its arguments from the
    * table. */
  def writeDataFiles(
      spark: SparkSession,
      input: DataFrame,
      outputDir: String,
      partitionSpec: Seq[PartitionField],
      sortOrder: Seq[SortField],
      maxRecordsPerFile: Long,
      repartitionTo: Int = 0,
      /** per-column [min, max] domains for `zorder(...)` sort fields —
        * compaction supplies them from manifest zone maps (free); missing
        * domains are computed here with one agg pass over the input. */
      zorderDomains: Map[String, (BigDecimal, BigDecimal)] = Map.empty,
      rangeDistribute: Boolean = false,
      parquet: ParquetWriteConfig = ParquetWriteConfig()): Seq[FileEntry] = {
    // columns whose StructField metadata carries `parquet.field.id` get the
    // id written into the parquet footer (id-addressed reads depend on it);
    // default-true in Spark 4, pinned here so a session override can't
    // silently break rename safety
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    var df = input
    val partCols = partitionSpec.map(partDirCol)
    if (partitionSpec.nonEmpty)
      df = partitionSpec.foldLeft(df)((d, p) => d.withColumn(partDirCol(p), partitionExpr(p)))

    // sort keys resolve BEFORE the exchange: range distribution exchanges
    // on the same keys the per-partition sort orders by
    val sortCols: Seq[Column] =
      if (sortOrder.isEmpty) Nil
      else {
        // resolve domains for all zorder fields up front — one agg job
        // covers every column still missing one
        val zCols = sortOrder.flatMap(s => SparkExecutor.multiColsOf(s.column)).flatten
        val missing = zCols.distinct.filterNot(zorderDomains.contains)
        val computed: Map[String, (BigDecimal, BigDecimal)] =
          if (missing.isEmpty) Map.empty
          else {
            val aggs = missing.flatMap(c => Seq(
              min(col(c).cast("double")).as(s"__mn_$c"), max(col(c).cast("double")).as(s"__mx_$c")))
            val row = input.agg(aggs.head, aggs.tail: _*).head()
            missing.zipWithIndex.map { case (c, i) =>
              val mn = if (row.isNullAt(2 * i)) BigDecimal(0) else BigDecimal(row.getDouble(2 * i))
              val mx = if (row.isNullAt(2 * i + 1)) BigDecimal(0) else BigDecimal(row.getDouble(2 * i + 1))
              c -> (mn, mx)
            }.toMap
          }
        val domains = zorderDomains ++ computed
        sortOrder.map { s =>
          val key = graft.functions.ZOrder.columnsOf(s.column) match {
            case Some(cols) =>
              graft.functions.ZOrder.zvalue(cols.map(c => (col(c), domains(c))))
            case None => graft.functions.HilbertCurve.columnsOf(s.column) match {
              case Some(Seq(a, b)) =>
                graft.functions.HilbertCurve.hvalue(
                  (col(a), domains(a)), (col(b), domains(b)))
              case _ => col(s.column)
            }
          }
          (s.ascending, s.nullsFirst) match {
            case (true, true)   => key.asc_nulls_first
            case (true, false)  => key.asc_nulls_last
            case (false, true)  => key.desc_nulls_first
            case (false, false) => key.desc_nulls_last
          }
        }
      }

    if (repartitionTo > 0) {
      df =
        if (rangeDistribute && sortCols.nonEmpty)
          // one range exchange (sampled boundaries) + the per-partition sort
          // below = a GLOBAL sort clustered into repartitionTo files with
          // non-overlapping zone maps — Spark's orderBy decomposition with
          // explicit control of the output file count. Partition fan-out
          // columns lead the key so directory splits stay contiguous.
          df.repartitionByRange(repartitionTo, partCols.map(col) ++ sortCols: _*)
        else if (partCols.nonEmpty) df.repartition(repartitionTo, partCols.map(col): _*)
        else df.repartition(repartitionTo)
    }
    if (sortCols.nonEmpty) df = df.sortWithinPartitions(sortCols: _*)
    val outDir = MetaIO.join(outputDir, UUID.randomUUID().toString)
    var writer = df.write
      .mode("overwrite")
      .option("compression", parquet.compression)         // default config/mod.rs:297
      .option("parquet.block.size", parquet.rowGroupBytes) // default config/mod.rs:35
      .option("maxRecordsPerFile", math.max(1L, maxRecordsPerFile))
    parquet.pageSizeBytes.foreach(v => writer = writer.option("parquet.page.size", v))
    parquet.dictionaryEnabled.foreach(v =>
      writer = writer.option("parquet.enable.dictionary", v.toString))
    parquet.bloomFilterColumns.foreach(c =>
      writer = writer.option(s"parquet.bloom.filter.enabled#$c", "true"))
    if (partCols.nonEmpty) writer = writer.partitionBy(partCols: _*)
    writer.parquet(outDir)
    listWrittenFiles(spark, outDir, partitionSpec)
  }

  /** Iceberg's `write.distribution-mode`; `range` range-distributes
    * rewrites by the sort key, so their files carry globally ordered,
    * non-overlapping zone maps that range reads prune to. */
  private val DistributionModeKey = "write.distribution-mode"

  /** The engine's one table writer: every file an engine write adds to
    * `table` is written here, with what the table decides derived from it
    * in this one place —
    *  - the directory, `location/data`;
    *  - the field ids: schema ids (and the reserved lineage ids) for data
    *    and equality-delete files on typed tables
    *    ([[IceWrite.withFieldIds]]), the spec's reserved ids for position
    *    deletes ([[IceWrite.withPosDeleteFieldIds]]);
    *  - the layout: partition spec and sort order for data files, neither
    *    for delete files, and [[DistributionModeKey]] for writes that
    *    repartition;
    *  - the parquet settings: the table's `write.parquet.*` properties
    *    over `parquetBase`.
    * Rows per file are `targetFileSizeBytes / bytesPerRecord`; 256 B/row
    * is the pre-stats guess. */
  def writeTableFiles(
      spark: SparkSession,
      table: TableMetadata,
      df: DataFrame,
      content: FileContent.Value = FileContent.Data,
      targetFileSizeBytes: Long = Defaults.TargetFileSize,
      bytesPerRecord: Double = 256.0,
      repartitionTo: Int = 0,
      zorderDomains: Map[String, (BigDecimal, BigDecimal)] = Map.empty,
      parquetBase: ParquetWriteConfig = ParquetWriteConfig()): Seq[FileEntry] = {
    val isData = content == FileContent.Data
    val stamped =
      if (content == FileContent.PositionDeletes) IceWrite.withPosDeleteFieldIds(df)
      else if (table.isTyped) IceWrite.withFieldIds(df, table.schema)
      else df
    writeDataFiles(spark, stamped, MetaIO.join(table.location, "data"),
      if (isData) table.partitionSpec else Nil,
      if (isData) table.sortOrder else Nil,
      maxRecordsPerFile = math.max(1L, (targetFileSizeBytes / bytesPerRecord).toLong),
      repartitionTo = repartitionTo, zorderDomains = zorderDomains,
      rangeDistribute = table.properties.get(DistributionModeKey).contains("range"),
      parquet = ParquetWriteConfig.fromProperties(table.properties, parquetBase))
  }

  override def rewriteFiles(spark: SparkSession, req: RewriteRequest): RewriteResult = {
    val t0 = System.nanoTime()
    val g = req.group
    val table = req.table
    // v3: surviving rows keep their identity — the rewrite reads row ids
    // and the writer materializes `_row_id` into the new files. The
    // writer also re-stamps field ids: the MOR frame's id metadata is
    // stripped on the name-matched branch (add_files-imported inputs),
    // and rewritten files must ALWAYS carry footer ids, because their
    // entries graduate to id-addressed reads (nameMatched=false). The
    // table's partition spec lets rowTransform filters (COW deleteWhere/
    // update discovery) prune files by identity partition values
    val df = req.rowTransform(Mor.dataFrame(spark, table, g, keepRowIds = table.tracksRowLineage))

    // target-file-size enforcement: records per target file from the
    // observed-output hint when dynamic estimation supplies one (the
    // reference's smoothed estimator, config/mod.rs:37-38), else from the
    // input's bytes/record ratio
    val inRecords = math.max(1L, g.dataFiles.map(_.recordCount).sum)
    val inBytes = math.max(1L, g.totalSize)
    val bytesPerRecord =
      if (req.bytesPerRecordHint > 0) math.max(1.0, req.bytesPerRecordHint)
      else math.max(1L, inBytes / inRecords).toDouble

    // zorder domains come free from the input files' manifest zone maps
    // when every data file carries stats for the column; otherwise
    // writeDataFiles falls back to one agg pass
    val retired = table.statsRetiredNames
    val zorderDomains: Map[String, (BigDecimal, BigDecimal)] =
      table.sortOrder.flatMap(s => multiColsOf(s.column)).flatten.distinct
        .flatMap { c =>
          val perFile = g.dataFiles.map(_.columnStats.get(c))
          if (!retired.contains(c) && perFile.nonEmpty && perFile.forall(_.isDefined)) {
            // STRING zone maps don't parse: fall to the agg-pass path
            scala.util.Try {
              val mins = perFile.flatten.map(v => BigDecimal(v._1))
              val maxs = perFile.flatten.map(v => BigDecimal(v._2))
              c -> (mins.min, maxs.max)
            }.toOption
          } else None
        }.toMap

    // fan-out by partition when partitioned, else round-robin, to exactly
    // outputParallelism write tasks (reference: RepartitionExec +
    // RecordBatchPartitionSplitter fan-out, executor/datafusion/mod.rs:163-223);
    // per-partition sort by table sort order (SortExec with
    // preserve_partitioning, datafusion_processor.rs:193-213)
    val added = writeTableFiles(spark, table, df,
      targetFileSizeBytes = req.targetFileSizeBytes, bytesPerRecord = bytesPerRecord,
      repartitionTo = g.outputParallelism, zorderDomains = zorderDomains,
      parquetBase = req.parquet)
    val stats = RewriteStats(
      inputFiles = g.inputFilesCount,
      inputBytes = g.inputTotalBytes,
      outputFiles = added.size,
      outputBytes = added.map(_.length).sum,
      outputRecords = added.map(_.recordCount).sum,
      durationMs = (System.nanoTime() - t0) / 1000000L
    )
    RewriteResult(added, stats)
  }

  /** Serial footer reads cost one object-store round-trip each; above
    * this many files the reads distribute as a Spark job. The reference's
    * own envelope is 4096 files/plan (core/src/common/metrics.rs:66-68) —
    * serial driver round-trips there are minutes on an object store. The
    * cutoff keeps tiny writes (1-8 files, the common compaction output)
    * free of job-scheduling overhead. */
  private val DistributeFooterReadsAbove = 8

  /** Lists written parquet files with sizes + footer record counts and
    * decodes partition values from directory names. Hadoop FileSystem
    * throughout (the [[graft.meta.MetaIO]] storage seam), so the write
    * target may be any configured filesystem, not just local disk.
    * Footer reads are DISTRIBUTED past [[DistributeFooterReadsAbove]]:
    * one Spark job over the paths, each task reading its slice's footers
    * with the driver's shipped Hadoop conf — never a per-file serial
    * driver loop. */
  def listWrittenFiles(
      spark: SparkSession, dir: String, spec: Seq[PartitionField]): Seq[FileEntry] = {
    val rootStr = graft.meta.MetaIO.normalize(dir)
    val files = graft.meta.MetaIO.listFilesRecursive(rootStr)
      .filter(_._1.endsWith(".parquet"))
    // ONE conf for both branches: sessionState.newHadoopConf() folds in
    // session-scoped `spark.conf.set("spark.hadoop.*")` runtime overrides
    // that sparkContext.hadoopConfiguration lacks — shipping anything else
    // would make a credential/endpoint override apply to <=8-file writes
    // but silently not to larger ones
    val conf = spark.sessionState.newHadoopConf()
    val footerOf: String => FooterInfo =
      if (files.size <= DistributeFooterReadsAbove) {
        p => parquetFooterInfo(conf, p)
      } else {
        val shipped = new graft.meta.MetaIO.SerializableHadoopConf(conf)
        val paths = files.map(_._1)
        val slices = math.min(paths.size,
          math.max(1, spark.sparkContext.defaultParallelism))
        spark.sparkContext.parallelize(paths, slices)
          .mapPartitions { it =>
            val c = shipped.value
            it.map(p => p -> parquetFooterInfo(c, p))
          }.collect().toMap
      }
    files.map { case (path, len, _) =>
      val rel = path.stripPrefix(rootStr).stripPrefix("/")
      val partVals = rel.split('/').dropRight(1).flatMap { seg =>
        seg.split("=", 2) match {
          case Array(k, v) if k.startsWith("__part_") =>
            // Spark escapes partition directory names with its own scheme
            // (%-escapes that do NOT treat '+' as space) — decode with its
            // exact inverse, not URLDecoder, or values like "a+b" corrupt
            // and break partition-scoped delete matching / pruning
            require(v != org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME,
              s"null partition value in $rel: null partition keys are not supported " +
                "by this table format (manifest partition values are strings)")
            Some(k.stripPrefix("__part_") ->
              org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(v))
          case _ => None
        }
      }.toMap
      val fi = footerOf(path)
      FileEntry(
        path = path,
        length = len,
        content = FileContent.Data,
        recordCount = fi.rows,
        sequenceNumber = 0L, // assigned at commit
        partitionValues = partVals,
        columnStats = fi.stats,
        nullCounts = fi.nullCounts
      )
    }
  }

  /** Everything the manifest keeps from one parquet footer read: record
    * count, numeric zone maps, and per-column null counts (the latter for
    * every top-level column whose null count the footer states across ALL
    * row groups — including all-null columns, which have no zone map). */
  final case class FooterInfo(
      rows: Long,
      stats: Map[String, (String, String)],
      nullCounts: Map[String, Long])

  /** Top-level column names declared in the parquet footer — footer-only,
    * no data pages touched. Used by add_files import validation. */
  def parquetFooterColumns(
      conf: org.apache.hadoop.conf.Configuration, p: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(p), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFooter.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq
    finally r.close()
  }

  /** (rowCount, numeric per-column zone maps) from the parquet footer —
    * min/max merged across row groups, numeric primitives only. This is
    * the manifest's file-skipping index: collected once at write time,
    * consulted driver-side before any scan is planned. */
  def parquetFooterInfo(
      conf: org.apache.hadoop.conf.Configuration,
      p: String): FooterInfo = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(p), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = r.getFooter.getBlocks.asScala
      // zone-map accumulators: None = POISONED for this file. One row
      // group whose stats exist but are unrepresentable (NaN doubles,
      // >64-byte or non-UTF-8 string bounds) must invalidate the COLUMN's
      // file-level zone map — merging only the representable row groups
      // would record bounds narrower than the file's true range, and a
      // too-narrow bound turns plan-time file skipping into silent row
      // loss. (A row group with no non-null values contributes nothing
      // and poisons nothing: null rows violate no bound.)
      val acc = scala.collection.mutable.Map.empty[String, Option[(BigDecimal, BigDecimal)]]
      // string zone maps, merged in parquet's unsigned-byte order
      val sacc = scala.collection.mutable.Map.empty[String, Option[(String, String)]]
      // null counts: Some(total) while every row group states the count
      // for the column; one unset row group invalidates it (None) —
      // a partial sum would understate nulls and mislead readers
      val nulls = scala.collection.mutable.Map.empty[String, Option[Long]]
      def isUtf8(c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): Boolean =
        c.getPrimitiveType.getLogicalTypeAnnotation.isInstanceOf[
          org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation]
      def utf8Lt(a: String, b: String): Boolean =
        org.apache.spark.unsafe.types.UTF8String.fromString(a)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
      // parquet's Statistics[_ <: Comparable[_]] is an existential type
      import scala.language.existentials
      for (b <- blocks; c <- b.getColumns.asScala; if c.getPath.size() == 1) {
        val st = c.getStatistics
        val name = c.getPath.toDotString
        if (st == null) {
          // a row group with NO statistics object: values unknowable —
          // poison everything for this column (a partial merge of the
          // OTHER row groups would record bounds/null counts that lie
          // about this one's rows)
          nulls.update(name, None); acc.update(name, None); sacc.update(name, None)
        } else {
          nulls.updateWith(name) {
            case Some(None) => Some(None)
            case prev =>
              if (st.isNumNullsSet && st.getNumNulls >= 0)
                Some(Some(prev.flatten.getOrElse(0L) + st.getNumNulls))
              else Some(None)
          }
          if (!st.hasNonNullValue) {
            // min/max omitted: legitimate ONLY when the row group is
            // provably all-null. parquet-mr also omits double/float stats
            // when a NaN was observed — such a row group HAS values the
            // recorded bounds would not cover, so poison the column.
            val allNull = st.isNumNullsSet && st.getNumNulls == b.getRowCount
            if (!allNull) { acc.update(name, None); sacc.update(name, None) }
          } else (st.genericGetMin, st.genericGetMax) match {
            case (mn: java.lang.Number, mx: java.lang.Number) =>
              // NaN / infinite double stats are not representable: POISON
              // the column (a partial merge would understate the range)
              val parsed = scala.util.Try(
                (BigDecimal(mn.toString), BigDecimal(mx.toString))).toOption
              acc.updateWith(name) {
                case Some(None) => Some(None)
                case prev => parsed match {
                  case None => Some(None)
                  case Some((pmn, pmx)) => Some(Some(prev.flatten match {
                    case Some((lo, hi)) => (lo.min(pmn), hi.max(pmx))
                    case None => (pmn, pmx)
                  }))
                }
              }
            // STRING zone maps: parquet UTF8 statistics order is unsigned
            // byte-lexicographic — exactly UTF8String's comparison, so the
            // recorded bounds prune string predicates. A row group whose
            // bounds exceed 64 bytes (or fail UTF-8 decode) poisons the
            // column for this file — bounds on long text are useless, and
            // a partial merge would be WRONG, not just useless. Even
            // writer-truncated statistics remain VALID bounds (parquet's
            // BinaryTruncator increments the max prefix), which pruning
            // tolerates — exact-answer consumers (metadata min/max) never
            // read string stats.
            case (mn: org.apache.parquet.io.api.Binary, mx: org.apache.parquet.io.api.Binary)
                if isUtf8(c) =>
              // STRICT decode: Binary.toStringUsingUTF8 substitutes U+FFFD
              // for malformed bytes instead of throwing, and U+FFFD
              // (EF BF BD) can sort ABOVE the true byte-truncated min —
              // recording a min larger than reality enables wrong skips.
              // A bound that is not valid UTF-8 (e.g. a foreign writer
              // byte-truncated mid-codepoint) poisons the column instead.
              def strict(b: org.apache.parquet.io.api.Binary): Option[String] = {
                val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
                  .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
                  .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
                scala.util.Try(dec.decode(b.toByteBuffer).toString).toOption
              }
              val decoded =
                if (mn.length <= 64 && mx.length <= 64)
                  for { a <- strict(mn); b <- strict(mx) } yield (a, b)
                else None
              sacc.updateWith(name) {
                case Some(None) => Some(None)
                case prev => decoded match {
                  case None => Some(None)
                  case Some((mnS, mxS)) => Some(Some(prev.flatten match {
                    case Some((lo, hi)) => (
                      if (utf8Lt(mnS, lo)) mnS else lo,
                      if (utf8Lt(hi, mxS)) mxS else hi)
                    case None => (mnS, mxS)
                  }))
                }
              }
            case _ => () // bool/nested/non-utf8 binary: no zone map at all
          }
        }
      }
      FooterInfo(r.getRecordCount,
        acc.collect { case (k, Some((mn, mx))) => k -> (mn.toString, mx.toString) }.toMap ++
          sacc.collect { case (k, Some(b)) => k -> b }.toMap, // disjoint keys
        nulls.collect { case (k, Some(n)) => k -> n }.toMap)
    } finally r.close()
  }
}
