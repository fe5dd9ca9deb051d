package graft.meta

/** Core table-format model ("icelite"): the minimal subset of an
  * Iceberg-style table format that the reference engine actually touches
  * (cf. /root/reference/core/src/compaction/mod.rs:384-516 and
  * iceberg_file_task_scan.rs:681-702). Tables are a set of Parquet files
  * tracked by versioned JSON metadata with snapshots, sequence numbers and
  * data / position-delete / equality-delete content types.
  */
object FileContent extends Enumeration {
  val Data, PositionDeletes, EqualityDeletes = Value
}

/** One schema column, addressed by a stable field id — the property that
  * makes rename/reorder/add-column safe without rewriting data files. The
  * reference is field-id addressed throughout (`field_by_id`,
  * `highest_field_id` — datafusion_processor.rs:693,741,835-841); the
  * Spark-native equivalent is parquet field ids: ids ride in
  * `StructField.metadata` under `parquet.field.id`, Spark writes them into
  * file footers (`spark.sql.parquet.fieldId.write.enabled`) and matches
  * read schemas against files BY ID instead of by name
  * (`spark.sql.parquet.fieldId.read.enabled`).
  *
  * @param dataType DDL type string ("BIGINT", "ARRAY<FLOAT>", ...); empty
  *                 for legacy/untyped tables, which read by column name.
  */
final case class SchemaField(id: Int, name: String, dataType: String = "",
    nullable: Boolean = true,
    /** Iceberg v3 `initial-default`: a SQL literal (e.g. "'unknown'",
      * "42") that rows written BEFORE the column existed read as —
      * per-file semantics, applied only when the file lacks the column. */
    initialDefault: Option[String] = None) {
  def isTyped: Boolean = dataType.nonEmpty
  def sparkType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.DataType.fromDDL(dataType)
  /** StructField carrying the parquet field id, for id-matched reads/writes. */
  def toStructField: org.apache.spark.sql.types.StructField = {
    val b = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(SchemaField.ParquetFieldIdKey, id.toLong)
    // Spark's vectorized parquet reader fills a column ABSENT from a
    // file's footer with the EXISTS_DEFAULT literal — per-file exactness
    // for free: files that HAVE the column keep their explicit nulls
    // (DefaultProbeSpec pins this upstream behavior)
    initialDefault.foreach { d =>
      b.putString("EXISTS_DEFAULT", d).putString("CURRENT_DEFAULT", d)
    }
    org.apache.spark.sql.types.StructField(name, sparkType, nullable, b.build())
  }
}

object SchemaField {
  /** Spark's native parquet field-id metadata key (ParquetUtils.FIELD_ID_METADATA_KEY). */
  val ParquetFieldIdKey = "parquet.field.id"

  /** Typed schema from a Spark schema, ids assigned 1..n. */
  def fromStruct(st: org.apache.spark.sql.types.StructType): Seq[SchemaField] =
    st.fields.toSeq.zipWithIndex.map { case (f, i) =>
      // CREATE-time column DEFAULTs ride StructField metadata (Spark's
      // CURRENT_DEFAULT carries the original SQL literal) -> the same
      // initial-default slot ALTER ADD COLUMNS fills, used both for
      // file-absent reads and the INSERT missing-column fill
      // the initial-default slot doubles as Iceberg v3's initial-default
      // and the EXISTS_DEFAULT read fill, both of which the spec requires
      // to be a FIXED literal — fold the default expression now (so
      // current_timestamp() can't make snapshot reads non-deterministic)
      // and refuse non-foldable expressions at CREATE
      val dflt =
        (if (f.metadata.contains("EXISTS_DEFAULT"))
          Some(f.metadata.getString("EXISTS_DEFAULT"))
        else if (f.metadata.contains("CURRENT_DEFAULT"))
          Some(f.metadata.getString("CURRENT_DEFAULT"))
        else None).map(foldDefault(f.name, _))
      SchemaField(i + 1, f.name, f.dataType.sql, f.nullable, initialDefault = dflt)
    }

  /** Folds a column-DEFAULT SQL expression to a literal's SQL text, or
    * throws for non-foldable expressions (current_timestamp() etc. —
    * Iceberg's initial-default is a fixed literal, and a re-evaluated
    * default would make file-absent snapshot reads non-deterministic). */
  private def foldDefault(col: String, sql: String): String = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val folded =
      try {
        val e = org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql)
        if (e.resolved && e.foldable) Some(Literal.create(e.eval(), e.dataType).sql)
        else None
      } catch { case scala.util.control.NonFatal(_) => None }
    folded.getOrElse(throw new IllegalArgumentException(
      s"column $col DEFAULT $sql is not a constant — defaults must fold to a " +
        "literal at CREATE time (the initial-default fills file-absent reads and " +
        "must be fixed at schema-change time, not re-evaluated per query)"))
  }

  /** Untyped (name-addressed) schema for legacy tables, ids positional. */
  def fromNames(names: Seq[String]): Seq[SchemaField] =
    names.zipWithIndex.map { case (n, i) => SchemaField(i + 1, n) }
}

/** One tracked file (reference FileScanTask field list:
  * iceberg_file_task_scan.rs:681-702). `length` == file size in bytes.
  *
  * @param partitionValues partition-column name -> stringified value; empty
  *                        for unpartitioned files (strategy.rs:953-971).
  * @param equalityIds     column names forming the equality-delete key
  *                        (only for EqualityDeletes content). Names are the
  *                        key AS WRITTEN in the delete file; with a typed
  *                        table schema, `equalityFieldIds` is authoritative
  *                        (rename-safe — the reference keys deletes by field
  *                        id, datafusion_processor.rs:700-728).
  * @param equalityFieldIds stable field ids of the equality-delete key
  *                        columns; empty for legacy name-addressed deletes.
  * @param deletes         paths of delete files that apply to this data file
  *                        (resolved at scan time, like `task.deletes`).
  */
final case class FileEntry(
    path: String,
    length: Long,
    content: FileContent.Value,
    recordCount: Long,
    sequenceNumber: Long,
    equalityIds: Seq[String] = Nil,
    equalityFieldIds: Seq[Int] = Nil,
    partitionValues: Map[String, String] = Map.empty,
    deletes: Seq[String] = Nil,
    /** per-column zone maps (min, max) collected from parquet footers at
      * write time — numeric columns as decimal strings (footer encoding:
      * DATE days, TIMESTAMP micros, short DECIMAL unscaled), string
      * columns as the bound strings themselves (parquet UTF8 statistics
      * order = unsigned-byte = UTF8String order; values over 64 bytes are
      * not recorded). Used for manifest-level file skipping. */
    columnStats: Map[String, (String, String)] = Map.empty,
    /** per-column null counts from the parquet footer — only columns whose
      * count every row group states. Feeds Iceberg export's
      * `null_value_counts` (and `value_counts`: top-level columns hold one
      * value per row, so value_count == recordCount). Empty on files
      * written before this field existed. */
    nullCounts: Map[String, Long] = Map.empty,
    /** Iceberg v3 deletion vector: a position-delete entry whose payload is
      * a bitmap blob inside a Puffin file rather than a parquet file. Set
      * iff this entry is a DV; a DV applies to exactly the one data file it
      * references (spec: `referenced_data_file` is required for DVs). */
    referencedDataFile: Option[String] = None,
    /** byte offset of the DV blob inside the Puffin file at `path`. */
    contentOffset: Option[Long] = None,
    /** byte length of the DV blob. */
    contentSizeInBytes: Option[Long] = None,
    /** true for files REGISTERED from outside the engine (add_files /
      * import): their footers carry no parquet field ids, so reads match
      * columns BY NAME for these files (and only these). Cleared the
      * moment compaction rewrites them — rewritten files get ids stamped
      * and graduate to rename-safe id addressing. */
    nameMatched: Boolean = false,
    /** Iceberg v3 row lineage: the first row id of this data file's
      * claimed range — row N of the file has id firstRowId + N unless the
      * file materializes a `_row_id` column (rewrites do, preserving ids
      * through compaction). None on v2 tables and non-data files. */
    firstRowId: Option[Long] = None,
    /** Partition-spec marker: 0 = the table's CURRENT partition spec
      * (every natively-written file — graft tables have one live spec).
      * Non-zero only on files imported from a foreign Iceberg table with
      * partition-spec evolution, where it is the foreign historical
      * `partition_spec_id` + 1 (an injective graft-relative renumbering so
      * a foreign historical spec 0 cannot masquerade as current). The
      * pair (specId, partitionValues) is the partition IDENTITY: scoped
      * deletes attach and MOR groups split on it, so two specs that
      * happen to produce identical value maps (e.g. bucket[4] -> bucket[8]
      * over the same column) can never cross-apply deletes. Compaction
      * rewrites always land under the current spec, clearing the marker. */
    specId: Int = 0
) {
  /** true for Iceberg v3 deletion-vector entries ([[Puffin]] blob payloads). */
  def isDeletionVector: Boolean =
    content == FileContent.PositionDeletes && referencedDataFile.nonEmpty

  /** Unique manifest-entry key. Plain files are path-unique, but several
    * DV entries share one Puffin container path (one blob per referenced
    * data file), so every path-keyed resolution map — `task.deletes`,
    * FileGroup resolution, manifest deltas — keys by this instead. */
  def resolutionKey: String =
    if (isDeletionVector) s"$path#${contentOffset.getOrElse(0L)}" else path
  /** true when the file may contain rows with `col` in [lo, hi]; files
    * without stats for the column are conservatively kept. */
  def mayContainRange(colName: String, lo: BigDecimal, hi: BigDecimal): Boolean =
    columnStats.get(colName) match {
      case Some((mn, mx)) =>
        try BigDecimal(mx) >= lo && BigDecimal(mn) <= hi
        catch { case _: NumberFormatException => true }
      case None => true
    }
}

/** Sort-order field (identity transform only, like the reference:
  * datafusion_processor.rs:242-278 rejects non-identity transforms). */
final case class SortField(column: String, ascending: Boolean = true, nullsFirst: Boolean = true)

/** Partition-spec field. Supported transforms: "identity", "bucket[n]"
  * (the only transforms exercised by the reference's tests —
  * SURVEY.md §1.2), "sparkbucket[n]" as an opt-out, and the Iceberg TIME
  * transforms "year"/"month"/"day"/"hour" — the canonical pipeline
  * layout (partition by ingestion day, expire by day).
  *
  * Time transforms record their partition values as the HUMAN literal of
  * the Iceberg ordinal ("2026" / "2026-01" / "2026-01-01" /
  * "2026-01-01-15"), computed in UTC per the Iceberg spec — sessions
  * must run `spark.sql.session.timeZone=UTC` (every entry point here
  * does) or the directory fan-out and the residual filter would both
  * shift. The literal form makes time-partitioned values
  * value-addressable exactly like identity: dropPartitions /
  * overwritePartitions / tablePartition work on them unchanged, which is
  * the point — day-partitioned retention is a metadata-only drop.
  * [[graft.meta.IcebergExport]] converts literals to the spec's int
  * ordinals (days/months/years/hours since epoch) at the interop
  * boundary; import converts back.
  *
  * "bucket[n]" is the Iceberg-spec bucket (murmur3_x86_32 over the
  * single-value binary encoding, [[graft.functions.IcebergBucketUtil]]) —
  * a table written with it is bucket-compatible with any spec-compliant
  * Iceberg engine. "sparkbucket[n]" keeps the engine-internal Spark
  * murmur3 (`pmod(hash(col), n)`): cheaper (no byte encoding) but NOT
  * cross-engine compatible — only for tables no other engine writes.
  *
  * MIGRATION NOTE: "bucket[n]" meant the Spark hash before it was
  * redefined to the Iceberg spec. A table whose manifests were written
  * under the old meaning must have its spec renamed to "sparkbucket[n]"
  * (a pure metadata edit — the recorded per-file ordinals ARE Spark-hash
  * ordinals) before being read by current code; otherwise the partition
  * residual filter hashes with the new function against old recorded
  * values and silently drops rows. */
final case class PartitionField(column: String, transform: String = "identity") {
  def isIdentity: Boolean = transform == "identity"
  /** true for the Iceberg time transforms (year/month/day/hour). */
  def isTime: Boolean = PartitionField.TimeTransforms.contains(transform)
  /** identity, time, AND truncate transforms are value-addressable: the
    * recorded partition value is a faithful literal a user can name in a
    * filter or a drop (truncate values are real prefixes / floor
    * multiples of the source) — unlike bucket ordinals. */
  def isValueAddressable: Boolean = isIdentity || isTime || isTruncate
  def bucketN: Option[Int] = bucketArg("bucket")
  def sparkBucketN: Option[Int] = bucketArg("sparkbucket")
  def isBucket: Boolean = bucketN.nonEmpty || sparkBucketN.nonEmpty
  /** Iceberg `truncate[W]`: width-W order-preserving truncation
    * ([[graft.functions.IcebergTruncate]]). */
  def truncateW: Option[Int] = bucketArg("truncate")
  def isTruncate: Boolean = truncateW.nonEmpty
  private def bucketArg(prefix: String): Option[Int] =
    if (transform.startsWith(prefix + "[") && transform.endsWith("]"))
      Some(transform.stripPrefix(prefix + "[").stripSuffix("]").toInt)
    else None
}

object PartitionField {
  val TimeTransforms: Set[String] = Set("year", "month", "day", "hour")

  /** Human literal <-> Iceberg int ordinal for the time transforms, UTC
    * (spec: years/months/days/hours since 1970). The literal forms match
    * Iceberg's own human representation and are what graft records as
    * partition values. */
  def timeLiteralToOrdinal(transform: String, literal: String): Int = transform match {
    case "year" => literal.toInt - 1970
    case "month" =>
      val Array(y, m) = literal.split("-", 2); (y.toInt - 1970) * 12 + (m.toInt - 1)
    case "day" => java.time.LocalDate.parse(literal).toEpochDay.toInt
    case "hour" =>
      val i = literal.lastIndexOf('-')
      val d = java.time.LocalDate.parse(literal.substring(0, i))
      (d.toEpochDay * 24 + literal.substring(i + 1).toInt).toInt
    case other => sys.error(s"not a time transform: $other")
  }

  def timeOrdinalToLiteral(transform: String, ordinal: Int): String = transform match {
    case "year" => (1970 + ordinal).toString
    case "month" =>
      val y = 1970 + Math.floorDiv(ordinal, 12); val m = Math.floorMod(ordinal, 12) + 1
      f"$y%04d-$m%02d"
    case "day" => java.time.LocalDate.ofEpochDay(ordinal.toLong).toString
    case "hour" =>
      val d = java.time.LocalDate.ofEpochDay(Math.floorDiv(ordinal.toLong, 24L))
      f"$d-${Math.floorMod(ordinal.toLong, 24L)}%02d"
    case other => sys.error(s"not a time transform: $other")
  }
}

/** A committed table version. `sequenceNumber` is the table-level sequence
  * at commit time; files carry their own per-file sequence numbers. */
final case class Snapshot(
    snapshotId: Long,
    parentId: Option[Long],
    sequenceNumber: Long,
    timestampMs: Long,
    manifest: Seq[FileEntry],
    summary: Map[String, String] = Map.empty
)

/** Versioned table metadata; the unit the catalog CASes on commit. */
final case class TableMetadata(
    name: String,
    location: String,
    formatVersion: Int = 2,
    schema: Seq[SchemaField] = Nil,
    partitionSpec: Seq[PartitionField] = Nil,
    sortOrder: Seq[SortField] = Nil,
    currentSnapshotId: Option[Long] = None,
    refs: Map[String, Long] = Map.empty, // branch name -> snapshot id (movable)
    snapshots: Seq[Snapshot] = Nil,
    lastSequenceNumber: Long = 0L,
    version: Int = 0,
    /** highest field id ever assigned — never reused, so a re-added column
      * name can't resurrect an old column's data (highest_field_id,
      * datafusion_processor.rs:835-841). */
    lastColumnId: Int = 0,
    /** tag name -> snapshot id: IMMUTABLE named refs (Iceberg tags) —
      * created once, never moved, pin their snapshot against expiry. */
    tags: Map[String, Long] = Map.empty,
    /** TABLE-level properties (Iceberg's metadata `properties` map) —
      * config and persisted statistics; snapshot summaries (op 36) are
      * per-commit, these span commits. */
    properties: Map[String, String] = Map.empty,
    /** Iceberg v3 ROW LINEAGE cursor (`next-row-id`): the next unassigned
      * row id. Every data file committed to a v3 table claims the range
      * [firstRowId, firstRowId + recordCount); the cursor advances in the
      * SAME CAS as the snapshot, so concurrent appends get disjoint
      * ranges. 0 until the first v3 data commit. */
    nextRowId: Long = 0L,
    /** Definitions of HISTORICAL partition specs, keyed by the
      * [[FileEntry.specId]] marker their files carry (never key 0 — the
      * current spec is `partitionSpec`). Recorded by partition-spec
      * evolution (the spec being superseded) and by Iceberg import (each
      * referenced foreign spec). Purely informational for reads — the
      * conservative (specId != 0) handling never consults it — but it is
      * what lets [[IcebergExport]] emit spec-faithful multi-spec metadata
      * instead of dropping marked history. Empty on tables that never
      * evolved a transform. */
    historicalSpecs: Map[Int, Seq[PartitionField]] = Map.empty
) {
  /** Drops [[historicalSpecs]] entries no surviving manifest references —
    * snapshot expiry calls this, being the only operation that retires
    * the last marker-bearing file together with its history (compaction
    * clears markers from the HEAD but time travel keeps them alive until
    * expiry). O(1) no-op for tables that never evolved a transform. */
  def pruneUnreferencedHistoricalSpecs: TableMetadata =
    if (historicalSpecs.isEmpty) this
    else {
      val referenced = snapshots.iterator.flatMap(_.manifest.iterator.map(_.specId)).toSet
      copy(historicalSpecs = historicalSpecs.filter { case (k, _) => referenced(k) })
    }

  /** Column names whose manifest statistics must NOT be trusted: a name
    * that was ever renamed away or dropped may be REUSED by a later
    * addColumn with a fresh field id, while historical files still carry
    * columnStats/nullCounts recorded under that name for the OLD field —
    * consulting them for the new column would prune files or answer
    * aggregates from another column's data. Maintained by
    * [[SchemaEvolution.renameColumn]]/[[SchemaEvolution.dropColumn]] in a
    * reserved table property; every stats consumer (file skipping,
    * metadata aggregates, range pruning, stats export) skips these names.
    * Partition columns never enter (rename/drop of them is rejected). */
  /** The stable Iceberg `table-uuid` this table exports and serves
    * ([[TableMetadata.UuidKey]], stamped at create/import time). Tables
    * persisted before the key existed fall back to a DETERMINISTIC
    * location-derived uuid, so their exports stay version-stable too. */
  def stableUuid: String =
    properties.getOrElse(TableMetadata.UuidKey,
      java.util.UUID.nameUUIDFromBytes(
        ("graft-table:" + location).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .toString)

  def statsRetiredNames: Set[String] =
    properties.get(TableMetadata.StatsRetiredKey)
      .map(_.split('\u001F').iterator.filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  /** [[statsRetiredNames]] plus `names`, property-encoded. */
  def withStatsRetired(names: Iterable[String]): Map[String, String] =
    properties.updated(TableMetadata.StatsRetiredKey,
      (statsRetiredNames ++ names).toSeq.sorted.mkString("\u001F"))

  /** Current column names, in schema order. */
  def schemaColumns: Seq[String] = schema.map(_.name)
  def fieldById(id: Int): Option[SchemaField] = schema.find(_.id == id)
  def fieldByName(name: String): Option[SchemaField] = schema.find(_.name == name)
  /** The id-bearing Spark read schema when every field is typed; None for
    * legacy name-addressed tables. */
  def typedStruct: Option[org.apache.spark.sql.types.StructType] =
    if (schema.nonEmpty && schema.forall(_.isTyped))
      Some(org.apache.spark.sql.types.StructType(schema.map(_.toStructField)))
    else None
  def snapshotById(id: Long): Option[Snapshot] = snapshots.find(_.snapshotId == id)
  def snapshotForRef(branch: String): Option[Snapshot] =
    refs.get(branch).flatMap(snapshotById)
  def currentSnapshot: Option[Snapshot] = currentSnapshotId.flatMap(snapshotById)

  /** The id [[withSnapshot]] gives the next snapshot: max existing + 1.
    * Writers that must name the snapshot before building it (deletion
    * vector blobs record it) read it here. */
  def nextSnapshotId: Long = snapshots.iterator.map(_.snapshotId).foldLeft(0L)(math.max) + 1

  /** The one snapshot builder: appends a snapshot of `manifest` on top of
    * `parent` and moves the metadata with it.
    *
    *  - the id is `snapshotId`: [[nextSnapshotId]] unless the caller
    *    names it (REST clients choose their own);
    *  - on v3 tables, data files new to `parent` that carry no row-lineage
    *    range claim [nextRowId, nextRowId + rows) in manifest order, and
    *    the cursor advances in the same commit;
    *  - the summary is the parent's custom properties, the computed
    *    added/removed/total figures, `operation`, then `summary`;
    *  - when `publish`, `branch`'s ref moves to the snapshot (and the
    *    current pointer, for main); an unpublished snapshot (write-audit-
    *    publish staging) only joins the snapshot list.
    *
    * File sequence numbers are the caller's: `sequenceNumber` is the
    * snapshot's own (metadata-only maintenance reuses the current one). */
  def withSnapshot(
      parent: Option[Snapshot],
      manifest: Seq[FileEntry],
      operation: String,
      sequenceNumber: Long = lastSequenceNumber + 1,
      branch: String = "main",
      publish: Boolean = true,
      summary: Map[String, String] = Map.empty,
      snapshotId: Long = nextSnapshotId): TableMetadata = {
    val parentManifest = parent.map(_.manifest).getOrElse(Nil)
    var rowCursor = nextRowId
    val stamped =
      if (formatVersion < 3) manifest
      else {
        val inherited = parentManifest.iterator.map(_.resolutionKey).toSet
        manifest.map { f =>
          if (f.content != FileContent.Data || f.firstRowId.nonEmpty ||
              inherited.contains(f.resolutionKey)) f
          else { val assigned = f.copy(firstRowId = Some(rowCursor))
                 rowCursor += f.recordCount; assigned }
        }
      }
    val snap = Snapshot(snapshotId, parent.map(_.snapshotId), sequenceNumber,
      System.currentTimeMillis(), stamped,
      parent.map(p => TableMetadata.preservedProperties(p.summary)).getOrElse(Map.empty) ++
        TableMetadata.computedSummary(parentManifest, stamped) +
        ("operation" -> operation) ++ summary)
    copy(
      snapshots = snapshots :+ snap,
      refs = if (publish) refs + (branch -> snapshotId) else refs,
      currentSnapshotId =
        if (publish && branch == "main") Some(snapshotId) else currentSnapshotId,
      lastSequenceNumber = math.max(lastSequenceNumber, sequenceNumber),
      nextRowId = rowCursor)
  }

  /** Data files of a snapshot with their delete files resolved, mirroring
    * `get_all_files_from_snapshot` + task.deletes attachment
    * (core/src/compaction/mod.rs:734-761). A delete file applies to a data
    * file when (a) it is partition-scoped to the same partition values, or
    * global (empty partition values — Iceberg's unpartitioned-spec delete),
    * and (b) for equality deletes, deleteSeq > dataSeq; for position
    * deletes, deleteSeq >= dataSeq. */
  def scanTasks(snapshot: Snapshot): Seq[FileEntry] = {
    // index deletes by partition scope once: planning is driver-side, and
    // a naive per-data-file scan over all deletes is O(data x deletes) —
    // quadratic at manifest scale (10^6 data files x 10^4 deletes).
    // Manifest order of each file's delete list is preserved via the
    // original index.
    val deletes = snapshot.manifest.filter(_.content != FileContent.Data).zipWithIndex
    // deletion vectors are file-addressed, not partition-addressed: a DV
    // applies to exactly its referenced data file (Iceberg v3 spec), so it
    // bypasses the partition-scope candidate sets entirely
    val (dvs, plain) = deletes.partition(_._1.isDeletionVector)
    val dvByReferenced = dvs.groupBy(_._1.referencedDataFile.get)
    val (global, scoped) = plain.partition(_._1.partitionValues.isEmpty)
    // partition identity = (specId, values): see FileEntry.specId — a
    // scoped delete written under one spec must not attach to a data file
    // of another spec whose value map happens to coincide
    val scopedByPartition = scoped.groupBy(e => (e._1.specId, e._1.partitionValues))
    snapshot.manifest.filter(_.content == FileContent.Data).map { d =>
      val candidates = global ++
        scopedByPartition.getOrElse((d.specId, d.partitionValues), Nil) ++
        dvByReferenced.getOrElse(d.path, Nil)
      val applicable = candidates.filter { case (del, _) =>
        del.content match {
          case FileContent.EqualityDeletes => del.sequenceNumber > d.sequenceNumber
          case _                           => del.sequenceNumber >= d.sequenceNumber
        }
      }.sortBy(_._2).map(_._1)
      d.copy(deletes = applicable.map(_.resolutionKey))
    }
  }
}

object TableMetadata {
  /** Reserved table property holding the retired stats names
    * (unit-separator-joined; see [[TableMetadata.statsRetiredNames]]). */
  val StatsRetiredKey = "graft.stats.retired-names"

  /** Reserved table property holding the table's STABLE uuid — the
    * Iceberg `table-uuid` the spec requires to be immutable for the
    * table's whole life (clients validate it on every refresh, and
    * `assert-table-uuid` commit requirements compare against it).
    * Stamped once at [[Catalog.createTable]] time; an Iceberg import
    * carries the FOREIGN table's uuid here so re-export/serve/refresh
    * all agree on the same identity. */
  val UuidKey = "graft.table-uuid"

  /** Stamps a fresh uuid under [[UuidKey]] unless one is already present
    * (imports arrive with the source table's uuid — keep it). */
  def withStableUuid(meta: TableMetadata): TableMetadata =
    if (meta.properties.contains(UuidKey)) meta
    else meta.copy(properties = meta.properties +
      (UuidKey -> java.util.UUID.randomUUID().toString))

  /** Summary keys auto-computed per snapshot; never copied forward when
    * preserving custom snapshot properties (mod.rs:1187-1224). */
  val ReservedSummaryKeys: Set[String] = Set(
    "operation", "added-data-files", "deleted-data-files", "total-data-files",
    "added-delete-files", "total-delete-files", "added-records", "deleted-records",
    "total-records", "added-files-size", "removed-files-size", "total-files-size",
    "added-position-deletes", "total-position-deletes", "added-equality-deletes",
    "total-equality-deletes", "changed-partition-count", "total-position-delete-files",
    "total-equality-delete-files", "added-position-delete-files",
    "removed-position-delete-files", "added-equality-delete-files",
    "removed-equality-delete-files",
    // physical-rewrite marker (set by compaction commits, consumed by the
    // changelog); copying it forward would mark every later snapshot as a
    // rewrite
    "rewrite",
    // REST client per-attempt commit marker ([[IcebergRestCommit]]):
    // identifies exactly ONE commit for commit-state-unknown recovery —
    // inheriting it would make every later snapshot claim that identity
    "graft.commit-uuid"
  )
  def preservedProperties(summary: Map[String, String]): Map[String, String] =
    summary.filterNot { case (k, _) =>
      ReservedSummaryKeys.contains(k) || k.startsWith("partitions.")
    }

  /** Auto-computed snapshot summary (the reference's commit-time stats,
    * mod.rs:1187-1224): added/removed deltas against the parent manifest
    * plus totals for the new one. Values are stringified like Iceberg's. */
  def computedSummary(
      parent: Seq[FileEntry], next: Seq[FileEntry]): Map[String, String] = {
    def isData(f: FileEntry) = f.content == FileContent.Data
    val parentPaths = parent.map(_.path).toSet
    val nextPaths = next.map(_.path).toSet
    val added = next.filterNot(f => parentPaths.contains(f.path))
    val removed = parent.filterNot(f => nextPaths.contains(f.path))
    val (addedData, addedDel) = added.partition(isData)
    val (removedData, _) = removed.partition(isData)
    val (data, del) = next.partition(isData)
    Map(
      "added-data-files" -> addedData.size.toString,
      "deleted-data-files" -> removedData.size.toString,
      "total-data-files" -> data.size.toString,
      "added-delete-files" -> addedDel.size.toString,
      "total-delete-files" -> del.size.toString,
      "added-records" -> addedData.map(_.recordCount).sum.toString,
      "deleted-records" -> removedData.map(_.recordCount).sum.toString,
      "total-records" -> data.map(_.recordCount).sum.toString,
      "added-files-size" -> added.map(_.length).sum.toString,
      "removed-files-size" -> removed.map(_.length).sum.toString,
      "total-files-size" -> next.map(_.length).sum.toString
    )
  }
}
