package graft.compaction

import graft.meta.MetaIO
import scala.jdk.CollectionConverters._

import graft.meta._
import graft.selection.FullCompactionConfig

/** Table maintenance: snapshot expiry and orphan-file detection. The
  * reference lists these as roadmap items (README.md:49-86) — they are
  * required to close the storage loop once compaction rewrites files, so
  * rewritten data files eventually get reclaimed.
  *
  * All metadata-only driver-side work; deletion itself is explicit and
  * separate from detection so callers can dry-run.
  */
object Maintenance {

  /** Keeps the `keepLast` newest snapshots (plus every snapshot a branch
    * ref or tag points at); commits the trimmed metadata via CAS retry. */
  def expireSnapshots(catalog: Catalog, tableName: String, keepLast: Int): TableMetadata = {
    require(keepLast >= 1, "keepLast must be >= 1")
    catalog.transact(tableName) { meta =>
      val byAge = meta.snapshots.sortBy(-_.snapshotId)
      val pinned = meta.refs.values.toSet ++ meta.tags.values.toSet ++ meta.currentSnapshotId.toSet
      val keep = (byAge.take(keepLast).map(_.snapshotId).toSet ++ pinned)
      meta.copy(snapshots = meta.snapshots.filter(s => keep.contains(s.snapshotId)))
        .pruneUnreferencedHistoricalSpecs
    }
  }

  /** One sweep row: what happened to one table. */
  final case class SweepReport(table: String, strategy: Option[String],
      compactedPlans: Int, snapshotsAfter: Int, orphanFiles: Int)

  /** Catalog-WIDE maintenance sweep — the cron job a fleet of tables
    * needs, built from the shipped parts and [[Catalog.listTables]]: per
    * table, (1) auto-compaction when the planner recommends it (its own
    * strategy priority: delete-heavy before small-files), (2) snapshot
    * expiry to `keepLastSnapshots`, (3) orphan detection past the grace
    * period, reclaimed only when `reclaimOrphans` (detection is free;
    * deletion is the irreversible half). Planning is metadata-only per
    * table; only tables the planner selects pay a rewrite. A failure on
    * one table is recorded and does not stop the sweep. */
  def sweep(spark: org.apache.spark.sql.SparkSession, catalog: Catalog,
      autoConfig: AutoCompactionConfig = AutoCompactionConfig(),
      keepLastSnapshots: Int = 5,
      orphanGraceMs: Long = DefaultOrphanGraceMs,
      reclaimOrphans: Boolean = false): Seq[SweepReport] =
    catalog.listTables.map { t =>
      try {
        val planner = new AutoCompactionPlanner(autoConfig)
        val rep = planner.planReport(catalog, t)
        // execute EXACTLY the planner's plans — they already carry its
        // strategy choice and the maxAutoPlansPerRun budget cap;
        // re-planning here would duplicate the selection logic and
        // silently drop the cap
        val nPlans =
          if (rep.plans.isEmpty) 0
          else {
            val c = new Compaction(catalog, t, spark)
            val outcomes = rep.plans.map(c.rewritePlan)
            c.commitRewriteResults(outcomes)
            outcomes.size
          }
        val after = expireSnapshots(catalog, t, keepLastSnapshots)
        val orphans = orphanFiles(catalog, t, orphanGraceMs)
        if (reclaimOrphans && orphans.nonEmpty)
          deleteOrphans(catalog, t, orphans, olderThanMs = orphanGraceMs): Unit
        SweepReport(t, rep.selectedStrategy, nPlans, after.snapshots.size, orphans.size)
      } catch {
        case e: Exception =>
          System.err.println(s"[sweep] $t failed: ${e.getMessage}")
          SweepReport(t, None, 0, -1, 0)
      }
    }

  /** Age-based expiry (Iceberg's expireSnapshots olderThan): drops
    * snapshots committed before the cutoff, always keeping every
    * ref-pinned snapshot, the current one, and at least `retainLast`
    * newest. */
  def expireSnapshotsOlderThan(catalog: Catalog, tableName: String,
      olderThanMs: Long, retainLast: Int = 1): TableMetadata = {
    require(retainLast >= 1, "retainLast must be >= 1")
    catalog.transact(tableName) { meta =>
      val pinned = meta.refs.values.toSet ++ meta.tags.values.toSet ++ meta.currentSnapshotId.toSet
      val newest = meta.snapshots.sortBy(-_.snapshotId).take(retainLast).map(_.snapshotId).toSet
      val keep = meta.snapshots.filter(s =>
        s.timestampMs >= olderThanMs || pinned.contains(s.snapshotId) ||
          newest.contains(s.snapshotId))
      meta.copy(snapshots = keep).pruneUnreferencedHistoricalSpecs
    }
  }

  /** Default orphan grace period: 3 days, same as Iceberg's
    * removeOrphanFiles `olderThan` default — files land on disk BEFORE the
    * metadata commit that references them, so a writer in flight always
    * has some "orphan-looking" files; the age cutoff is what keeps GC from
    * eating them. */
  val DefaultOrphanGraceMs: Long = 3L * 24 * 60 * 60 * 1000

  /** Files under the table's data directory referenced by NO live
    * snapshot AND last-modified more than `olderThanMs` ago — safe to
    * delete after expiry. Detection only.
    *
    * The grace period exists because file writes precede the metadata
    * commit: an in-flight append/rewrite's files are unreferenced until
    * its CAS lands, and deleting them makes the subsequent commit point at
    * missing data. Pass a small `olderThanMs` ONLY when no writer can be
    * concurrent (e.g. tests). */
  def orphanFiles(catalog: Catalog, tableName: String,
      olderThanMs: Long = DefaultOrphanGraceMs): Seq[String] = {
    val meta = catalog.loadTable(tableName)
    val live = meta.snapshots.flatMap(_.manifest.map(_.path)).toSet ++
      // the one ANALYZE sketch sidecar the table properties reference;
      // superseded sidecars under stats/ are re-creatable garbage
      meta.properties.get("ndv.sketch.path")
    val cutoff = System.currentTimeMillis() - math.max(0L, olderThanMs)
    // data parquet lives under data/; DV Puffin containers under deletes/;
    // NDV sketch sidecars under stats/ — all become unreferenced (expiry /
    // re-ANALYZE) and must be reclaimable
    val roots = Seq(
      MetaIO.join(meta.location, "data") -> ".parquet",
      MetaIO.join(meta.location, "deletes") -> ".puffin",
      MetaIO.join(meta.location, "stats") -> ".puffin")
    roots.flatMap { case (dir, ext) =>
      MetaIO.listFilesRecursive(dir)
        .filter { case (path, _, mtime) => path.endsWith(ext) && mtime <= cutoff }
        .map(_._1)
        .filterNot(live.contains)
    }.sorted
  }

  /** Delete files in the branch head that no longer delete anything —
    * compaction replaces data files but (like the reference, whose commit
    * collects "only data files ... delete files are excluded",
    * mod.rs:888-900) leaves the consumed delete files in the manifest.
    * An equality delete dangles when no live data file has an older
    * sequence number in its scope (it stops being attached by scanTasks);
    * a position delete dangles when none of the file paths it references
    * still exist as live data files (that requires reading the tombstone
    * parquet — driver-cheap, it is a maintenance path). */
  def danglingDeleteFiles(spark: org.apache.spark.sql.SparkSession,
      catalog: Catalog, tableName: String): Seq[FileEntry] =
    danglingDeleteFiles(spark, catalog.loadTable(tableName))

  private def danglingDeleteFiles(spark: org.apache.spark.sql.SparkSession,
      meta: TableMetadata): Seq[FileEntry] = {
    val snap = meta.currentSnapshot.getOrElse(return Nil)
    val attached = meta.scanTasks(snap).flatMap(_.deletes).toSet
    val dataPaths = snap.manifest.filter(_.content == FileContent.Data).map(_.path).toSet
    snap.manifest.filter(_.content != FileContent.Data).filter { f =>
      if (!attached.contains(f.resolutionKey)) true // out-of-scope for every data file
      // an attached DV's referenced data file is live by construction
      // (scanTasks attaches a DV only to that file) — and its payload is a
      // Puffin blob, never parquet-readable
      else if (f.isDeletionVector) false
      else if (f.content == FileContent.PositionDeletes) {
        import spark.implicits._
        val referenced = graft.exec.Mor.readPositionDeletes(spark, Seq(f))
          .select(graft.exec.Mor.FilePathCol).distinct().as[String].collect()
        !referenced.exists(dataPaths.contains)
      } else false
    }
  }

  /** Commits a new snapshot with the given dangling delete files dropped
    * (paths must come from [[danglingDeleteFiles]]; re-validated). The
    * dropped files become orphans, reclaimable by [[deleteOrphans]] after
    * the grace period. */
  def removeDanglingDeletes(spark: org.apache.spark.sql.SparkSession,
      catalog: Catalog, tableName: String,
      retry: CommitRetryConfig = CommitRetryConfig()): TableMetadata =
    catalog.transact(tableName, retry) { meta =>
      // resolutionKey, not path: DV entries share their container's path,
      // and only the dangling blobs' entries must drop
      val dangling = danglingDeleteFiles(spark, meta).map(_.resolutionKey).toSet
      if (dangling.isEmpty) meta
      else maintenanceSnapshot(meta)(
        _.manifest.filterNot(f => dangling.contains(f.resolutionKey)))
    }

  /** A metadata-only maintenance snapshot on main: `rewrite` maps the head
    * to the new manifest, and the sequence number stays (no new data). A
    * table without a snapshot comes back unchanged (nothing to commit). */
  private def maintenanceSnapshot(meta: TableMetadata)(
      rewrite: Snapshot => Seq[FileEntry]): TableMetadata =
    meta.currentSnapshot.fold(meta)(head => meta.withSnapshot(Some(head),
      rewrite(head), "maintenance", sequenceNumber = meta.lastSequenceNumber))

  /** Commits `written` position-delete files (stamped `seq`) in place of
    * the delete entries `consumed` (resolution keys) — only those: delete
    * files committed since the caller read the head stay live. */
  private def swapInPositionDeletes(catalog: Catalog, tableName: String,
      consumed: Set[String], written: Seq[FileEntry], seq: Long): TableMetadata =
    catalog.transact(tableName) { meta =>
      maintenanceSnapshot(meta)(head =>
        head.manifest.filterNot(f => consumed.contains(f.resolutionKey)) ++
          written.map(_.copy(content = FileContent.PositionDeletes, sequenceNumber = seq)))
    }

  /** Writes `positions` as ONE position-delete file of `meta`. */
  private def writeOneTombstoneFile(spark: org.apache.spark.sql.SparkSession,
      meta: TableMetadata, positions: org.apache.spark.sql.DataFrame): Seq[FileEntry] =
    graft.exec.SparkExecutor.writeTableFiles(spark, meta, positions,
      FileContent.PositionDeletes, targetFileSizeBytes = Long.MaxValue, repartitionTo = 1)

  /** Position-delete file compaction (Iceberg's
    * rewrite_position_delete_files): merges the branch head's pos-delete
    * files into one and drops tombstone ROWS whose referenced data file is
    * no longer live — delete-side read amplification shrinks without
    * touching any data file. The merged file takes the max original
    * sequence number: safe, because a tombstone row targets one specific
    * (file_path, pos) and data paths are unique, so raising the sequence
    * cannot make it match anything new. */
  def rewritePositionDeletes(spark: org.apache.spark.sql.SparkSession,
      catalog: Catalog, tableName: String): TableMetadata = {
    import org.apache.spark.sql.functions.col
    import graft.exec.Mor
    val meta0 = catalog.loadTable(tableName)
    val snap0 = meta0.currentSnapshot.getOrElse(return meta0)
    // DVs are excluded: they are already one compact blob per data file;
    // folding parquet tombstones INTO them is convertPositionDeletesToDVs
    val posFiles = snap0.manifest.filter(f =>
      f.content == FileContent.PositionDeletes && !f.isDeletionVector)
    if (posFiles.isEmpty) return meta0
    val dataPaths = snap0.manifest.filter(_.content == FileContent.Data).map(_.path)

    // survivors: tombstones whose target data file is still live
    val live = spark.createDataset(dataPaths)(
      org.apache.spark.sql.Encoders.STRING).toDF("file_path")
    val survivors = Mor.readPositionDeletes(spark, posFiles)
      .select(col(Mor.FilePathCol).as("file_path"), col(Mor.PosCol).as("pos"))
      .join(org.apache.spark.sql.functions.broadcast(live), Seq("file_path"), "left_semi")
    val written =
      if (survivors.isEmpty) Nil
      else writeOneTombstoneFile(spark, meta0, survivors)
    swapInPositionDeletes(catalog, tableName, posFiles.map(_.resolutionKey).toSet,
      written, posFiles.map(_.sequenceNumber).max)
  }

  /** Converts EQUALITY deletes to POSITION deletes — Iceberg's
    * `convert-equality-deletes` maintenance action: every MOR read pays
    * one theta-ish anti join per eq-delete schema group, while a pos
    * tombstone is a single cheap (file_path, pos) anti join; converting
    * materializes the kill set ONCE so every read afterwards stops
    * paying it. Tombstone-only: no data file is rewritten.
    *
    * The kill set is computed relationally, per partition group, from
    * two MOR views of the group: its live rows WITHOUT its equality
    * deletes minus its live rows WITH them == exactly the rows the eq
    * deletes kill today (rows a position delete already removes are in
    * neither view, so they never duplicate). Rows appended AFTER
    * the conversion snapshot can never be affected (an equality delete
    * only kills strictly-older sequence numbers, and future appends get
    * newer ones), so the materialization is stable; a concurrent
    * compaction applies the eq deletes itself during its rewrite, so
    * tombstones pointing at its replaced paths go dangling-but-harmless
    * (removeDanglingDeletes folds them out).
    *
    * Reads the data twice (this is a maintenance pass, priced like
    * compaction's scan — but writes only tombstones). Returns unchanged
    * metadata when the table carries no equality deletes. A v3 table is
    * refused before any write: its position deletes may only be deletion
    * vectors, and this conversion writes parquet tombstones. */
  def convertEqualityDeletes(spark: org.apache.spark.sql.SparkSession,
      catalog: Catalog, tableName: String): TableMetadata = {
    import org.apache.spark.sql.functions.col
    import graft.exec.Mor
    val meta0 = catalog.loadTable(tableName)
    require(meta0.formatVersion < 3,
      s"convertEqualityDeletes: $tableName is a v${meta0.formatVersion} table, whose position " +
        "deletes may only be deletion vectors; the conversion writes parquet position-delete files")
    val snap0 = meta0.currentSnapshot.getOrElse(return meta0)
    val eqFiles = snap0.manifest.filter(_.content == FileContent.EqualityDeletes)
    if (eqFiles.isEmpty) return meta0
    val tasks = meta0.scanTasks(snap0)
    val groups = graft.selection.FileGroup.ofTasks(snap0, tasks)

    def live(g: graft.selection.FileGroup) =
      Mor.dataFrame(spark, meta0, g, keepHidden = true)
        .select(col(Mor.FilePathCol).as("file_path"), col(Mor.PosCol).as("pos"))
    val killed = groups.map { g =>
      live(g.copy(equalityDeleteFiles = Nil)).join(live(g), Seq("file_path", "pos"), "left_anti")
    }.reduce(_ unionAll _)

    val written =
      if (killed.isEmpty) Nil
      else writeOneTombstoneFile(spark, meta0, killed)
    // the tombstones replace the eq files' effect; stamp their max seq
    // (same safety argument as rewritePositionDeletes: pos application
    // is path-addressed and rewrites always mint fresh paths)
    swapInPositionDeletes(catalog, tableName, eqFiles.map(_.resolutionKey).toSet,
      written, eqFiles.map(_.sequenceNumber).max)
  }

  /** Converts plain (parquet) position-delete files into Iceberg v3
    * deletion vectors: one [[Puffin]] bitmap blob per referenced data
    * file, all blobs in a single Puffin container, committed in place of
    * the parquet tombstones. Reads apply the result as a codegen'd bitmap
    * probe in the scan, decoded on the driver with no Spark job; above the
    * byte gate, as an anti join ([[graft.exec.Mor.dataFrame]]).
    *
    * Exactness: a tombstone row is folded into a DV only when its delete
    * FILE is attached to the row's target data file by [[TableMetadata.scanTasks]]
    * (sequence + partition-scope rules); rows referencing dead data files
    * drop, like [[rewritePositionDeletes]]. A data file that already has a
    * DV gets the union (the spec allows at most one DV per data file).
    * Safety of the single max-sequence stamp is the [[rewritePositionDeletes]]
    * argument: position tombstones are path-addressed and rewrites mint
    * fresh paths, so raising a tombstone's sequence cannot match new rows —
    * and a DV is stricter still, applying only to its referenced file.
    *
    * Bitmaps are built EXECUTOR-side (one aggregate keyed by data file);
    * only the encoded blobs — compressed roaring bitmaps, orders of
    * magnitude smaller than the tombstone rows — return to the driver for
    * the container write. The reference has no v3 path (its processor
    * consumes parquet pos deletes only, datafusion_processor.rs:489-522);
    * this is the published-spec layout on top. */
  def convertPositionDeletesToDVs(spark: org.apache.spark.sql.SparkSession,
      catalog: Catalog, tableName: String): TableMetadata = {
    import org.apache.spark.sql.functions.{broadcast, col}
    import graft.exec.Mor
    val meta0 = catalog.loadTable(tableName)
    val snap0 = meta0.currentSnapshot.getOrElse(return meta0)
    val posFiles = snap0.manifest.filter(f =>
      f.content == FileContent.PositionDeletes && !f.isDeletionVector)
    if (posFiles.isEmpty) return meta0
    val tasks = meta0.scanTasks(snap0)
    val posPaths = posFiles.map(_.path).toSet
    // (delete file, data file) applicability pairs + per-file partition values
    val pairs = for { d <- tasks; del <- d.deletes if posPaths.contains(del) } yield (del, d.path)
    val partitionOf = tasks.map(d => d.path -> d.partitionValues).toMap
    val existingDv = snap0.manifest.filter(_.isDeletionVector)
      .map(f => f.referencedDataFile.get -> f).toMap

    import spark.implicits._
    val rows: Option[org.apache.spark.sql.DataFrame] =
      if (pairs.isEmpty) None
      else {
        val applicable = pairs.toDF("__del_file", "file_path")
        Some(Mor.readPositionDeletes(spark, posFiles,
            Mor.normalizePath(col("_metadata.file_path")).as("__del_file"))
          .select(col("__del_file"), col(Mor.FilePathCol).as("file_path"), col(Mor.PosCol).as("pos"))
          .join(broadcast(applicable), Seq("__del_file", "file_path"), "left_semi"))
      }
    // same driver gate as IceWrite.deleteWhereDv: a tombstone-heavy table
    // streams the containers executor-side instead of collecting blobs
    val smallPath = rows.forall(r =>
      DeletionVectors.underDriverGate(r, DeletionVectors.MaxDriverBlobBytes))
    val newBlobs: Seq[DeletionVectors.DvBlob] =
      if (smallPath) rows.map(DeletionVectors.buildBlobs(spark, _)).getOrElse(Nil)
      else Nil
    val affected: Set[String] =
      if (smallPath) newBlobs.map(_.referencedDataFile).toSet
      else rows.get.select("file_path").distinct().as[String].collect().toSet
    // merge with pre-existing DVs (union; their entries get replaced)
    val merged = DeletionVectors.mergeWithExisting(newBlobs, existingDv)
    val replacedDvs = affected.toSeq.sorted.flatMap(existingDv.get)
    // resolutionKey, not path: un-merged DVs sharing the container must stay
    val replacedDvKeys = replacedDvs.map(_.resolutionKey).toSet
    val stampSeq =
      (posFiles.map(_.sequenceNumber) ++ replacedDvs.map(_.sequenceNumber)).max

    // only swap the tombstones this conversion actually read; pos deletes
    // (or DVs) committed since stay live
    val consumed = posPaths ++ replacedDvKeys
    catalog.transact(tableName) { meta =>
      maintenanceSnapshot(meta) { head =>
        val dvEntries =
          if (smallPath)
            DeletionVectors.writeEntries(meta.location, merged,
              meta.nextSnapshotId, stampSeq, f => partitionOf.getOrElse(f, Map.empty))
          else
            DeletionVectors.writeEntriesStreamed(spark, rows.get,
              existingDv.collect { case (f, e) if affected.contains(f) =>
                f -> (e.path, e.contentOffset.getOrElse(0L), e.contentSizeInBytes.get) },
              meta.location, meta.nextSnapshotId, stampSeq,
              f => partitionOf.getOrElse(f, Map.empty))
        head.manifest.filterNot(f => consumed.contains(f.resolutionKey)) ++ dvEntries
      }
    }
  }

  /** The REVERSE conversion — v3 deletion vectors back into plain parquet
    * position-delete files — the downgrade half of the DV<->tombstone
    * pair, and the interop exit [[graft.meta.IcebergExport]] needs: a v2
    * export cannot carry Puffin DVs, but it can carry the equivalent
    * (file_path, pos) parquet (reserved field ids stamped, so external
    * readers project it).
    *
    * Scale shape: blob decode runs EXECUTOR-side — the DV coordinate list
    * (a few rows per data file) parallelizes, each task range-reads its
    * blobs from the Puffin containers and explodes positions — so a
    * delete-everything table never assembles positions driver-side.
    * Sequence stamp = max DV sequence, safe by the path-addressing
    * argument above. The replaced DV entries drop from the manifest; the
    * containers become orphans for [[deleteOrphans]]. */
  def convertDeletionVectorsToPositionDeletes(
      spark: org.apache.spark.sql.SparkSession,
      catalog: Catalog, tableName: String): TableMetadata = {
    val meta0 = catalog.loadTable(tableName)
    val snap0 = meta0.currentSnapshot.getOrElse(return meta0)
    val dvEntries = snap0.manifest.filter(_.isDeletionVector)
    if (dvEntries.isEmpty) return meta0

    import spark.implicits._
    val coords = dvEntries.map(f => (f.path, f.contentOffset.getOrElse(0L),
      f.contentSizeInBytes.getOrElse(f.length), f.referencedDataFile.get))
    val shipped = MetaIO.serializableConf()
    val positions = spark.createDataset(coords)
      .repartition(math.min(coords.size, spark.sparkContext.defaultParallelism))
      .flatMap { case (p, off, len, file) =>
        MetaIO.installExecutorConf(shipped)
        Puffin.decodeDvBlob(Puffin.readBlob(p, off, len)).positions.map(pos => (file, pos))
      }.toDF("file_path", "pos")
    val written = graft.exec.SparkExecutor.writeTableFiles(spark, meta0, positions,
      FileContent.PositionDeletes, targetFileSizeBytes = Long.MaxValue)
    swapInPositionDeletes(catalog, tableName, dvEntries.map(_.resolutionKey).toSet,
      written, dvEntries.map(_.sequenceNumber).max)
  }

  /** One-call v3 -> Iceberg-v2 interop exit: folds the current snapshot's
    * deletion vectors into reserved-id-stamped parquet position deletes
    * (one maintenance commit, only if any DVs exist), then exports the
    * Iceberg v2 metadata with the remaining v3-only history filtered out
    * ([[graft.meta.IcebergExport.exportIcebergMetadata]] with
    * `allowV3 = true`). Row-lineage columns, if enabled, are a
    * metadata-level feature with no v2 equivalent — they are simply not
    * exported (the data files' extra columns are invisible to id-addressed
    * readers). Returns the exported table-metadata JSON path. */
  def exportIcebergV2(spark: org.apache.spark.sql.SparkSession,
      catalog: Catalog, tableName: String,
      outDir: Option[String] = None): String = {
    val meta = catalog.loadTable(tableName)
    if (meta.currentSnapshot.exists(_.manifest.exists(_.isDeletionVector)))
      convertDeletionVectorsToPositionDeletes(spark, catalog, tableName)
    graft.meta.IcebergExport.exportIcebergMetadata(catalog, tableName, outDir, allowV3 = true)
  }

  /** Trims old metadata version files (v*.metadata.json), keeping the
    * newest `keepLast` — the catalog-side analogue of snapshot expiry;
    * version files otherwise accumulate one per commit forever. With
    * cross-version delta commits every retained version's load chain
    * (its delta-base ancestors down to a FULL anchor) must stay
    * loadable. The chain is determined EMPIRICALLY from each file's own
    * `delta-of-version` pointer, never from `anchorEvery` arithmetic:
    * the warehouse may have been written under a different `anchorEvery`
    * than this instance's constructor parameter (it is not persisted),
    * and arithmetic against the wrong cadence would delete a version
    * that is in fact a live delta base — permanently breaking every
    * retained version. */
  def cleanMetadataVersions(catalog: LocalCatalog, tableName: String, keepLast: Int = 10): Int = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val current = catalog.loadTable(tableName).version
    val dir = MetaIO.join(catalog.tableLocation(tableName), "metadata")
    val pattern = """v(\d+)\.metadata\.json""".r
    val oldestRetained = math.max(1, current - keepLast + 1)
    def vf(v: Int) = MetaIO.join(dir, s"v$v.metadata.json")
    // keep-set = retained window + the delta-base closure of each member
    val keep = scala.collection.mutable.Set.empty[Int]
    var frontier: List[Int] = (oldestRetained to current).toList
    while (frontier.nonEmpty) {
      val v = frontier.head; frontier = frontier.tail
      if (!keep(v) && MetaIO.exists(vf(v))) {
        keep += v
        versionFileDeltaBase(vf(v)).foreach(b => if (!keep(b)) frontier ::= b)
      }
    }
    MetaIO.listFiles(dir).count { case (path, _) =>
      MetaIO.fileName(path) match {
        case pattern(v) if v.toInt < oldestRetained && !keep(v.toInt) =>
          MetaIO.delete(path)
        case _ => false
      }
    }
  }

  /** Classifies a version file by reading only its head: `Some(base)`
    * when it is a cross-version delta, `None` for a full anchor. Deltas
    * put `delta-of-version` as the FIRST JSON key
    * ([[graft.meta.MetadataJson.writeDelta]]), so an 8 KiB prefix —
    * gzip-sniffed and partially inflated when compressed — always
    * contains it; full anchors (which can run to hundreds of MB at 10^6
    * files) are never parsed whole just to learn they are anchors. */
  private[compaction] def versionFileDeltaBase(path: String): Option[Int] = {
    val n = math.min(MetaIO.size(path), 8192L)
    if (n == 0) return None
    val head = MetaIO.readRange(path, 0, n)
    val text =
      if (n >= 2 && (head(0) & 0xff) == 0x1f && (head(1) & 0xff) == 0x8b) {
        val out = new Array[Byte](16384)
        val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(head))
        var total = 0
        try {
          var r = in.read(out, 0, out.length)
          while (r > 0 && total + r < out.length) { total += r; r = in.read(out, total, out.length - total) }
          if (r > 0) total += r
        } catch { case _: java.io.IOException => () } // truncated tail is expected
        new String(out, 0, total, java.nio.charset.StandardCharsets.UTF_8)
      } else new String(head, java.nio.charset.StandardCharsets.UTF_8)
    """"delta-of-version"\s*:\s*(\d+)""".r.findFirstMatchIn(text).map(_.group(1).toInt)
  }

  /** Deletes the given orphans (paths must come from [[orphanFiles]],
    * called with the same `olderThanMs`). */
  def deleteOrphans(catalog: Catalog, tableName: String, paths: Seq[String],
      olderThanMs: Long = DefaultOrphanGraceMs): Int = {
    val current = orphanFiles(catalog, tableName, olderThanMs).toSet
    val deletable = paths.filter(current.contains) // re-check before deleting
    deletable.count(p => MetaIO.exists(p) && MetaIO.delete(p))
  }

  /** Self-maintaining streaming ingest: wraps
    * [[graft.meta.IceWrite.streamingAppend]] so that every
    * `everyBatches`-th micro-batch ALSO runs the auto-compaction planner
    * and executes its recommended plans — the snapshot/file growth a
    * per-batch append sink accumulates gets folded back continuously,
    * without a separate maintenance scheduler. foreachBatch serializes
    * batches, so compaction never races the ingest it maintains; a
    * replayed batch re-runs the idempotent planner (worst case: a
    * no-op `NoCandidate`).
    *
    * {{{
    * stream.writeStream.foreachBatch(
    *   Maintenance.maintainedAppendSink(catalog, "events_raw"))
    * }}}
    */
  def maintainedAppendSink(catalog: Catalog, tableName: String,
      everyBatches: Int = 10,
      autoConfig: AutoCompactionConfig = AutoCompactionConfig()):
      (org.apache.spark.sql.DataFrame, Long) => Unit = {
    require(everyBatches >= 1, s"everyBatches must be >= 1, got $everyBatches")
    (batch, batchId) => {
      if (!catalog.tableExists(tableName)) {
        if (!batch.isEmpty)
          IceWrite.create(batch.sparkSession, catalog, tableName, batch)
      } else IceWrite.streamingAppend(catalog, tableName)(batch, batchId)
      if (batchId % everyBatches == everyBatches - 1 && catalog.tableExists(tableName)) {
        // maintenance failures must NOT fail the batch: the append above
        // already committed, and a foreachBatch failure would replay the
        // batch — streamingAppend ignores batchId, so the rows would
        // ingest TWICE. Compaction is re-attempted on the next trigger
        // anyway; log and move on.
        try {
          autoCompact(batch.sparkSession, catalog, tableName, autoConfig): Unit
        } catch {
          case e: Exception =>
            System.err.println(s"[maintainedAppendSink] $tableName batch $batchId: " +
              s"maintenance failed (ingest committed, will retry next trigger): ${e.getMessage}")
        }
      }
    }
  }

  /** One auto-maintenance pass: run the [[AutoCompactionPlanner]] and
    * execute every plan it recommends. A below-threshold table is a
    * metadata-only no-op (`NoCandidate`), so callers can invoke this
    * after every append — the planner's thresholds, not the call site,
    * decide when work happens. Returns the number of plans executed.
    * This is the hook the engine's own index tables use
    * ([[graft.ops.TextIndex.append]], [[graft.ops.AnnIndex.append]]):
    * per-append upserts accumulate small files + delete files, and
    * folding them back continuously is what keeps the serve paths'
    * file-skipping sharp. */
  def autoCompact(spark: org.apache.spark.sql.SparkSession, catalog: Catalog,
      tableName: String,
      autoConfig: AutoCompactionConfig = AutoCompactionConfig()): Int = {
    val report = new AutoCompactionPlanner(autoConfig).planReport(catalog, tableName)
    if (report.plans.nonEmpty) {
      val c = new Compaction(catalog, tableName, spark,
        config = FullCompactionConfig(autoConfig.params))
      report.plans.foreach(c.compactWithPlan(_): Unit)
    }
    report.plans.size
  }

  /** ANALYZE-style table statistics, persisted as TABLE properties: row
    * count, per-column null count / min / max (one fused aggregate pass)
    * and per-column distinct counts. Columns with an Iceberg single-value
    * encoding get THETA sketches via [[graft.meta.NdvStats.analyze]] —
    * exact below the sketch nominal, PERSISTED as a Puffin sidecar (so
    * exports/REST serving bind them into the spec `statistics` list for
    * external CBOs), and INCREMENTALLY maintained: an ANALYZE after an
    * append-only change scans only the appended files. Remaining columns
    * (double/float/array — no stable single-value encoding) fall back to
    * one HLL pass ([[graft.ops.Sketch.hyperLogLogBy]], state bounded at
    * 256 registers per column). Nothing collected beyond bounded
    * sketch/register state.
    *
    * Written keys: `stats.rows`, `stats.<col>.{nulls,min,max,ndv}`, and
    * `stats.snapshot-id` (provenance — a reader can tell stale stats
    * from fresh). Committed via metadata-only CAS
    * ([[graft.meta.SchemaEvolution.updateProperties]]); returns the map.
    *
    * This is what a cost-based decision reads instead of scanning: join
    *-side sizing, mixture planning, compaction candidate priority. */
  def analyzeTable(spark: org.apache.spark.sql.SparkSession, catalog: Catalog,
      tableName: String, cols: Seq[String] = Nil): Map[String, String] = {
    import org.apache.spark.sql.functions._
    // pin the analyzed snapshot FIRST and scan exactly it: provenance
    // must name the snapshot the numbers came from, not whatever head a
    // concurrent writer moved to mid-analyze
    val pinnedMeta = catalog.loadTable(tableName)
    val pinnedSnapshot = pinnedMeta.currentSnapshotId.getOrElse(
      throw new IllegalStateException(s"table $tableName has no snapshot"))
    val df = IceRead.tableAt(spark, catalog, tableName, pinnedSnapshot)
    val target = if (cols.nonEmpty) cols else df.columns.toSeq
    target.foreach(c => require(df.columns.contains(c),
      s"analyzeTable: column $c not in table $tableName"))
    val aggs = target.flatMap { c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls::$c"),
      min(col(c)).cast("string").as(s"__min::$c"),
      max(col(c)).cast("string").as(s"__max::$c"))
    }
    val row = df.agg(count(lit(1)).as("__rows"), aggs: _*).head()
    // distinct counts: theta sketches for every encodable column
    // (persisted + incremental), HLL only for the leftovers
    val thetaCols = target.filter(c =>
      graft.meta.NdvStats.supported(df.schema(df.schema.fieldIndex(c)).dataType))
    val thetaNdv: Map[String, Long] =
      if (thetaCols.isEmpty) Map.empty
      else graft.meta.NdvStats.analyze(spark, catalog, tableName, thetaCols)
        .sketches.view.mapValues(_.estimate).toMap
    val hllCols = target.filterNot(thetaNdv.contains)
    val regs: Map[String, Long] =
      if (hllCols.isEmpty) Map.empty
      else {
        val kv = df.select(explode(array(hllCols.map(c =>
            struct(lit(c).as("c"), col(c).cast("string").as("v"))): _*)).as("kv"))
          .select(col("kv.c").as("c"), col("kv.v").as("v"))
        graft.ops.Sketch.hyperLogLogBy(kv, "c", "v")
          .collect().groupBy(_.getString(0))
          .view.mapValues(rs => graft.ops.Sketch.hllEstimateFromRegisters(
            rs.map(_.getLong(2)).toSeq)).toMap
      }
    val get = (name: String) => Option(row.get(row.fieldIndex(name))).map(String.valueOf)
    val stats = Map("stats.rows" -> row.getLong(0).toString,
      "stats.snapshot-id" -> pinnedSnapshot.toString) ++
      target.flatMap { c =>
        // sums over zero rows are NULL: counts default to 0, min/max are
        // simply omitted (an empty "" would blow up readers doing .toLong)
        Seq(s"stats.$c.nulls" -> get(s"__nulls::$c").getOrElse("0"),
          s"stats.$c.ndv" -> thetaNdv.getOrElse(c, regs.getOrElse(c, 0L)).toString) ++
          get(s"__min::$c").map(v => s"stats.$c.min" -> v) ++
          get(s"__max::$c").map(v => s"stats.$c.max" -> v)
      }
    // stale stats.* keys from earlier runs are REMOVED, not left behind:
    // stats.snapshot-id is global, so surviving old-column entries would
    // falsely claim fresh provenance
    val stale = pinnedMeta.properties.keySet.filter(_.startsWith("stats.")) -- stats.keySet
    SchemaEvolution.updateProperties(catalog, tableName, stats, stale)
    stats
  }
}
