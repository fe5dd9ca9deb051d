package graft.meta

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.exec.Mor
import graft.selection.FileGroup

/** Incremental changelog reads — the consumption side of CDC: what changed
  * between two committed snapshots, as rows (Iceberg's changelog scan /
  * Delta's change data feed, rebuilt on this metadata model).
  *
  * For each snapshot in `(from, to]` along the parent chain:
  *
  *  - `insert` rows: the rows of data files ADDED by that snapshot (net of
  *    any same-snapshot position deletes targeting those new files — rows
  *    that were never visible are not inserts);
  *  - `delete` rows: the parent state's LIVE rows killed by that snapshot —
  *    matched by its new position tombstones, its new equality-delete keys,
  *    or membership in a data file it removed. Rows already dead in the
  *    parent are NOT re-emitted (a tombstone may legally re-delete a dead
  *    row; the changelog reports logical change only), and a row killed by
  *    several delete files in one snapshot is emitted once.
  *
  * Physical rewrites (`operation` = replace/maintenance — compaction,
  * dangling-delete cleanup) change no logical rows and emit NOTHING: a
  * downstream consumer replaying the changelog is oblivious to compaction,
  * which is the property that lets maintenance run without breaking
  * subscribers.
  *
  * Scale shape: inserts are plain scans of exactly the added files; deletes
  * are the parent MOR view (scan, bitmap and equality-key probes — [[Mor.dataFrame]])
  * semi-joined against the (small) new tombstone/key sets, restricted to
  * the data files the tombstones actually target where that is knowable
  * from the manifest. No shuffle of the data side anywhere.
  */
object Changelog {
  val ChangeTypeCol = "_change_type"
  val SnapshotIdCol = "_commit_snapshot_id"

  /** Changes on the parent chain `(fromSnapshotId, toSnapshotId]`.
    * `fromSnapshotId = 0` means "since table creation". Output columns:
    * table schema + [[ChangeTypeCol]] ("insert" | "delete") +
    * [[SnapshotIdCol]]. Fails loudly when `from` is not an ancestor of
    * `to` (changes across divergent branches are not a changelog). */
  def changesBetween(spark: SparkSession, catalog: Catalog, name: String,
      fromSnapshotId: Long, toSnapshotId: Long,
      /** v3 identity-stable CDC: every insert AND delete row carries
        * `_row_id`/`_last_updated_seq`, so a consumer keys its apply on
        * row identity instead of content — the same row deleted and
        * reinserted with identical values is still two distinct events
        * on two distinct ids. Requires a v3, typed table. */
      withRowIds: Boolean = false): DataFrame = {
    val meta = catalog.loadTable(name)
    require(!withRowIds || meta.tracksRowLineage,
      s"withRowIds requires a typed v3 table (table $name is v${meta.formatVersion})")
    val to = meta.snapshotById(toSnapshotId).getOrElse(
      throw new IllegalArgumentException(s"table $name has no snapshot $toSnapshotId"))
    var chain = List.empty[Snapshot]
    var cur: Option[Snapshot] = Some(to)
    while (cur.nonEmpty && cur.get.snapshotId != fromSnapshotId) {
      chain = cur.get :: chain
      cur = cur.get.parentId.flatMap(meta.snapshotById)
    }
    require(cur.nonEmpty || fromSnapshotId == 0L,
      s"snapshot $fromSnapshotId is not an ancestor of $toSnapshotId in table $name")

    val frames = chain.flatMap(changesOf(spark, meta, _, withRowIds))
    if (frames.isEmpty) emptyChangelog(spark, meta, withRowIds)
    else frames.reduce(_ unionAll _)
  }

  /** Changes introduced by the head snapshot of `branch` — the frame a
    * per-commit subscriber consumes. */
  def changesOfLatest(spark: SparkSession, catalog: Catalog, name: String,
      branch: String = "main", withRowIds: Boolean = false): DataFrame = {
    val meta = catalog.loadTable(name)
    val snap = meta.requireBranchHead(branch)
    changesBetween(spark, catalog, name, snap.parentId.getOrElse(0L), snap.snapshotId,
      withRowIds)
  }

  private def emptyChangelog(spark: SparkSession, meta: TableMetadata,
      withRowIds: Boolean = false): DataFrame = {
    // schema for a changeless range: the typed schema, else inferred from
    // ANY data file in history (a fully empty untyped table has no source
    // of truth for column types)
    val base = Mor.readSchema(spark, meta, meta.snapshots.flatMap(_.manifest)
      .find(_.content == FileContent.Data)
      .getOrElse(throw new IllegalStateException(
        s"table ${meta.name} has no typed schema and no data file to derive the changelog schema from")))
    val lineage =
      if (!withRowIds) Nil
      else Seq(
        org.apache.spark.sql.types.StructField(Mor.RowIdCol, org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(Mor.LastUpdatedSeqCol, org.apache.spark.sql.types.LongType))
    val schema = org.apache.spark.sql.types.StructType(base.fields ++ lineage ++ Seq(
      org.apache.spark.sql.types.StructField(ChangeTypeCol, org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField(SnapshotIdCol, org.apache.spark.sql.types.LongType, false)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** The changelog frame of ONE snapshot against its parent; None when the
    * snapshot is a physical rewrite or introduced no logical change. */
  private def changesOf(spark: SparkSession, meta: TableMetadata, snap: Snapshot,
      withRowIds: Boolean = false): Option[DataFrame] = {
    val op = snap.summary.getOrElse("operation", "append")
    // physical rewrites: the replace/maintenance operations, AND any
    // snapshot carrying the compaction marker — the overwrite-variant
    // compaction shares operation="overwrite" with logical upserts, so
    // the operation string alone cannot distinguish them
    if (op == "replace" || op == "maintenance" ||
        snap.summary.get("rewrite").contains("compaction")) return None

    val parent = snap.parentId.flatMap(meta.snapshotById)
    val parentManifest = parent.map(_.manifest).getOrElse(Nil)
    val parentPaths = parentManifest.map(_.path).toSet
    val snapPaths = snap.manifest.map(_.path).toSet
    val added = snap.manifest.filterNot(f => parentPaths.contains(f.path))
    val addedData = added.filter(_.content == FileContent.Data)
    // v3 deletion vectors split off the parquet tombstones: a merged DV
    // carries OLD positions too (union with the replaced vector), so its
    // delta is new-DV minus replaced-DV, computed below
    val (addedDvs, addedPos) = added.filter(_.content == FileContent.PositionDeletes)
      .partition(_.isDeletionVector)
    val replacedDvs = {
      val referenced = addedDvs.flatMap(_.referencedDataFile).toSet
      parentManifest.filter(f => f.isDeletionVector &&
        referenced.contains(f.referencedDataFile.get) &&
        !snap.manifest.exists(_.resolutionKey == f.resolutionKey))
    }
    val addedEq = added.filter(_.content == FileContent.EqualityDeletes)
    val removedData = parentManifest.filter(f =>
      f.content == FileContent.Data && !snapPaths.contains(f.path))

    // the per-row OUTPUT columns: lineage rides along when requested
    val outCols = meta.schemaColumns ++
      (if (withRowIds) Seq(Mor.RowIdCol, Mor.LastUpdatedSeqCol) else Nil)

    // ---- inserts: rows of the added data files, minus same-snapshot
    // position tombstones aimed at them (pos deletes apply at seq >=; a
    // same-commit tombstone hides the row before it was ever visible)
    val inserts: Option[DataFrame] =
      if (addedData.isEmpty) None
      else {
        val tasks = addedData.map { d =>
          d.copy(deletes = addedPos.filter(p =>
            p.partitionValues.isEmpty || p.partitionValues == d.partitionValues).map(_.path))
        }
        val byPath = addedPos.map(f => f.path -> f).toMap
        Some(Mor.dataFrame(spark, meta, FileGroup.fromDataFiles(tasks, byPath.get),
          keepRowIds = withRowIds))
      }

    // ---- deletes: parent-live rows this snapshot kills. A parent with
    // no data files has no live rows to kill (e.g. an upsert onto an
    // empty-created table) — nothing to emit, and building its MOR view
    // would throw
    val deletes: Option[DataFrame] = parent.flatMap { p =>
      if ((addedPos.isEmpty && addedDvs.isEmpty && addedEq.isEmpty &&
          removedData.isEmpty) ||
          !p.manifest.exists(_.content == FileContent.Data)) None
      else {
        val live = IceRead.ofSnapshot(spark, meta, p, keepHidden = true,
          keepRowIds = withRowIds)

        val byPos: Option[DataFrame] =
          if (addedPos.isEmpty) None
          else Some {
            val tomb = Mor.positionDeletes(spark, addedPos,
              p.manifest.filter(_.content == FileContent.Data))
            live.join(broadcast(tomb), Seq(Mor.FilePathCol, Mor.PosCol), "left_semi")
          }

        // DV delta: positions in the new vectors minus those already in
        // the replaced parent vectors (a merge unions old tombstones in)
        val byDv: Option[DataFrame] =
          if (addedDvs.isEmpty) None
          else Some {
            val fresh = DeletionVectors.positionsFrame(spark, addedDvs)
            val delta =
              if (replacedDvs.isEmpty) fresh
              else fresh.join(DeletionVectors.positionsFrame(spark, replacedDvs),
                Seq("file_path", "pos"), "left_anti")
            val tomb = delta.select(
              col("file_path").as(Mor.FilePathCol), col("pos").as(Mor.PosCol))
            // no broadcast hint: expanded bitmaps can be arbitrarily large,
            // so the join strategy stays with Catalyst/AQE
            live.join(tomb, Seq(Mor.FilePathCol, Mor.PosCol), "left_semi")
          }

        // one semi join per equality-ids run, keys read as the MOR read
        // reads them, so renamed key columns still match
        val byEq: Seq[DataFrame] = Mor.equalityDeleteKeys(spark, meta, addedEq).map {
          case (eqIds, _, keys) =>
            live.join(broadcast(keys.select(eqIds.map(col): _*).distinct()), eqIds, "left_semi")
        }

        val byRemoval: Option[DataFrame] =
          if (removedData.isEmpty) None
          else Some(live.filter(col(Mor.FilePathCol).isin(
            removedData.map(f => Mor.canonicalManifestPath(f.path)): _*)))

        val all = byPos.toSeq ++ byDv.toSeq ++ byEq ++ byRemoval.toSeq
        // one event per physical row even when several delete files hit it
        Some(all.reduce(_ unionAll _)
          .dropDuplicates(Mor.FilePathCol, Mor.PosCol)
          .select(outCols.map(col): _*))
      }
    }

    def stamp(df: DataFrame, tpe: String): DataFrame =
      df.select(outCols.map(col) :+ lit(tpe).as(ChangeTypeCol) :+
        lit(snap.snapshotId).as(SnapshotIdCol): _*)

    (inserts.map(stamp(_, "insert")).toSeq ++ deletes.map(stamp(_, "delete")).toSeq)
      .reduceOption(_ unionAll _)
  }
}
