package graft.compaction

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.exec.{Mor, RewriteRequest, SparkExecutor}
import graft.meta.{Catalog, FileContent, TableMetadata}
import graft.selection.FileGroup

/** Copy-on-write row-level operations: UPDATE ... WHERE and physical
  * row PURGE — the COW half of the row-level story whose MOR half is
  * [[graft.meta.IceWrite.deleteWhere]] (tombstones) and `upsert`
  * (equality deletes). Iceberg tables choose per-operation between the
  * two modes (`write.update.mode` etc.); this engine offers both:
  *
  *  - MOR (`deleteWhere`/`upsert`): cheap writes, read-time anti joins,
  *    and — crucially — the "deleted" bytes still exist in the data
  *    files until a compaction folds them.
  *  - COW (here): the files holding matching rows are REWRITTEN.
  *    Reads stay plain scans, and for [[purgeWhere]] the bytes are
  *    physically gone once the old files are vacuumed — the
  *    right-to-be-forgotten path (a GDPR erasure served by a tombstone
  *    is not an erasure).
  *
  * Scale shape: one filter-pushed discovery scan finds the AFFECTED
  * files (parquet row-group stats prune it; the projection is just the
  * metadata file-path column, so the scan reads the predicate columns
  * only); only affected files are rewritten, through the same
  * size-targeted MOR-scan -> write machinery compaction uses
  * ([[RewriteRequest.rowTransform]] injects the row edit); untouched
  * files are untouched. The commit is an `overwrite` snapshot at a
  * fresh sequence number via the retried CAS [[CommitManager]], exactly
  * like Iceberg's COW row-delta commits. */
object RowRewrite {

  /** COW UPDATE: rewrite the files containing rows matching `condition`,
    * with `updateSet` columns replaced (for matching rows only — column
    * expressions see the ORIGINAL row, simultaneous-assignment SQL
    * semantics). Non-matching rows in affected files are rewritten
    * byte-identical; unaffected files never move. Returns the committed
    * metadata (unchanged when nothing matches). */
  def updateWhere(spark: SparkSession, catalog: Catalog, name: String,
      condition: Column, updateSet: Map[String, Column],
      branch: String = "main"): TableMetadata = {
    val meta = catalog.loadTable(name)
    require(updateSet.nonEmpty, "updateWhere needs at least one assignment")
    val unknown = updateSet.keySet -- meta.schemaColumns.toSet
    require(unknown.isEmpty, s"updateWhere: unknown columns $unknown")
    // rebuild the projection from the MOR view's own schema: the alias
    // must carry each field's METADATA forward (it holds the parquet
    // field id — dropping it writes id-less columns that id-addressed
    // reads resolve to null), and the cast pins the original column
    // type so an update expression can't silently widen the schema
    val transform: DataFrame => DataFrame = df => df.select(
      df.schema.fields.toSeq.map { f =>
        updateSet.get(f.name) match {
          case Some(e) => when(condition, e).otherwise(col(f.name))
            .cast(f.dataType).as(f.name, f.metadata)
          // v3 lineage rides through the rewrite as plain columns; an
          // UPDATED row's last-updated seq resets to NULL so it inherits
          // the overwrite commit's fresh sequence (an update IS an
          // update); unmatched rows keep their materialized original
          case None if f.name == Mor.LastUpdatedSeqCol =>
            when(condition, lit(null)).otherwise(col(f.name))
              .cast(f.dataType).as(f.name, f.metadata)
          case None => col(f.name)
        }
      }: _*)
    rewriteAffected(spark, catalog, meta, condition, transform, branch,
      countPreserving = true)
  }

  /** COW physical delete: rewrite the affected files WITHOUT the
    * matching rows. After [[Maintenance.expireSnapshots]] +
    * `orphanFiles` vacuum the bytes no longer exist anywhere — unlike
    * `deleteWhere`, whose tombstoned rows remain in the data files
    * until compaction. Returns the committed metadata (unchanged when
    * nothing matches). */
  def purgeWhere(spark: SparkSession, catalog: Catalog, name: String,
      condition: Column, branch: String = "main"): TableMetadata = {
    val meta = catalog.loadTable(name)
    rewriteAffected(spark, catalog, meta, condition,
      df => df.filter(!coalesce(condition, lit(false))), branch,
      countPreserving = false)
  }

  private def rewriteAffected(spark: SparkSession, catalog: Catalog,
      meta: TableMetadata, condition: Column,
      transform: DataFrame => DataFrame, branch: String,
      countPreserving: Boolean): TableMetadata = {
    val snap = meta.requireBranchHead(branch)
    val tasks = meta.scanTasks(snap)
    if (tasks.isEmpty) return meta

    // discovery: which files MAY hold matching rows. Filter-pushed scan,
    // metadata-column projection. A file whose only matching rows are
    // already tombstoned still qualifies — it is rewritten identically
    // (wasted work, never wrong).
    val affectedPaths = Mor.readDataWith(spark, meta, tasks)(
        _.filter(condition)
          .select(Mor.normalizePath(col("_metadata.file_path")).as("p")))
      .distinct().collect().map(_.getString(0)).toSet
    val affected = tasks.filter(t =>
      affectedPaths.contains(Mor.normalizePath(t.path)))
    if (affected.isEmpty) return meta

    val groups = FileGroup.ofTasks(snap, affected)

    val outcomes = groups.map { g =>
      // v3: COW edits must not re-identify surviving rows — the rewrite
      // reads them WITH their lineage and materializes it (updateWhere's
      // projection passes the lineage columns through; purge is a filter
      // and never drops columns)
      val req = RewriteRequest(group = g, table = meta, rowTransform = transform)
      val res = SparkExecutor.rewriteFiles(spark, req)
      if (countPreserving) {
        // metadataAggregates=false: the in==out guard must re-scan the
        // inputs, not fold manifest recordCounts (see Validator)
        val in = Mor.dataFrame(spark, meta, g, metadataAggregates = false).count()
        val out = res.addedFiles.map(_.recordCount).sum
        require(in == out,
          s"COW update changed the row count ($in -> $out) — refusing to commit")
      }
      res
    }
    new CommitManager(catalog, meta.name).rewriteFiles(
      added = outcomes.flatMap(_.addedFiles),
      rewrittenPaths = affected.map(_.path),
      toBranch = branch,
      startingSnapshotId = snap.snapshotId,
      // fresh sequence, operation=overwrite: COW row edits are NEW data
      // (they must outrank equality deletes committed since planning),
      // Iceberg's overwrite-snapshot semantics
      useStartingSequenceNumber = false,
      operation = "overwrite")
  }
}
