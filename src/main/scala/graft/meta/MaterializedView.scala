package graft.meta



import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.exec.SparkExecutor
import graft.util.JobScope

/** Incrementally-maintained aggregate tables (materialized views) driven
  * by the table-format changelog.
  *
  * A view is `SELECT keys..., count(*), sum(col)... FROM base GROUP BY
  * keys` persisted as its own catalog table. Refresh does NOT recompute:
  * it reads the base's changelog since the last refreshed snapshot
  * ([[Changelog.changesBetween]] — which already nets out compaction
  * rewrites as no-ops), aggregates the delta (inserts +1/+x, deletes
  * -1/-x; counts and sums form an abelian group, which is exactly the
  * incrementally-maintainable class), and merges it in with ONE atomic
  * snapshot: an equality-delete for every touched key, data files for
  * surviving groups, zero-count groups dropped, and the new base-snapshot
  * watermark property riding the same CAS — refresh state and view rows
  * can never diverge.
  *
  * Sums are maintained in integer arithmetic (`cast long`) — group-delta
  * merging must be order-independent, which float summation is not; scale
  * fractional measures to integer units (cents, micros) first.
  *
  * Concurrency: refreshes of the SAME view must not run concurrently —
  * the commit is fenced on the watermark it read, so a lost race aborts
  * with [[ConcurrentRefreshException]] instead of double-applying.
  * Averages derive as sum/count at read time; min/max are not
  * incrementally maintainable under deletes and are rejected.
  */
object MaterializedView {

  /** MV table property keys. */
  val BaseProp = "mv.base"
  val KeysProp = "mv.keys"
  val AggsProp = "mv.aggs"
  val WatermarkProp = "mv.base-snapshot"
  /** Reserved count column, always present (zero-count group detection). */
  val CountCol = "mv_count"

  final class ConcurrentRefreshException(msg: String) extends RuntimeException(msg)

  /** One maintained aggregate: output column + "sum" over a source column.
    * (count(*) is implicit as [[CountCol]].) */
  final case class Agg(outCol: String, srcCol: String)

  private def aggExprs(aggs: Seq[Agg]) =
    count(lit(1)).as(CountCol) +:
      aggs.map(a => sum(col(a.srcCol).cast("long")).as(a.outCol))

  /** Creates the view table: full aggregate of the base's current
    * snapshot, with the definition and watermark recorded in table
    * properties. */
  def create(spark: SparkSession, catalog: Catalog, mvName: String,
      baseName: String, keys: Seq[String], aggs: Seq[Agg]): TableMetadata = {
    require(keys.nonEmpty, "materialized view needs at least one group key")
    val reserved = (Seq(CountCol) ++ keys).toSet
    require(aggs.forall(a => !reserved.contains(a.outCol)),
      s"aggregate output columns must not collide with keys or $CountCol")
    val baseMeta = catalog.loadTable(baseName)
    val baseSnap = baseMeta.currentSnapshotId.getOrElse(
      throw new IllegalStateException(s"base table $baseName has no snapshot"))
    val full = IceRead.table(spark, catalog, baseName)
      .groupBy(keys.map(col): _*).agg(aggExprs(aggs).head, aggExprs(aggs).tail: _*)
    IceWrite.create(spark, catalog, mvName, full)
    SchemaEvolution.updateProperties(catalog, mvName, Map(
      BaseProp -> baseName,
      KeysProp -> keys.mkString(","),
      AggsProp -> aggs.map(a => s"${a.outCol}:${a.srcCol}").mkString(","),
      WatermarkProp -> baseSnap.toString))
  }

  /** Applies the base's changes since the last refresh; no-op when the
    * base head is unchanged. Returns the updated view metadata. */
  def refresh(spark: SparkSession, catalog: Catalog, mvName: String): TableMetadata = {
    val meta = catalog.loadTable(mvName)
    val baseName = meta.properties.getOrElse(BaseProp,
      throw new IllegalArgumentException(s"$mvName is not a materialized view"))
    val keys = meta.properties(KeysProp).split(',').toSeq
    val aggs = meta.properties(AggsProp).split(',').filter(_.nonEmpty).toSeq
      .map { s => val Array(o, c) = s.split(':'); Agg(o, c) }
    val last = meta.properties(WatermarkProp).toLong
    val head = catalog.loadTable(baseName).currentSnapshotId.getOrElse(last)
    if (head == last) return meta

    val changes = Changelog.changesBetween(spark, catalog, baseName, last, head)
    val sign = when(col(Changelog.ChangeTypeCol) === "insert", 1L).otherwise(-1L)
    val deltaAggs = sum(sign).as("__d_cnt") +:
      aggs.map(a => sum(sign * col(a.srcCol).cast("long")).as(s"__d_${a.outCol}"))
    val delta = changes.groupBy(keys.map(col): _*).agg(deltaAggs.head, deltaAggs.tail: _*)

    val current = IceRead.table(spark, catalog, mvName)
    // keys-only outer join: both sides shuffle on the group keys (the
    // delta is usually tiny — AQE broadcasts it; neither is force-broadcast)
    // materialized ONCE: survivors and dead keys both derive from it, and
    // the commit writes each twice (touched-key delete file + data file) —
    // the lazy form re-ran the whole changelog diff + view join per read.
    // Bounded by the TOUCHED groups (delta-left-join), not the view size.
    val merged = delta.join(current, keys, "left")
      .select(keys.map(col) ++
        Seq((coalesce(col(CountCol), lit(0L)) + col("__d_cnt")).as(CountCol)) ++
        aggs.map(a =>
          (coalesce(col(a.outCol), lit(0L)) + col(s"__d_${a.outCol}")).as(a.outCol)): _*)
      .localCheckpoint(true)
    val survivors = merged.filter(col(CountCol) > 0)
    val dead = merged.filter(col(CountCol) <= 0).select(keys.map(col): _*)

    commitRefresh(spark, catalog, mvName, survivors, dead, keys,
      expectedWatermark = last, newWatermark = head)
  }

  /** ONE snapshot: eq-delete every touched key, add surviving group rows,
    * advance the watermark — fenced on the watermark the refresh read. */
  private def commitRefresh(spark: SparkSession, catalog: Catalog, name: String,
      survivors: DataFrame, deadKeys: DataFrame, keys: Seq[String],
      expectedWatermark: Long, newWatermark: Long): TableMetadata = {
    val table0 = catalog.loadTable(name)
    val touchedKeys = survivors.select(keys.map(col): _*).unionAll(deadKeys).distinct()
    // the touched-key delete file and the survivor data file both derive
    // from the SAME checkpointed merge blocks and write to disjoint UUID
    // paths — two independent pure writes, so they run concurrently
    // (guide §2.6) instead of serializing two commands per refresh; the
    // CAS commit below still sees both complete or neither
    val (delFiles, dataFiles) = JobScope.both(spark.sparkContext)(
      SparkExecutor.writeTableFiles(spark, table0, touchedKeys,
        FileContent.EqualityDeletes, targetFileSizeBytes = Long.MaxValue),
      SparkExecutor.writeTableFiles(spark, table0, survivors,
        targetFileSizeBytes = Long.MaxValue))
    val eqFieldIds = keys.map(k => table0.fieldByName(k).getOrElse(
      throw new IllegalArgumentException(s"key column $k not in view schema")).id)

    catalog.transact(name) { meta =>
      if (meta.properties.get(WatermarkProp).map(_.toLong).getOrElse(-1L) != expectedWatermark)
        throw new ConcurrentRefreshException(
          s"view $name was refreshed concurrently (watermark moved past $expectedWatermark)")
      val base = meta.currentSnapshot.getOrElse(
        throw new IllegalStateException(s"view $name has no snapshot"))
      val newSeq = meta.lastSequenceNumber + 1
      val stamped =
        delFiles.map(_.copy(content = FileContent.EqualityDeletes, sequenceNumber = newSeq,
          equalityIds = keys, equalityFieldIds = eqFieldIds)) ++
          dataFiles.map(_.copy(content = FileContent.Data, sequenceNumber = newSeq))
      meta.withSnapshot(Some(base), base.manifest ++ stamped, "overwrite", newSeq)
        .copy(properties = meta.properties + (WatermarkProp -> newWatermark.toString))
    }
  }
}
