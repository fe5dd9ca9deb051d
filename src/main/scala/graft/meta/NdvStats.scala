package graft.meta

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.exec.Mor
import graft.functions.ThetaSketchAgg

/** Distinct-value statistics for Iceberg interop: ONE vectorized
  * aggregate pass builds a [[ThetaSketch]] per supported column via
  * [[graft.functions.ThetaSketchAgg]] (the scan stays columnar and
  * inside whole-stage codegen; partial aggregation ships one bounded
  * sketch per partition, so nothing larger than KBs ever reaches the
  * driver). [[IcebergExport]] writes them as Puffin
  * `apache-datasketches-theta-v1` blobs referenced from the metadata
  * `statistics` list, which is where external engines' CBOs look for
  * NDV.
  *
  * [[analyze]] is the PERSISTED, incrementally-maintained form: sketches
  * land in a Puffin sidecar under `<location>/stats/` with provenance in
  * table properties, and an ANALYZE after an append-only change scans
  * ONLY the appended files and unions their sketches with the stored
  * ones (sketches are mergeable by construction) — at 100 TB that is the
  * difference between a statistics refresh costing a full-table pass and
  * costing one pass over the day's ingest. */
object NdvStats {

  /** Types with an Iceberg single-value binary encoding this sketches. */
  def supported(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | DateType | TimestampType | StringType |
         BooleanType => true
    case d: DecimalType => d.precision <= 38
    case _ => false
  }

  private def targetCols(df: DataFrame, cols: Seq[String]): Seq[String] =
    (if (cols.nonEmpty) cols else df.columns.toSeq)
      .filter(c => df.schema.fields.find(_.name == c).exists(f => supported(f.dataType)))

  /** One aggregate pass over `df`: column name -> sketch. */
  private def sketchOver(df: DataFrame, target: Seq[String]): Map[String, ThetaSketch] = {
    if (target.isEmpty) return Map.empty
    val aggs = target.map(c => ThetaSketchAgg.theta_sketch(col(c)).as(s"__theta::$c"))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    target.zipWithIndex.map { case (c, i) =>
      c -> ThetaSketch.deserialize(row.getAs[Array[Byte]](i))
    }.toMap
  }

  /** Sketches every supported column (or `cols`) of the CURRENT
    * snapshot. Column name -> sketch. */
  def compute(spark: SparkSession, catalog: Catalog, name: String,
      cols: Seq[String] = Nil): Map[String, ThetaSketch] = {
    val df = IceRead.table(spark, catalog, name)
    sketchOver(df, targetCols(df, cols))
  }

  /** What [[analyze]] did: the sketches, HOW they were obtained
    * (`incremental` = stored sketches unioned with a pass over only
    * `scannedFiles`; otherwise a full-table pass), and where they
    * persist. */
  final case class AnalyzeResult(sketches: Map[String, ThetaSketch],
      scannedFiles: Seq[String], incremental: Boolean, statsPath: String)

  /** Provenance keys for the persisted sketch sidecar. */
  private val PathKey = "ndv.sketch.path"
  private val SnapshotKey = "ndv.sketch.snapshot-id"
  private val SchemaKey = "ndv.sketch.schema"

  private def schemaKeyOf(meta: TableMetadata): String =
    meta.schema.map(f => s"${f.id}:${f.name}:${f.dataType}").mkString(",").hashCode.toString

  /** Reads a persisted sketch sidecar back: column name -> sketch. */
  private[meta] def readSketches(meta: TableMetadata, path: String): Map[String, ThetaSketch] = {
    val bytes = MetaIO.readBytes(path)
    Puffin.readFooter(path)
      .filter(_.blobType == "apache-datasketches-theta-v1")
      .flatMap { b =>
        b.fields.headOption.flatMap(fid => meta.schema.find(_.id == fid)).map { f =>
          f.name -> ThetaSketch.deserialize(java.util.Arrays.copyOfRange(
            bytes, b.offset.toInt, (b.offset + b.length).toInt))
        }
      }.toMap
  }

  /** True when `cur` is `old` plus NEW DATA FILES only — no file removed,
    * no delete file added (a new delete would hide rows the stored
    * sketches already counted). */
  private def appendOnlyDiff(old: Snapshot, cur: Snapshot): Boolean = {
    val oldKeys = old.manifest.map(_.resolutionKey).toSet
    val curKeys = cur.manifest.map(_.resolutionKey).toSet
    oldKeys.subsetOf(curKeys) &&
      cur.manifest.forall(f => oldKeys.contains(f.resolutionKey) ||
        f.content == FileContent.Data)
  }

  /** ANALYZE with persistence and incremental maintenance: computes the
    * per-column sketches of the CURRENT snapshot, writes them as a
    * Puffin sidecar under `<location>/stats/`, and records provenance
    * (`ndv.sketch.{path,snapshot-id,schema}` properties) via a
    * metadata-only CAS commit. When the stored provenance names an
    * ancestor snapshot, the schema hasn't changed, and the diff is
    * append-only, only the APPENDED files are scanned and their sketches
    * union with the stored ones; anything else (deletes, rewrites,
    * schema changes, different column set) falls back to a full pass. */
  def analyze(spark: SparkSession, catalog: Catalog, name: String,
      cols: Seq[String] = Nil): AnalyzeResult = {
    val meta = catalog.loadTable(name)
    val cur = meta.currentSnapshot.getOrElse(
      throw new IllegalStateException(s"table $name has no snapshot"))
    val df = IceRead.table(spark, catalog, name)
    val target = targetCols(df, cols)
    val schemaKey = schemaKeyOf(meta)

    val stored = for {
      p <- meta.properties.get(PathKey)
      sid <- meta.properties.get(SnapshotKey).map(_.toLong)
      sk <- meta.properties.get(SchemaKey) if sk == schemaKey
      old <- meta.snapshotById(sid)
    } yield (p, old)

    def fullPass(): (Map[String, ThetaSketch], Seq[String], Boolean) =
      (sketchOver(df, target), cur.manifest.collect {
        case f if f.content == FileContent.Data => f.path
      }, false)
    val (sketches, scanned, incremental): (Map[String, ThetaSketch], Seq[String], Boolean) =
      stored match {
        case Some((p, old)) if appendOnlyDiff(old, cur) =>
          // any surprise on the delta path (unreadable sidecar, a column
          // the appended files don't materialize, missing file) DEGRADES
          // to the full pass — incremental is an optimization, never a
          // correctness dependency
          try {
            val prev = readSketches(meta, p)
            if (target.forall(prev.contains)) {
              val oldKeys = old.manifest.map(_.resolutionKey).toSet
              val newFiles = cur.manifest.filter(f => f.content == FileContent.Data &&
                !oldKeys.contains(f.resolutionKey))
              if (newFiles.isEmpty)
                (target.map(c => c -> prev(c)).toMap, Nil, true)
              else {
                // the appended files carry no deletes (their sequence is
                // the newest), so a plain pass over exactly them is the
                // MOR view of the delta
                val fresh = sketchOver(
                  Mor.readDataWith(spark, meta, newFiles)(_.select(target.map(col): _*)), target)
                (target.map(c => c -> prev(c).merge(fresh(c))).toMap, newFiles.map(_.path), true)
              }
            } else fullPass()
          } catch { case scala.util.control.NonFatal(_) => fullPass() }
        case _ => fullPass()
      }

    // persist + provenance (CAS metadata-only commit)
    val statsPath = MetaIO.join(meta.location, "stats",
      s"ndv-${cur.snapshotId}-${java.util.UUID.randomUUID()}.puffin")
    val blobs = sketches.toSeq
      .flatMap { case (c, s) => meta.fieldByName(c).map(f => (f.id, s)) }
      .sortBy(_._1)
      .map { case (fid, s) =>
        Puffin.Blob("apache-datasketches-theta-v1", s.serialize,
          cur.snapshotId, cur.sequenceNumber, Seq(fid),
          Map("ndv" -> s.estimate.toString))
      }
    Puffin.write(statsPath, blobs)
    SchemaEvolution.updateProperties(catalog, name, Map(
      PathKey -> statsPath,
      SnapshotKey -> cur.snapshotId.toString,
      SchemaKey -> schemaKey))
    AnalyzeResult(sketches, scanned, incremental, statsPath)
  }

  /** Registers a FOREIGN-written Puffin statistics file (the REST commit
    * endpoint's `set-statistics`) as this table's NDV provenance — the
    * same three properties a native ANALYZE records, so export, SHOW,
    * and the incremental-ANALYZE delta path all see one scheme. Pure:
    * the REST door applies it inside its own commit. Validations keep
    * later consumers honest: the snapshot must be the CURRENT one (this
    * server binds served statistics to the served snapshot), the file
    * must exist and parse as Puffin, and every theta blob's field id
    * must resolve in the schema. Blob PAYLOADS are not required to be
    * graft-decodable — a foreign engine's sketch encoding registers
    * fine; consumers that cannot decode it degrade to no-stats, never
    * to wrong numbers. Throws IllegalArgumentException. */
  private[meta] def registerForeign(meta: TableMetadata, snapshotId: Long,
      path: String): TableMetadata = {
    require(meta.currentSnapshotId.contains(snapshotId),
      s"set-statistics: snapshot $snapshotId is not the current snapshot " +
        "(this server binds statistics to the served snapshot)")
    require(scala.util.Try(MetaIO.exists(path)).getOrElse(false),
      s"set-statistics: statistics file does not exist: $path")
    val footer =
      try Puffin.readFooter(path)
      catch { case e: Exception => throw new IllegalArgumentException(
        s"set-statistics: unreadable Puffin file $path: ${e.getMessage}") }
    val theta = footer.filter(_.blobType == "apache-datasketches-theta-v1")
    require(theta.nonEmpty,
      s"set-statistics: no apache-datasketches-theta-v1 blobs in $path")
    theta.foreach { b =>
      require(b.fields.size == 1 && meta.schema.exists(_.id == b.fields.head),
        s"set-statistics: blob field ids ${b.fields.mkString(",")} do not " +
          "resolve to a schema column")
    }
    meta.copy(properties = meta.properties ++ Map(
      PathKey -> path,
      SnapshotKey -> snapshotId.toString,
      SchemaKey -> schemaKeyOf(meta)))
  }

  /** The `remove-statistics` counterpart: unregisters the provenance
    * when it names `snapshotId`; otherwise a no-op (removal is
    * idempotent, like Iceberg's). Physical deletion of the sidecar
    * stays with the maintenance sweep (orphan detection). */
  private[meta] def removeForSnapshot(meta: TableMetadata,
      snapshotId: Long): TableMetadata =
    if (meta.properties.get(SnapshotKey).contains(snapshotId.toString))
      meta.copy(properties = meta.properties -- Seq(PathKey, SnapshotKey, SchemaKey))
    else meta

  /** The persisted sketches, when they cover the CURRENT snapshot —
    * what [[IcebergExport]] binds into the metadata `statistics` list
    * when the caller didn't pass sketches explicitly. */
  private[meta] def persistedForCurrent(meta: TableMetadata): Map[String, ThetaSketch] =
    (for {
      p <- meta.properties.get(PathKey)
      sid <- meta.properties.get(SnapshotKey).map(_.toLong)
      if meta.currentSnapshotId.contains(sid)
      if scala.util.Try(MetaIO.exists(p)).getOrElse(false)
    } yield scala.util.Try(readSketches(meta, p)).getOrElse(Map.empty[String, ThetaSketch]))
      .getOrElse(Map.empty)
}
