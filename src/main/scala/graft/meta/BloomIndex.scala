package graft.meta

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted per-file Bloom filters for point-lookup file skipping.
  *
  * Zone maps ([[IceRead.tableRange]]) prune files by min/max — useless for
  * a point lookup on a column with wide per-file ranges (a `user_id`
  * spread uniformly across every file defeats min/max entirely). A Bloom
  * filter per data file answers "could this file contain value v?" with
  * no false NEGATIVES, so a reader can skip every file whose filter says
  * no and stay exact. At 100 TB this is the difference between a
  * full-table scan and reading the handful of files that can match —
  * the same role parquet footer bloom filters and Iceberg's Puffin
  * statistics files play.
  *
  * Layout: one `graft-bloom-v1` blob per data file, stored in Puffin
  * containers ([[Puffin]] — same PFA1 framing as deletion vectors, one
  * container per build task so the BUILD never funnels through the
  * driver). A blob's payload is the DV framing (length + magic + portable
  * 64-bit roaring bitmap + CRC32) over the file's set BIT positions; the
  * footer carries `referenced-data-file`, `m`, `k`, `column` properties.
  * Container paths + geometry land in TABLE properties
  * (`graft.bloom.<column>.*`) via a metadata-only CAS commit — building
  * an index never creates a table snapshot, mirroring Iceberg's
  * statistics files which attach to metadata, not to the data history.
  *
  * Hashing: bit position i of value v = first 48 bits of
  * `md5(cast(v as string) + "#" + i)` mod m, i in [0, k). The build side
  * computes it with Spark string/hash functions (distributed, codegen'd);
  * the probe side replays it driver-side byte-for-byte
  * ([[bitPositions]]). Values canonicalize through Spark's string cast on
  * BOTH sides, so build, probe, and the residual equality filter agree on
  * one value space and the read stays exact.
  *
  * Staleness contract: blobs are keyed by data-file PATH. Files appended
  * or rewritten after the build have no blob and are kept conservatively;
  * files deleted since the build simply never come up. So a stale index
  * can only lose pruning power, never correctness — rebuild after heavy
  * churn (or compaction) to restore it.
  */
object BloomIndex {

  val BlobType = "graft-bloom-v1"

  /** default filter geometry: 2^18 bits / 4 hashes — ~1% false-positive
    * rate at ~27k distinct values per file, a few KiB roaring-compressed
    * for typical files. */
  val DefaultBits: Int = 1 << 18
  val DefaultHashes: Int = 4

  private def propPrefix(column: String) = s"graft.bloom.$column"

  /** The k bit positions of one value, driver-side — must stay
    * byte-for-byte identical to [[bitPosExpr]]. */
  def bitPositions(value: String, mBits: Int, k: Int): Seq[Long] =
    (0 until k).map { i =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$value#$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hex = d.take(6).map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex, 16) % mBits
    }

  /** The same k positions as a Spark expression over a column (the
    * distributed build side of [[bitPositions]]). */
  private def bitPosExpr(v: org.apache.spark.sql.Column, mBits: Int, k: Int) =
    transform(sequence(lit(0), lit(k - 1)), i =>
      conv(substring(md5(concat(v.cast("string"), lit("#"), i.cast("string"))), 1, 12), 16, 10)
        .cast("long") % mBits)

  /** Builds (or rebuilds) the Bloom index for `column` at the branch head.
    * Each output task writes its own Puffin container under
    * `<location>/stats/`; only container PATHS return to the driver. The
    * index is registered with one metadata-only property commit.
    * Returns the container paths. */
  def build(spark: SparkSession, catalog: Catalog, name: String, column: String,
      mBits: Int = DefaultBits, k: Int = DefaultHashes, branch: String = "main"): Seq[String] = {
    require(mBits > 0 && k > 0, s"bad bloom geometry m=$mBits k=$k")
    val meta = catalog.loadTable(name)
    require(meta.fieldByName(column).nonEmpty || meta.schema.isEmpty,
      s"column $column not in schema of $name")
    val snap = meta.requireBranchHead(branch)
    val dataFiles = snap.manifest.filter(_.content == FileContent.Data)
    require(dataFiles.nonEmpty, s"table $name has no data files")
    val statsDir = MetaIO.join(meta.location, "stats")
    MetaIO.mkdirs(statsDir)

    // rename-safe read for typed tables (field-id addressed, like Mor);
    // imported name-matched files read by name through readDataWith
    val rows = graft.exec.Mor.readDataWith(spark, meta, dataFiles)(
        _.select(col(column),
          graft.exec.Mor.normalizePath(col("_metadata.file_path")).as("__file")))
      .filter(col(column).isNotNull)
      .select(col("__file"), explode(bitPosExpr(col(column), mBits, k)).as("__bit"))
      .distinct()
      .groupBy(col("__file"))
      .agg(collect_set(col("__bit")).as("__bits"))

    val dirStr = statsDir
    val snapId = snap.snapshotId
    val seqNum = snap.sequenceNumber
    val colName = column
    import spark.implicits._
    // one container per partition, written where the bits live — the
    // driver only ever sees container paths, so the build scales with
    // executors, not driver memory
    val shippedConf = MetaIO.serializableConf()
    val containers = rows.mapPartitions { it =>
      MetaIO.installExecutorConf(shippedConf)
      val blobs = it.map { r =>
        val bm = Puffin.PositionBitmap.of(r.getSeq[Long](1))
        Puffin.Blob(BlobType, Puffin.encodeDvBlob(bm), snapId, seqNum,
          properties = Map(
            "referenced-data-file" -> r.getString(0),
            "column" -> colName, "m" -> mBits.toString, "k" -> k.toString))
      }.toSeq
      if (blobs.isEmpty) Iterator.empty
      else {
        val path = MetaIO.join(dirStr,
          s"bloom-$colName-$snapId-${java.util.UUID.randomUUID().toString.take(12)}.puffin")
        Puffin.write(path, blobs)
        Iterator.single(path)
      }
    }.collect().toSeq.sorted

    val p = propPrefix(column)
    SchemaEvolution.updateProperties(catalog, name, Map(
      s"$p.paths" -> containers.mkString(","),
      s"$p.m" -> mBits.toString,
      s"$p.k" -> k.toString,
      s"$p.snapshot-id" -> snapId.toString))
    containers
  }

  /** Drops the index registration (and best-effort deletes its
    * containers). */
  def drop(catalog: Catalog, name: String, column: String): Unit = {
    val p = propPrefix(column)
    val old = catalog.loadTable(name).properties.getOrElse(s"$p.paths", "")
    SchemaEvolution.updateProperties(catalog, name, Map.empty,
      removes = Set(s"$p.paths", s"$p.m", s"$p.k", s"$p.snapshot-id"))
    old.split(",").filter(_.nonEmpty).foreach { c =>
      try MetaIO.delete(c) catch { case _: Exception => () }
    }
  }

  /** Registered index geometry, if any: (container paths, m, k). */
  private def indexOf(meta: TableMetadata, column: String): Option[(Seq[String], Int, Int)] = {
    val p = propPrefix(column)
    meta.properties.get(s"$p.paths").map { paths =>
      (paths.split(",").toSeq.filter(_.nonEmpty),
        meta.properties(s"$p.m").toInt, meta.properties(s"$p.k").toInt)
    }
  }

  /** Data-file paths of `snap` that may contain `value`, per the index:
    * files whose blob clears all k probe bits are EXCLUDED (no false
    * negatives, by Bloom construction); files without a blob (appended
    * after the build) are kept. None when no index is registered for the
    * column. Driver-side planning, like manifest pruning — the probe
    * reads each surviving blob once by footer coordinates. */
  def mayContainFiles(meta: TableMetadata, snap: Snapshot, column: String,
      value: String): Option[Set[String]] = {
    indexOf(meta, column).map { case (containers, m, k) =>
      val probes = bitPositions(value, m, k)
      val current = snap.manifest.filter(_.content == FileContent.Data).map(_.path).toSet
      val verdicts = containers.iterator.flatMap { c =>
        Puffin.readFooter(c).iterator
          .filter(b => b.blobType == BlobType &&
            b.properties.get("column").contains(column))
          .flatMap { b =>
            b.properties.get("referenced-data-file").filter(current.contains).map { file =>
              val bm = Puffin.decodeDvBlob(Puffin.readBlob(c, b.offset, b.length))
              file -> probes.forall(bm.contains)
            }
          }
      }.toMap
      // covered + positive, plus everything the index has no verdict for
      current.filter(f => verdicts.getOrElse(f, true))
    }
  }

  /** Point-lookup read: the MOR view filtered to `column = value`,
    * scanning ONLY files the Bloom index cannot rule out (falls back to
    * all files when no index exists). The residual equality filter makes
    * the result exact regardless of false positives; comparison happens
    * in Spark's string cast of the column, the same value space the
    * index hashed. */
  def tablePoint(spark: SparkSession, catalog: Catalog, name: String,
      column: String, value: String, branch: String = "main"): DataFrame = {
    require(value != null, "bloom point lookup value must be non-null (nulls are not indexed)")
    val meta = catalog.loadTable(name)
    val snap = meta.requireBranchHead(branch)
    val keep = mayContainFiles(meta, snap, column, value)
    IceRead.ofSnapshot(spark, meta, snap, t => keep.forall(_.contains(t.path)))
      .filter(col(column).cast("string") === value)
  }
}
