package graft.meta

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.compaction.Maintenance
import graft.exec.Mor
import graft.selection.FileGroup

/** Iceberg v3 deletion vectors: Puffin container + deletion-vector-v1 blob
  * layout (published spec), the convert-pos-deletes maintenance action, and
  * the two read plans behind the byte gate — codegen'd bitmap-probe FILTER
  * (no join at all) under it, executor-decoded anti join above it.
  */
class DeletionVectorSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"

  // ---- bitmap + blob layout ----

  test("PositionBitmap round-trips through the portable 64-bit serialization") {
    val positions = Seq(0L, 1L, 5L, 1000L, (1L << 32) + 7L, (5L << 32) + 123456L)
    val bm = Puffin.PositionBitmap.of(positions)
    assert(bm.cardinality == positions.size)
    positions.foreach(p => assert(bm.contains(p), s"missing $p"))
    assert(!bm.contains(2L) && !bm.contains((1L << 32) + 8L) && !bm.contains(-1L))

    val back = Puffin.PositionBitmap.deserializePortable(bm.serializePortable)
    assert(back.positions.toSeq == positions.sorted)
  }

  test("DV blob layout: length header, D1D33964 magic, CRC-32 tamper detection") {
    val bm = Puffin.PositionBitmap.of(Seq(3L, 9L, 12L))
    val blob = Puffin.encodeDvBlob(bm)
    // length field covers magic + bitmap; total = 4 (len) + payload + 4 (crc)
    val len = java.nio.ByteBuffer.wrap(blob).getInt
    assert(len == blob.length - 8)
    assert((blob(4) & 0xFF) == 0xD1 && (blob(5) & 0xFF) == 0xD3 &&
      (blob(6) & 0xFF) == 0x39 && (blob(7) & 0xFF) == 0x64)
    assert(Puffin.decodeDvBlob(blob).positions.toSeq == Seq(3L, 9L, 12L))

    val corrupted = blob.clone()
    corrupted(10) = (corrupted(10) ^ 0x1).toByte
    val err = intercept[IllegalArgumentException](Puffin.decodeDvBlob(corrupted))
    assert(err.getMessage.toLowerCase.contains("crc") ||
      err.getMessage.toLowerCase.contains("bucket"))
  }

  test("Puffin container: PFA1 framing, footer coordinates, blob readback") {
    val dir = Files.createTempDirectory("puffin-test")
    val path = dir.resolve("test.puffin").toString
    val b1 = Puffin.encodeDvBlob(Puffin.PositionBitmap.of(Seq(1L, 2L)))
    val b2 = Puffin.encodeDvBlob(Puffin.PositionBitmap.of(Seq(42L)))
    val metas = Puffin.write(path, Seq(
      Puffin.Blob(Puffin.DvBlobType, b1, 7L, 3L, properties = Map("referenced-data-file" -> "/a")),
      Puffin.Blob(Puffin.DvBlobType, b2, 7L, 3L, properties = Map("referenced-data-file" -> "/b"))))

    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    assert(bytes.take(4).toSeq == "PFA1".getBytes.toSeq)
    assert(bytes.takeRight(4).toSeq == "PFA1".getBytes.toSeq)
    assert(metas.head.offset == 4 && metas.head.length == b1.length)
    assert(metas(1).offset == 4 + b1.length)

    val footer = Puffin.readFooter(path)
    assert(footer == metas)
    assert(footer.head.properties("referenced-data-file") == "/a")
    assert(footer.head.snapshotId == 7L && footer.head.sequenceNumber == 3L)
    val payload = Puffin.readBlob(path, footer(1).offset, footer(1).length)
    assert(Puffin.decodeDvBlob(payload).positions.toSeq == Seq(42L))
  }

  // ---- conversion + read equivalence ----

  private def freshTable(name: String): (LocalCatalog, String) = {
    val catalog = LocalCatalog(Files.createTempDirectory("graft-dv-wh").toString)
    val src = spark.read.parquet(s"$sf/supplier.parquet")
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
    IceWrite.create(spark, catalog, name, src.repartition(3))
    IceWrite.deleteWhere(spark, catalog, name, col("s_suppkey") % 4 === 0)
    (catalog, name)
  }

  test("convertPositionDeletesToDVs: read-invariant, tombstones become one Puffin of DVs") {
    val (catalog, name) = freshTable("t_dv_conv")
    val before = IceRead.table(spark, catalog, name).orderBy("s_suppkey").collect()

    Maintenance.convertPositionDeletesToDVs(spark, catalog, name)
    val manifest = catalog.loadTable(name).currentSnapshot.get.manifest
    val plainPos = manifest.filter(f =>
      f.content == FileContent.PositionDeletes && !f.isDeletionVector)
    val dvs = manifest.filter(_.isDeletionVector)
    assert(plainPos.isEmpty, "conversion left parquet position-delete files")
    assert(dvs.nonEmpty)
    // one DV per referenced data file, all in one container, coordinates valid
    assert(dvs.map(_.referencedDataFile.get).distinct.size == dvs.size)
    assert(dvs.map(_.path).distinct.size == 1)
    val dataPaths = manifest.filter(_.content == FileContent.Data).map(_.path).toSet
    dvs.foreach { dv =>
      assert(dataPaths.contains(dv.referencedDataFile.get))
      val bm = Puffin.decodeDvBlob(
        Puffin.readBlob(dv.path, dv.contentOffset.get, dv.contentSizeInBytes.get))
      assert(bm.cardinality == dv.recordCount)
    }

    val after = IceRead.table(spark, catalog, name).orderBy("s_suppkey").collect()
    assert(after.toSeq == before.toSeq)

    // idempotence: nothing left to convert — no new snapshot
    val v1 = catalog.loadTable(name).currentSnapshotId
    Maintenance.convertPositionDeletesToDVs(spark, catalog, name)
    assert(catalog.loadTable(name).currentSnapshotId == v1)
  }

  test("DV read plans: bitmap-probe filter (no join) under the gate, anti join above") {
    val (catalog, name) = freshTable("t_dv_plan")
    Maintenance.convertPositionDeletesToDVs(spark, catalog, name)
    val meta = catalog.loadTable(name)
    val snap = meta.currentSnapshot.get
    val byKey = snap.manifest.map(f => f.resolutionKey -> f).toMap
    val group = FileGroup.fromDataFiles(meta.scanTasks(snap), byKey.get)
    assert(group.positionDeleteFiles.nonEmpty &&
      group.positionDeleteFiles.forall(_.isDeletionVector))

    val below = Mor.dataFrame(spark, meta, group, broadcastDeleteBytesMax = Long.MaxValue)
    val belowPlan = below.queryExecution.executedPlan.toString
    assert(!belowPlan.contains("Join"),
      s"DV shade under the gate must be a scalar filter, not a join:\n$belowPlan")
    assert(belowPlan.contains("dvcontains"),
      s"expected the DV probe in the plan:\n$belowPlan")

    val above = Mor.dataFrame(spark, meta, group, broadcastDeleteBytesMax = 0L)
    val abovePlan = above.queryExecution.executedPlan.toString
    assert(abovePlan.contains("LeftAnti"),
      s"expected the anti-join fallback above the gate:\n$abovePlan")

    assert(below.orderBy("s_suppkey").collect().toSeq ==
      above.orderBy("s_suppkey").collect().toSeq)
  }

  test("post-conversion deletes compose, and a second conversion unions into the DV") {
    val (catalog, name) = freshTable("t_dv_merge")
    Maintenance.convertPositionDeletesToDVs(spark, catalog, name)
    // new tombstones arrive as parquet pos deletes on top of the DV
    IceWrite.deleteWhere(spark, catalog, name, col("s_suppkey") % 4 === 1)
    val expected = spark.read.parquet(s"$sf/supplier.parquet")
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
      .filter(col("s_suppkey") % 4 =!= 0 && col("s_suppkey") % 4 =!= 1)
      .orderBy("s_suppkey").collect().toSeq
    assert(IceRead.table(spark, catalog, name).orderBy("s_suppkey").collect().toSeq == expected)

    // converting again merges parquet tombstones INTO the existing DVs
    Maintenance.convertPositionDeletesToDVs(spark, catalog, name)
    val manifest = catalog.loadTable(name).currentSnapshot.get.manifest
    assert(manifest.count(f =>
      f.content == FileContent.PositionDeletes && !f.isDeletionVector) == 0)
    assert(manifest.filter(_.isDeletionVector)
      .map(_.referencedDataFile.get).distinct.size ==
      manifest.count(_.isDeletionVector), "at most one DV per data file")
    assert(IceRead.table(spark, catalog, name).orderBy("s_suppkey").collect().toSeq == expected)

    // appends after conversion are untouched by the old DVs
    val extra = spark.range(1).select(
      lit(900001).as("s_suppkey"), lit("NEW SUPP").as("s_name"),
      lit(1.23).cast("double").as("s_acctbal"))
    IceWrite.append(spark, catalog, name, extra)
    val withExtra = IceRead.table(spark, catalog, name)
    assert(withExtra.filter(col("s_suppkey") === 900001).count() == 1)
  }

  test("compaction reads through DVs; replaced DVs dangle and get removed") {
    val (catalog, name) = freshTable("t_dv_compact")
    Maintenance.convertPositionDeletesToDVs(spark, catalog, name)
    val expected = IceRead.table(spark, catalog, name).orderBy("s_suppkey").collect().toSeq

    new graft.compaction.Compaction(catalog, name, spark).compact()
    assert(IceRead.table(spark, catalog, name).orderBy("s_suppkey").collect().toSeq == expected)

    // the compacted files replaced every referenced data file: DVs dangle
    val dangling = Maintenance.danglingDeleteFiles(spark, catalog, name)
    assert(dangling.nonEmpty && dangling.forall(_.isDeletionVector))
    Maintenance.removeDanglingDeletes(spark, catalog, name)
    val manifest = catalog.loadTable(name).currentSnapshot.get.manifest
    assert(!manifest.exists(_.isDeletionVector))
    assert(IceRead.table(spark, catalog, name).orderBy("s_suppkey").collect().toSeq == expected)

    // once snapshots expire, the unreferenced Puffin container is orphan-
    // detectable and reclaimable like any data file
    Maintenance.expireSnapshots(catalog, name, keepLast = 1)
    val orphans = Maintenance.orphanFiles(catalog, name, olderThanMs = 0L)
    assert(orphans.exists(_.endsWith(".puffin")), s"expected a puffin orphan in $orphans")
    Maintenance.deleteOrphans(catalog, name, orphans, olderThanMs = 0L)
    assert(Maintenance.orphanFiles(catalog, name, olderThanMs = 0L).isEmpty)
    assert(IceRead.table(spark, catalog, name).orderBy("s_suppkey").collect().toSeq == expected)
  }

  test("deleteWhereDv writes vectors natively; repeat deletes merge; changelog sees only the delta") {
    val catalog = LocalCatalog(Files.createTempDirectory("graft-dvw-wh").toString)
    val src = spark.read.parquet(s"$sf/supplier.parquet")
      .select(col("s_suppkey"), col("s_name"))
    IceWrite.create(spark, catalog, "t_dvw", src.repartition(3))     // snapshot 1
    IceWrite.deleteWhereDv(spark, catalog, "t_dvw", col("s_suppkey") % 4 === 0) // snapshot 2
    val manifest1 = catalog.loadTable("t_dvw").currentSnapshot.get.manifest
    assert(!manifest1.exists(f =>
      f.content == FileContent.PositionDeletes && !f.isDeletionVector),
      "native DV delete must not write parquet tombstones")
    assert(manifest1.exists(_.isDeletionVector))
    val after1 = IceRead.table(spark, catalog, "t_dvw").orderBy("s_suppkey").collect().toSeq
    assert(after1 == src.filter(col("s_suppkey") % 4 =!= 0)
      .orderBy("s_suppkey").collect().toSeq)

    IceWrite.deleteWhereDv(spark, catalog, "t_dvw", col("s_suppkey") % 4 === 1) // snapshot 3
    val manifest2 = catalog.loadTable("t_dvw").currentSnapshot.get.manifest
    val dvs = manifest2.filter(_.isDeletionVector)
    assert(dvs.map(_.referencedDataFile.get).distinct.size == dvs.size,
      "at most one DV per data file after the merge")
    val after2 = IceRead.table(spark, catalog, "t_dvw").orderBy("s_suppkey").collect().toSeq
    assert(after2 == src.filter(col("s_suppkey") % 4 =!= 0 && col("s_suppkey") % 4 =!= 1)
      .orderBy("s_suppkey").collect().toSeq)

    // the merged vector carries the union, but the changelog must emit
    // only snapshot 3's DELTA (%4==1 rows), not re-emit %4==0
    val head = catalog.loadTable("t_dvw").currentSnapshot.get.snapshotId
    val log = Changelog.changesBetween(spark, catalog, "t_dvw", 1L, head)
      .filter(col(Changelog.ChangeTypeCol) === "delete")
    import spark.implicits._
    val bySnap = log.groupBy(Changelog.SnapshotIdCol)
      .agg(org.apache.spark.sql.functions.collect_set(
        (col("s_suppkey") % 4).cast("int")).as("mods"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(bySnap(2L).toSet == Set(0), s"snapshot 2 must delete only %4==0 rows: $bySnap")
    assert(bySnap(head).toSet == Set(1), s"snapshot 3 must delete only %4==1 rows: $bySnap")
  }

  test("DV metadata round-trips through the JSON codec") {
    val entry = FileEntry("/wh/deletes/dv-abc.puffin", 1234L,
      FileContent.PositionDeletes, 17L, 5L,
      partitionValues = Map("p" -> "3"),
      referencedDataFile = Some("/wh/data/f1.parquet"),
      contentOffset = Some(4L), contentSizeInBytes = Some(99L))
    val meta = TableMetadata("t", "/wh", snapshots = Seq(
      Snapshot(1L, None, 1L, 0L, Seq(entry))), currentSnapshotId = Some(1L))
    val back = MetadataJson.read(MetadataJson.write(meta))
    val f = back.snapshots.head.manifest.head
    assert(f == entry && f.isDeletionVector)
    // plain entries stay free of the v3 keys
    val plain = MetadataJson.write(TableMetadata("t", "/wh", snapshots = Seq(
      Snapshot(1L, None, 1L, 0L, Seq(entry.copy(referencedDataFile = None,
        contentOffset = None, contentSizeInBytes = None)))), currentSnapshotId = Some(1L)))
    assert(!plain.contains("referenced-data-file"))
  }

  test("dense delete past the driver gate streams containers executor-side; results identical") {
    // many files + a delete-most pass: with maxDriverBlobBytes = 0 every
    // blob byte is over budget, so the containers must be written by
    // executors (multiple containers allowed) and the driver only sees
    // manifest coordinates. The MOR view must match the driver-side path
    // bit for bit, including the union with a pre-existing DV.
    val catalog = LocalCatalog(Files.createTempDirectory("graft-dvs-wh").toString)
    val src = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    IceWrite.create(spark, catalog, "t_dvs", src.repartition(6))
    // seed an existing DV through the normal path, then the dense pass
    IceWrite.deleteWhereDv(spark, catalog, "t_dvs", col("o_orderkey") % 97 === 0)
    IceWrite.deleteWhereDv(spark, catalog, "t_dvs", col("o_orderkey") % 3 =!= 0,
      maxDriverBlobBytes = 0L) // forces the streamed path + existing-DV union
    val manifest = catalog.loadTable("t_dvs").currentSnapshot.get.manifest
    val dvs = manifest.filter(_.isDeletionVector)
    assert(dvs.nonEmpty)
    assert(dvs.map(_.referencedDataFile.get).distinct.size == dvs.size,
      "one DV per data file after the streamed union")
    val got = IceRead.table(spark, catalog, "t_dvs").orderBy("o_orderkey").collect().toSeq
    val want = src.filter(col("o_orderkey") % 97 =!= 0 && col("o_orderkey") % 3 === 0)
      .orderBy("o_orderkey").collect().toSeq
    assert(got == want)

    // the same two deletes through the driver path give the same table
    val catalog2 = LocalCatalog(Files.createTempDirectory("graft-dvs-wh2").toString)
    IceWrite.create(spark, catalog2, "t_dvs", src.repartition(6))
    IceWrite.deleteWhereDv(spark, catalog2, "t_dvs", col("o_orderkey") % 97 === 0)
    IceWrite.deleteWhereDv(spark, catalog2, "t_dvs", col("o_orderkey") % 3 =!= 0)
    val viaDriver = IceRead.table(spark, catalog2, "t_dvs").orderBy("o_orderkey").collect().toSeq
    assert(got == viaDriver)
  }

  /** A table `name` whose head holds two position-delete files: a
    * nullable `pos` in the first, none in the second — a schema inferred
    * from the first footer reads the second's `pos` as null. */
  private def tableWithPosLessDeleteFile(name: String): LocalCatalog = {
    val s = spark
    import s.implicits._
    val catalog = LocalCatalog(Files.createTempDirectory(s"graft-dv-$name").toString)
    IceWrite.create(spark, catalog, name, spark.range(0, 100, 1, 2).toDF("id"))
    val data = catalog.loadTable(name).currentSnapshot.get.manifest
    assert(data.size == 2)
    def deleteFile(rows: org.apache.spark.sql.DataFrame, file: String): FileEntry = {
      val (path, size, n, _) = graft.testkit.FileGenerator.writeSingleParquet(spark, rows,
        java.nio.file.Paths.get(catalog.dataDir(name), file))
      FileEntry(path, size, FileContent.PositionDeletes, n, sequenceNumber = 0L)
    }
    val deletes = Seq(
      deleteFile(Seq((data.head.path, Option(5L))).toDF("file_path", "pos"), "pos-delete-a.parquet"),
      deleteFile(Seq(data(1).path).toDF("file_path"), "pos-delete-b.parquet"))
    catalog.transact(name) { meta =>
      val seq = meta.lastSequenceNumber + 1
      val parent = meta.currentSnapshot
      meta.withSnapshot(parent, parent.get.manifest ++ deletes.map(_.copy(sequenceNumber = seq)),
        "delete", seq)
    }
    catalog
  }

  private def failsOnMissingPos(e: Throwable): Boolean =
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("position-delete file has no `pos` value"))

  test("a second position-delete file without `pos` fails the conversion, deleting nothing") {
    val catalog = tableWithPosLessDeleteFile("t_nopos")
    val head = catalog.loadTable("t_nopos").currentSnapshotId
    val e = intercept[Exception](Maintenance.convertPositionDeletesToDVs(spark, catalog, "t_nopos"))
    assert(failsOnMissingPos(e), e.toString)
    // no deletion vector committed: row 0 of the second file is not tombstoned
    assert(catalog.loadTable("t_nopos").currentSnapshotId == head)
  }

  test("a second position-delete file without `pos` fails the tombstone merge, committing nothing") {
    val catalog = tableWithPosLessDeleteFile("t_nopos_merge")
    val head = catalog.loadTable("t_nopos_merge").currentSnapshotId
    val e = intercept[Exception](
      Maintenance.rewritePositionDeletes(spark, catalog, "t_nopos_merge"))
    assert(failsOnMissingPos(e), e.toString)
    // no merged tombstone file holding a null `pos` was committed
    assert(catalog.loadTable("t_nopos_merge").currentSnapshotId == head)
  }
}
