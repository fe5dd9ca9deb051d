package graft.compaction

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.meta._
import graft.selection._
import graft.testkit.FileGenerator

class MaintenanceSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"

  test("expire + orphan cycle reclaims rewritten files without touching live data") {
    val catalog = LocalCatalog(Files.createTempDirectory("graft-wh").toString)
    val src = spark.read.parquet(s"$sf/nation.parquet")
    FileGenerator.writeTable(spark, catalog, "t_gc", src,
      FileGenerator.Config(dataFileCount = 4, orderCol = "n_nationkey"))

    new Compaction(catalog, "t_gc", spark,
      config = FullCompactionConfig(PlanningParams(maxOutputParallelism = 1))).compact()

    // before expiry: snapshot 1 still references the 4 original files
    // (olderThanMs = 0: no concurrent writers in this test)
    assert(Maintenance.orphanFiles(catalog, "t_gc", olderThanMs = 0L).isEmpty)

    val trimmed = Maintenance.expireSnapshots(catalog, "t_gc", keepLast = 1)
    assert(trimmed.snapshots.size == 1)

    // the default grace period classifies NOTHING as orphan yet — the
    // just-rewritten originals are too fresh, exactly the protection a
    // concurrent in-flight writer needs
    assert(Maintenance.orphanFiles(catalog, "t_gc").isEmpty)

    val orphans = Maintenance.orphanFiles(catalog, "t_gc", olderThanMs = 0L)
    assert(orphans.size == 4) // the rewritten originals

    // deleting with the default grace is a no-op for fresh files
    assert(Maintenance.deleteOrphans(catalog, "t_gc", orphans) == 0)
    val deleted = Maintenance.deleteOrphans(catalog, "t_gc", orphans, olderThanMs = 0L)
    assert(deleted == 4)
    orphans.foreach(p => assert(!Files.exists(Paths.get(p))))

    // the live table still reads fine
    val rows = IceRead.table(spark, catalog, "t_gc").count()
    assert(rows == 25)
    assert(Maintenance.orphanFiles(catalog, "t_gc", olderThanMs = 0L).isEmpty)

    // ANALYZE sketch sidecars: the property-referenced one is LIVE, a
    // superseded one (re-ANALYZE after an append) becomes orphan
    val r1 = graft.meta.NdvStats.analyze(spark, catalog, "t_gc")
    graft.meta.IceWrite.append(spark, catalog, "t_gc",
      src.limit(2).withColumn("n_nationkey",
        org.apache.spark.sql.functions.col("n_nationkey") + 100))
    val r2 = graft.meta.NdvStats.analyze(spark, catalog, "t_gc")
    assert(r1.statsPath != r2.statsPath)
    val statOrphans = Maintenance.orphanFiles(catalog, "t_gc", olderThanMs = 0L)
    assert(statOrphans.contains(r1.statsPath) && !statOrphans.contains(r2.statsPath),
      s"superseded sidecar must be orphan, live one must not: $statOrphans")
    assert(Maintenance.deleteOrphans(catalog, "t_gc", statOrphans, olderThanMs = 0L) ==
      statOrphans.size)
  }

  test("dangling delete files are detected after compaction and removed safely") {
    val catalog = LocalCatalog(Files.createTempDirectory("graft-wh").toString)
    val src = spark.read.parquet(s"$sf/orders.parquet")
    FileGenerator.writeTable(spark, catalog, "t_dangle", src,
      FileGenerator.Config(dataFileCount = 4, posDeleteRowsPerFile = 10,
        eqDeleteRowsPerFile = 10, equalityIds = Seq("o_orderkey"), orderCol = "o_orderkey"))

    // live deletes are NOT dangling before compaction
    assert(Maintenance.danglingDeleteFiles(spark, catalog, "t_dangle").isEmpty)
    val before = IceRead.table(spark, catalog, "t_dangle")
    val nBefore = before.count()

    new Compaction(catalog, "t_dangle", spark,
      config = FullCompactionConfig(PlanningParams(maxOutputParallelism = 1))).compact()

    // the consumed pos + eq delete files linger (reference parity) and
    // are now dangling: the rewrite folded them into the data
    val dangling = Maintenance.danglingDeleteFiles(spark, catalog, "t_dangle")
    assert(dangling.map(_.content).toSet ==
      Set(FileContent.PositionDeletes, FileContent.EqualityDeletes))

    val cleaned = Maintenance.removeDanglingDeletes(spark, catalog, "t_dangle")
    val head = cleaned.currentSnapshot.get
    assert(head.summary("operation") == "maintenance")
    assert(head.manifest.forall(_.content == FileContent.Data))
    // the user-visible table is unchanged by the cleanup
    val after = IceRead.table(spark, catalog, "t_dangle")
    assert(after.count() == nBefore)
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty)
    // idempotent
    assert(Maintenance.danglingDeleteFiles(spark, catalog, "t_dangle").isEmpty)
  }

  test("compact(cleanupDanglingDeletes=true) leaves a delete-free manifest") {
    val catalog = LocalCatalog(Files.createTempDirectory("graft-wh").toString)
    val src = spark.read.parquet(s"$sf/nation.parquet")
    FileGenerator.writeTable(spark, catalog, "t_auto_clean", src,
      FileGenerator.Config(dataFileCount = 3, posDeleteRowsPerFile = 5,
        eqDeleteRowsPerFile = 5, equalityIds = Seq("n_nationkey"), orderCol = "n_nationkey"))
    val before = IceRead.table(spark, catalog, "t_auto_clean")
    val n = before.count()

    val res = new Compaction(catalog, "t_auto_clean", spark,
      config = FullCompactionConfig(PlanningParams(maxOutputParallelism = 1)),
      cleanupDanglingDeletes = true).compact()

    val head = res.table.get.currentSnapshot.get
    assert(head.manifest.forall(_.content == FileContent.Data))
    assert(head.summary("operation") == "maintenance")
    assert(IceRead.table(spark, catalog, "t_auto_clean").count() == n)
  }

  test("timestamp time travel and age-based expiry") {
    val catalog = LocalCatalog(Files.createTempDirectory("graft-wh").toString)
    val src = spark.read.parquet(s"$sf/region.parquet")
    FileGenerator.writeTable(spark, catalog, "t_age", src,
      FileGenerator.Config(dataFileCount = 2, orderCol = "r_regionkey"))
    val t1 = catalog.loadTable("t_age").currentSnapshot.get.timestampMs
    Thread.sleep(5)
    new Compaction(catalog, "t_age", spark,
      config = FullCompactionConfig(PlanningParams(maxOutputParallelism = 1))).compact()
    val t2 = catalog.loadTable("t_age").currentSnapshot.get.timestampMs

    // AS OF t1 reads snapshot 1; AS OF now reads the compacted head
    assert(IceRead.tableAsOf(spark, catalog, "t_age", t1).count() == 5)
    assert(IceRead.tableAsOf(spark, catalog, "t_age", System.currentTimeMillis()).count() == 5)
    intercept[IllegalStateException] {
      IceRead.tableAsOf(spark, catalog, "t_age", t1 - 100000)
    }

    // expire everything older than the head commit; the head survives
    val trimmed = Maintenance.expireSnapshotsOlderThan(catalog, "t_age", olderThanMs = t2)
    assert(trimmed.snapshots.map(_.snapshotId) == Seq(2L))
    assert(IceRead.table(spark, catalog, "t_age").count() == 5)
  }

  test("position-delete compaction merges files and drops dead tombstones") {
    // anchorEvery = 2: frequent full anchors so the metadata cleanup at
    // the end can reclaim pre-anchor versions on this short history (the
    // default 16 correctly retains the whole delta chain of a young table)
    val catalog = new LocalCatalog(
      Files.createTempDirectory("graft-wh").toString, anchorEvery = 2)
    val s2 = spark
    import s2.implicits._
    IceWrite.create(spark, catalog, "t_pdrw",
      (1L to 30L).map(i => (i, s"v$i")).toDF("id", "v"), targetFileSizeBytes = 1024)
    // two separate position-delete commits -> two pos-delete files
    def posFor(ids: Seq[Long]): Unit = {
      val meta = catalog.loadTable("t_pdrw")
      val dataFiles = meta.currentSnapshot.get.manifest.filter(_.content == FileContent.Data)
      val withPos = spark.read.parquet(dataFiles.map(_.path): _*)
        .withColumn("file_path", graft.exec.Mor.normalizePath(
          org.apache.spark.sql.functions.col("_metadata.file_path")))
        .withColumn("pos", org.apache.spark.sql.functions.col("_metadata.row_index"))
      IceWrite.appendPositionDeletes(spark, catalog, "t_pdrw",
        withPos.filter($"id".isin(ids: _*)).select("file_path", "pos"))
    }
    posFor(Seq(1L, 2L)); posFor(Seq(3L))
    val before = IceRead.table(spark, catalog, "t_pdrw")
    assert(before.count() == 27)
    assert(catalog.loadTable("t_pdrw").currentSnapshot.get
      .manifest.count(_.content == FileContent.PositionDeletes) >= 2)

    // merge: 2 files -> 1, view unchanged
    Maintenance.rewritePositionDeletes(spark, catalog, "t_pdrw")
    val merged = catalog.loadTable("t_pdrw").currentSnapshot.get
      .manifest.filter(_.content == FileContent.PositionDeletes)
    assert(merged.size == 1 && merged.head.recordCount == 3)
    val after = IceRead.table(spark, catalog, "t_pdrw")
    assert(after.count() == 27)
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty)

    // after a full compaction the tombstones point at dead files: the
    // rewrite drops them entirely
    new Compaction(catalog, "t_pdrw", spark,
      config = FullCompactionConfig(PlanningParams(maxOutputParallelism = 1))).compact()
    Maintenance.rewritePositionDeletes(spark, catalog, "t_pdrw")
    assert(catalog.loadTable("t_pdrw").currentSnapshot.get
      .manifest.forall(_.content == FileContent.Data))
    assert(IceRead.table(spark, catalog, "t_pdrw").count() == 27)

    // metadata version files trim to the newest N
    val deleted = Maintenance.cleanMetadataVersions(catalog, "t_pdrw", keepLast = 2)
    assert(deleted > 0)
    assert(IceRead.table(spark, catalog, "t_pdrw").count() == 27) // current still loads
  }

  test("expiry never drops ref-pinned snapshots") {
    val catalog = LocalCatalog(Files.createTempDirectory("graft-wh").toString)
    val src = spark.read.parquet(s"$sf/region.parquet")
    FileGenerator.writeTable(spark, catalog, "t_pin", src,
      FileGenerator.Config(dataFileCount = 2, orderCol = "r_regionkey"))
    // pin snapshot 1 on a branch, then compact twice -> 3 snapshots
    val m0 = catalog.loadTable("t_pin")
    catalog.commit(m0, m0.copy(refs = m0.refs + ("pinned" -> 1L)))
    new Compaction(catalog, "t_pin", spark,
      config = FullCompactionConfig(PlanningParams(maxOutputParallelism = 1))).compact()

    val trimmed = Maintenance.expireSnapshots(catalog, "t_pin", keepLast = 1)
    assert(trimmed.snapshots.map(_.snapshotId).toSet.contains(1L)) // pinned survives
  }

  test("maintained append sink folds small files back every N batches") {
    val s = spark
    import s.implicits._
    val catalog = LocalCatalog(Files.createTempDirectory("graft-wh").toString)
    val sink = Maintenance.maintainedAppendSink(catalog, "t_stream",
      everyBatches = 3,
      AutoCompactionConfig(
        params = PlanningParams(maxOutputParallelism = 1),
        minSmallFilesCount = 2))
    // six appends; maintenance fires after batches 2 and 5
    (0 until 6).foreach { b =>
      sink((b * 10 until b * 10 + 10).map(i => (i.toLong, s"v$i")).toDF("id", "v"), b.toLong)
    }
    val meta = catalog.loadTable("t_stream")
    val live = meta.currentSnapshot.get.manifest.count(_.content == FileContent.Data)
    assert(live < 6, s"small files never folded back: $live")
    // every ingested row survives the rewrites
    assert(IceRead.table(spark, catalog, "t_stream").count() == 60)
    // at least one snapshot is a compaction replace, interleaved with appends
    val ops = meta.snapshots.map(_.summary.getOrElse("operation", ""))
    assert(ops.contains("replace") && ops.count(_ == "append") == 6, ops.toString)
  }

  test("analyzeTable persists exact nulls/min/max and a tight ndv as table properties") {
    val s = spark
    import s.implicits._
    val catalog = LocalCatalog(Files.createTempDirectory("graft-wh").toString)
    val df = Seq(
      (1L, Option("apple"), Option(10)),
      (2L, Option("pear"), None),
      (3L, Option("apple"), Option(30)),
      (4L, None, Option(30)),
      (5L, Option("quince"), Option(-2))).toDF("id", "fruit", "qty")
    IceWrite.create(spark, catalog, "t_stats", df)
    val stats = Maintenance.analyzeTable(spark, catalog, "t_stats")
    assert(stats("stats.rows") == "5")
    assert(stats("stats.fruit.nulls") == "1" && stats("stats.qty.nulls") == "1")
    assert(stats("stats.fruit.min") == "apple" && stats("stats.fruit.max") == "quince")
    assert(stats("stats.qty.min") == "-2" && stats("stats.qty.max") == "30")
    // theta sketches below nominal are EXACT
    assert(stats("stats.id.ndv").toLong == 5L)
    assert(stats("stats.fruit.ndv").toLong == 3L)
    assert(stats("stats.qty.ndv").toLong == 3L)
    // persisted on the TABLE, visible to a fresh load; provenance pinned
    // (ndv.sketch.* keys are the sketch sidecar's provenance, persisted
    // alongside — they make the next ANALYZE incremental)
    val meta = catalog.loadTable("t_stats")
    // the table's own identity key (stamped at create) rides alongside
    assert(meta.properties.view.filterKeys(k =>
      !k.startsWith("ndv.sketch.") && k != TableMetadata.UuidKey).toMap == stats)
    assert(meta.properties.contains("ndv.sketch.path"))
    assert(stats("stats.snapshot-id") == meta.currentSnapshotId.get.toString)
    // metadata-only property upsert keeps unrelated keys
    SchemaEvolution.updateProperties(catalog, "t_stats", Map("owner" -> "curation"))
    val after = catalog.loadTable("t_stats").properties
    assert(after("owner") == "curation" && after("stats.rows") == "5")

    // a re-analyze of a SUBSET of columns removes the other columns'
    // stale stats (the global stats.snapshot-id would otherwise claim
    // fresh provenance for numbers from an older snapshot) but keeps
    // non-stats properties
    Maintenance.analyzeTable(spark, catalog, "t_stats", Seq("fruit"))
    val reduced = catalog.loadTable("t_stats").properties
    assert(reduced.contains("stats.fruit.ndv") && !reduced.contains("stats.qty.ndv"),
      reduced.toString)
    assert(reduced("owner") == "curation")
  }

  test("convertEqualityDeletes: same read, eq files gone, no duplicate tombstones, idempotent") {
    import graft.meta.{FileContent, IceRead, IceWrite, LocalCatalog}
    import org.apache.spark.sql.functions.{col, upper}
    import spark.implicits._
    val catalog = LocalCatalog(java.nio.file.Files.createTempDirectory("conv-wh").toString)
    val src = (1L to 60L).map(i => (i, s"name$i")).toDF("id", "name")
    IceWrite.create(spark, catalog, "t", src.repartition(3))
    // pos tombstones first (deleteWhere), THEN eq deletes (upsert) — the
    // conversion must not re-tombstone the pos-deleted rows
    IceWrite.deleteWhere(spark, catalog, "t", col("id") % 10 === 0)
    IceWrite.upsert(spark, catalog, "t",
      src.filter(col("id") % 3 === 0).withColumn("name", upper(col("name"))),
      keys = Seq("id"))
    val before = IceRead.table(spark, catalog, "t")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    def contentCounts() = {
      val m = catalog.loadTable("t").currentSnapshot.get.manifest
      (m.count(_.content == FileContent.EqualityDeletes),
        m.count(_.content == FileContent.PositionDeletes))
    }
    assert(contentCounts()._1 > 0, "fixture must carry equality deletes")
    Maintenance.convertEqualityDeletes(spark, catalog, "t")
    val (eqAfter, posAfter) = contentCounts()
    assert(eqAfter == 0 && posAfter > 0)
    val after = IceRead.table(spark, catalog, "t")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == before, "conversion must not change the MOR view")
    // every tombstone is unique — the pos-deleted rows did not duplicate
    val posFiles = catalog.loadTable("t").currentSnapshot.get.manifest
      .filter(_.content == FileContent.PositionDeletes).map(_.path)
    val stones = spark.read.parquet(posFiles: _*).select("file_path", "pos")
    assert(stones.count() == stones.distinct().count())
    // idempotent: nothing left to convert
    val v = catalog.loadTable("t").version
    Maintenance.convertEqualityDeletes(spark, catalog, "t")
    assert(catalog.loadTable("t").version == v)
  }
  test("convertEqualityDeletes refuses a v3 table before writing anything") {
    import graft.meta.{FileContent, IceRead, IceWrite, LocalCatalog}
    import org.apache.spark.sql.functions.{col, upper}
    import spark.implicits._
    val root = Files.createTempDirectory("conv-v3-wh")
    val catalog = LocalCatalog(root.toString)
    val src = (1L to 60L).map(i => (i, s"name$i")).toDF("id", "name")
    IceWrite.create(spark, catalog, "t", src.repartition(3), formatVersion = 3)
    // a deletion vector, then equality deletes
    IceWrite.deleteWhere(spark, catalog, "t", col("id") % 10 === 0)
    IceWrite.upsert(spark, catalog, "t",
      src.filter(col("id") % 3 === 0).withColumn("name", upper(col("name"))),
      keys = Seq("id"))
    val manifest = catalog.loadTable("t").currentSnapshot.get.manifest
    assert(manifest.exists(_.isDeletionVector) &&
      manifest.exists(_.content == FileContent.EqualityDeletes))
    def files() = Files.walk(root).iterator.asScala.filter(Files.isRegularFile(_)).toSet
    val (version, before, rows) = (catalog.loadTable("t").version, files(),
      IceRead.table(spark, catalog, "t").collect().toSet)
    val e = intercept[IllegalArgumentException](
      Maintenance.convertEqualityDeletes(spark, catalog, "t"))
    assert(e.getMessage.contains("deletion vectors"), e.getMessage)
    assert(catalog.loadTable("t").version == version)
    assert(files() == before)
    assert(IceRead.table(spark, catalog, "t").collect().toSet == rows)
  }

  test("sweep: catalog-wide auto-compaction + expiry + orphan report; SQL attach") {
    val catalog = LocalCatalog(Files.createTempDirectory("sweep-wh").toString)
    val src = spark.read.parquet(s"$sf/nation.parquet")
    // fragmented table: 6 small files -> SmallFiles candidate fires
    FileGenerator.writeTable(spark, catalog, "t_frag", src,
      FileGenerator.Config(dataFileCount = 6, orderCol = "n_nationkey"))
    // single-file table: nothing to do
    graft.meta.IceWrite.create(spark, catalog, "t_clean", src.coalesce(1))

    val reports = Maintenance.sweep(spark, catalog, keepLastSnapshots = 1)
      .map(r => r.table -> r).toMap
    assert(reports.keySet == Set("t_clean", "t_frag"))
    assert(reports("t_frag").compactedPlans >= 1 &&
      reports("t_frag").strategy.contains("SmallFiles"))
    assert(reports("t_clean").compactedPlans == 0)
    // expiry ran: only the head snapshot remains on the compacted table
    assert(reports("t_frag").snapshotsAfter == 1)
    val frag = catalog.loadTable("t_frag")
    assert(frag.currentSnapshot.get.manifest.count(
      _.content == graft.meta.FileContent.Data) < 6)

    // a second sweep is a no-op: planner reports no candidate
    val again = Maintenance.sweep(spark, catalog, keepLastSnapshots = 1)
    assert(again.forall(_.compactedPlans == 0))

    // SQL attach: every table becomes a view; graft functions registered
    val views = graft.meta.IceRead.attachViews(spark, catalog, prefix = "g_")
    assert(views.sorted == Seq("g_t_clean", "g_t_frag"))
    val n = spark.sql(
      "SELECT count(*) FROM g_t_frag WHERE nfc(n_name) = n_name").head().getLong(0)
    assert(n == src.count())
  }
}
