package graft.meta

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.compaction._
import graft.selection._
import graft.testkit.FileGenerator

class IceReadSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"

  test("MOR table read is invariant under compaction") {
    val catalog = LocalCatalog(Files.createTempDirectory("graft-wh").toString)
    val src = spark.read.parquet(s"$sf/orders.parquet")
    FileGenerator.writeTable(spark, catalog, "t_read", src,
      FileGenerator.Config(dataFileCount = 4, posDeleteRowsPerFile = 10,
        eqDeleteRowsPerFile = 10, equalityIds = Seq("o_orderkey"), orderCol = "o_orderkey"))

    val before = IceRead.table(spark, catalog, "t_read").cache()
    val nBefore = before.count()
    assert(nBefore > 0 && nBefore < src.count()) // deletes visible through the read

    new Compaction(catalog, "t_read", spark,
      config = FullCompactionConfig(PlanningParams(maxOutputParallelism = 2))).compact()

    val after = IceRead.table(spark, catalog, "t_read")
    // the user-visible table content must be byte-identical across compaction
    assert(after.count() == nBefore)
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty)
  }

  test("time travel reads the historical snapshot") {
    val catalog = LocalCatalog(Files.createTempDirectory("graft-wh").toString)
    val src = spark.read.parquet(s"$sf/nation.parquet")
    FileGenerator.writeTable(spark, catalog, "t_tt", src,
      FileGenerator.Config(dataFileCount = 3, orderCol = "n_nationkey"))
    new Compaction(catalog, "t_tt", spark,
      config = FullCompactionConfig(PlanningParams(maxOutputParallelism = 1))).compact()
    val meta = catalog.loadTable("t_tt")
    assert(meta.snapshots.size == 2)
    val old = IceRead.tableAt(spark, catalog, "t_tt", snapshotId = 1L)
    val cur = IceRead.table(spark, catalog, "t_tt")
    assert(old.count() == 25 && cur.count() == 25)
    assert(old.exceptAll(cur).isEmpty)
    intercept[IllegalStateException] { IceRead.tableAt(spark, catalog, "t_tt", 99L) }
  }

  test("partition-pruned read touches only the matching partition's files") {
    val catalog = LocalCatalog(Files.createTempDirectory("graft-wh").toString)
    val src = spark.read.parquet(s"$sf/nation.parquet")
    FileGenerator.writeTable(spark, catalog, "t_pp", src,
      FileGenerator.Config(orderCol = "n_nationkey",
        partitionSpec = Seq(graft.meta.PartitionField("n_regionkey")), filesPerPartition = 2))
    val df = IceRead.tablePartition(spark, catalog, "t_pp", Map("n_regionkey" -> "2"))
    val expected = src.filter(col("n_regionkey") === 2)
    assert(df.count() == expected.count())
    assert(df.exceptAll(expected).isEmpty)
    // only that partition's 2 files appear in the scan
    val scanned = df.select(input_file_name()).distinct().count()
    assert(scanned == 2)
  }

  test("partition-scoped equality deletes do not leak into other partitions") {
    val catalog = LocalCatalog(Files.createTempDirectory("graft-wh").toString)
    val s = spark
    import s.implicits._
    // id=1 exists in BOTH partitions; the delete is scoped to part=1 only
    val src = Seq((1L, 1L, "a"), (2L, 1L, "b"), (1L, 2L, "c"), (2L, 2L, "d"))
      .toDF("id", "part", "v")
    FileGenerator.writeTable(spark, catalog, "t_scoped", src,
      FileGenerator.Config(orderCol = "id",
        partitionSpec = Seq(graft.meta.PartitionField("part")), filesPerPartition = 1))

    val meta = catalog.loadTable("t_scoped")
    val snap = meta.currentSnapshot.get
    val (p, size, rows, _) = FileGenerator.writeSingleParquet(spark,
      Seq(Tuple1(1L)).toDF("id"), java.nio.file.Paths.get(catalog.dataDir("t_scoped"), "eq-scoped.parquet"))
    val delEntry = FileEntry(p, size, FileContent.EqualityDeletes, rows,
      sequenceNumber = 3L, equalityIds = Seq("id"), partitionValues = Map("part" -> "1"))
    val snap2 = Snapshot(2L, Some(snap.snapshotId), 3L, System.currentTimeMillis(),
      snap.manifest :+ delEntry)
    catalog.commit(meta, meta.copy(currentSnapshotId = Some(2L),
      refs = meta.refs + ("main" -> 2L), snapshots = meta.snapshots :+ snap2,
      lastSequenceNumber = 3L))

    // (1, part=1) vanishes; (1, part=2) must survive
    val out = IceRead.table(spark, catalog, "t_scoped").select("id", "part")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((2L, 1L), (1L, 2L), (2L, 2L)))

    // flattening that scoped delete into a cross-partition group is refused
    val meta2 = catalog.loadTable("t_scoped")
    val snapNow = meta2.currentSnapshot.get
    val byPath = snapNow.manifest.map(f => f.path -> f).toMap
    intercept[IllegalArgumentException] {
      graft.selection.FileGroup.fromDataFiles(meta2.scanTasks(snapNow), byPath.get)
    }
    // so is a table-scope plan over two specs whose value maps coincide:
    // the delete's partition is (spec 0, part=1), not part=1 of any spec
    val inPart1 = meta2.scanTasks(snapNow).filter(_.partitionValues == Map("part" -> "1"))
    val otherSpec =
      inPart1.head.copy(path = inPart1.head.path + "-spec1", specId = 1, deletes = Nil)
    val tableScope = new PlanStrategy(Nil, GroupingStrategy.Single, FileGroupScope.Table, Nil)
    intercept[IllegalArgumentException] {
      tableScope.execute(inPart1 :+ otherSpec, PlanningParams(), byPath.get)
    }
  }

  test("zone-map range read skips non-intersecting files, result is exact") {
    val catalog = LocalCatalog(Files.createTempDirectory("graft-wh").toString)
    val src = spark.read.parquet(s"$sf/lineitem.parquet")
    // ordered fragmentation -> disjoint l_orderkey ranges per file
    FileGenerator.writeTable(spark, catalog, "t_zone", src,
      FileGenerator.Config(dataFileCount = 6, orderCol = "l_orderkey"))
    val meta = catalog.loadTable("t_zone")
    val snap = meta.currentSnapshot.get
    assert(snap.manifest.filter(_.content == graft.meta.FileContent.Data)
      .forall(_.columnStats.contains("l_orderkey")))

    val lo = BigDecimal(100); val hi = BigDecimal(500)
    val selected = IceRead.selectFilesByRange(meta, snap, "l_orderkey", lo, hi)
    assert(selected.size < 6 && selected.nonEmpty) // pruning happened

    val got = IceRead.tableRange(spark, catalog, "t_zone", "l_orderkey", lo, hi)
    val expected = src.filter(col("l_orderkey") >= 100 && col("l_orderkey") <= 500)
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("column pruning pushes through the MOR anti joins to the scan") {
    val catalog = LocalCatalog(Files.createTempDirectory("graft-wh").toString)
    val src = spark.read.parquet(s"$sf/orders.parquet")
    FileGenerator.writeTable(spark, catalog, "t_prune", src,
      FileGenerator.Config(dataFileCount = 3, posDeleteRowsPerFile = 10,
        eqDeleteRowsPerFile = 10, equalityIds = Seq("o_orderkey"), orderCol = "o_orderkey"))

    val one = IceRead.table(spark, catalog, "t_prune").select("o_custkey")
    val plan = one.queryExecution.executedPlan.toString
    // the data scan must read only what the query + join keys need:
    // o_custkey (projected) and o_orderkey (the equality-delete key) —
    // NOT the full table schema
    val scanSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scanSchemas.nonEmpty)
    val dataScan = scanSchemas.find(_.contains("o_custkey")).get
    assert(dataScan.contains("o_orderkey")) // needed by the eq anti join
    assert(!dataScan.contains("o_totalprice") && !dataScan.contains("o_orderstatus"),
      s"unneeded columns reached the scan:\n$dataScan")
    assert(one.count() > 0)
  }

  test("SQL over the registered MOR view") {
    val catalog = LocalCatalog(Files.createTempDirectory("graft-wh").toString)
    val src = spark.read.parquet(s"$sf/region.parquet")
    FileGenerator.writeTable(spark, catalog, "t_sql", src,
      FileGenerator.Config(dataFileCount = 2, orderCol = "r_regionkey"))
    IceRead.createTempView(spark, catalog, "t_sql", "region_v")
    val n = spark.sql("SELECT count(*) AS n FROM region_v").head.getLong(0)
    assert(n == 5)
  }
}
