package graft.compaction

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.functions.IcebergBucketUtil
import graft.meta._
import graft.testkit.FileGenerator

/** The partition identity is `(specId, partitionValues)`: a scoped
  * equality delete written under one partition spec never applies to a
  * file of another spec whose value map happens to coincide. The COW row
  * edits and the equality-delete conversion build their MOR groups on
  * that identity, like the read. */
class CrossSpecDeleteSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  /** A table partitioned by bucket[8](id) holding two files whose value
    * maps are both `id -> 1`:
    *  - file A, under the older spec bucket[4](id) (marker 1): ids in
    *    bucket 5 of 8, which is bucket 1 of 4;
    *  - file B, under the current spec: ids in bucket 1 of 8.
    * Each holds one row with `v = "x"` and one with `v = "keep"`. An
    * equality delete on `v = "x"` is scoped to A's partition, so only A's
    * `x` row is dead; B's `x` row is live. Returns the live rows. */
  private def fixture(catalog: Catalog, name: String): Set[(Long, String)] = {
    val s = spark
    import s.implicits._
    def ids(bucketOf8: Int) = Iterator.from(0).map(_.toLong)
      .filter(IcebergBucketUtil.bucketLong(_, 8) == bucketOf8).take(2).toSeq
    val Seq(a1, a2) = ids(5)
    val Seq(b1, b2) = ids(1)
    assert(IcebergBucketUtil.bucketLong(a1, 4) == 1 && IcebergBucketUtil.bucketLong(a2, 4) == 1)
    // one task per write, so each write lands one file
    IceWrite.create(spark, catalog, name,
      Seq((b1, "x"), (b2, "keep")).toDF("id", "v").coalesce(1),
      partitionSpec = Seq(PartitionField("id", "bucket[8]")))
    IceWrite.append(spark, catalog, name, Seq((a1, "x"), (a2, "keep")).toDF("id", "v").coalesce(1))

    val meta = catalog.loadTable(name)
    val head = meta.currentSnapshot.get
    assert(head.manifest.map(_.partitionValues) == Seq(Map("id" -> "1"), Map("id" -> "5")))
    val fileA = head.manifest(1)
    val vField = meta.fieldByName("v").get
    val (p, size, rows, _) = FileGenerator.writeSingleParquet(spark,
      IceWrite.withFieldIds(Seq("x").toDF("v"), Seq(vField)),
      Paths.get(catalog.dataDir(name), "eq-spec1.parquet"))
    val seq = meta.lastSequenceNumber + 1
    val delete = FileEntry(p, size, FileContent.EqualityDeletes, rows, seq,
      partitionValues = Map("id" -> "1"), equalityIds = Seq("v"),
      equalityFieldIds = Seq(vField.id), specId = 1)
    val remarked = head.manifest.map(f =>
      if (f.path == fileA.path) f.copy(partitionValues = Map("id" -> "1"), specId = 1) else f)
    catalog.commit(meta, meta.withSnapshot(Some(head), remarked :+ delete, "overwrite", seq)
      .copy(historicalSpecs = Map(1 -> Seq(PartitionField("id", "bucket[4]")))))

    val live = Set((a2, "keep"), (b1, "x"), (b2, "keep"))
    assert(rowsOf(catalog, name) == live)
    live
  }

  private def rowsOf(catalog: Catalog, name: String): Set[(Long, String)] =
    IceRead.table(spark, catalog, name).select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  private def newCatalog() = LocalCatalog(Files.createTempDirectory("graft-xspec").toString)

  test("a COW purge touching both specs keeps the other spec's row") {
    val catalog = newCatalog()
    val live = fixture(catalog, "t")
    RowRewrite.purgeWhere(spark, catalog, "t", col("v") === "keep")
    assert(rowsOf(catalog, "t") == live.filter(_._2 != "keep"))
  }

  test("converting a scoped equality delete keeps the other spec's row") {
    val catalog = newCatalog()
    val live = fixture(catalog, "t")
    val after = Maintenance.convertEqualityDeletes(spark, catalog, "t")
    assert(!after.currentSnapshot.get.manifest.exists(_.content == FileContent.EqualityDeletes))
    assert(rowsOf(catalog, "t") == live)
  }
}
