package graft.meta

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Partition-level operations: metadata-only dropPartitions and atomic
  * dynamic overwritePartitions. */
class PartitionOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def freshCatalog() =
    LocalCatalog(Files.createTempDirectory("partops-wh").toString)

  private def rows(grps: String*) = grps.flatMap(g =>
    (1L to 10L).map(i => (i, g, i * 10))).toDF("id", "grp", "v")

  private def dataPaths(cat: Catalog, name: String): Set[String] =
    cat.loadTable(name).currentSnapshot.get.manifest
      .filter(_.content == FileContent.Data).map(_.path).toSet

  test("dropPartitions is metadata-only: files vanish from the manifest, not disk") {
    val cat = freshCatalog()
    IceWrite.create(spark, cat, "t", rows("a", "b", "c"),
      partitionSpec = Seq(PartitionField("grp")))
    // scoped tombstone inside b, plus an unpartitioned-scope eq delete
    IceWrite.deleteWhere(spark, cat, "t", col("grp") === "b" && col("id") === 1)
    val before = dataPaths(cat, "t")
    val dataFilesOnDisk = scala.util.Using.resource(
      Files.walk(java.nio.file.Paths.get(cat.dataDir("t"))))(w => {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.count(p => p.toString.endsWith(".parquet"))
      })

    IceWrite.dropPartitions(cat, "t", Map("grp" -> "b"))

    val metaAfter = cat.loadTable("t")
    val snap = metaAfter.currentSnapshot.get
    assert(!snap.manifest.exists(_.partitionValues.get("grp").contains("b")))
    assert(snap.summary("operation") == "delete")
    // untouched partitions keep their exact paths; nothing was written
    assert(dataPaths(cat, "t") == before.filter(p =>
      metaAfter.snapshots.head.manifest.find(_.path == p)
        .exists(!_.partitionValues.get("grp").contains("b"))))
    val onDiskAfter = scala.util.Using.resource(
      Files.walk(java.nio.file.Paths.get(cat.dataDir("t"))))(w => {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.count(p => p.toString.endsWith(".parquet"))
      })
    assert(onDiskAfter == dataFilesOnDisk, "dropPartitions wrote or deleted data files")

    val got = IceRead.table(spark, cat, "t").select("grp").distinct()
      .as[String].collect().toSet
    assert(got == Set("a", "c"))
    // time travel to the pre-drop snapshot still sees b
    val prev = metaAfter.snapshots(metaAfter.snapshots.size - 2)
    assert(IceRead.tableAt(spark, cat, "t", prev.snapshotId)
      .filter(col("grp") === "b").count() == 9) // 10 minus the tombstoned row
  }

  test("dropPartitions refuses non-identity transforms and undecidable old-spec files") {
    val cat = freshCatalog()
    IceWrite.create(spark, cat, "tb", rows("a"),
      partitionSpec = Seq(PartitionField("grp", "bucket[4]")))
    intercept[IllegalArgumentException](
      IceWrite.dropPartitions(cat, "tb", Map("grp" -> "a")))

    // files created BEFORE the spec had `grp` have no recorded value
    val cat2 = freshCatalog()
    IceWrite.create(spark, cat2, "tu", rows("a"))
    SchemaEvolution.updatePartitionSpec(cat2, "tu", Seq(PartitionField("grp")))
    IceWrite.append(spark, cat2, "tu", rows("b"))
    val e = intercept[IllegalArgumentException](
      IceWrite.dropPartitions(cat2, "tu", Map("grp" -> "a")))
    assert(e.getMessage.contains("older partition spec"))
  }

  test("overwritePartitions re-evaluates the prune after losing a CAS race") {
    val inner = freshCatalog()
    IceWrite.create(spark, inner, "tr", rows("a", "b"),
      partitionSpec = Seq(PartitionField("grp")))

    // a catalog whose FIRST commit attempt loses the race to a concurrent
    // append INTO THE REPLACED PARTITION: the retry must see the freshly
    // appended b-file and replace it too, or the overwrite half-applies
    val sneak = (5L to 6L).map(i => (i * 1000, "b", i)).toDF("id", "grp", "v")
    val racing = new RacingCatalog(inner)(_ => IceWrite.append(spark, inner, "tr", sneak))

    val incoming = Seq((777L, "b", 1L)).toDF("id", "grp", "v")
    IceWrite.overwritePartitions(spark, racing, "tr", incoming)

    val got = IceRead.table(spark, inner, "tr").as[(Long, String, Long)].collect()
    // the sneaked rows were in partition b and must NOT survive the
    // overwrite's retry; partition a is untouched
    assert(got.filter(_._2 == "b").map(_._1).toSeq == Seq(777L))
    assert(got.count(_._2 == "a") == 10)
  }

  test("partition values needing path escaping round-trip through drop and overwrite") {
    // '=', '/', space, '%' all collide with the directory encoding unless
    // escaped; the manifest stores RAW values, so ops match on raw too
    val weird = Seq("a=b", "x/y", "p q", "100%")
    val cat = freshCatalog()
    val df = weird.zipWithIndex.flatMap { case (g, i) =>
      (1L to 5L).map(j => (i * 10 + j, g, j)) }.toDF("id", "grp", "v")
    IceWrite.create(spark, cat, "tw", df, partitionSpec = Seq(PartitionField("grp")))
    val vals = cat.loadTable("tw").currentSnapshot.get.manifest
      .flatMap(_.partitionValues.get("grp")).toSet
    assert(vals == weird.toSet, s"manifest stored escaped values: $vals")

    IceWrite.dropPartitions(cat, "tw", Map("grp" -> "a=b"))
    IceWrite.overwritePartitions(spark, cat, "tw",
      Seq((999L, "x/y", 0L)).toDF("id", "grp", "v"))
    val got = IceRead.table(spark, cat, "tw").as[(Long, String, Long)].collect()
    assert(!got.exists(_._2 == "a=b"))
    assert(got.filter(_._2 == "x/y").map(_._1).toSeq == Seq(999L))
    assert(got.count(_._2 == "p q") == 5 && got.count(_._2 == "100%") == 5)
  }

  test("overwritePartitions atomically replaces only the partitions present in df") {
    val cat = freshCatalog()
    IceWrite.create(spark, cat, "to", rows("a", "b", "c"),
      partitionSpec = Seq(PartitionField("grp")))
    // a scoped tombstone in b must die with the partition (not resurrect
    // or dangle onto the new files)
    IceWrite.deleteWhere(spark, cat, "to", col("grp") === "b" && col("id") <= 3)
    val untouchedBefore = dataPaths(cat, "to")
      .filter(_.contains("__part_grp=a"))

    val incoming = (1L to 4L).map(i => (i + 100, "b", i)).toDF("id", "grp", "v")
    IceWrite.overwritePartitions(spark, cat, "to", incoming)

    val meta = cat.loadTable("to")
    val snap = meta.currentSnapshot.get
    assert(snap.summary("operation") == "overwrite")
    // b is exactly the incoming rows; a and c untouched (same paths)
    val got = IceRead.table(spark, cat, "to")
      .as[(Long, String, Long)].collect()
    assert(got.filter(_._2 == "b").map(_._1).sorted.toSeq == Seq(101L, 102L, 103L, 104L))
    assert(got.count(_._2 == "a") == 10 && got.count(_._2 == "c") == 10)
    assert(dataPaths(cat, "to").filter(_.contains("__part_grp=a")) == untouchedBefore)
    // no b-scoped delete file survived
    assert(!snap.manifest.exists(e => e.content != FileContent.Data &&
      e.partitionValues.get("grp").contains("b")))

    // empty overwrite is a no-op commit-wise
    val v = cat.loadTable("to").version
    IceWrite.overwritePartitions(spark, cat, "to", incoming.limit(0))
    assert(cat.loadTable("to").version == v)
  }
}
