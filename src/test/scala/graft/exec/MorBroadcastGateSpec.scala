package graft.exec

import java.nio.file.Files
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.compaction.Maintenance
import graft.meta._
import graft.selection.FileGroup
import graft.testkit.FileGenerator
import graft.util.Profile

/** The delete sides are size-gated on manifest bytes: under the gate
  * every delete kind is decoded on the driver, with no Spark job, and
  * probed inside the scan (position bitmaps and equality-key tables), so
  * the plan is scan -> filter -> project with no join and no exchange (the
  * 100 TB plan); above it Catalyst falls back to shuffled joins so a
  * delete-heavy table (FilesWithDeletes exists for exactly those) cannot
  * OOM the driver. Results must be identical either way.
  */
class MorBroadcastGateSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"

  private def morGroup(): (TableMetadata, FileGroup) = {
    val catalog = LocalCatalog(Files.createTempDirectory("graft-wh").toString)
    val src = spark.read.parquet(s"$sf/lineitem.parquet")
    val meta = FileGenerator.writeTable(spark, catalog, "t_gate", src,
      FileGenerator.Config(dataFileCount = 3, eqDeleteRowsPerFile = 25,
        posDeleteRowsPerFile = 25, equalityIds = Seq("l_orderkey"), orderCol = "l_orderkey"))
    val snap = meta.currentSnapshot.get
    val byPath = snap.manifest.map(f => f.path -> f).toMap
    (meta, FileGroup.fromDataFiles(meta.scanTasks(snap), byPath.get))
  }

  test("deletes broadcast under the gate, shuffle above it, same result") {
    val (meta, group) = morGroup()

    val below = Mor.dataFrame(spark, meta, group, broadcastDeleteBytesMax = Long.MaxValue)
    assertUnderGatePlan(below)

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // keep Catalyst from auto-broadcasting the (tiny) test deletes, so
      // the gate's fallback path is what actually plans
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val above = Mor.dataFrame(spark, meta, group, broadcastDeleteBytesMax = 0L)
      val abovePlan = above.queryExecution.executedPlan.toString
      assert(abovePlan.contains("SortMergeJoin") || abovePlan.contains("ShuffledHashJoin"),
        s"expected shuffled anti joins above the gate:\n$abovePlan")

      assert(below.count() == above.count())
      assert(below.exceptAll(above).isEmpty && above.exceptAll(below).isEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("applyPositionDeletes broadcasts under its gate, shuffles above it, same result") {
    import org.apache.spark.sql.functions._
    val data = spark.read.parquet(s"$sf/lineitem.parquet").select(
      col("l_orderkey"), col("l_linenumber"),
      concat(lit("f"), (col("l_orderkey") % 7).cast("string")).as(Mor.FilePathCol),
      (col("l_orderkey") * 10 + col("l_linenumber")).as(Mor.PosCol))
    val dels = data.filter(col("l_orderkey") % 13 === 0)
      .select(col(Mor.FilePathCol), col(Mor.PosCol))

    // small delete side + default gate (Catalyst stats estimate): broadcast
    val below = Mor.applyPositionDeletes(data, dels)
    val belowPlan = below.queryExecution.executedPlan.toString
    assert(belowPlan.contains("BroadcastHashJoin") && belowPlan.contains("LeftAnti"),
      s"expected broadcast anti join below the gate:\n$belowPlan")

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val above = Mor.applyPositionDeletes(data, dels, broadcastDeleteBytesMax = 0L)
      val abovePlan = above.queryExecution.executedPlan.toString
      assert(abovePlan.contains("SortMergeJoin") || abovePlan.contains("ShuffledHashJoin"),
        s"expected shuffled anti join above the gate:\n$abovePlan")
      assert(below.count() == above.count())
      assert(below.exceptAll(above).isEmpty && above.exceptAll(below).isEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("default gate keeps small delete sides on the broadcast path") {
    val (meta, group) = morGroup()
    assertUnderGatePlan(Mor.dataFrame(spark, meta, group))
  }

  test("under the gate, building the frame starts no job and its count only the scan's") {
    import spark.implicits._
    val catalog = LocalCatalog(Files.createTempDirectory("graft-gate-jobs").toString)
    IceWrite.create(spark, catalog, "t", spark.range(0, 400, 1, 4)
      .select(col("id"), (col("id") % 7).as("k")))
    def data = catalog.loadTable("t").currentSnapshot.get.manifest
      .filter(_.content == FileContent.Data).sortBy(_.path)
    IceWrite.appendPositionDeletes(spark, catalog, "t",
      Seq((data(0).path, 1L), (data(1).path, 2L)).toDF("file_path", "pos"))
    Maintenance.convertPositionDeletesToDVs(spark, catalog, "t")
    IceWrite.appendPositionDeletes(spark, catalog, "t",
      Seq((data(0).path, 3L), (data(2).path, 4L)).toDF("file_path", "pos"))
    IceWrite.appendEqualityDeletes(spark, catalog, "t", Seq(3L).toDF("k"), Seq("k"))
    IceWrite.appendEqualityDeletes(spark, catalog, "t", Seq(10L, 11L).toDF("id"), Seq("id"))
    val meta = catalog.loadTable("t")
    val snap = meta.currentSnapshot.get
    val group = FileGroup.fromDataFiles(meta.scanTasks(snap), snap.entriesByKey.get)
    assert(group.positionDeleteFiles.exists(_.isDeletionVector) &&
      group.positionDeleteFiles.exists(!_.isDeletionVector))
    assert(Mor.equalityDeleteGroups(group.equalityDeleteFiles).size == 2)

    val (df, built) = Profile.record(spark)(Mor.dataFrame(spark, meta, group))
    assert(built.jobStarts.isEmpty, s"building the frame ran jobs: $built")
    assertUnderGatePlan(df)
    val (n, counted) = Profile.record(spark)(df.count())
    val deletedAt = Set((0, 1L), (1, 2L), (0, 3L), (2, 4L))
    val expected = data.zipWithIndex.map { case (f, i) =>
      spark.read.parquet(f.path).select(col("id"), col("_metadata.row_index")).collect()
        .count(r => !deletedAt((i, r.getLong(1))) && r.getLong(0) % 7 != 3 &&
          !Set(10L, 11L)(r.getLong(0)))
    }.sum
    assert(n == expected)
    assert(counted.jobStarts.size == 2, s"count ran more than the scan's jobs: $counted")
  }

  test("a legacy name-addressed table's frame is built without a footer-inference job") {
    import spark.implicits._
    val catalog = LocalCatalog(Files.createTempDirectory("graft-gate-untyped").toString)
    IceWrite.create(spark, catalog, "t", spark.range(0, 100, 1, 2).toDF("id"))
    IceWrite.appendEqualityDeletes(spark, catalog, "t", Seq(5L, 7L).toDF("id"), Seq("id"))
    val typed = catalog.loadTable("t")
    val meta = typed.copy(schema = typed.schema.map(f => SchemaField(f.id, f.name)))
    assert(!meta.isTyped)
    val snap = meta.currentSnapshot.get
    val group = FileGroup.fromDataFiles(meta.scanTasks(snap), snap.entriesByKey.get)
    val (df, built) = Profile.record(spark)(Mor.dataFrame(spark, meta, group))
    assert(built.jobStarts.isEmpty, s"building the frame ran jobs: $built")
    assert(df.count() == 98)
  }

  /** Under the gate: no join and no broadcast exchange; position deletes
    * probed by `dv_contains` and equality deletes by `equalitydeleted`,
    * both in the scan's filter. */
  private def assertUnderGatePlan(df: org.apache.spark.sql.DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan
    val text = plan.toString
    assert(collect(plan) { case j: BaseJoinExec => j }.isEmpty,
      s"no join under the gate:\n$text")
    assert(collect(plan) { case b: BroadcastExchangeExec => b }.isEmpty,
      s"no broadcast exchange under the gate:\n$text")
    assert(text.contains("dvcontains"), s"expected the bitmap probe:\n$text")
    assert(text.contains("equalitydeleted"), s"expected the equality probe:\n$text")
  }
}
