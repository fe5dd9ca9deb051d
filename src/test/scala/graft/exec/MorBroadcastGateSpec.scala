package graft.exec

import java.nio.file.Files
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.meta._
import graft.selection.FileGroup
import graft.testkit.FileGenerator

/** The delete sides are size-gated on manifest bytes: under the gate
  * position deletes are a per-file bitmap probe inside the scan and
  * equality deletes a BroadcastHashJoin on their key (zero data-side
  * shuffle — the 100 TB plan); above it Catalyst falls back to shuffled
  * joins so a delete-heavy table (FilesWithDeletes exists for exactly
  * those) cannot OOM the driver. Results must be identical either way.
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

  /** Under the gate: no join keyed on the file path, position deletes
    * probed by `dv_contains` in the scan, and the equality side the one
    * broadcast anti join. */
  private def assertUnderGatePlan(df: org.apache.spark.sql.DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan
    val joins = collect(plan) { case j: BaseJoinExec => j }
    val text = plan.toString
    assert(!joins.exists(j => (j.leftKeys ++ j.rightKeys).exists(
      _.references.exists(_.name == Mor.FilePathCol))),
      s"no join may key on ${Mor.FilePathCol} under the gate:\n$text")
    assert(text.contains("dvcontains"), s"expected the bitmap probe:\n$text")
    assert(joins.size == 1 && joins.forall(j => j.nodeName == "BroadcastHashJoin" &&
      j.joinType == LeftAnti),
      s"expected one broadcast anti join (the equality side):\n$text")
    assert(!text.contains("SortMergeJoin"), s"data side must not shuffle below the gate:\n$text")
  }
}
