package graft.exec

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.meta.{Changelog, FileContent, IceRead, IceWrite, LocalCatalog, SchemaEvolution}
import graft.selection.FileGroup

/** Regression pins for the round-6 advisory findings: every consumer of
  * manifest statistics must honor retirement/type limits, and validation
  * counts must never be answered FROM the statistics they validate. */
class StatsIndependenceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("changelog inserts honor retired stats names (rename + reuse)") {
    val cat = LocalCatalog(Files.createTempDirectory("chretired-wh").toString)
    IceWrite.create(spark, cat, "t", (1L to 10L).map(i => (i, i * 100L)).toDF("id", "a"))
    val s1 = cat.loadTable("t").currentSnapshot.get.snapshotId
    SchemaEvolution.renameColumn(cat, "t", "a", "c")
    SchemaEvolution.addColumn(cat, "t", "a", "BIGINT")
    IceWrite.append(spark, cat, "t",
      Seq((11L, 1100L, java.lang.Long.valueOf(7L))).toDF("id", "c", "a"))
    val s2 = cat.loadTable("t").currentSnapshot.get.snapshotId

    val ch = Changelog.changesBetween(spark, cat, "t", 0L, s2)
      .filter(col(Changelog.ChangeTypeCol) === "insert")
    // the s1 files predate the NEW column a: their rows read NULL for it.
    // The OLD field's name-keyed nullCounts (0 nulls) must not prune them.
    assert(ch.filter(col("a").isNull).count() == 10L,
      "changelog inserts lost rows to the retired field's null counts")
    assert(ch.filter(col("a") === 7L).count() == 1L)
    assert(ch.count() == 11L)
    // snapshot attribution intact
    assert(ch.filter(col(Changelog.SnapshotIdCol) === s1).count() == 10L)
  }

  test("tableRange never prunes via lexicographic string bounds") {
    val cat = LocalCatalog(Files.createTempDirectory("strrange-wh").toString)
    // one file with values {"9","10"}: lexicographic bounds are
    // (min="10", max="9") — numerically inverted. Range [10,10] would
    // prune the file via BigDecimal("9") < 10 even though "10" casts to
    // 10 and passes the residual filter.
    IceWrite.create(spark, cat, "t",
      Seq((1L, "9"), (2L, "10")).toDF("id", "s").coalesce(1))
    val meta = cat.loadTable("t")
    val entry = meta.currentSnapshot.get.manifest.find(_.content == FileContent.Data).get
    assume(entry.columnStats.contains("s"), "string zone map expected on the fixture")
    val got = IceRead.tableRange(spark, cat, "t", "s", BigDecimal(10), BigDecimal(10))
    assert(got.count() == 1L, "string zone bounds pruned a matching row")
    assert(got.select("id").as[Long].head() == 2L)
  }

  test("malformed-UTF8 string bounds poison the column's zone map") {
    val dir = Files.createTempDirectory("badutf8").toString + "/d"
    // 0xC3 opens a 2-byte sequence that never completes: invalid UTF-8.
    // Lenient decode replaces it with U+FFFD (sorts above most text) —
    // recording that as a bound would misstate the file's range.
    val bad = Array[Byte](0x61, 0xC3.toByte)
    Seq((1L, bad, "alpha"), (2L, Array[Byte](0x62), "beta"))
      .toDF("id", "b", "ok")
      .select(col("id"), col("b").cast("string").as("s"), col("ok"))
      .coalesce(1).write.parquet(dir)
    val conf = spark.sessionState.newHadoopConf()
    val f = graft.meta.MetaIO.listFilesRecursive(dir).map(_._1).find(_.endsWith(".parquet")).get
    val info = SparkExecutor.parquetFooterInfo(conf, f)
    assert(!info.stats.contains("s"),
      s"malformed-UTF8 bounds recorded: ${info.stats.get("s")}")
    assert(info.stats.contains("ok"), "valid sibling string column keeps its zone map")
    assert(info.stats.contains("id"))
  }

  test("validation counts bypass the metadata-only aggregate rewrite") {
    val cat = LocalCatalog(Files.createTempDirectory("valscan-wh").toString)
    IceWrite.create(spark, cat, "t", (1L to 50L).map(i => (i, s"n$i")).toDF("id", "name"))
    val meta = cat.loadTable("t")
    val snap = meta.currentSnapshot.get
    val byPath = snap.manifest.map(f => f.resolutionKey -> f).toMap
    val group = FileGroup.fromDataFiles(
      meta.scanTasks(snap).filter(_.content == FileContent.Data), byPath.get)

    def hasScan(df: DataFrame): Boolean = {
      df.collect()
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.collectFirst {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
          case _: FileSourceScanExec => true
        }.getOrElse(false)
      walk(df.queryExecution.executedPlan)
    }

    // the normal read path stays metadata-answerable (deleteless count)
    val normal = Mor.dataFrame(spark, meta, group).groupBy().count()
    assert(normal.as[Long].head() == 50L)
    assert(!hasScan(normal), "deleteless count should be metadata-only by default")

    // the validation read path must SCAN — counting the manifest against
    // itself would make the rows-preserved invariant circular
    val validating = Mor.dataFrame(spark, meta, group, metadataAggregates = false)
      .groupBy().count()
    assert(validating.as[Long].head() == 50L)
    assert(hasScan(validating), "validation count must not fold manifest recordCounts:\n" +
      validating.queryExecution.executedPlan)
  }
}
