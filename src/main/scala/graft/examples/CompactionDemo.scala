package graft.examples

import graft.meta._
import graft.selection._
import graft.compaction._
import graft.testkit.FileGenerator

/** Runnable end-to-end sample of the public API: fragment a source table
  * into small files + delete files, compact with MOR, inspect the result.
  *
  * {{{ sbt "runMain graft.examples.CompactionDemo" }}}
  */
object CompactionDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.util.Sessions.local(4)

    val wh = java.nio.file.Files.createTempDirectory("demo-wh").toString
    val catalog = LocalCatalog(wh)
    val src = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    println(s"SOURCE rows=${src.count()}")

    FileGenerator.writeTable(spark, catalog, "li", src,
      FileGenerator.Config(dataFileCount = 6, posDeleteRowsPerFile = 20,
        eqDeleteRowsPerFile = 10, equalityIds = Seq("l_orderkey"), orderCol = "l_orderkey"))
    val before = catalog.loadTable("li").currentSnapshot.get.manifest
    println(s"BEFORE dataFiles=${before.count(_.content == FileContent.Data)} " +
      s"posDel=${before.count(_.content == FileContent.PositionDeletes)} " +
      s"eqDel=${before.count(_.content == FileContent.EqualityDeletes)}")

    val c = new Compaction(catalog, "li", spark,
      config = FullCompactionConfig(PlanningParams(maxInputParallelism = 8, maxOutputParallelism = 2)),
      enableValidate = true)
    val res = c.compact()
    println(s"COMPACTED outputFiles=${res.addedFiles.size} " +
      s"outputRecords=${res.stats.map(_.outputRecords).sum} " +
      s"inputFiles=${res.stats.map(_.inputFiles).sum}")

    val after = catalog.loadTable("li")
    val dataAfter = after.currentSnapshot.get.manifest.filter(_.content == FileContent.Data)
    val rows = spark.read.parquet(dataAfter.map(_.path): _*).count()
    println(s"AFTER dataFiles=${dataAfter.size} rows=$rows " +
      s"snapshots=${after.snapshots.size} seq=${after.lastSequenceNumber}")

    // re-run: still correct, no data change
    val res2 = new Compaction(catalog, "li", spark,
      config = FullCompactionConfig(PlanningParams(maxOutputParallelism = 2)),
      enableValidate = true).compact()
    val rows2 = spark.read.parquet(catalog.loadTable("li").currentSnapshot.get.manifest
      .filter(_.content == FileContent.Data).map(_.path): _*).count()
    println(s"PROBE-RERUN rows=$rows2 plans=${res2.stats.size}")

    try { new Compaction(catalog, "nope", spark).compact(); println("PROBE-MISSING no-error") }
    catch { case e: Exception =>
      println(s"PROBE-MISSING ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(70)}") }

    val rep = new AutoCompactionPlanner(AutoCompactionConfig(
      minDeleteFileCountThreshold = 1, minDeleteHeavyFilesCount = 1)).planReport(catalog, "li")
    println(s"PROBE-AUTO reason=${rep.reason} plans=${rep.plans.size}")
    spark.stop()
  }
}
