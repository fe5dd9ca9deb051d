package graft.exec

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.meta.SortField
import graft.util.Profile

/** Op 19 (spillable sort runtime): the compaction write path's sort is
  * Spark's UnsafeExternalSorter, which spills to disk under memory
  * pressure instead of OOMing — the property the reference proves by
  * sorting under a 4 MiB budget and asserting `spill_count > 0`
  * (datafusion_processor.rs:1002-1069). Same proof here: force the
  * sorter's spill threshold down (`numElementsForceSpillThreshold`, read
  * from SparkEnv at operator execution), run the REAL rewrite write path,
  * and assert both that spills happened and that the output is correct
  * and sorted.
  */
class SpillSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"

  test("compaction sort spills under a forced budget and output stays sorted") {
    val env = org.apache.spark.SparkEnv.get
    val key = "spark.shuffle.spill.numElementsForceSpillThreshold"
    val prev = env.conf.getOption(key)

    try {
      // every 2500 sorted rows forces a spill — the 4 MiB-budget analogue
      env.conf.set(key, "2500")

      val src = spark.read.parquet(s"$sf/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey"), col("l_extendedprice"))
      val outDir = Files.createTempDirectory("graft-spill").toString
      val (written, report) = Profile.record(spark) {
        SparkExecutor.writeDataFiles(
          spark, src, outDir,
          partitionSpec = Nil,
          sortOrder = Seq(SortField("l_extendedprice")),
          maxRecordsPerFile = Long.MaxValue,
          repartitionTo = 2)
      }
      assert(written.nonEmpty)

      val spilledBytes = report.stages.map(_.spillBytes).sum
      assert(spilledBytes > 0, "sort under the forced budget must spill")

      // spilling must not corrupt the result: same multiset of rows...
      val out = spark.read.parquet(written.map(_.path): _*)
      assert(out.count() == src.count())
      assert(out.exceptAll(src).isEmpty && src.exceptAll(out).isEmpty)
      // ...and every written file individually sorted by the table order
      for (f <- written) {
        val comments = spark.read.parquet(f.path)
          .select(col("_metadata.row_index").as("i"), col("l_extendedprice"))
          .orderBy(col("i")).collect().map(_.getDouble(1))
        assert(comments.sameElements(comments.sorted),
          s"file ${f.path} not sorted by l_extendedprice")
      }
    } finally {
      prev match {
        case Some(v) => env.conf.set(key, v)
        case None    => env.conf.remove(key)
      }
    }
  }
}
