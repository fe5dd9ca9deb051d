package graft.exec

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.util.Profile

/** Footer collection after a write must never degrade to a per-file
  * serial driver loop: at the reference's 4096-files-per-plan envelope
  * (core/src/common/metrics.rs:66-68) serial object-store round-trips
  * are minutes per plan. Past the small-write cutoff the reads run as
  * one distributed Spark job. */
class FooterReadSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def countJobs(body: => Unit): Int =
    Profile.record(spark)(body)._2.jobStarts.size

  test("many-file writes collect footers via one distributed job, small writes serially") {
    val dir = Files.createTempDirectory("footer-many").toString
    val src = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    // 16 files > the 8-file cutoff
    src.repartition(16).write.mode("overwrite").parquet(dir)

    var entries: Seq[graft.meta.FileEntry] = Nil
    val jobsMany = countJobs {
      entries = SparkExecutor.listWrittenFiles(spark, dir, Nil)
    }
    assert(entries.size == 16)
    assert(jobsMany >= 1, "16-file footer collection must run as a Spark job")
    // footer record counts survive the distributed hop exactly
    assert(entries.map(_.recordCount).sum == src.count())
    assert(entries.forall(_.columnStats.nonEmpty))
    // results stay path-sorted (downstream manifest determinism)
    assert(entries.map(_.path) == entries.map(_.path).sorted)

    val small = Files.createTempDirectory("footer-small").toString
    src.limit(100).coalesce(1).write.mode("overwrite").parquet(small)
    val jobsSmall = countJobs {
      entries = SparkExecutor.listWrittenFiles(spark, small, Nil)
    }
    assert(entries.size == 1)
    assert(jobsSmall == 0, "small writes must not pay job-scheduling overhead")
  }

  test("distributed footer path preserves partition-value decoding") {
    val dir = Files.createTempDirectory("footer-part").toString
    val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumn("__part_o_orderstatus", col("o_orderstatus"))
    src.repartition(4).write.mode("overwrite")
      .partitionBy("__part_o_orderstatus").parquet(dir)
    val entries = SparkExecutor.listWrittenFiles(spark, dir, Nil)
    assert(entries.size > 8) // 3 statuses x 4 slices
    assert(entries.forall(_.partitionValues.keySet == Set("o_orderstatus")))
    assert(entries.map(_.partitionValues("o_orderstatus")).toSet == Set("O", "F", "P"))
    assert(entries.map(_.recordCount).sum == src.count())
  }

  test("footer collector records string zone maps (<=64 bytes) alongside numeric") {
    val dir = Files.createTempDirectory("footer-str").toString
    import spark.implicits._
    val long = "x" * 100
    Seq((1L, "delta", long), (2L, "alpha", long), (3L, "kappa", long))
      .toDF("id", "domain", "text")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val conf = spark.sessionState.newHadoopConf()
    val f = graft.meta.MetaIO.listFilesRecursive(dir).map(_._1).find(_.endsWith(".parquet")).get
    val info = SparkExecutor.parquetFooterInfo(conf, f)
    assert(info.stats("id") == ("1", "3"))
    assert(info.stats("domain") == ("alpha", "kappa"),
      s"string zone map missing/wrong: ${info.stats.get("domain")}")
    assert(!info.stats.contains("text"), "values over 64 bytes must not be recorded")
    assert(info.nullCounts.get("domain").contains(0L))
  }
}
