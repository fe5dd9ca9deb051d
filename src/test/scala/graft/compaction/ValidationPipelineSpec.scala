package graft.compaction

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.graftbridge.ListenerBusBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.exec.{CompactionExecutor, RewriteRequest, RewriteResult, SparkExecutor}
import graft.meta._
import graft.selection.{FullCompactionConfig, PlanningParams}
import graft.util.Profile

/** The validation contract at the `compact()` level, and the plan
  * pipeline that takes the counts: a mismatch throws after the commit has
  * landed, no Spark job runs after the commit, and a failing plan leaves
  * no sibling job running. */
class ValidationPipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val config = FullCompactionConfig(PlanningParams(
    targetFileSizeBytes = 512L * 1024 * 1024, maxInputParallelism = 4, maxOutputParallelism = 1))

  /** Day-partitioned events, 48 a day from 2024-01-01: one plan per day. */
  private def mkTable(catalog: Catalog, days: Int): Unit = {
    val events = spark.range(0, days * 48L, 1, 2).select(col("id").as("event_id"),
      timestamp_seconds(lit(1704067200L) + col("id") * 1800L).as("ts"),
      (col("id") % 17).as("user_id"), (col("id") * 1.5).as("value"))
    IceWrite.create(spark, catalog, "t", events,
      partitionSpec = Seq(PartitionField("ts", "day")))
  }

  private def head(catalog: Catalog): Snapshot = catalog.loadTable("t").currentSnapshot.get

  /** Writes each plan's outputs as at least two files (a tiny target), so
    * one can be dropped while the plan still has outputs. */
  private val tinyTarget = 512L

  /** Rewrites for real, then forgets one written file on the calls that
    * `drop` selects (1-based call number); throws on the calls `fail`
    * selects. */
  private final class FaultyExecutor(drop: Int => Boolean, fail: Int => Boolean = _ => false)
      extends CompactionExecutor {
    val calls = new AtomicInteger
    override def rewriteFiles(spark: SparkSession, req: RewriteRequest): RewriteResult = {
      val n = calls.incrementAndGet()
      if (fail(n)) throw new RuntimeException(s"injected failure on call $n")
      val r = SparkExecutor.rewriteFiles(spark, req)
      assert(r.addedFiles.size >= 2, "the fixture must write several files per plan")
      if (drop(n)) r.copy(addedFiles = r.addedFiles.tail) else r
    }
  }

  test("compact(): a dropped output throws ValidationFailure after the commit lands") {
    val catalog = LocalCatalog(Files.createTempDirectory("val-compact").toString)
    mkTable(catalog, days = 2)
    val before = head(catalog).snapshotId
    val c = new Compaction(catalog, "t", spark, config = config,
      executor = new FaultyExecutor(drop = _ == 1), targetFileSizeBytes = tinyTarget,
      enableValidate = true)
    assert(c.planCompaction().size == 2)
    val e = intercept[Validator.ValidationFailure](c.compact())
    assert(e.inputRows > e.outputRows)
    val after = head(catalog)
    assert(after.snapshotId != before && after.parentId.contains(before))
    assert(after.summary.get("operation").contains("replace"))
  }

  test("compactResumable(): a journal-reused plan with a dropped output fails after the commit") {
    val catalog = LocalCatalog(Files.createTempDirectory("val-resume").toString)
    mkTable(catalog, days = 2)
    val before = head(catalog).snapshotId
    // first run: plan 1 journals a short output, plan 2 crashes
    val crashing = new Compaction(catalog, "t", spark, config = config,
      executor = new FaultyExecutor(drop = _ == 1, fail = _ == 2),
      targetFileSizeBytes = tinyTarget, maxConcurrentPlans = 1)
    intercept[RuntimeException](crashing.compactResumable("run"))
    assert(head(catalog).snapshotId == before, "the crashed run commits nothing")
    // resume: plan 1 comes from the journal, plan 2 is rewritten correctly
    val exec = new FaultyExecutor(drop = _ => false)
    val resumed = new Compaction(catalog, "t", spark, config = config, executor = exec,
      targetFileSizeBytes = tinyTarget, maxConcurrentPlans = 1, enableValidate = true)
    val e = intercept[Validator.ValidationFailure](resumed.compactResumable("run"))
    assert(exec.calls.get == 1, "the journaled plan is counted, not rewritten")
    assert(e.inputRows > e.outputRows)
    val after = head(catalog)
    assert(after.parentId.contains(before) && after.summary.get("operation").contains("replace"))
  }

  test("a failing plan cancels its siblings' jobs and compact() waits for them") {
    val catalog = LocalCatalog(Files.createTempDirectory("val-cancel").toString)
    mkTable(catalog, days = 3)
    val siblingsStarted = new CountDownLatch(2)
    val thrownAt = new AtomicLong
    val exec = new CompactionExecutor {
      private val calls = new AtomicInteger
      override def rewriteFiles(spark: SparkSession, req: RewriteRequest): RewriteResult =
        if (calls.incrementAndGet() == 1) {
          assert(siblingsStarted.await(30, TimeUnit.SECONDS))
          Thread.sleep(500) // the siblings' jobs are running now
          thrownAt.set(System.nanoTime())
          throw new RuntimeException("injected plan failure")
        } else {
          siblingsStarted.countDown()
          // a slow job: 400 tasks of 100 ms, about 10 s on 4 cores
          spark.sparkContext.parallelize(1 to 400, 400).foreach(_ => Thread.sleep(100))
          SparkExecutor.rewriteFiles(spark, req)
        }
    }
    val c = new Compaction(catalog, "t", spark, config = config, executor = exec,
      maxConcurrentPlans = 4, enableValidate = true)
    assert(c.planCompaction().size == 3)
    val e = intercept[RuntimeException](c.compact())
    val waitedS = (System.nanoTime() - thrownAt.get) / 1e9
    assert(e.getMessage == "injected plan failure", e.toString)
    assert(e.getSuppressed.nonEmpty, "the cancelled siblings' failures ride along")
    assert(waitedS < 5.0, s"compact() returned $waitedS s after the failure")
    ListenerBusBridge.drain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "no job of the failed call is still running")
    assert(head(catalog).parentId.isEmpty, "nothing was committed")
  }

  test("job budget: validated compaction of two MOR plans, no job after the commit") {
    val catalog = LocalCatalog(Files.createTempDirectory("val-budget").toString)
    mkTable(catalog, days = 2)
    val data = head(catalog).manifest
    import spark.implicits._
    IceWrite.appendPositionDeletes(spark, catalog, "t",
      data.map(f => (f.path, 0L)).toDF("file_path", "pos"))
    IceWrite.appendEqualityDeletes(spark, catalog, "t",
      spark.range(10, 100, 20).select(col("id").as("event_id")), Seq("event_id"))
    val rows = IceRead.table(spark, catalog, "t").count()
    val committedMs = new AtomicLong
    val c = new Compaction(catalog, "t", spark, config = config, enableValidate = true,
      onProgress = p => if (p.phase == "committed") committedMs.set(System.currentTimeMillis()))
    val plans = c.planCompaction()
    assert(plans.size == 2 && plans.forall(p =>
      p.fileGroup.positionDeleteFiles.nonEmpty && p.fileGroup.equalityDeleteFiles.nonEmpty))

    // only this call's jobs: pool threads inherit the caller's job tag
    val times = Profile.record(spark)(c.compact())._2.jobStarts
    assert(committedMs.get > 0)
    assert(!times.exists(_ >= committedMs.get), "a Spark job started after the commit")
    assert(times.size == ExpectedJobs, s"jobs: ${times.size}")
    assert(IceRead.table(spark, catalog, "t").count() == rows)
  }

  /** Per plan: 4 jobs each for the rewrite and for the input MOR count
    * (the position-delete read that builds the per-file bitmaps, the
    * equality-delete broadcast, one shuffle-map stage and the result job),
    * and 2 for the output count. No sequence-number join, no
    * schema-inference job, none after the commit. */
  private val ExpectedJobs = 20
}
