package graft.util

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, FutureTask, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graftbridge.ListenerBusBridge
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.meta._
import graft.ops.{AnnIndex, Dedup, TextIndex}

/** Failure paths of the calls that run Spark actions side by side under
  * [[JobScope]]. When one side (or the foreground) throws, the call
  * throws only after every other side has finished or been cancelled: no
  * job of the call is left running, no failure is lost, and the table
  * state is settled before a retry. */
class OverlapFailureSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private lazy val sc = spark.sparkContext
  import spark.implicits._

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def assertNothingRunning(): Unit = {
    ListenerBusBridge.drain(sc)
    assert(sc.statusTracker.getActiveJobIds().isEmpty, "a job of the failed call is still running")
  }

  private def rows(catalog: Catalog, table: String): Seq[String] =
    IceRead.table(spark, catalog, table).collect().map(_.toString).toSeq.sorted

  test("JobScope: a join cancels a job a task starts after a sibling failed") {
    val siblingFailed = new CountDownLatch(1)
    val failedAt = new AtomicLong
    val e = intercept[RuntimeException](JobScope.run(sc) { scope =>
      val pool = scope.pool(2)
      val late = scope.fork(pool) {
        assert(siblingFailed.await(30, TimeUnit.SECONDS))
        Thread.sleep(200) // the sibling's failure is recorded by now
        FaultCatalog.slowJob(sc)
      }
      scope.fork(pool) {
        failedAt.set(System.nanoTime())
        try throw new RuntimeException("injected sibling failure")
        finally siblingFailed.countDown()
      }
      late.join()
    })
    val waitedS = (System.nanoTime() - failedAt.get) / 1e9
    assert(e.getMessage == "injected sibling failure", e.toString)
    assert(waitedS < 5.0, s"run threw $waitedS s after the failure: the late job ran on")
    assertNothingRunning()
  }

  test("ChangeFeed.pollPrepared: a failing handler cancels the prefetch and waits for it") {
    val catalog = LocalCatalog(tmp("overlap-feed"))
    IceWrite.create(spark, catalog, "src", Seq((1L, "a")).toDF("id", "v"))
    IceWrite.append(spark, catalog, "src", Seq((2L, "b")).toDF("id", "v"))
    val feed = new ChangeFeed(spark, catalog, "src", tmp("overlap-feed-ck") + "/ck")
    val prefetching = new CountDownLatch(1)
    val prefetchEnded = new AtomicBoolean
    val e = intercept[RuntimeException] {
      feed.pollPrepared { (frame, snap) =>
        if (snap.snapshotId == 2L) {
          prefetching.countDown()
          try FaultCatalog.slowJob(sc) finally prefetchEnded.set(true)
        }
        frame
      } { (_, snap) =>
        assert(prefetching.await(30, TimeUnit.SECONDS))
        throw new RuntimeException(s"injected handler failure on snapshot ${snap.snapshotId}")
      }
    }
    assert(e.getMessage == "injected handler failure on snapshot 1", e.toString)
    assert(prefetchEnded.get, "pollPrepared threw while the prefetch of snapshot 2 still ran")
    assertNothingRunning()
    assert(feed.checkpoint() == 0L, "the checkpoint moved past a failed handler")
    val seen = ArrayBuffer.empty[Long]
    assert(feed.poll((_, snap) => seen += snap.snapshotId) == 2)
    assert(seen.toSeq == Seq(1L, 2L), "the next poll re-delivers in commit order")
  }

  test("TextIndex.append: a failing docs upsert cancels the postings upsert; a replay converges") {
    val corpus = (1L to 12L).map(i => (i, s"apple banana word$i " + "filler " * (i % 5).toInt))
      .toDF("doc_id", "text")
    val (base, batch) = (corpus.filter($"doc_id" <= 6), corpus.filter($"doc_id" > 6))
    val catalog = LocalCatalog(tmp("overlap-text"))
    TextIndex.build(spark, catalog, "ti", base, "doc_id", "text")
    val faults = new FaultCatalog(catalog, sc, failCommitTo = TextIndex.docsTable("ti"),
      holdTable = TextIndex.postingsTable("ti"))
    val e = intercept[FaultCatalog.Injected](
      TextIndex.append(spark, faults, "ti", batch, "doc_id", "text"))
    val waitedS = (System.nanoTime() - faults.failedAt.get) / 1e9
    assert(e.getMessage == "injected commit failure on ti__docs")
    assert(waitedS < 5.0, s"append threw $waitedS s after the docs failure")
    assertNothingRunning()

    TextIndex.append(spark, catalog, "ti", batch, "doc_id", "text")
    val clean = LocalCatalog(tmp("overlap-text-clean"))
    TextIndex.build(spark, clean, "ti", base, "doc_id", "text")
    TextIndex.append(spark, clean, "ti", batch, "doc_id", "text")
    for (t <- Seq(TextIndex.docsTable("ti"), TextIndex.postingsTable("ti")))
      assert(rows(catalog, t) == rows(clean, t), s"$t differs from a clean run")
  }

  test("MaterializedView.refresh runs its two writes without the global execution context") {
    val supplier = spark.read.parquet("/root/testdata/sf0.001/supplier.parquet")
      .select(col("s_suppkey"), col("s_nationkey"),
        round(col("s_acctbal") * 100, 0).cast("long").as("bal_cents"))
    val catalog = LocalCatalog(tmp("overlap-mv"))
    IceWrite.create(spark, catalog, "base", supplier.filter(col("s_suppkey") % 3 =!= 0))
    MaterializedView.create(spark, catalog, "mv", "base",
      Seq("s_nationkey"), Seq(MaterializedView.Agg("bal_sum", "bal_cents")))
    IceWrite.append(spark, catalog, "base", supplier.filter(col("s_suppkey") % 3 === 0))

    // occupy every worker of the global pool, as a caller already running
    // on it (a ChangeFeed handler, a Future of its own) may
    val global = scala.concurrent.ExecutionContext.global
    val workers = Runtime.getRuntime.availableProcessors
    val occupied = new CountDownLatch(workers)
    val gate = new CountDownLatch(1)
    (1 to workers).foreach(_ => global.execute(() => { occupied.countDown(); gate.await() }))
    try {
      assert(occupied.await(30, TimeUnit.SECONDS))
      val refresh = new FutureTask[Unit](() => MaterializedView.refresh(spark, catalog, "mv"))
      val thread = new Thread(refresh)
      thread.setDaemon(true)
      thread.start()
      try refresh.get(60, TimeUnit.SECONDS)
      catch { case _: TimeoutException => fail("refresh starved behind the global pool") }
    } finally gate.countDown()
    assertNothingRunning()
    val full = IceRead.table(spark, catalog, "base").groupBy("s_nationkey")
      .agg(count(lit(1)).as(MaterializedView.CountCol), sum("bal_cents").as("bal_sum"))
    assert(rows(catalog, "mv") == full.collect().map(_.toString).toSeq.sorted)
  }

  test("AnnIndex.build: when a failing encode throws, the centroids create has finished") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val catalog = LocalCatalog(tmp("overlap-ann"))
    val centroids = AnnIndex.centroidsTable("ann")
    val faults = new FaultCatalog(catalog, sc, holdTable = centroids)
    // m = 3 does not divide the 64-dim vectors: the encode side throws
    val e = intercept[IllegalArgumentException](AnnIndex.build(spark, faults, "ann", embs,
      "vec_id", "embedding", nCells = 4, m = 3, trainIters = 1))
    val createEndedAtThrow = faults.holdEnded.get
    val existsAtThrow = catalog.tableExists(centroids)
    assert(e.getMessage.contains("not divisible by m=3"), e.toString)
    val createReached = faults.held.await(3, TimeUnit.SECONDS)
    assert(!createReached || createEndedAtThrow,
      "build threw while the centroids create was still running")
    assertNothingRunning()
    assert(catalog.tableExists(centroids) == existsAtThrow, "the centroids table changed after the throw")
    assert(!existsAtThrow, "a cancelled create left a centroids table behind")
    AnnIndex.build(spark, catalog, "ann", embs, "vec_id", "embedding", nCells = 4, m = 4,
      trainIters = 1)
    assert(IceRead.table(spark, catalog, AnnIndex.codesTable("ann")).count() == embs.count())
  }

  test("Dedup.incrementalMinHash: a failing within-batch pipeline leaves no prefetch job behind") {
    val catalog = LocalCatalog(tmp("overlap-dedup"))
    val textA = "the quick brown fox jumps over the lazy dog near the river bank"
    val textB = "yet another unrelated document discussing parquet footers and manifest pruning"
    Dedup.incrementalMinHash(spark, catalog, "nidx",
      Seq((1L, textA), (2L, textB)).toDF("doc_id", "text"), "doc_id", "text", 0L).collect()
    val batch = Seq((10L, textA + " again"), (11L, "a fresh document about spark"))
      .toDF("doc_id", "text")
    val (threwAt, report) = Profile.record(spark) {
      // k = 6 is not a multiple of 4: the signature stage throws right
      // after the index histogram prefetch has been launched
      val e = intercept[IllegalArgumentException](Dedup.incrementalMinHash(spark, catalog,
        "nidx", batch, "doc_id", "text", 1L, k = 6))
      val threwAt = System.currentTimeMillis()
      assert(e.getMessage.contains("k must be a multiple of 4"), e.toString)
      Thread.sleep(1000) // an abandoned prefetch submits its job in this window
      assertNothingRunning()
      threwAt
    }
    val late = report.jobStarts.count(_ > threwAt)
    assert(late == 0, s"$late job(s) of the failed call started after it threw")
    val out = Dedup.incrementalMinHash(spark, catalog, "nidx", batch, "doc_id", "text", 1L)
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(11L))
  }
}
