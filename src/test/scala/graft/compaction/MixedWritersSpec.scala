package graft.compaction

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.meta._
import graft.selection._

/** Every kind of writer at once on one [[LocalCatalog]] table, all going
  * through [[Catalog.transact]]: appends, upserts, tag create/drop, and
  * compaction interleaved with snapshot expiry. A call that returns must
  * land exactly once; a call that throws may only have lost the CAS race
  * past its retries, and must leave nothing behind. */
class MixedWritersSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("concurrent writers: each returned call lands once, each failed one leaves no trace") {
    val cat = LocalCatalog(Files.createTempDirectory("mixed-writers").toString)
    val baseRows = 40L
    IceWrite.create(spark, cat, "t", (1L to baseRows).map(i => (i, 0L)).toDF("id", "v"))
    // pins snapshot 1 against expiry, so the tag writer always has a target
    IceWrite.createTag(cat, "t", "base", 1L)

    val failures = new ConcurrentLinkedQueue[Throwable]
    def landed[T](op: => T): Option[T] =
      try Some(op) catch { case e: Exception => failures.add(e); None }

    val appends, upserts, compactions = new AtomicInteger
    @volatile var lastUpsert = 0L
    val tags = new ConcurrentLinkedQueue[String]
    val writers = Seq(
      () => for (i <- 0 until 4) {
        val rows = (1000L + 10 * i until 1010L + 10 * i).map(id => (id, 0L)).toDF("id", "v")
        if (landed(IceWrite.append(spark, cat, "t", rows)).nonEmpty) appends.incrementAndGet()
      },
      () => for (round <- 1L to 3L) {
        val rows = (1L to 5L).map(id => (id, round)).toDF("id", "v")
        if (landed(IceWrite.upsert(spark, cat, "t", rows, Seq("id"))).nonEmpty) {
          upserts.incrementAndGet(); lastUpsert = round
        }
      },
      () => for (i <- 1 to 4) {
        val tag = s"tag$i"
        if (landed(IceWrite.createTag(cat, "t", tag, 1L)).nonEmpty) {
          tags.add(tag)
          if (i % 2 == 0 && landed(IceWrite.dropTag(cat, "t", tag)).nonEmpty) tags.remove(tag)
        }
      },
      () => for (_ <- 1 to 2) {
        val c = new Compaction(cat, "t", spark,
          config = FullCompactionConfig(PlanningParams(maxOutputParallelism = 1)))
        if (landed(c.compact()).exists(_.table.nonEmpty)) compactions.incrementAndGet()
        landed(Maintenance.expireSnapshots(cat, "t", keepLast = 3))
      })

    val t0 = System.nanoTime()
    val threads = writers.map(w => new Thread(() => w()))
    threads.foreach(_.start())
    threads.foreach(_.join(60000L))
    assert(threads.forall(!_.isAlive), "writers did not finish within 60 s")
    assert((System.nanoTime() - t0) / 1e9 < 60.0)

    assert(failures.asScala.forall(_.isInstanceOf[CommitConflictException]),
      failures.asScala.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}").mkString("\n"))
    val meta = cat.loadTable("t")
    // every snapshot-making call that returned made exactly one snapshot
    // (expiry may drop old ones, never the newest id)
    assert(meta.snapshots.map(_.snapshotId).max ==
      1L + appends.get + upserts.get + compactions.get)
    assert(meta.tags.keySet == tags.asScala.toSet + "base")

    val rows = IceRead.table(spark, cat, "t").as[(Long, Long)].collect()
    assert(rows.length == baseRows + 10L * appends.get)
    assert(rows.map(_._1).distinct.length == rows.length)
    assert(rows.forall { case (id, v) => v == (if (id <= 5L) lastUpsert else 0L) })
  }
}
