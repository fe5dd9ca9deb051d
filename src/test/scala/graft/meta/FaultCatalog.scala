package graft.meta

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.SparkContext

/** A delegating catalog that injects one fault per named table, for the
  * failure paths of calls that run two sides at once:
  *  - the first commit to `failCommitTo` throws [[FaultCatalog.Injected]]
  *    instead of committing;
  *  - the first create of, or commit to, `holdTable` first runs
  *    [[FaultCatalog.slowJob]] on the calling thread, so that side sits in
  *    a running Spark job until something cancels it.
  * `held` opens when the hold starts, `holdEnded` is set when it has ended
  * (either way), and `failedAt` is the `System.nanoTime` at which the
  * injected failure was thrown. */
final class FaultCatalog(inner: Catalog, sc: SparkContext,
    failCommitTo: String = "", holdTable: String = "") extends Catalog {
  val held = new CountDownLatch(1)
  val holdEnded = new AtomicBoolean
  val failedAt = new AtomicLong
  private val holding = new AtomicBoolean
  private val failed = new AtomicBoolean

  private def holdOnce(name: String): Unit =
    if (name == holdTable && holding.compareAndSet(false, true)) {
      held.countDown()
      try FaultCatalog.slowJob(sc)
      finally holdEnded.set(true)
    }

  override def createTable(m: TableMetadata): TableMetadata = {
    holdOnce(m.name)
    inner.createTable(m)
  }
  override def commit(base: TableMetadata, updated: TableMetadata): TableMetadata = {
    if (base.name == failCommitTo && failed.compareAndSet(false, true)) {
      failedAt.set(System.nanoTime())
      throw new FaultCatalog.Injected(s"injected commit failure on ${base.name}")
    }
    holdOnce(base.name)
    inner.commit(base, updated)
  }
  override def loadTable(n: String): TableMetadata = inner.loadTable(n)
  override def tableExists(n: String): Boolean = inner.tableExists(n)
  override def dropTable(n: String): Unit = inner.dropTable(n)
  override def listTables: Seq[String] = inner.listTables
  override def tableLocation(n: String): String = inner.tableLocation(n)
  override def dataDir(n: String): String = inner.dataDir(n)
}

object FaultCatalog {
  final class Injected(message: String) extends RuntimeException(message)

  /** A one-task Spark job that sleeps for `capMs`. Cancelling the job
    * interrupts the task, so a cancelled hold ends at once. */
  def slowJob(sc: SparkContext, capMs: Long = 30000L): Unit = {
    sc.setInterruptOnCancel(true)
    try sc.parallelize(Seq(capMs), 1).foreach(ms => Thread.sleep(ms))
    finally sc.setInterruptOnCancel(false)
  }
}
