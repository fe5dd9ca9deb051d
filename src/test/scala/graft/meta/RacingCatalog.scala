package graft.meta

import java.util.concurrent.atomic.AtomicInteger

/** A delegating catalog whose FIRST commit loses the race: just before
  * that commit reaches `inner`, `onFirstCommit` runs with the commit's
  * base — a concurrent writer that steals the version (commit through
  * `inner`, never through this wrapper). Counts every load and commit
  * that passes through. */
final class RacingCatalog(inner: Catalog)(onFirstCommit: TableMetadata => Unit)
    extends Catalog {
  val loads = new AtomicInteger
  val commits = new AtomicInteger

  override def createTable(m: TableMetadata): TableMetadata = inner.createTable(m)
  override def loadTable(n: String): TableMetadata = {
    loads.incrementAndGet()
    inner.loadTable(n)
  }
  override def tableExists(n: String): Boolean = inner.tableExists(n)
  override def commit(base: TableMetadata, updated: TableMetadata): TableMetadata = {
    if (commits.getAndIncrement() == 0) onFirstCommit(base)
    inner.commit(base, updated)
  }
  override def dropTable(n: String): Unit = inner.dropTable(n)
  override def listTables: Seq[String] = inner.listTables
  override def tableLocation(n: String): String = inner.tableLocation(n)
  override def dataDir(n: String): String = inner.dataDir(n)
}
