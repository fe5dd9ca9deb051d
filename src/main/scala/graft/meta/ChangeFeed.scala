package graft.meta

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.util.JobScope

/** A CDC subscriber over [[Changelog]]: follows a table's commit chain and
  * hands each new snapshot's changelog frame to a handler, in commit
  * order, exactly once per snapshot across restarts.
  *
  * This is deliberately a PULL loop, not a custom streaming source: the
  * commit log lives in catalog metadata (one small JSON read per poll), so
  * a poller + a durable checkpoint gives the same delivery contract a
  * Structured Streaming source would — offset tracking, ordered replay,
  * resume — without a bespoke DSv2 implementation. The handler typically
  * ends in `foreachBatch`-style sinks ([[IceWrite.streamingUpsert]] closes
  * the loop into another table).
  *
  * Delivery contract:
  *  - snapshots are processed in parent-chain order, one frame per
  *    snapshot ([[Changelog.changesBetween]] of (parent, snapshot]);
  *  - physical rewrites (replace/maintenance) advance the checkpoint but
  *    produce no rows — subscribers replay through compaction undisturbed;
  *  - the checkpoint (last fully handled snapshot id) is persisted AFTER
  *    the handler returns (through the [[MetaIO]] filesystem seam, so it
  *    can live beside the tables on any configured store): a crash
  *    between handling and checkpointing re-delivers that one snapshot
  *    (at-least-once at the crash edge, exactly-once otherwise — the same
  *    contract as foreachBatch).
  */
final class ChangeFeed(
    spark: SparkSession,
    catalog: Catalog,
    name: String,
    checkpointFile: String,
    branch: String = "main") {

  /** Last fully processed snapshot id; 0 = nothing processed. An
    * unreadable value (a crash mid-replace on a store without atomic
    * rename) degrades to 0 — full re-delivery, the documented
    * at-least-once edge — never a parse failure that bricks the
    * subscriber. */
  def checkpoint(): Long =
    if (!MetaIO.exists(checkpointFile)) 0L
    else MetaIO.readString(checkpointFile).trim.toLongOption.getOrElse(0L)

  private def saveCheckpoint(id: Long): Unit =
    // atomic replace, not a plain write: an in-place truncate + crash
    // would leave an empty checkpoint that bricks the subscriber; the
    // rename guarantees the file always holds one complete value (the
    // one-snapshot-re-delivery contract in the class doc)
    MetaIO.writeAtomicReplace(checkpointFile,
      id.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Snapshots on the branch head's parent chain AFTER `sinceId`, oldest
    * first. Fails loudly when `sinceId` has been expired off the chain —
    * the subscriber lost its place and must resync, not silently skip. */
  private def pending(sinceId: Long): Seq[Snapshot] = {
    val meta = catalog.loadTable(name)
    // strict on explicit branches (IceRead.table's rule): tailing a
    // missing/typo'd branch must not silently tail main instead. Only a
    // not-yet-committed table (no snapshot anywhere) means "nothing yet".
    val head =
      (if (branch == "main") meta.branchHead(branch) else Some(meta.requireBranchHead(branch)))
        .getOrElse(return Nil)
    var chain = List.empty[Snapshot]
    var cur: Option[Snapshot] = Some(head)
    while (cur.nonEmpty && cur.get.snapshotId != sinceId) {
      chain = cur.get :: chain
      cur = cur.get.parentId.flatMap(meta.snapshotById)
    }
    require(cur.nonEmpty || sinceId == 0L,
      s"checkpoint snapshot $sinceId expired off table $name's chain; " +
        "resync the subscriber (full read + fresh checkpoint)")
    chain
  }

  /** Processes everything committed since the checkpoint, one handler call
    * per snapshot, checkpointing after each. Returns the number of
    * snapshots processed. Run it on a schedule (or in [[followWhile]]'s
    * loop) to tail the table. */
  def poll(handler: (DataFrame, Snapshot) => Unit): Int =
    pollPrepared((frame, _) => frame)(handler)

  /** [[poll]] with a PREFETCH stage: `prepare` (typically an eager
    * materialization of the changelog frame — it is a MOR diff plan the
    * handler reads several times) runs for snapshot k+1 on a background
    * thread while `handler` applies snapshot k. The two are independent
    * by construction — a changelog frame reads only the SOURCE table's
    * immutable committed snapshots, the handler writes elsewhere — so the
    * apply stage's commit I/O overlaps the next diff's compute instead of
    * serializing with it (guide §2.6). Delivery contract unchanged:
    * handlers run in commit order, the checkpoint still advances only
    * after the handler returns, and `prepare` has no side effects to
    * un-do when a crash re-delivers a snapshot.
    *
    * A prepare failure for snapshot k+1 is thrown when k+1 is processed,
    * after handler k has returned and its checkpoint is saved — exactly
    * where the sequential form would have thrown it. If handler k throws
    * instead, its exception propagates alone: the prefetch's Spark jobs
    * are cancelled and pollPrepared waits for it to end before throwing. */
  def pollPrepared(prepare: (DataFrame, Snapshot) => DataFrame)(
      handler: (DataFrame, Snapshot) => Unit): Int = {
    val todo = pending(checkpoint())
    if (todo.isEmpty) return 0
    def prepared(snap: Snapshot): DataFrame = prepare(Changelog.changesBetween(
      spark, catalog, name, snap.parentId.getOrElse(0L), snap.snapshotId), snap)
    JobScope.run(spark.sparkContext) { scope =>
      val pool = scope.pool(1)
      var next = scope.fork(pool)(Try(prepared(todo.head)))
      todo.zipWithIndex.foreach { case (snap, i) =>
        val frame = next.join().get
        if (i + 1 < todo.size) next = scope.fork(pool)(Try(prepared(todo(i + 1))))
        handler(frame, snap)
        saveCheckpoint(snap.snapshotId)
      }
    }
    todo.size
  }

  /** Polls every `pollMs` until `continue` turns false (tests drive this
    * with a bounded condition; production would loop on a shutdown flag). */
  def followWhile(pollMs: Long, continue: () => Boolean)(
      handler: (DataFrame, Snapshot) => Unit): Unit = {
    while (continue()) {
      if (poll(handler) == 0) Thread.sleep(pollMs)
    }
  }
}
