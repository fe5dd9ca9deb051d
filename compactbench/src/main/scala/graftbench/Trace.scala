package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.compaction.CompactionProgress
import graft.exec.{CompactionExecutor, RewriteRequest, RewriteResult}
import graft.meta.{Catalog, CommitConflictException, TableMetadata}

/** One traced interval around a call into a layer. `parent` is the id of
  * the span that caused it (0 for none); spans of one run share `run`. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
    run: String, thread: String) {
  def ms: Double = (endNs - startNs) / 1e6
  def json: String =
    s"""{"id":$id,"name":"$name","parent":$parent,"start_ns":$startNs,"end_ns":$endNs,""" +
      s""""run":"$run","thread":"${thread.replace("\"", "'")}"}"""
}

/** Spans and counters recorded on the benchmark's side of each layer
  * boundary. Spans stay in memory until the run writes them out. */
final class Tracer(val run: String) {
  private val ids = new AtomicInteger
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val counters = TrieMap.empty[String, AtomicLong]
  /** Parent for spans opened on threads that have no open span of their
    * own, such as the compaction's rewrite pool. */
  @volatile var root: Int = 0

  def span[A](name: String)(body: => A): A = {
    val id = ids.incrementAndGet()
    val stack = open.get
    open.set(id :: stack)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open.set(stack)
      spans.add(Span(id, name, stack.headOption.getOrElse(root), t0, t1, run,
        Thread.currentThread.getName))
    }
  }

  /** A span whose id is the `root` for the duration of `body`. */
  def rootSpan[A](name: String)(body: => A): A = span(name) {
    val saved = root
    root = open.get.head
    try body finally root = saved
  }

  def add(name: String, n: Long): Unit =
    counters.getOrElseUpdate(name, new AtomicLong).addAndGet(n)
  def counterSnapshot: Map[String, Long] = counters.map { case (k, v) => k -> v.get }.toMap
  def all: Seq[Span] = spans.asScala.toSeq
}

object Intervals {
  /** Total length covered by possibly overlapping intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    covered
  }
}

/** `graft.meta` boundary: a delegating catalog that times loads and
  * commits and counts commit conflicts. */
final class TracedCatalog(inner: Catalog, tr: Tracer) extends Catalog {
  def createTable(meta: TableMetadata): TableMetadata = inner.createTable(meta)
  def loadTable(name: String): TableMetadata = tr.span("meta.load") {
    tr.add("meta.loads", 1)
    inner.loadTable(name)
  }
  def tableExists(name: String): Boolean = inner.tableExists(name)
  def commit(base: TableMetadata, updated: TableMetadata): TableMetadata =
    tr.span("meta.commit") {
      tr.add("meta.commits", 1)
      try inner.commit(base, updated)
      catch { case e: CommitConflictException => tr.add("meta.commit_conflicts", 1); throw e }
    }
  def dropTable(name: String): Unit = inner.dropTable(name)
  override def renameTable(from: String, to: String): TableMetadata = inner.renameTable(from, to)
  def listTables: Seq[String] = inner.listTables
  def tableLocation(name: String): String = inner.tableLocation(name)
  def dataDir(name: String): String = inner.dataDir(name)
}

/** `graft.exec` boundary: a delegating executor that records one span per
  * rewritten plan together with the plan's input and output volumes. */
final class TracedExecutor(inner: CompactionExecutor, tr: Tracer) extends CompactionExecutor {
  def rewriteFiles(spark: SparkSession, req: RewriteRequest): RewriteResult =
    tr.span("exec.rewrite") {
      val res = inner.rewriteFiles(spark, req)
      tr.add("exec.output_bytes", res.stats.outputBytes)
      tr.add("exec.rows_out", res.stats.outputRecords)
      res
    }
}

/** `graft.compaction` boundary: the phase boundaries of one `compact()`
  * call, taken from its progress ticks ("planned", one "rewriting" per
  * finished plan, "committed"). Ticks arrive from the rewrite threads.
  * The "committed" tick is also kept on the wall clock, the clock of
  * Spark's job events, which time what runs after it. */
final class PhaseClock extends (CompactionProgress => Unit) {
  var planned, lastRewrite, committed, committedWallMs = 0L
  var plans = 0
  def apply(p: CompactionProgress): Unit = synchronized {
    val now = System.nanoTime()
    p.phase match {
      case "planned" => planned = now; plans = p.plansTotal
      case "rewriting" => lastRewrite = math.max(lastRewrite, now)
      case "committed" => committed = now; committedWallMs = System.currentTimeMillis()
      case _ =>
    }
  }
}

/** What Spark did during one timed operation, as the listener saw it. */
final class OpStats {
  var jobs, stages, tasks = 0L
  var busyMs, gcMs, scanBytes, rowsIn, shuffleWriteBytes, spillBytes = 0L
  var catalystMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms

  /** Time in [t0, t1] (epoch ms) during which no job was running. */
  def gapMs(t0: Long, t1: Long): Long = {
    val clipped = jobIntervals.toSeq.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter(i => i._2 > i._1)
    (t1 - t0) - Intervals.unionLength(clipped)
  }

  /** From the start of the first job that started in [t0, t1] (epoch ms)
    * to the end of the last one, or 0 when none did. */
  def jobSpanMs(t0: Long, t1: Long): Long = {
    val in = jobIntervals.toSeq.filter { case (s, e) => s >= t0 && e <= t1 }
    if (in.isEmpty) 0L else in.map(_._2).max - in.map(_._1).min
  }
}

/** A benchmark-owned Spark listener (jobs, stages, task metrics) and query
  * execution listener (Catalyst phase times). Events are charged to the
  * operation that is open when they are processed; the runner drains the
  * listener bus before it closes an operation, so every event an
  * operation posted is processed while that operation is open. */
final class OpListener extends SparkListener with QueryExecutionListener {
  private var cur: OpStats = null
  private val jobStarts = mutable.Map.empty[Int, Long]

  def begin(): Unit = synchronized { cur = new OpStats; jobStarts.clear() }
  def end(): OpStats = synchronized { val s = cur; cur = null; s }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (cur != null) { cur.jobs += 1; jobStarts(e.jobId) = e.time }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => if (cur != null) cur.jobIntervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (cur != null) cur.stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (cur != null && m != null) {
      cur.tasks += 1
      cur.busyMs += m.executorRunTime
      cur.gcMs += m.jvmGCTime
      cur.scanBytes += m.inputMetrics.bytesRead
      cur.rowsIn += m.inputMetrics.recordsRead
      cur.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      cur.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      if (cur != null) cur.catalystMs += qe.tracker.phases.values.map(_.durationMs).sum
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
