package graft.util

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.{Bench, SparkEntry}

/** The engine's one Spark listener mechanism: [[record]] reports the
  * jobs, stages and SQL actions a block of code ran, and splits its wall
  * time into stage, Catalyst and driver time. [[main]] runs it over bench
  * lines:
  * {{{ SPARK_GRAFT_SF_DIR=<sfDir> sbt "runMain graft.util.Profile <line>..." }}}
  */
object Profile {

  /** A stage of a recorded job: its run interval (epoch ms), task count,
    * call-site name and the bytes its tasks spilled (memory + disk). An
    * adaptive query stage, submitted from Spark's own thread pool, is
    * named by its SQL execution's description (the action's call site). */
  final case class Stage(startMs: Long, endMs: Long, tasks: Int, name: String, spillBytes: Long) {
    def ms: Long = endMs - startMs
  }

  /** A recorded SQL action: its function name (`count`, `collect`, ...),
    * execution ms, the head of its executed plan and its Catalyst phases
    * (analysis, optimization, planning) as epoch-ms intervals. */
  final case class Action(name: String, ms: Long, plan: String, phases: Seq[(Long, Long)])

  /** What one [[record]] call saw over the wall interval
    * `[startMs, endMs)`. The split counts each millisecond once: as
    * `stageMs` if a recorded stage was running, else as `catalystMs` if an
    * action's Catalyst phase was open, else as `driverMs`. The three sum
    * to `wallMs`. */
  final case class Report(startMs: Long, endMs: Long, jobStarts: Seq[Long], stages: Seq[Stage],
      actions: Seq[Action]) {
    def wallMs: Long = endMs - startMs

    /** Milliseconds of the wall interval that `intervals` cover. */
    private def covered(intervals: Seq[(Long, Long)]): Long = {
      var total = 0L
      var reached = startMs
      intervals.sortBy(_._1).foreach { case (from, to) =>
        val end = math.min(to, endMs)
        val start = math.max(from, reached)
        if (end > start) { total += end - start; reached = end }
      }
      total
    }

    private def stageIntervals = stages.map(s => (s.startMs, s.endMs))
    lazy val stageMs: Long = covered(stageIntervals)
    lazy val catalystMs: Long = covered(stageIntervals ++ actions.flatMap(_.phases)) - stageMs
    def driverMs: Long = wallMs - stageMs - catalystMs
  }

  /** Runs `body` and reports the Spark work it started: jobs and SQL
    * actions run by the calling thread or by threads it creates (a
    * [[JobScope]] pool, say), which inherit the call's job tag, on any
    * session of the context (the field-id-scoped clones the table reader
    * builds included); other threads' work is left out. The bus is drained
    * before and after, so the report is complete when this returns. */
  def record[A](spark: SparkSession)(body: => A): (A, Report) = {
    val sc = spark.sparkContext
    val tag = s"graft-profile-${UUID.randomUUID}"
    val jobStarts = new ConcurrentLinkedQueue[Long]
    val stages = new ConcurrentLinkedQueue[Stage]
    val actions = new ConcurrentLinkedQueue[Action]
    // touched only on the bus thread
    val stageExecutions = mutable.Map.empty[Int, Option[Long]]
    val spills = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val executionStarts = mutable.Map.empty[Long, SparkListenerSQLExecutionStart]

    // an action's end event carries its QueryExecution, whatever session
    // ran it; its start event says whether it was tagged
    def action(name: String, ms: Long, qe: QueryExecution): Action = {
      val plan = scala.util.Try {
        val p = qe.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        p.toString.linesIterator.filter(_.trim.nonEmpty).take(2).map(_.trim)
          .mkString(" | ").take(150)
      }.getOrElse("?")
      Action(name, ms, plan, qe.tracker.phases.values.map(p => (p.startTimeMs, p.endTimeMs)).toSeq)
    }
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ListenerBusBridge.jobTags(e.properties)(tag)) {
          jobStarts.add(e.time)
          val execution =
            Option(e.properties.getProperty(SQLExecution.EXECUTION_ID_KEY)).map(_.toLong)
          e.stageIds.foreach(stageExecutions(_) = execution)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stageExecutions.contains(e.stageId) && e.taskMetrics != null)
          spills(e.stageId) += e.taskMetrics.memoryBytesSpilled + e.taskMetrics.diskBytesSpilled
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        for (execution <- stageExecutions.get(i.stageId);
             start <- i.submissionTime; end <- i.completionTime) {
          val name =
            if (!i.name.startsWith(PooledStageName)) i.name
            else execution.flatMap(executionStarts.get).fold(i.name)(_.description)
          stages.add(Stage(start, end, i.numTasks, name, spills(i.stageId)))
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobTags(tag) =>
          executionStarts(s.executionId) = s
        case end: SparkListenerSQLExecutionEnd =>
          for (start <- executionStarts.remove(end.executionId);
               (name, qe) <- ColumnBridge.executionEnd(end))
            actions.add(action(name, end.time - start.time, qe))
        case _ => ()
      }
    }

    ListenerBusBridge.drain(sc)
    sc.addJobTag(tag)
    try {
      sc.addSparkListener(jobs)
      val startMs = System.currentTimeMillis()
      val result = body
      val endMs = System.currentTimeMillis()
      ListenerBusBridge.drain(sc)
      (result, Report(startMs, endMs, jobStarts.asScala.toSeq.sorted,
        stages.asScala.toSeq.sortBy(_.startMs), actions.asScala.toSeq))
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(jobs)
    }
  }

  /** The call-site name Spark gives a stage that an adaptive query
    * stage's pooled thread submits. */
  private val PooledStageName = "$anonfun$withThreadLocalCaptured"

  /** The 1-, 5- and 15-minute load averages as a JSON array, or `null`
    * where `/proc/loadavg` is missing: a timing taken on a loaded box
    * says so in its own record. */
  def loadavg(): String =
    scala.util.Try {
      val parts = scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+")
      s"[${parts(0)},${parts(1)},${parts(2)}]"
    }.getOrElse("null")

  /** Profiles bench lines: any `SparkEntry.queries` name or one of
    * `Bench.SkewLines` (over Bench's planted corpus). Each line runs
    * twice after Bench's warmup; prints the first and best seconds and the
    * row count, then the recorded warm run's split, slowest stages and
    * slowest actions. */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, s"usage: Profile <line>... (a query or ${Bench.SkewLines.mkString("|")})")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    val sc = spark.sparkContext
    lazy val planted = Bench.skewCorpus(spark, sfDir, 2 * Sessions.cpus)
    def line(name: String): () => Long = SparkEntry.queries.get(name) match {
      case Some(query) => () => query(spark, sfDir).count()
      case None =>
        require(Bench.SkewLines.contains(name), s"unknown line: $name")
        val corpus = planted // fixture cost, paid before the first run
        () => Bench.skewLine(spark, corpus, name)
    }
    SparkEntry.queries("q10_projection")(spark, sfDir).count() // warmup, as in Bench
    args.foreach { name =>
      val run = line(name)
      val keep = sc.getPersistentRDDs.keySet
      def release(): Unit = sc.getPersistentRDDs.foreach { case (id, r) =>
        if (!keep(id)) r.unpersist(false)
      }
      val t0 = System.nanoTime()
      val rows = run()
      val first = (System.nanoTime() - t0) / 1e9
      release()
      val (_, r) = record(spark)(run())
      release()
      println(f"[profile] $name%-28s first=$first%6.2f best=${math.min(first, r.wallMs / 1e3)}%6.2f rows=$rows")
      println(s"[profile]   warm ${r.wallMs} ms = stage ${r.stageMs} + catalyst ${r.catalystMs}" +
        s" + driver ${r.driverMs} (${r.jobStarts.size} jobs, ${r.stages.size} stages," +
        s" ${r.actions.size} actions)")
      r.stages.sortBy(-_.ms).take(10).foreach { s =>
        println(f"[profile]   stage  ${s.ms}%6d ms ${s.tasks}%4d tasks  ${s.name}")
      }
      r.actions.sortBy(-_.ms).take(10).foreach { a =>
        println(f"[profile]   action ${a.ms}%6d ms ${a.name}%-10s ${a.plan}")
      }
    }
    spark.stop()
  }
}
