package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.ListenerBusBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.compaction.{Compaction, CompactionProgress, CompactionResult, Metrics}
import graft.exec.SparkExecutor
import graft.meta._

/** Command-line options; see compactbench/README.md. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, spans: Option[String])

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      m.getOrElse("trace", "0") == "1", need("work"), m.get("spans"))
  }
}

/** One timed call: its kind, cycle, wall seconds, and the per-layer
  * figures taken when the cycle was traced (empty otherwise). */
final case class Op(kind: String, cycle: Int, seconds: Double, traced: Boolean,
    layer: Map[String, Double] = Map.empty)

/** One compaction's volumes, read from its result and the snapshots around it. */
final case class CompactVolume(inputBytes: Long, inputDataBytes: Long, outputBytes: Long,
    outputFiles: Int)

object Main {
  def main(args: Array[String]): Unit = {
    val code =
      try new Runner(Opts.parse(args)).run()
      catch { case e: Throwable => e.printStackTrace(); 2 }
    System.exit(code)
  }

  def loadavg(): String = scala.util.Try {
    val p = scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+")
    s"[${p(0)},${p(1)},${p(2)}]"
  }.getOrElse("null")

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Row count plus two order-independent hashes over every column. */
  def contentHash(df: DataFrame): (Long, Long, Long) = {
    val cols = df.columns.toSeq.map(c => col(s"`$c`"))
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(cols: _*)),
      sum(pmod(hash(cols: _*).cast("long"), lit(2147483647L)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}

final class Runner(o: Opts) {
  import Main._

  /** N in local[N]. */
  private val cores = math.min(4, Runtime.getRuntime.availableProcessors)
  /** Untimed cycles before timing starts, so the JIT has settled. */
  private val warmupCycles = 2

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val loadStart = loadavg()
  private val wl = Workloads(o.workload, o.seed)
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val volumes = mutable.ArrayBuffer.empty[CompactVolume]
  private var attempted = 0L
  private var failed = 0L
  private val problems = mutable.ArrayBuffer.empty[String]
  private var reference: Option[(Long, Long, Long)] = None

  private val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName(s"compactbench-${o.workload}")
    .withExtensions(new graft.functions.GraftExtensions)
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"${o.work}/spark-local")
    .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  private val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  private val tracer = new Tracer(s"${o.workload}-${o.seed}")
  private val listener = new OpListener
  private val catalog = new LocalCatalog(s"${o.work}/warehouse")
  private val traced = new TracedCatalog(catalog, tracer)
  private var fixture = 0L

  def run(): Int = {
    val f0 = System.nanoTime()
    wl.build(spark, catalog)
    fixture = catalog.loadTable(wl.table).currentSnapshotId.get
    IceWrite.createTag(catalog, wl.table, "fixture", fixture)
    Restore.trim(catalog, wl.table)
    val fixtureS = (System.nanoTime() - f0) / 1e9
    val sizes = wl.describe(catalog)

    val w0 = System.nanoTime()
    (1 to warmupCycles).foreach(i => cycle(-i, timed = false, trace = false))
    val warmupS = (System.nanoTime() - w0) / 1e9
    ops.clear(); volumes.clear()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val gc0 = gcMs()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val minCycles = if (o.trace) 4 else 3
    val loop0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loop0) / 1e9
    var c = 1
    while (c <= minCycles || elapsed < o.seconds) {
      cycle(c, timed = true, trace = o.trace && c % 2 == 1)
      c += 1
    }
    val loopS = elapsed
    val gcLoop = gcMs() - gc0
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

    finalCheck()

    val e2e = endToEnd(setupS)
    val layer = perLayer(sessionS, fixtureS, warmupS, gcLoop, heapPeakMb)
    writeSpans()
    val correct = failed == 0
    val record = obj(Seq(
      "workload" -> str(o.workload), "seed" -> o.seed.toString, "trace" -> o.trace.toString,
      "cycles" -> (c - 1).toString, "loop_s" -> num(loopS),
      "timed_s" -> num(ops.map(_.seconds).sum),
      "stamp" -> obj(Seq("loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
        "nproc" -> Runtime.getRuntime.availableProcessors.toString,
        "local_cores" -> cores.toString,
        "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString)),
      "fixture" -> obj(sizes.map { case (k, v) => k -> v.toString }),
      "samples" -> obj(ops.groupBy(_.kind).map { case (k, v) => k -> v.size.toString }),
      "seconds" -> obj(ops.groupBy(_.kind).map { case (k, v) =>
        k -> v.map(x => num(x.seconds)).mkString("[", ",", "]") }),
      "trend" -> obj(ops.filterNot(_.traced).groupBy(_.kind).map { case (k, v) => k -> num(trend(v.toSeq)) }),
      "problems" -> problems.map(str).mkString("[", ",", "]"),
      "end_to_end" -> obj(e2e.map { case (k, (v, _)) => k -> num(v) }),
      "per_layer" -> obj(layer.map { case (k, (v, _)) => k -> num(v) })))
    println(s"""{"record":$record}""")
    val shown = if (o.trace) layer else e2e
    val metrics = obj(shown.map { case (k, (v, unit)) =>
      k -> obj(Seq("value" -> num(v), "unit" -> str(unit))) })
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$metrics}""")
    spark.stop()
    if (correct) 0 else 1
  }

  private def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    scala.util.Using.resource(java.nio.file.Files.walk(p))(_.iterator.asScala
      .filter(java.nio.file.Files.isRegularFile(_)).map(java.nio.file.Files.size).sum)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Relative change from the first half of a kind's samples to the second. */
  private def trend(v: Seq[Op]): Double =
    if (v.size < 4) Double.NaN
    else {
      val (a, b) = v.map(_.seconds).splitAt(v.size / 2)
      (median(b) - median(a)) / median(v.map(_.seconds))
    }

  /** Runs `body` as one timed call. A throw counts as a failed call and
    * stops the cycle; traced cycles also record the call's layers. */
  private def op[A](kind: String, cycle: Int, timed: Boolean, trace: Boolean)
      (body: => A)(layer: (A, OpCtx) => Map[String, Double])
      : A = {
    if (timed) attempted += 1
    val metaDir = s"${catalog.tableLocation(wl.table)}/metadata"
    val meta0 = if (trace) dirBytes(metaDir) else 0L
    val c0 = if (trace) tracer.counterSnapshot else Map.empty[String, Long]
    if (trace) { ListenerBusBridge.drain(spark.sparkContext); listener.begin() }
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out =
      try { if (trace) tracer.rootSpan(kind)(body) else body }
      catch { case e: Throwable =>
        if (timed) failed += 1
        problems += s"$kind (cycle $cycle): ${e.getClass.getSimpleName}: ${e.getMessage}"
        if (trace) { ListenerBusBridge.drain(spark.sparkContext); listener.end() }
        throw new OpFailed(e)
      }
    val t1 = System.nanoTime()
    val w1 = System.currentTimeMillis()
    val l =
      if (!trace) Map.empty[String, Double]
      else {
        ListenerBusBridge.drain(spark.sparkContext)
        val ctx = OpCtx(listener.end(), tracer.counterSnapshot.map { case (k, v) =>
          k -> (v - c0.getOrElse(k, 0L)) }, t0, t1, w0, w1)
        def count(k: String) = ctx.counters.getOrElse(k, 0L).toDouble
        layer(out, ctx) ++ Map(
          "meta.loads" -> count("meta.loads"),
          "meta.load_ms" -> ctx.spanMs("meta.load").sum,
          "meta.commits" -> count("meta.commits"),
          "meta.commit_ms" -> ctx.spanMs("meta.commit").sum,
          "meta.commit_conflicts" -> count("meta.commit_conflicts"),
          "meta.metadata_bytes_written" -> (dirBytes(metaDir) - meta0).toDouble)
      }
    if (timed) ops += Op(kind, cycle, (t1 - t0) / 1e9, trace, l)
    out
  }

  /** What one traced call left behind: listener figures, counter deltas,
    * and its boundaries on the monotonic (ns) and wall (ms) clocks. */
  private final case class OpCtx(stats: OpStats, counters: Map[String, Long],
      t0: Long, t1: Long, w0: Long, w1: Long) {
    def ms: Double = (t1 - t0) / 1e6
    def gapMs: Double = stats.gapMs(w0, w1).toDouble
    /** Durations of the named spans inside [from, to] (default: this call). */
    def spanMs(name: String, from: Long = t0, to: Long = t1): Seq[Double] =
      tracer.all.filter(s => s.name == name && s.startNs >= from && s.endNs <= to).map(_.ms)
  }

  private final class OpFailed(cause: Throwable) extends RuntimeException(cause)

  private def cycle(c: Int, timed: Boolean, trace: Boolean): Unit = {
    val cat: Catalog = if (trace) traced else catalog
    if (trace) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(listener)
    }
    try {
      // The fixture is compacted exactly as it was built; the upsert lands
      // on the compacted table and the next cycle's restore undoes them.
      Restore.toFixture(catalog, wl.table, fixture)
      val preSnap = catalog.loadTable(wl.table).currentSnapshot.get
      val before = op("read_mor", c, timed, trace)(contentHash(IceRead.table(spark, cat, wl.table))) {
        (_, x) => Map(
          "meta.read_ms" -> x.ms,
          "meta.read_jobs" -> x.stats.jobs.toDouble,
          "meta.read_busy_ms" -> x.stats.busyMs.toDouble,
          "meta.read_gap_ms" -> x.gapMs,
          "meta.read_data_files" -> preSnap.manifest.count(_.content == FileContent.Data).toDouble,
          "meta.read_delete_files" -> preSnap.manifest.count(_.content != FileContent.Data).toDouble)
      }
      val res = compact(c, timed, trace)
      val after = op("read_compacted", c, timed, trace)(
        contentHash(IceRead.table(spark, cat, wl.table)))((_, _) => Map.empty)
      check(c, timed, before, after, res, preSnap)
      val batch = wl.upsertBatch(spark)
      op("upsert", c, timed, trace)(IceWrite.upsert(spark, cat, wl.table, batch, wl.keys)) {
        (_, x) => Map(
          "meta.upsert_jobs" -> x.stats.jobs.toDouble,
          "meta.upsert_busy_ms" -> x.stats.busyMs.toDouble,
          "meta.upsert_gap_ms" -> x.gapMs)
      }
    } catch {
      case e: OpFailed if timed => // counted by op
      case scala.util.control.NonFatal(e) if timed =>
        attempted += 1; failed += 1
        problems += s"cycle $c: ${e.getClass.getSimpleName}: ${e.getMessage}"
    } finally if (trace) {
      ListenerBusBridge.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(listener)
    }
  }

  private def compact(c: Int, timed: Boolean, trace: Boolean): CompactionResult = {
    val metrics = new Metrics
    val clock = new PhaseClock
    val compaction = new Compaction(
      catalog = if (trace) traced else catalog, tableName = wl.table, spark = spark,
      config = wl.config,
      executor = if (trace) new TracedExecutor(SparkExecutor, tracer) else SparkExecutor,
      targetFileSizeBytes = wl.targetFileSizeBytes, enableValidate = true,
      metrics = metrics, onProgress = if (trace) clock else (_: CompactionProgress) => ())
    op("compact", c, timed, trace)(compaction.compact()) { (res, x) =>
      val planMs = (clock.planned - x.t0) / 1e6
      val rewriteMs = (clock.lastRewrite - clock.planned) / 1e6
      val commitMs = (clock.committed - clock.lastRewrite) / 1e6
      val validateMs = x.stats.jobSpanMs(clock.committedWallMs, x.w1).toDouble
      val rewrites = x.spanMs("exec.rewrite")
      Map(
        "compaction.wall_ms" -> x.ms,
        "compaction.plan_ms" -> planMs,
        "compaction.rewrite_ms" -> rewriteMs,
        "compaction.commit_ms" -> commitMs,
        "compaction.validate_ms" -> validateMs,
        "compaction.unaccounted_ms" -> (x.ms - planMs - rewriteMs - commitMs - validateMs),
        "compaction.plans" -> clock.plans.toDouble,
        "compaction.plan_overlap" -> (if (rewriteMs > 0) rewrites.sum / rewriteMs else 0.0),
        "compaction.commit_retries" -> metrics.commitFailed.get.toDouble,
        "selection.groups" -> res.stats.size.toDouble,
        "selection.input_files" -> res.stats.map(_.inputFiles).sum.toDouble,
        "selection.self_ms" -> (planMs - x.spanMs("meta.load", x.t0, clock.planned).sum),
        "exec.rewrite_ms" -> (if (rewrites.isEmpty) 0.0 else median(rewrites)),
        "exec.jobs" -> x.stats.jobs.toDouble,
        "exec.stages" -> x.stats.stages.toDouble,
        "exec.tasks" -> x.stats.tasks.toDouble,
        "exec.task_busy_ms" -> x.stats.busyMs.toDouble,
        "exec.core_util" -> x.stats.busyMs / (x.ms * cores),
        "exec.driver_gap_ms" -> x.gapMs,
        "exec.catalyst_ms" -> x.stats.catalystMs.toDouble,
        "exec.scan_bytes" -> x.stats.scanBytes.toDouble,
        "exec.shuffle_write_bytes" -> x.stats.shuffleWriteBytes.toDouble,
        "exec.spill_bytes" -> x.stats.spillBytes.toDouble,
        "exec.task_gc_ms" -> x.stats.gcMs.toDouble,
        "exec.rows_in" -> x.stats.rowsIn.toDouble,
        "exec.output_bytes" -> x.counters.getOrElse("exec.output_bytes", 0L).toDouble,
        "exec.rows_out" -> x.counters.getOrElse("exec.rows_out", 0L).toDouble)
    }
  }

  /** Untimed correctness gate after every compaction: the compacted table
    * must hold exactly the rows of the MOR view before it. */
  private def check(c: Int, timed: Boolean, before: (Long, Long, Long), after: (Long, Long, Long),
      res: CompactionResult, preSnap: Snapshot): Unit = {
    val bad = mutable.ArrayBuffer.empty[String]
    if (before != after) bad += s"content changed by compaction: $before -> $after"
    if (res.addedFiles.isEmpty) bad += "compaction planned nothing"
    reference match {
      case None => reference = Some(before)
      case Some(r) if r != before => bad += s"pre-compaction content drifted: $r -> $before"
      case _ =>
    }
    if (bad.nonEmpty) {
      if (!timed) throw new IllegalStateException(bad.mkString("; "))
      failed += 1
      problems += s"cycle $c: ${bad.mkString("; ")}"
    }
    val post = res.table.flatMap(_.currentSnapshot).map(_.manifest.map(_.path).toSet)
      .getOrElse(Set.empty[String])
    val removedData = preSnap.manifest.filter(f =>
      f.content == FileContent.Data && !post.contains(f.path))
    volumes += CompactVolume(res.stats.map(_.inputBytes).sum, removedData.map(_.length).sum,
      res.stats.map(_.outputBytes).sum, res.addedFiles.size)
  }

  /** After the last cycle the table must equal the expectation built
    * without the engine. */
  private def finalCheck(): Unit = wl match {
    case sf: SmallFiles =>
      attempted += 1
      val want = contentHash(sf.expected(spark))
      val got = contentHash(IceRead.table(spark, catalog, wl.table))
      if (want != got) {
        failed += 1
        problems += s"final table $got differs from the independent model $want"
      }
    case _ =>
  }

  private def endToEnd(setupS: Double): Seq[(String, (Double, String))] = {
    def p50(kind: String) = median(ops.filter(o => o.kind == kind && !o.traced).map(_.seconds).toSeq)
    val compactS = ops.filter(o => o.kind == "compact" && !o.traced).map(_.seconds)
    Seq(
      "setup_s" -> (setupS, "s"),
      "compact_p50_s" -> (p50("compact"), "s"),
      "compact_mb_s" -> (volumes.map(_.inputBytes).sum / (1024.0 * 1024.0) / compactS.sum, "MiB/s"),
      "read_mor_p50_s" -> (p50("read_mor"), "s"),
      "read_compacted_p50_s" -> (p50("read_compacted"), "s"),
      "upsert_p50_s" -> (p50("upsert"), "s"),
      "output_bytes_ratio" ->
        (volumes.map(_.outputBytes).sum.toDouble / volumes.map(_.inputDataBytes).sum, "ratio"),
      "output_files" -> (median(volumes.map(_.outputFiles.toDouble).toSeq), "count"))
  }

  private def perLayer(sessionS: Double, fixtureS: Double, warmupS: Double, gcLoop: Long,
      heapPeakMb: Double): Seq[(String, (Double, String))] = {
    val t = ops.filter(_.traced)
    def med(kind: String, key: String): Double = {
      val v = t.filter(_.kind == kind).flatMap(_.layer.get(key))
      if (v.isEmpty) Double.NaN else median(v.toSeq)
    }
    // per-cycle totals of the catalog counters over every timed call
    def perCycle(key: String): Double = {
      val v = t.groupBy(_.cycle).values.map(_.flatMap(_.layer.get(key)).sum).toSeq
      if (v.isEmpty) Double.NaN else median(v.toSeq)
    }
    val untracedCompact = ops.filter(o => o.kind == "compact" && !o.traced).map(_.seconds * 1000)
    val tracedCompact = t.filter(_.kind == "compact").map(_.seconds * 1000)
    val compactKeys = Seq(
      "compaction.plan_ms" -> "ms", "compaction.rewrite_ms" -> "ms",
      "compaction.commit_ms" -> "ms", "compaction.validate_ms" -> "ms",
      "compaction.wall_ms" -> "ms", "compaction.unaccounted_ms" -> "ms",
      "compaction.plans" -> "count", "compaction.plan_overlap" -> "ratio",
      "compaction.commit_retries" -> "count",
      "selection.input_files" -> "count", "selection.groups" -> "count",
      "selection.self_ms" -> "ms",
      "exec.rewrite_ms" -> "ms", "exec.jobs" -> "count", "exec.stages" -> "count",
      "exec.tasks" -> "count", "exec.task_busy_ms" -> "ms", "exec.core_util" -> "ratio",
      "exec.driver_gap_ms" -> "ms", "exec.catalyst_ms" -> "ms", "exec.scan_bytes" -> "bytes",
      "exec.shuffle_write_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
      "exec.output_bytes" -> "bytes", "exec.task_gc_ms" -> "ms", "exec.rows_in" -> "count",
      "exec.rows_out" -> "count")
    val deleteFiles = {
      val v = t.filter(_.kind == "read_mor").flatMap(_.layer.get("meta.read_delete_files"))
      if (v.isEmpty) Double.NaN else median(v.toSeq)
    }
    compactKeys.map { case (k, u) => k -> (med("compact", k), u) } ++ Seq(
      "selection.delete_files" -> (deleteFiles, "count"),
      "meta.loads" -> (perCycle("meta.loads"), "count"),
      "meta.load_ms" -> (perCycle("meta.load_ms"), "ms"),
      "meta.commits" -> (perCycle("meta.commits"), "count"),
      "meta.commit_ms" -> (perCycle("meta.commit_ms"), "ms"),
      "meta.commit_conflicts" -> (perCycle("meta.commit_conflicts"), "count"),
      "meta.metadata_bytes_written" -> (perCycle("meta.metadata_bytes_written"), "bytes"),
      "meta.read_ms" -> (med("read_mor", "meta.read_ms"), "ms"),
      "meta.read_jobs" -> (med("read_mor", "meta.read_jobs"), "count"),
      "meta.read_busy_ms" -> (med("read_mor", "meta.read_busy_ms"), "ms"),
      "meta.read_gap_ms" -> (med("read_mor", "meta.read_gap_ms"), "ms"),
      "meta.read_data_files" -> (med("read_mor", "meta.read_data_files"), "count"),
      "meta.read_delete_files" -> (deleteFiles, "count"),
      "meta.upsert_jobs" -> (med("upsert", "meta.upsert_jobs"), "count"),
      "meta.upsert_busy_ms" -> (med("upsert", "meta.upsert_busy_ms"), "ms"),
      "meta.upsert_gap_ms" -> (med("upsert", "meta.upsert_gap_ms"), "ms"),
      "jvm.gc_ms" -> (gcLoop.toDouble, "ms"),
      "jvm.heap_peak_mb" -> (heapPeakMb, "MiB"),
      "setup.session_s" -> (sessionS, "s"),
      "setup.fixture_s" -> (fixtureS, "s"),
      "setup.warmup_s" -> (warmupS, "s"),
      "trace.overhead_ms" -> ((
        if (tracedCompact.isEmpty || untracedCompact.isEmpty) Double.NaN
        else median(tracedCompact.toSeq) - median(untracedCompact.toSeq)), "ms"))
  }

  private def writeSpans(): Unit = o.spans.foreach { path =>
    val out = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, tracer.all.sortBy(_.startNs).map(_.json).asJava)
  }
}
