package graft.compaction

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.meta._
import graft.selection._
import graft.exec._
import graft.util.JobScope

/** A planned unit of work: one file group against one snapshot of one
  * branch (core/src/compaction/mod.rs:1227-1235). */
final case class CompactionPlan(
    fileGroup: FileGroup,
    toBranch: String,
    snapshotId: Long
)

final case class RewriteOutcome(plan: CompactionPlan, result: RewriteResult)

/** One plan's outcome and, with validation on, its two row counts. */
private final case class PlanRun(outcome: RewriteOutcome, counts: Option[Validator.RowCounts])

/** One progress tick of a managed compaction run — phase is "planned",
  * "rewriting" (per completed group: rewritten and, with validation on,
  * counted), or "committed". Byte figures are
  * planned INPUT bytes, known at planning time, so a display can show a
  * meaningful fraction before the first rewrite finishes. */
final case class CompactionProgress(
    phase: String,
    plansTotal: Int,
    plansDone: Int,
    bytesTotal: Long,
    bytesDone: Long)

final case class CompactionResult(
    addedFiles: Seq[FileEntry],
    stats: Seq[RewriteStats],
    table: Option[TableMetadata]
)

/** Exponentially-smoothed OUTPUT bytes/record, shared across a run's
  * rewrite plans (the reference's dynamic size estimation,
  * config/mod.rs:37-38, smoothing factor 0.3): the first plan sizes files
  * from the input ratio (compressed-input bytes underestimate output
  * ratio after compaction rewrites), later plans from what was actually
  * written. Thread-safe — plans run concurrently. */
final class SizeEstimator(val smoothing: Double = Defaults.SizeEstimationSmoothingFactor) {
  private val state = new java.util.concurrent.atomic.AtomicReference[Option[Double]](None)
  def estimate: Option[Double] = state.get
  def observe(outputBytes: Long, outputRecords: Long): Unit =
    if (outputRecords > 0 && outputBytes > 0) {
      val obs = outputBytes.toDouble / outputRecords
      state.updateAndGet {
        case Some(e) => Some(e + smoothing * (obs - e))
        case None    => Some(obs)
      }: Unit
    }
}

/** The managed compaction workflow over the local table format, keeping the
  * reference's composable 3-method public API (plan / rewrite / commit) plus
  * the one-shot `compact()` (core/src/compaction/mod.rs:193-303).
  *
  * With `enableValidate`, each plan's worker counts the plan's MOR input and
  * its written output alongside the rewrite; after the single commit the
  * counts are compared, and a mismatch throws
  * [[Validator.ValidationFailure]] with the commit landed.
  */
final class Compaction(
    val catalog: Catalog,
    val tableName: String,
    val spark: SparkSession,
    val config: PlanningConfig = SmallFilesConfig(),
    val executor: CompactionExecutor = SparkExecutor,
    val toBranch: String = "main",
    val targetFileSizeBytes: Long = Defaults.TargetFileSize,
    val maxConcurrentPlans: Int = Defaults.MaxConcurrentCompactionPlans,
    val enableValidate: Boolean = false,
    val retry: CommitRetryConfig = CommitRetryConfig(),
    val metrics: Metrics = new Metrics,
    val enableDynamicSizeEstimation: Boolean = Defaults.EnableDynamicSizeEstimation,
    val sizeEstimator: SizeEstimator = new SizeEstimator(),
    /** after a successful commit, also fold now-dangling delete files out
      * of the manifest (Maintenance.removeDanglingDeletes) — off by
      * default to keep commit latency flat. */
    val cleanupDanglingDeletes: Boolean = false,
    /** identifier normalization for the rewrite's column resolution — the
      * reference's `enable_ident_normalization` (datafusion_processor.rs:
      * 65-71), mapped to Spark's `spark.sql.caseSensitive` (normalization
      * ON == case-INsensitive resolution, both defaults). Applied through
      * a scoped (cloned) session so the caller's conf is never mutated;
      * with normalization on, manifest column names whose case drifted
      * from the files' still resolve. */
    val enableIdentNormalization: Boolean = true,
    /** parquet writer tunables for rewritten files — the reference's
      * `write_parquet_properties` (config/mod.rs:403); defaults keep
      * reference parity (zstd, 128 MiB row groups). The table's own
      * Iceberg `write.parquet.*` properties override per field. */
    val parquetWrite: graft.exec.ParquetWriteConfig = graft.exec.ParquetWriteConfig(),
    /** live progress callback (reference roadmap "Job progress display",
      * README.md:66): fired once after planning, per completed group
      * (from the worker thread that finished it, after the group's
      * validation counts), and after the commit. No-op by default. */
    val onProgress: CompactionProgress => Unit = _ => ()
) {

  /** The session rewrites run under: the caller's, unless the ident-
    * normalization knob disagrees with its `spark.sql.caseSensitive`. */
  private val execSpark: SparkSession = {
    val wantCaseSensitive = !enableIdentNormalization
    val current = spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    if (current == wantCaseSensitive) spark
    else {
      val s = org.apache.spark.sql.graftbridge.ColumnBridge.cloneSession(spark)
      s.conf.set("spark.sql.caseSensitive", wantCaseSensitive.toString)
      s
    }
  }

  /** Stage 1 — metadata-only planning (mod.rs:448-461,1307-1336).
    * Branch resolution is strict for non-main branches (an explicit branch
    * that doesn't exist must not silently plan against main's data). */
  def planCompaction(): Seq[CompactionPlan] = {
    val table = catalog.loadTable(tableName)
    table.branchHead(toBranch) match {
      case None => Nil
      case Some(snap) =>
        val tasks = table.scanTasks(snap) // op 1: data files w/ deletes attached
        val strategy = PlanStrategy.fromConfig(config)
        val groups = strategy.execute(tasks, config.params, snap.entriesByKey.get)
        groups.filterNot(_.isEmpty).map(g => CompactionPlan(g, toBranch, snap.snapshotId))
    }
  }

  /** Stage 2 — execute one plan as a single Spark job. */
  def rewritePlan(plan: CompactionPlan): RewriteOutcome =
    rewritePlan(catalog.loadTable(tableName), plan)

  private def rewritePlan(table: TableMetadata, plan: CompactionPlan): RewriteOutcome = {
    val req = RewriteRequest(
      group = plan.fileGroup,
      table = table,
      targetFileSizeBytes = targetFileSizeBytes,
      bytesPerRecordHint =
        if (enableDynamicSizeEstimation) sizeEstimator.estimate.getOrElse(0.0) else 0.0,
      // the table's `write.parquet.*` properties override this per field
      parquet = parquetWrite)
    val res = executor.rewriteFiles(execSpark, req)
    if (enableDynamicSizeEstimation)
      sizeEstimator.observe(res.stats.outputBytes, res.stats.outputRecords)
    metrics.recordRewrite(res.stats)
    RewriteOutcome(plan, res)
  }

  /** Bounded-concurrency plan execution (mod.rs:523-540; default 4).
    * Each plan is an independent Spark job; Spark's scheduler interleaves
    * their stages across the shared executor pool. */
  def concurrentRewritePlans(plans: Seq[CompactionPlan]): Seq[RewriteOutcome] =
    concurrentRewritePlans(plans, _ => ())

  /** [[concurrentRewritePlans]] with a per-completion hook, invoked on
    * the worker thread as soon as that plan's rewrite finishes — the
    * journaling point for [[compactResumable]] (a crash mid-batch keeps
    * every hooked completion). */
  def concurrentRewritePlans(plans: Seq[CompactionPlan],
      onComplete: RewriteOutcome => Unit): Seq[RewriteOutcome] =
    runPlans(plans, validate = false, onRewritten = onComplete).map(_.outcome)

  /** The plan pipeline of every entry point: one worker per plan on a pool
    * of `min(maxConcurrentPlans, plans)` threads. With `validate`, each
    * worker starts its plan's input MOR count on a second pool of that
    * size beside the rewrite, and counts the written outputs as soon as
    * the rewrite returns. Input and output files are immutable, so these
    * are the numbers a re-read after the commit would give; the caller
    * compares them once it has committed.
    *
    * `journaled` yields the outputs a crashed run already wrote: such a
    * plan is counted, not rewritten. `onRewritten` fires as soon as a
    * rewrite returns (the journaling point); `onDone` once the plan's
    * counts are in too.
    *
    * A failing plan cancels this call's other Spark jobs, skips the plans
    * not yet started and waits for the running ones before its exception
    * propagates, with theirs attached as suppressed ([[JobScope]]). */
  private def runPlans(
      plans: Seq[CompactionPlan],
      validate: Boolean,
      journaled: CompactionPlan => Option[RewriteResult] = _ => None,
      onRewritten: RewriteOutcome => Unit = _ => (),
      onDone: RewriteOutcome => Unit = _ => ()): Seq[PlanRun] =
    if (plans.isEmpty) Nil
    else JobScope.run(spark.sparkContext) { scope =>
      val threads = math.min(maxConcurrentPlans, plans.size)
      val workers = scope.pool(threads)
      val counters = scope.pool(threads)
      plans.map { plan =>
        scope.fork(workers) {
          val table = catalog.loadTable(tableName)
          val inputRows = Option.when(validate)(scope.fork(counters)(
            Validator.inputRows(spark, plan.fileGroup, table)))
          val outcome = journaled(plan).fold {
            val o = rewritePlan(table, plan)
            onRewritten(o)
            o
          }(RewriteOutcome(plan, _))
          val counts = inputRows.map { input =>
            val outputRows = Validator.outputRows(spark, outcome.result.addedFiles)
            Validator.RowCounts(input.join(), outputRows)
          }
          onDone(outcome)
          PlanRun(outcome, counts)
        }
      }.map(_.join())
    }

  /** Stage 3 — one transaction for all results (mod.rs:472-516). */
  def commitRewriteResults(outcomes: Seq[RewriteOutcome]): TableMetadata =
    commitResults(outcomes, overwrite = false)

  /** OverwriteFiles variant (mod.rs:1068-1177): same add/remove swap but
    * WITHOUT the starting-sequence-number rule — new files take a fresh
    * sequence number, so they outrank deletes committed since planning. */
  def commitOverwriteResults(outcomes: Seq[RewriteOutcome]): TableMetadata =
    commitResults(outcomes, overwrite = true)

  private def commitResults(outcomes: Seq[RewriteOutcome], overwrite: Boolean): TableMetadata = {
    require(outcomes.nonEmpty, "No rewrite results to commit")
    validateResultsConsistency(outcomes)
    val cm = new CommitManager(catalog, tableName, retry, metrics)
    cm.rewriteFiles(
      added = outcomes.flatMap(_.result.addedFiles),
      rewrittenPaths = outcomes.flatMap(_.plan.fileGroup.dataFiles.map(_.path)),
      toBranch = toBranch,
      startingSnapshotId = outcomes.head.plan.snapshotId,
      useStartingSequenceNumber = !overwrite,
      operation = if (overwrite) "overwrite" else "replace"
    )
  }

  /** Emits [[CompactionProgress]] ticks through `onProgress`: one
    * "planned" tick at construction, thread-safe per-completion
    * "rewriting" ticks, one "committed" tick. */
  private final class ProgressTracker(plans: Seq[CompactionPlan]) {
    private val total = plans.size
    private val bytesTotal = plans.map(_.fileGroup.totalSize).sum
    private val nDone = new java.util.concurrent.atomic.AtomicInteger
    private val bDone = new java.util.concurrent.atomic.AtomicLong
    onProgress(CompactionProgress("planned", total, 0, bytesTotal, 0L))
    def completed(o: RewriteOutcome): Unit =
      onProgress(CompactionProgress("rewriting", total, nDone.incrementAndGet(),
        bytesTotal, bDone.addAndGet(o.plan.fileGroup.totalSize)))
    def committed(): Unit =
      onProgress(CompactionProgress("committed", total, total, bytesTotal, bytesTotal))
  }

  /** All results must target one branch + snapshot before a single-
    * transaction commit (mod.rs:55-76). */
  def validateResultsConsistency(outcomes: Seq[RewriteOutcome]): Unit = {
    val snapshotId = outcomes.head.plan.snapshotId
    outcomes.foreach { o =>
      require(o.plan.toBranch == toBranch,
        s"inconsistent branch: ${o.plan.toBranch} != $toBranch")
      require(o.plan.snapshotId == snapshotId,
        s"inconsistent snapshot: ${o.plan.snapshotId} != $snapshotId")
    }
  }

  /** Single-plan convenience (mod.rs:644-705): rewrite ONE planned group
    * and commit it on its own — the incremental-compaction entry point for
    * callers that plan once, then spread execution over time/budgets.
    * Empty plan -> None, like the reference. */
  def compactWithPlan(plan: CompactionPlan): Option[CompactionResult] =
    if (plan.fileGroup.isEmpty) None
    else Some(commitAndCheck(System.nanoTime(), runPlans(Seq(plan), enableValidate),
      afterCommit = () => (), cleanup = false))

  /** Managed workflow: plan -> concurrent rewrite (each plan's validation
    * counts beside it) -> commit -> compare the counts (mod.rs:259-303).
    * Empty plans -> no-op result. */
  def compact(): CompactionResult = {
    val t0 = System.nanoTime()
    val plans = planCompaction()
    if (plans.isEmpty) return CompactionResult(Nil, Nil, None)
    val progress = new ProgressTracker(plans)
    val runs = runPlans(plans, enableValidate, onDone = progress.completed)
    commitAndCheck(t0, runs, afterCommit = progress.committed, cleanup = cleanupDanglingDeletes)
  }

  /** The tail every entry point shares: one commit of all runs, then
    * `afterCommit`, the optional dangling-delete cleanup, and the count
    * comparison. A mismatch throws [[Validator.ValidationFailure]] for the
    * first mismatching plan, with the commit already landed — the
    * reference's post-commit contract. No Spark job runs here unless
    * `cleanup` reads delete files. */
  private def commitAndCheck(t0: Long, runs: Seq[PlanRun], afterCommit: () => Unit,
      cleanup: Boolean): CompactionResult = {
    val outcomes = runs.map(_.outcome)
    var committed = commitRewriteResults(outcomes)
    afterCommit()
    if (cleanup)
      committed = Maintenance.removeDanglingDeletes(spark, catalog, tableName, retry)
    metrics.recordCompaction((System.nanoTime() - t0) / 1000000L)
    runs.foreach(_.counts.foreach(_.check()))
    CompactionResult(outcomes.flatMap(_.result.addedFiles), outcomes.map(_.result.stats), Some(committed))
  }

  /** [[compact]] with BREAKPOINT RESUME (reference roadmap README.md:61):
    * every completed group rewrite is journaled before the commit, so a
    * crashed run rerun with the SAME runId reuses its finished rewrites
    * (the written parquet is committed as-is) and only executes the
    * remaining groups. The journal binds to the planned snapshot — a
    * head that moved between crash and resume invalidates it and the run
    * degrades to a normal full compaction (stale outputs are orphans for
    * [[Maintenance.orphanFiles]]). On success the journal is deleted;
    * results and commit semantics are identical to [[compact]]. */
  def compactResumable(runId: String): CompactionResult = {
    val t0 = System.nanoTime()
    val plans = planCompaction()
    if (plans.isEmpty) return CompactionResult(Nil, Nil, None)
    val journal = new RewriteJournal(catalog, tableName, runId)
    val progress = new ProgressTracker(plans)
    val recovered = journal.load(plans.head.snapshotId)
    // reuse only fully intact journal entries (every output still on disk)
    val intact = recovered.filter { case (_, fs) =>
      fs.nonEmpty && fs.forall(f => graft.meta.MetaIO.exists(f.path)) }
    def journaled(p: CompactionPlan): Option[RewriteResult] =
      intact.get(RewriteJournal.groupKey(p.fileGroup)).map(added => RewriteResult(added,
        RewriteStats(
          inputFiles = p.fileGroup.inputFilesCount,
          inputBytes = p.fileGroup.inputTotalBytes,
          outputFiles = added.size,
          outputBytes = added.map(_.length).sum,
          outputRecords = added.map(_.recordCount).sum,
          durationMs = 0L)))
    // journaled plans first: they commit ahead of the fresh ones
    val (done, todo) = plans.partition(p => intact.contains(RewriteJournal.groupKey(p.fileGroup)))
    val runs = runPlans(done ++ todo, enableValidate, journaled = journaled,
      onRewritten = o => journal.append(RewriteJournal.groupKey(o.plan.fileGroup), o.result.addedFiles),
      onDone = progress.completed)
    commitAndCheck(t0, runs, afterCommit = () => { progress.committed(); journal.delete() },
      cleanup = cleanupDanglingDeletes)
  }
}

/** The compaction commit (mod.rs:950-1061), one [[Catalog.transact]]:
  * each attempt checks the rewritten files are still in the branch head,
  * stamps added files with the starting snapshot's sequence number (so
  * they don't outrank concurrent deletes) and carries custom snapshot
  * summary properties forward. A missing starting snapshot or rewritten
  * file fails on the first attempt — a reload cannot bring it back. Every
  * failed attempt counts in `commitFailed`.
  */
final class CommitManager(
    catalog: Catalog,
    tableName: String,
    retry: CommitRetryConfig = CommitRetryConfig(),
    metrics: Metrics = new Metrics
) {

  def rewriteFiles(
      added: Seq[FileEntry],
      rewrittenPaths: Seq[String],
      toBranch: String,
      startingSnapshotId: Long,
      useStartingSequenceNumber: Boolean,
      operation: String = "replace"
  ): TableMetadata = {
    var attempts = 0L
    val committed =
      try catalog.transact(tableName, retry) { table =>
        attempts += 1
        val starting = table.snapshotById(startingSnapshotId).getOrElse(
          throw new IllegalStateException(s"No snapshot found with id $startingSnapshotId"))
        val current = table.commitBase(toBranch).getOrElse(starting)

        // file-existence check (set_check_file_existence(true))
        val currentPaths = current.manifest.map(_.path).toSet
        val missing = rewrittenPaths.filterNot(currentPaths.contains)
        if (missing.nonEmpty)
          throw new IllegalStateException(
            s"rewritten files no longer in snapshot: ${missing.take(3).mkString(",")}...")

        val newSeq = table.lastSequenceNumber + 1
        val fileSeq = if (useStartingSequenceNumber) starting.sequenceNumber else newSeq
        val removed = rewrittenPaths.toSet
        // v3: rewritten files materialize `_row_id`, so their claimed
        // range is never consulted for surviving rows — but it is still
        // claimed, keeping every v3 data file's ids disjoint.
        // "rewrite" -> "compaction" marks a PHYSICAL rewrite whatever the
        // operation string — the overwrite variant shares "overwrite"
        // with logical upserts, and changelog consumers must not replay a
        // compaction as change (reserved: never carried forward)
        table.withSnapshot(Some(current),
          current.manifest.filterNot(f => removed.contains(f.path)) ++
            added.map(_.copy(sequenceNumber = fileSeq, content = FileContent.Data)),
          operation, newSeq, toBranch, summary = Map("rewrite" -> "compaction"))
      } catch {
        case NonFatal(e) => metrics.commitFailed.addAndGet(attempts); throw e
      }
    metrics.commitFailed.addAndGet(attempts - 1)
    metrics.commitSucceeded.incrementAndGet()
    committed
  }
}
