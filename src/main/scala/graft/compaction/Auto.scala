package graft.compaction

import graft.meta.{Catalog, FileEntry}
import graft.selection._

/** Snapshot-level stats from one metadata scan
  * (core/src/file_selection/mod.rs:26-31, computed at auto.rs:297-321). */
final case class SnapshotStats(
    totalDataFiles: Int = 0,
    smallFilesCount: Int = 0,
    deleteHeavyFilesCount: Int = 0
)

object AutoPlanReason extends Enumeration {
  val Recommended, NoSnapshot, NoCandidate, NoPlansProduced, BudgetCapped = Value
}

final case class AutoPlanReport(
    selectedStrategy: Option[String],
    plans: Seq[CompactionPlan],
    plannedInputBytes: Long,
    plannedInputFiles: Int,
    rewriteRatio: Double,
    reason: AutoPlanReason.Value
)

object AutoPlanReport {
  def empty(reason: AutoPlanReason.Value): AutoPlanReport =
    AutoPlanReport(None, Nil, 0L, 0, 0.0, reason)
}

final case class AutoCompactionConfig(
    params: PlanningParams = PlanningParams(),
    smallFileThresholdBytes: Long = Defaults.SmallFileThreshold,
    minDeleteFileCountThreshold: Int = Defaults.MinDeleteFileCountThreshold,
    minSmallFilesCount: Int = Defaults.MinSmallFilesCount,
    minDeleteHeavyFilesCount: Int = Defaults.MinFilesWithDeletesCount,
    maxAutoPlansPerRun: Int = Int.MaxValue
)

/** Self-driving planner: one metadata scan powers both stats and grouping;
  * candidate strategies are gated by thresholds; fixed priority
  * FilesWithDeletes > SmallFiles; plan count capped per run
  * (core/src/compaction/auto.rs:98-321; decision contract at
  * docs/compaction-strategy-contract.md:54-123 — no Full fallback). */
final class AutoCompactionPlanner(config: AutoCompactionConfig = AutoCompactionConfig()) {

  def computeStats(tasks: Seq[FileEntry]): SnapshotStats = {
    var total = 0; var small = 0; var heavy = 0
    for (t <- tasks) {
      total += 1
      if (t.length < config.smallFileThresholdBytes) small += 1
      if (config.minDeleteFileCountThreshold > 0 &&
        t.deletes.size >= config.minDeleteFileCountThreshold) heavy += 1
    }
    SnapshotStats(total, small, heavy)
  }

  def filesWithDeletesCandidate(stats: SnapshotStats): Option[PlanningConfig] =
    if (stats.totalDataFiles <= 1 || config.minDeleteFileCountThreshold == 0 ||
      config.minDeleteHeavyFilesCount == 0) None
    else if (stats.deleteHeavyFilesCount >= config.minDeleteHeavyFilesCount)
      Some(FilesWithDeletesConfig(
        config.params.copy(fileGroupScope = FileGroupScope.Partition),
        config.minDeleteFileCountThreshold))
    else None

  def smallFilesCandidate(stats: SnapshotStats): Option[PlanningConfig] =
    if (stats.totalDataFiles <= 1 || config.minSmallFilesCount == 0) None
    else if (stats.smallFilesCount >= config.minSmallFilesCount)
      Some(SmallFilesConfig(
        config.params.copy(fileGroupScope = FileGroupScope.Partition),
        config.smallFileThresholdBytes))
    else None

  def planReport(catalog: Catalog, tableName: String, toBranch: String = "main"): AutoPlanReport = {
    val table = catalog.loadTable(tableName)
    // strict: no current-snapshot fallback (auto.rs:135-139)
    val snap = table.snapshotForRef(toBranch)
      .getOrElse(return AutoPlanReport.empty(AutoPlanReason.NoSnapshot))

    val tasks = table.scanTasks(snap)
    val totalDataBytes = tasks.map(_.length).sum
    val stats = computeStats(tasks)

    val deleteCandidate = filesWithDeletesCandidate(stats)
    val smallCandidate = smallFilesCandidate(stats)
    if (deleteCandidate.isEmpty && smallCandidate.isEmpty)
      return AutoPlanReport.empty(AutoPlanReason.NoCandidate)

    def build(pc: PlanningConfig, label: String): AutoPlanReport = {
      val strategy = PlanStrategy.fromConfig(pc)
      val groups = strategy.execute(tasks, pc.params, snap.entriesByKey.get)
      val plans = groups.filterNot(_.isEmpty).map(g => CompactionPlan(g, toBranch, snap.snapshotId))
      reportFromPlans(Some(label), plans, totalDataBytes, AutoPlanReason.Recommended)
    }

    // fixed priority: FilesWithDeletes > SmallFiles
    val deleteReport = deleteCandidate.map(build(_, "FilesWithDeletes"))
    deleteReport.filter(_.plans.nonEmpty) match {
      case Some(r) => capReportPlans(r, totalDataBytes)
      case None =>
        smallCandidate.map(build(_, "SmallFiles")).filter(_.plans.nonEmpty) match {
          case Some(r) => capReportPlans(r, totalDataBytes)
          case None    => AutoPlanReport.empty(AutoPlanReason.NoPlansProduced)
        }
    }
  }

  private def capReportPlans(r: AutoPlanReport, totalDataBytes: Long): AutoPlanReport =
    if (r.plans.size <= config.maxAutoPlansPerRun) r
    else reportFromPlans(
      r.selectedStrategy, r.plans.take(config.maxAutoPlansPerRun),
      totalDataBytes, AutoPlanReason.BudgetCapped)

  private def reportFromPlans(
      strategy: Option[String], plans: Seq[CompactionPlan],
      totalDataBytes: Long, reason: AutoPlanReason.Value): AutoPlanReport = {
    val plannedDataBytes = plans.map(_.fileGroup.totalSize).sum
    AutoPlanReport(
      selectedStrategy = strategy,
      plans = plans,
      plannedInputBytes = plans.map(_.fileGroup.inputTotalBytes).sum,
      plannedInputFiles = plans.map(_.fileGroup.inputFilesCount).sum,
      rewriteRatio = if (totalDataBytes == 0) 0.0 else plannedDataBytes.toDouble / totalDataBytes,
      reason = reason
    )
  }
}
