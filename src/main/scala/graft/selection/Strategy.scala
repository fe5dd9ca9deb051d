package graft.selection

import graft.meta.FileEntry

/** The three-stage selection pipeline: file filters -> (scope) grouping ->
  * group filters -> parallelism (strategy.rs:17-25,724-752). All metadata-
  * only, driver-side Scala: at 100 TB this operates on file *entries* (one
  * per data file), never row data.
  */
trait FileFilterStrategy {
  def filter(files: Seq[FileEntry]): Seq[FileEntry]
  def describe: String
}

/** min inclusive, max exclusive, on file length (strategy.rs:499-526). */
final case class SizeFilter(minSize: Option[Long], maxSize: Option[Long]) extends FileFilterStrategy {
  override def filter(files: Seq[FileEntry]): Seq[FileEntry] = files.filter { f =>
    minSize.forall(f.length >= _) && maxSize.forall(f.length < _)
  }
  override def describe: String = s"SizeFilter[${minSize.getOrElse("")}-${maxSize.getOrElse("")}]"
}

/** keep file if it has >= minDeleteFileCount delete files attached
  * (strategy.rs:549-573). */
final case class DeleteFileCountFilter(minDeleteFileCount: Int) extends FileFilterStrategy {
  override def filter(files: Seq[FileEntry]): Seq[FileEntry] =
    files.filter(_.deletes.size >= minDeleteFileCount)
  override def describe: String = s"DeleteFileCountFilter[>=$minDeleteFileCount]"
}

trait GroupFilterStrategy {
  def filterGroups(groups: Seq[FileGroup]): Seq[FileGroup]
  def describe: String
}

final case class MinGroupSize(minGroupSizeBytes: Long) extends GroupFilterStrategy {
  override def filterGroups(groups: Seq[FileGroup]): Seq[FileGroup] =
    groups.filter(_.totalSize >= minGroupSizeBytes)
  override def describe: String = s"MinGroupSize[$minGroupSizeBytes]"
}

final case class MinGroupFileCount(minFileCount: Int) extends GroupFilterStrategy {
  override def filterGroups(groups: Seq[FileGroup]): Seq[FileGroup] =
    groups.filter(_.dataFileCount >= minFileCount)
  override def describe: String = s"MinGroupFileCount[$minFileCount]"
}

final class PlanStrategy(
    val fileFilters: Seq[FileFilterStrategy],
    val grouping: GroupingStrategy,
    val fileGroupScope: FileGroupScope.Value,
    val groupFilters: Seq[GroupFilterStrategy]
) {

  /** Runs the pipeline over a snapshot's scan tasks. `resolveDelete` maps a
    * delete-file path to its manifest entry (for dedup + sizing). */
  def execute(
      dataFiles: Seq[FileEntry],
      params: PlanningParams,
      resolveDelete: String => Option[FileEntry]
  ): Seq[FileGroup] = {
    val filtered = fileFilters.foldLeft(dataFiles)((fs, f) => f.filter(fs))
    val grouped = groupFiles(filtered, resolveDelete)
    val gated = groupFilters.foldLeft(grouped)((gs, f) => f.filterGroups(gs))
    gated.map(FileGroup.withCalculatedParallelism(_, params))
  }

  private def groupFiles(files: Seq[FileEntry], resolveDelete: String => Option[FileEntry]): Seq[FileGroup] =
    fileGroupScope match {
      case FileGroupScope.Table => groupWithoutPartitioning(files, resolveDelete)
      case FileGroupScope.Partition =>
        // hash-group by partition; files with no partition all share
        // the empty map (strategy.rs:943-971), in a stable order
        FileGroup.byPartition(files).flatMap(groupWithoutPartitioning(_, resolveDelete))
    }

  private def groupWithoutPartitioning(
      files: Seq[FileEntry], resolveDelete: String => Option[FileEntry]): Seq[FileGroup] =
    if (files.isEmpty) Nil
    else grouping match {
      case GroupingStrategy.Single =>
        Seq(FileGroup.fromDataFiles(files, resolveDelete))
      case GroupingStrategy.BinPack(target) =>
        new ListPacker(target).pack(files)(_.length)
          .map(FileGroup.fromDataFiles(_, resolveDelete))
          .filterNot(_.isEmpty)
    }

  def describe: String = {
    val ff = if (fileFilters.isEmpty) "NoFileFilters" else fileFilters.map(_.describe).mkString(" -> ")
    val gf = if (groupFilters.isEmpty) "NoGroupFilters" else groupFilters.map(_.describe).mkString(" -> ")
    s"$ff -> $fileGroupScope/$grouping -> $gf"
  }
}

object PlanStrategy {

  private def groupFiltersOf(p: PlanningParams): Seq[GroupFilterStrategy] =
    p.groupFilters.toSeq.flatMap { gf =>
      gf.minGroupSizeBytes.filter(_ > 0).map(MinGroupSize.apply).toSeq ++
        gf.minGroupFileCount.filter(_ > 0).map(MinGroupFileCount.apply).toSeq
    }

  def fromConfig(config: PlanningConfig): PlanStrategy = config match {
    case c: PolicyConfig =>
      // policy wrapper: the base strategy with extra filters appended —
      // file filters run after the base's (an intersection of scopes),
      // group filters run after gating (a budget sees only viable groups)
      val b = fromConfig(c.base)
      new PlanStrategy(
        b.fileFilters ++ c.extraFileFilters,
        b.grouping, b.fileGroupScope,
        b.groupFilters ++ c.extraGroupFilters)
    case c: SmallFilesConfig =>
      new PlanStrategy(
        Seq(SizeFilter(None, Some(c.smallFileThresholdBytes))),
        c.params.groupingStrategy, c.params.fileGroupScope, groupFiltersOf(c.params))
    case c: FullCompactionConfig =>
      // full compaction: no file filters, never group-gated (strategy.rs:834-852)
      new PlanStrategy(Nil, c.params.groupingStrategy, c.params.fileGroupScope, Nil)
    case c: FilesWithDeletesConfig =>
      val ff: Seq[FileFilterStrategy] =
        if (c.minDeleteFileCountThreshold > 0) Seq(DeleteFileCountFilter(c.minDeleteFileCountThreshold)) else Nil
      new PlanStrategy(ff, c.params.groupingStrategy, c.params.fileGroupScope, groupFiltersOf(c.params))
  }
}
