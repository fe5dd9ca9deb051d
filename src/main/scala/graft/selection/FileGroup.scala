package graft.selection

import graft.meta.{FileContent, FileEntry, Snapshot}

/** A unit of compaction work: data files plus their (deduplicated) delete
  * files, with computed executor/output parallelism. Mirrors the reference
  * FileGroup (core/src/file_selection/strategy.rs:44-117,163-343); the
  * parallelism math is Iceberg's expectedOutputFiles / inputSplitSize
  * algorithm, reproduced exactly (integer arithmetic included) so plans are
  * comparable at any scale.
  */
final case class FileGroup(
    dataFiles: Seq[FileEntry],
    positionDeleteFiles: Seq[FileEntry],
    equalityDeleteFiles: Seq[FileEntry],
    executorParallelism: Int = 1,
    outputParallelism: Int = 1
) {
  /** Sum of data file sizes only (delete files excluded). */
  val totalSize: Long = dataFiles.map(_.length).sum
  val dataFileCount: Int = dataFiles.size
  def isEmpty: Boolean = dataFiles.isEmpty
  def inputFilesCount: Int =
    dataFiles.size + positionDeleteFiles.size + equalityDeleteFiles.size
  def inputTotalBytes: Long =
    (dataFiles.iterator ++ positionDeleteFiles.iterator ++ equalityDeleteFiles.iterator)
      .map(_.length).sum
}

object FileGroup {

  /** Builds a group from data files, resolving + dedup-ing their delete
    * files by path (strategy.rs:64-117). `resolveDelete` maps a delete path
    * to its FileEntry (from the snapshot manifest).
    *
    * Partition-scoped equality deletes lose their scope when flattened
    * into a group (the MOR anti join matches keys + sequence only), so a
    * scoped delete is only admitted when EVERY data file in the group
    * lives in that delete's partition — otherwise it would erase matching
    * rows in other partitions. Callers that mix partitions in one group
    * (table scope, whole-table reads) must split per partition first;
    * this require makes the latent cross-partition leak loud instead of
    * silently wrong. The partition is [[FileEntry.partitionKey]], the
    * spec included. Position deletes key on (file_path, pos) — file
    * paths are partition-unique, so flattening cannot mis-apply them. */
  def fromDataFiles(dataFiles: Seq[FileEntry], resolveDelete: String => Option[FileEntry]): FileGroup = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, FileEntry]
    for (d <- dataFiles; p <- d.deletes; e <- resolveDelete(p)) seen.getOrElseUpdate(p, e)
    val (pos, eq) = seen.values.toSeq.partition(_.content == FileContent.PositionDeletes)
    val eqOnly = eq.filter(_.content == FileContent.EqualityDeletes)
    for (e <- eqOnly if e.partitionValues.nonEmpty)
      require(dataFiles.forall(_.partitionKey == e.partitionKey),
        s"partition-scoped equality delete ${e.path} (spec ${e.specId}, partition " +
          s"${e.partitionValues}) cannot be flattened into a group spanning other " +
          "partitions; build one group per partition")
    FileGroup(dataFiles, pos, eqOnly)
  }

  /** The MOR groups of a snapshot's scan `tasks`: one group, unless a
    * partition-scoped equality delete is attached, which the MOR anti
    * join would apply table-wide; then one group per partition
    * ([[byPartition]]). A table without scoped equality deletes keeps
    * one plan, however many partitions it has. */
  def ofTasks(snapshot: Snapshot, tasks: Seq[FileEntry]): Seq[FileGroup] = {
    val resolve = snapshot.entriesByKey.get _
    val hasScopedEq = tasks.exists(_.deletes.exists(k => resolve(k).exists(e =>
      e.content == FileContent.EqualityDeletes && e.partitionValues.nonEmpty)))
    (if (hasScopedEq) byPartition(tasks) else Seq(tasks)).map(fromDataFiles(_, resolve))
  }

  /** `files` split by [[FileEntry.partitionKey]], in a stable order. */
  def byPartition(files: Seq[FileEntry]): Seq[Seq[FileEntry]] =
    files.groupBy(_.partitionKey).toSeq
      .sortBy { case ((sid, pv), _) => (sid, pv.toSeq.sorted.mkString(",")) }
      .map(_._2)

  def empty: FileGroup = FileGroup(Nil, Nil, Nil)

  /** target * 3/4 (integer), reference default_min_file_size. */
  def minFileSize(target: Long): Long = target * 3 / 4
  /** target * 9/5 (integer), reference default_max_file_size. */
  def maxFileSize(target: Long): Long = target * 9 / 5
  /** target + (max - target)/2, Iceberg writeMaxFileSize. */
  def writeMaxFileSize(target: Long, max: Long): Long =
    target + math.max(0L, max - target) / 2

  /** Iceberg expectedOutputFiles (strategy.rs:263-303). */
  def expectedOutputFiles(inputSize: Long, target: Long, min: Long, max: Long): Int = {
    if (target == 0L || inputSize < target) return 1
    val withRemainder = (inputSize + target - 1) / target
    val withoutRemainder = inputSize / target
    if (withoutRemainder == 0L) return 1
    val remainder = inputSize % target
    val avgWithoutRemainder = inputSize / withoutRemainder
    val writeMax = writeMaxFileSize(target, max)
    if (remainder > min) withRemainder.toInt
    else if (avgWithoutRemainder <= math.min(target + target / 10, writeMax)) withoutRemainder.toInt
    else withRemainder.toInt
  }

  /** Iceberg inputSplitSize (strategy.rs:305-327). */
  def inputSplitSize(inputSize: Long, target: Long, min: Long, max: Long): Long = {
    if (target == 0L) return inputSize + Defaults.SplitOverhead
    val expected = expectedOutputFiles(inputSize, target, min, max)
    val estimated = inputSize / math.max(1, expected) + Defaults.SplitOverhead
    val writeMax = writeMaxFileSize(target, max)
    if (estimated < target) target else math.min(estimated, writeMax)
  }

  /** (executorParallelism, outputParallelism); errors on empty input like
    * the reference (strategy.rs:183-243). */
  def calculateParallelism(group: FileGroup, p: PlanningParams): (Int, Int) = {
    val inputSize = group.inputTotalBytes
    require(inputSize > 0, "No files to calculate task parallelism")
    val target = p.targetFileSizeBytes
    val min = minFileSize(target)
    val max = maxFileSize(target)

    var outputParallelism =
      math.max(1, math.min(expectedOutputFiles(inputSize, target, min, max), p.maxOutputParallelism))
    // small-input heuristic: a group whose *data* bytes fit in one target
    // file gets a single writer (strategy.rs:226-257)
    if (p.enableHeuristicOutputParallelism && outputParallelism > 1) {
      val dataBytes = group.dataFiles.map(_.length).sum
      if (dataBytes > 0 && dataBytes < target) outputParallelism = 1
    }

    val splitSize = inputSplitSize(inputSize, target, min, max)
    val bySize = math.max(1L, (inputSize + splitSize - 1) / splitSize).toInt
    val byCount =
      math.max(1, (group.inputFilesCount + p.maxFileCountPerPartition - 1) / p.maxFileCountPerPartition)
    val inputParallelism = math.min(math.max(bySize, byCount), p.maxInputParallelism)
    (inputParallelism, outputParallelism)
  }

  def withCalculatedParallelism(group: FileGroup, p: PlanningParams): FileGroup = {
    val (in, out) = calculateParallelism(group, p)
    group.copy(executorParallelism = in, outputParallelism = out)
  }
}
