package graft.meta

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan

/** One scan planner: which snapshot a branch means is decided by
  * [[TableMetadata.branchHead]] (reads) and [[TableMetadata.commitBase]]
  * (writes), a snapshot's entries are keyed once by
  * [[Snapshot.entriesByKey]], and its scan tasks become MOR groups in
  * [[graft.selection.FileGroup.ofTasks]], which splits on the partition
  * identity `(specId, partitionValues)`. The JSON decoders keep their
  * own manifest maps. */
class ScanPlannerSpec extends AnyFunSuite {

  private def offenders(exempt: Set[String])(hit: (IndexedSeq[String], Int) => Boolean) =
    SourceScan.offenders(SourceScan.Main) { (file, lines, i) =>
      !exempt(file.toString) && hit(lines, i)
    }

  test("branch resolution falls back to the current snapshot only inside TableMetadata") {
    val found = offenders(Set("graft/meta/Model.scala")) { (lines, i) =>
      val at = lines(i).indexOf("snapshotForRef(")
      at >= 0 && (lines(i).indexOf(".orElse(", at) >= 0 ||
        (i + 1 < lines.size && lines(i + 1).trim.startsWith(".orElse(")))
    }
    assert(found.isEmpty,
      "resolve a branch with TableMetadata.branchHead / requireBranchHead (reads) or " +
        "commitBase (writes):\n" + found.mkString("\n"))
  }

  test("a snapshot's entries are keyed by resolutionKey once, in Snapshot") {
    val keyed = """(\w+)\s*=>\s*\1\.resolutionKey\s*->\s*\1\b""".r.unanchored
    val found = offenders(Set("graft/meta/Model.scala", "graft/meta/Json.scala")) {
      (lines, i) => keyed.matches(lines(i))
    }
    assert(found.isEmpty,
      "look entries up through Snapshot.entriesByKey:\n" + found.mkString("\n"))
  }

  test("no MOR grouping splits on partition values without the spec id") {
    val found = offenders(Set.empty)((lines, i) => lines(i).contains("groupBy(_.partitionValues)"))
    assert(found.isEmpty,
      "the partition identity is (specId, partitionValues); build MOR groups with " +
        "FileGroup.ofTasks:\n" + found.mkString("\n"))
  }
}
