package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** A line scan of the repository's Scala sources, for specs that pin a
  * mechanism to the one file that may use it. Comment lines are skipped.
  * Run from the repository root. */
object SourceScan {
  val Main: Path = Paths.get("src/main/scala")
  val Test: Path = Paths.get("src/test/scala")

  def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  /** `file:line: text` for each non-comment line `i` of a `.scala` file
    * under `root` for which `hit(file, lines, i)` holds; `file` is
    * relative to `root`. */
  def offenders(root: Path)(hit: (Path, IndexedSeq[String], Int) => Boolean): Seq[String] = {
    require(Files.isDirectory(root), s"run from the repository root (no $root)")
    Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
      .flatMap { p =>
        val file = root.relativize(p)
        val lines = Files.readAllLines(p).asScala.toIndexedSeq
        lines.indices.collect {
          case i if !isComment(lines(i)) && hit(file, lines, i) => s"$file:${i + 1}: ${lines(i).trim}"
        }
      }
  }
}
