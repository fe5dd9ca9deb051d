package graft.util

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[JobScope]] as the engine's one mechanism for running Spark
  * actions side by side: a source scan of `src/main/scala` for Scala
  * futures, the global execution context and `Await`. Comment lines are
  * skipped. A hand-rolled overlap fails here; fork it under
  * `JobScope.run` (or `JobScope.both`) instead, which cancels and waits
  * for the other side when one fails. */
class SingleConcurrencyMechanismSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val Forbidden =
    """scala\.concurrent\.(Future\b|\{[^}]*\bFuture\b)|ExecutionContext\.global|Await\.result""".r

  private def sources: Seq[Path] =
    Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  test("no scala.concurrent.Future, ExecutionContext.global or Await.result in src/main") {
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val offenders = sources.flatMap { p =>
      val lines = Files.readAllLines(p).asScala.toIndexedSeq
      lines.indices.collect {
        case i if Forbidden.findFirstIn(lines(i)).nonEmpty && !isComment(lines(i)) =>
          s"${root.relativize(p)}:${i + 1}: ${lines(i).trim}"
      }
    }
    assert(offenders.isEmpty,
      "hand-rolled concurrency — run the sides under graft.util.JobScope instead:\n" +
        offenders.mkString("\n"))
  }
}
