package graft.util

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan

/** Pins [[JobScope]] as the engine's one mechanism for running Spark
  * actions side by side: a source scan of `src/main/scala` for Scala
  * futures, the global execution context and `Await`. Comment lines are
  * skipped. A hand-rolled overlap fails here; fork it under
  * `JobScope.run` (or `JobScope.both`) instead, which cancels and waits
  * for the other side when one fails. */
class SingleConcurrencyMechanismSpec extends AnyFunSuite {

  private val Forbidden =
    """scala\.concurrent\.(Future\b|\{[^}]*\bFuture\b)|ExecutionContext\.global|Await\.result""".r

  test("no scala.concurrent.Future, ExecutionContext.global or Await.result in src/main") {
    val offenders = SourceScan.offenders(SourceScan.Main) { (_, lines, i) =>
      Forbidden.findFirstIn(lines(i)).nonEmpty
    }
    assert(offenders.isEmpty,
      "hand-rolled concurrency — run the sides under graft.util.JobScope instead:\n" +
        offenders.mkString("\n"))
  }
}
