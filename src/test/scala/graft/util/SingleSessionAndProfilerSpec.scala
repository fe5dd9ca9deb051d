package graft.util

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan

/** Pins [[Sessions]] as the one SparkSession factory and [[Profile]] as
  * the one place that listens to Spark, across `src/main` and `src/test`.
  * Comment lines are skipped. The patterns are written so they do not
  * match their own source lines. */
class SingleSessionAndProfilerSpec extends AnyFunSuite {

  private val Builder = """SparkSession[.]builder""".r
  private val Listener = """add[S]parkListener|listenerManager[.]register""".r

  private def hits(root: java.nio.file.Path, pattern: scala.util.matching.Regex,
      allowed: String): Seq[String] =
    SourceScan.offenders(root) { (file, lines, i) =>
      pattern.findFirstIn(lines(i)).nonEmpty && file.toString != allowed
    }

  test("sessions are built only in graft/util/Sessions.scala") {
    val offenders = Seq(SourceScan.Main, SourceScan.Test)
      .flatMap(hits(_, Builder, "graft/util/Sessions.scala"))
    assert(offenders.isEmpty,
      "session built by hand — use graft.util.Sessions.local instead:\n" +
        offenders.mkString("\n"))
  }

  test("Spark and query-execution listeners are registered only in graft/util/Profile.scala") {
    val offenders = hits(SourceScan.Main, Listener, "graft/util/Profile.scala") ++
      hits(SourceScan.Test, Listener, "")
    assert(offenders.isEmpty,
      "hand-rolled listener — record the block with graft.util.Profile.record instead:\n" +
        offenders.mkString("\n"))
  }
}
