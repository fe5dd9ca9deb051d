package graft.meta

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Catalog.transact]] as the engine's only commit path: a source
  * scan of `src/main/scala` for catalog `.commit(` calls. Allowed are the
  * catalog implementations themselves (the files that define a
  * `Catalog`, `transact` included) and the REST server's handlers, which
  * answer a lost race with HTTP 409 rather than retrying — their client
  * retries. Every other mutation builds inside `transact`, so a
  * hand-rolled load/commit/retry loop fails here. A second scan pins
  * [[TableMetadata.withSnapshot]] as the only snapshot builder. */
class SingleCommitSiteSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val CommitCall = """\.commit\(""".r

  private def sources: Seq[Path] =
    Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  /** A REST handler's commit: the conflict is caught right after the call
    * and answered with 409. */
  private def mapsConflictTo409(lines: IndexedSeq[String], i: Int): Boolean = {
    val after = lines.slice(i, i + 16)
    after.take(6).exists(_.contains("case _: CommitConflictException")) &&
      after.exists(_.contains("409"))
  }

  test("catalog commits happen only inside Catalog.transact") {
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val offenders = sources.flatMap { p =>
      val lines = Files.readAllLines(p).asScala.toIndexedSeq
      val implementsCatalog = lines.exists(_.contains("extends Catalog"))
      val restServer = p.getFileName.toString == "IcebergRestServe.scala"
      lines.indices.collect {
        case i if CommitCall.findFirstIn(lines(i)).nonEmpty && !isComment(lines(i)) &&
            !implementsCatalog && !(restServer && mapsConflictTo409(lines, i)) =>
          s"${root.relativize(p)}:${i + 1}: ${lines(i).trim}"
      }
    }
    assert(offenders.isEmpty,
      "commit outside Catalog.transact — build the change inside " +
        s"catalog.transact(name) { meta => ... } instead:\n${offenders.mkString("\n")}")
  }

  test("snapshots are built only by TableMetadata.withSnapshot") {
    // `Snapshot(` not preceded by an identifier character: a construction
    // (or `graft.meta.Snapshot(`), not `withSnapshot(`/`currentSnapshot(`
    val SnapshotCall = """(?<![\w$])Snapshot\(""".r
    // the builder's file, plus the two decoders that read snapshots back
    // from stored metadata
    val mayConstruct = Set("Model.scala", "Json.scala", "IcebergImport.scala")
    val offenders = sources.flatMap { p =>
      val file = p.getFileName.toString
      val lines = Files.readAllLines(p).asScala.toIndexedSeq
      lines.indices.collect {
        case i if !isComment(lines(i)) &&
            ((SnapshotCall.findFirstIn(lines(i)).nonEmpty && !mayConstruct(file)) ||
              (lines(i).contains("firstRowId = Some(") && file != "Model.scala")) =>
          s"${root.relativize(p)}:${i + 1}: ${lines(i).trim}"
      }
    }
    assert(offenders.isEmpty,
      "snapshot or row-id range assembled outside TableMetadata.withSnapshot — " +
        s"build it with meta.withSnapshot(parent, manifest, operation, ...):\n" +
        offenders.mkString("\n"))
  }
}
