package graft.meta

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan

/** Pins [[Catalog.transact]] as the engine's only commit path: a source
  * scan of `src/main/scala` for catalog `.commit(` calls. Allowed are the
  * catalog implementations themselves (the files that define a
  * `Catalog`, `transact` included) and the REST server's handlers, which
  * answer a lost race with HTTP 409 rather than retrying — their client
  * retries. Every other mutation builds inside `transact`, so a
  * hand-rolled load/commit/retry loop fails here. A second scan pins
  * [[TableMetadata.withSnapshot]] as the only snapshot builder. */
class SingleCommitSiteSpec extends AnyFunSuite {

  private val CommitCall = """\.commit\(""".r

  /** A REST handler's commit: the conflict is caught right after the call
    * and answered with 409. */
  private def mapsConflictTo409(lines: IndexedSeq[String], i: Int): Boolean = {
    val after = lines.slice(i, i + 16)
    after.take(6).exists(_.contains("case _: CommitConflictException")) &&
      after.exists(_.contains("409"))
  }

  test("catalog commits happen only inside Catalog.transact") {
    val offenders = SourceScan.offenders(SourceScan.Main) { (file, lines, i) =>
      def implementsCatalog = lines.exists(_.contains("extends Catalog"))
      def restServer = file.getFileName.toString == "IcebergRestServe.scala"
      CommitCall.findFirstIn(lines(i)).nonEmpty && !implementsCatalog &&
        !(restServer && mapsConflictTo409(lines, i))
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
    val offenders = SourceScan.offenders(SourceScan.Main) { (path, lines, i) =>
      val file = path.getFileName.toString
      (SnapshotCall.findFirstIn(lines(i)).nonEmpty && !mayConstruct(file)) ||
        (lines(i).contains("firstRowId = Some(") && file != "Model.scala")
    }
    assert(offenders.isEmpty,
      "snapshot or row-id range assembled outside TableMetadata.withSnapshot — " +
        s"build it with meta.withSnapshot(parent, manifest, operation, ...):\n" +
        offenders.mkString("\n"))
  }
}
