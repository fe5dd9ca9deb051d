package graft.meta

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** [[Catalog.transact]], the one commit-retry primitive: what re-runs on
  * a lost race, when it gives up, what it never retries, and what each
  * attempt costs. Metadata only — no Spark. */
class CatalogTransactSpec extends AnyFunSuite {

  private val fast = CommitRetryConfig(maxRetries = 3, initialDelayMs = 1, maxDelayMs = 1)

  private def freshTable(): LocalCatalog = {
    val c = LocalCatalog(Files.createTempDirectory("transact").toString)
    c.createTable(TableMetadata("t", location = ""))
    c
  }

  private def setProp(k: String, v: String)(m: TableMetadata): TableMetadata =
    m.copy(properties = m.properties + (k -> v))

  test("after a lost race the builder re-runs against the fresh head") {
    val inner = freshTable()
    val racing = new RacingCatalog(inner)(base => inner.commit(base, setProp("racer", "won")(base)))
    var seen = Vector.empty[Option[String]]
    val committed = racing.transact("t", fast) { m =>
      seen :+= m.properties.get("racer")
      setProp("mine", "landed")(m)
    }
    assert(seen == Vector(None, Some("won")))
    assert(committed.properties.get("racer").contains("won"))
    assert(committed.properties.get("mine").contains("landed"))
    assert(inner.loadTable("t").version == committed.version)
  }

  test("after exactly maxRetries retries the conflict is rethrown") {
    val inner = freshTable()
    val counted = new RacingCatalog(inner)(_ => ())
    var runs = 0
    // a writer that wins every race: each attempt's version is taken
    // between the load and the commit
    intercept[CommitConflictException](counted.transact("t", fast.copy(maxRetries = 2)) { m =>
      runs += 1
      inner.commit(m, setProp("racer", runs.toString)(m))
      setProp("mine", "lost")(m)
    })
    assert(runs == 3 && counted.commits.get == 3)
    assert(!inner.loadTable("t").properties.contains("mine"))
  }

  test("an exception from the builder is not retried") {
    val inner = freshTable()
    val counted = new RacingCatalog(inner)(_ => ())
    var runs = 0
    intercept[IllegalStateException](counted.transact("t", fast) { _ =>
      runs += 1
      throw new IllegalStateException("no reload can fix this")
    })
    assert(runs == 1 && counted.loads.get == 1 && counted.commits.get == 0)
  }

  test("each attempt loads the table once and commits once") {
    val inner = freshTable()
    val racing = new RacingCatalog(inner)(base => inner.commit(base, base))
    racing.transact("t", fast)(setProp("k", "v"))
    assert(racing.loads.get == 2 && racing.commits.get == 2)
  }

  test("a builder that returns its input commits nothing") {
    val inner = freshTable()
    val counted = new RacingCatalog(inner)(_ => ())
    val before = inner.loadTable("t")
    assert(counted.transact("t", fast)(identity).version == before.version)
    assert(counted.commits.get == 0 && inner.loadTable("t").version == before.version)
  }
}
