package graft.meta

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.compaction.Compaction
import graft.selection.{FullCompactionConfig, PlanningParams}

/** Incremental changelog reads: per-snapshot insert/delete attribution,
  * no re-emission of already-dead rows, compaction invisibility, and the
  * replay property (from-state + changelog == to-state).
  */
class ChangelogSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def newCatalog(): LocalCatalog =
    LocalCatalog(Files.createTempDirectory("graft-wh").toString)

  private def df(rows: Seq[(Long, String, Long)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "name", "qty")
  }

  private def changes(catalog: Catalog, name: String, from: Long, to: Long) =
    Changelog.changesBetween(spark, catalog, name, from, to)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getLong(4))).toSet

  test("append emits inserts; upsert emits inserts plus deletes of replaced rows") {
    val catalog = newCatalog()
    IceWrite.create(spark, catalog, "t_cdc",
      df(Seq((1L, "a", 10L), (2L, "b", 20L))))                   // snapshot 1
    IceWrite.append(spark, catalog, "t_cdc", df(Seq((3L, "c", 30L)))) // snapshot 2
    IceWrite.upsert(spark, catalog, "t_cdc",
      df(Seq((2L, "b2", 21L), (4L, "d", 40L))), keys = Seq("id"))    // snapshot 3

    assert(changes(catalog, "t_cdc", 1L, 2L) ==
      Set((3L, "c", 30L, "insert", 2L)))
    // the upsert's eq-delete kills the OLD id=2 row; id=4 matched nothing
    assert(changes(catalog, "t_cdc", 2L, 3L) == Set(
      (2L, "b2", 21L, "insert", 3L), (4L, "d", 40L, "insert", 3L),
      (2L, "b", 20L, "delete", 3L)))
    // composition across the range
    assert(changes(catalog, "t_cdc", 1L, 3L) ==
      changes(catalog, "t_cdc", 1L, 2L) ++ changes(catalog, "t_cdc", 2L, 3L))
    // since creation: snapshot 1's rows are inserts too
    assert(changes(catalog, "t_cdc", 0L, 3L) ==
      changes(catalog, "t_cdc", 1L, 3L) ++ Set(
        (1L, "a", 10L, "insert", 1L), (2L, "b", 20L, "insert", 1L)))
  }

  test("deleteWhere emits only live matching rows; re-deletes are not re-emitted") {
    val catalog = newCatalog()
    IceWrite.create(spark, catalog, "t_cdc2",
      df(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))))   // snapshot 1
    IceWrite.upsert(spark, catalog, "t_cdc2",
      df(Seq((2L, "b2", 21L))), keys = Seq("id"))                 // snapshot 2: old id=2 dead
    // predicate matches BOTH the dead old id=2 row (qty=20) and live rows;
    // deleteWhere tombstones raw file rows, so the dead row gets a
    // (harmless) duplicate tombstone — the changelog must not emit it
    IceWrite.deleteWhere(spark, catalog, "t_cdc2", col("qty") >= 20L) // snapshot 3

    assert(changes(catalog, "t_cdc2", 2L, 3L) == Set(
      (2L, "b2", 21L, "delete", 3L), (3L, "c", 30L, "delete", 3L)))
  }

  test("compaction is invisible to the changelog; replay reconstructs the final state") {
    val catalog = newCatalog()
    IceWrite.create(spark, catalog, "t_cdc3",
      df(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))))   // 1
    IceWrite.upsert(spark, catalog, "t_cdc3",
      df(Seq((2L, "b2", 21L), (4L, "d", 40L))), keys = Seq("id")) // 2
    IceWrite.deleteWhere(spark, catalog, "t_cdc3", col("id") === 1L) // 3
    new Compaction(catalog, "t_cdc3", spark,
      config = FullCompactionConfig(PlanningParams(maxOutputParallelism = 1))).compact()
    val head = catalog.loadTable("t_cdc3").currentSnapshot.get.snapshotId
    assert(catalog.loadTable("t_cdc3").currentSnapshot.get
      .summary("operation") == "replace")

    // the replace snapshot contributes nothing
    assert(Changelog.changesBetween(spark, catalog, "t_cdc3", 3L, head).count() == 0)

    // replay: state(1) + changelog(1 -> head) == MOR view at head
    val base = df(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)))
    val log = Changelog.changesBetween(spark, catalog, "t_cdc3", 1L, head)
    val inserts = log.filter(col(Changelog.ChangeTypeCol) === "insert")
      .select(col("id"), col("name"), col("qty"))
    val deletes = log.filter(col(Changelog.ChangeTypeCol) === "delete")
      .select(col("id"), col("name"), col("qty"))
    val replayed = base.unionAll(inserts).exceptAll(deletes)
    val actual = IceRead.table(spark, catalog, "t_cdc3")
    assert(replayed.exceptAll(actual).isEmpty && actual.exceptAll(replayed).isEmpty)
  }

  test("the OVERWRITE-variant compaction is also invisible to the changelog") {
    // commitOverwriteResults shares operation="overwrite" with logical
    // upserts; the rewrite marker, not the operation string, must decide
    val catalog = newCatalog()
    IceWrite.create(spark, catalog, "t_cdc5",
      df(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))))          // 1
    IceWrite.append(spark, catalog, "t_cdc5", df(Seq((4L, "d", 40L)))) // 2

    val c = new Compaction(catalog, "t_cdc5", spark,
      config = FullCompactionConfig(PlanningParams(maxOutputParallelism = 1)))
    val outcomes = c.planCompaction().map(c.rewritePlan)
    c.commitOverwriteResults(outcomes)                                  // 3: overwrite rewrite
    val head = catalog.loadTable("t_cdc5").currentSnapshot.get
    assert(head.summary("operation") == "overwrite")
    assert(head.summary.get("rewrite").contains("compaction"))

    assert(Changelog.changesBetween(spark, catalog, "t_cdc5", 2L, head.snapshotId).count() == 0)
    // and the marker is NOT inherited by the next logical commit
    IceWrite.append(spark, catalog, "t_cdc5", df(Seq((5L, "e", 50L)))) // 4
    val next = catalog.loadTable("t_cdc5").currentSnapshot.get
    assert(!next.summary.contains("rewrite"))
    assert(Changelog.changesBetween(spark, catalog, "t_cdc5",
      head.snapshotId, next.snapshotId).count() == 1)
  }

  test("upsert onto an empty-created table emits inserts only (no parent rows to kill)") {
    val catalog = newCatalog()
    IceWrite.create(spark, catalog, "t_cdc6", df(Nil))                  // 1: empty manifest
    IceWrite.upsert(spark, catalog, "t_cdc6",
      df(Seq((1L, "a", 10L))), keys = Seq("id"))                        // 2: eq-delete + data
    assert(changes(catalog, "t_cdc6", 1L, 2L) == Set((1L, "a", 10L, "insert", 2L)))
    // and an all-skipped range on that table still yields a typed empty frame
    assert(Changelog.changesBetween(spark, catalog, "t_cdc6", 2L, 2L).count() == 0)
  }

  test("changesOfLatest reads exactly the head commit; non-ancestor from fails") {
    val catalog = newCatalog()
    IceWrite.create(spark, catalog, "t_cdc4", df(Seq((1L, "a", 10L)))) // 1
    IceWrite.append(spark, catalog, "t_cdc4", df(Seq((2L, "b", 20L)))) // 2
    val latest = Changelog.changesOfLatest(spark, catalog, "t_cdc4")
      .collect().map(r => (r.getLong(0), r.getString(3), r.getLong(4))).toSet
    assert(latest == Set((2L, "insert", 2L)))

    intercept[IllegalArgumentException] {
      Changelog.changesBetween(spark, catalog, "t_cdc4", 0L, 99L)
    }
    // from = a snapshot id that is not on the chain
    intercept[IllegalArgumentException] {
      Changelog.changesBetween(spark, catalog, "t_cdc4", 7L, 2L)
    }
  }
  test("withRowIds: identity-stable CDC on a v3 table; v2 refused") {
    val catalog = newCatalog()
    IceWrite.create(spark, catalog, "t_rid", df(Seq((1L, "a", 10L), (2L, "b", 20L))),
      formatVersion = 3)
    IceWrite.append(spark, catalog, "t_rid", df(Seq((3L, "c", 30L))))
    IceWrite.deleteWhere(spark, catalog, "t_rid",
      org.apache.spark.sql.functions.col("id") === 2)

    val meta = catalog.loadTable("t_rid")
    val all = Changelog.changesBetween(spark, catalog, "t_rid", 0L,
        meta.currentSnapshot.get.snapshotId, withRowIds = true)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getString(5)))
      // (id, _row_id, _change_type); columns: id, name, qty, _row_id, _last_updated_seq, _change_type, snap

    val insertIds = all.filter(_._3 == "insert").map(t => t._1 -> t._2).toMap
    // create claimed [0,2), append claimed [2,3)
    assert(insertIds == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    // the delete event carries the SAME row id its insert had
    val deleted = all.filter(_._3 == "delete")
    assert(deleted.toSeq == Seq((2L, 1L, "delete")))

    // compaction still emits nothing, with lineage requested
    new graft.compaction.Compaction(catalog, "t_rid", spark).compact()
    val after = Changelog.changesOfLatest(spark, catalog, "t_rid", withRowIds = true)
    assert(after.isEmpty)

    // v2 tables refuse lineage-stamped changelogs
    IceWrite.create(spark, catalog, "t_rid_v2", df(Seq((1L, "a", 1L))))
    intercept[IllegalArgumentException](
      Changelog.changesOfLatest(spark, catalog, "t_rid_v2", withRowIds = true))
  }

  /** Commits one snapshot: the head's manifest without `remove`, plus
    * `added` stamped with the next sequence number. */
  private def commitEntries(catalog: Catalog, name: String, operation: String,
      added: Seq[FileEntry] = Nil, remove: FileEntry => Boolean = _ => false): Unit =
    catalog.transact(name) { meta =>
      val seq = meta.lastSequenceNumber + 1
      val parent = meta.currentSnapshot
      meta.withSnapshot(parent, parent.get.manifest.filterNot(remove) ++
        added.map(_.copy(sequenceNumber = seq)), operation, seq)
    }

  test("a second position-delete file without `pos` fails the changelog read") {
    val s = spark
    import s.implicits._
    val catalog = newCatalog()
    IceWrite.create(spark, catalog, "t_nopos", spark.range(0, 100, 1, 2).toDF("id"))
    val data = catalog.loadTable("t_nopos").currentSnapshot.get.manifest
    assert(data.size == 2)
    // as a foreign writer may leave them: a nullable `pos` in the first
    // file, none in the second. A schema inferred from the first footer
    // reads the second's `pos` as null, and its delete events vanish.
    def deleteFile(rows: org.apache.spark.sql.DataFrame, file: String): FileEntry = {
      val (path, size, n, _) = graft.testkit.FileGenerator.writeSingleParquet(spark, rows,
        java.nio.file.Paths.get(catalog.dataDir("t_nopos"), file))
      FileEntry(path, size, FileContent.PositionDeletes, n, sequenceNumber = 0L)
    }
    commitEntries(catalog, "t_nopos", "delete", added = Seq(
      deleteFile(Seq((data.head.path, Option(0L))).toDF("file_path", "pos"), "pos-delete-a.parquet"),
      deleteFile(Seq(data(1).path).toDF("file_path"), "pos-delete-b.parquet")))
    val e = intercept[Exception](Changelog.changesOfLatest(spark, catalog, "t_nopos").collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("position-delete file has no `pos` value")),
      e.toString)
  }

  test("removing a data file committed under a non-canonical spelling emits its rows") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.slowfs.impl", classOf[graft.testkit.SlowLocalFileSystem].getName)
    hc.set("fs.AbstractFileSystem.slowfs.impl", classOf[graft.testkit.SlowLocalAfs].getName)
    val catalog = newCatalog()
    IceWrite.create(spark, catalog, "t_slow", df(Seq((1L, "a", 10L))))
    IceWrite.append(spark, catalog, "t_slow", df(Seq((2L, "b", 20L))))
    // a foreign client's spelling: slowfs:///x, which Hadoop renders slowfs:/x
    commitEntries(catalog, "t_slow", "replace",
      added = catalog.loadTable("t_slow").currentSnapshot.get.manifest
        .map(f => f.copy(path = s"slowfs://${f.path}")),
      remove = _ => true)
    val first = catalog.loadTable("t_slow").currentSnapshot.get.manifest.head
    commitEntries(catalog, "t_slow", "delete", remove = _.path == first.path)
    val head = catalog.loadTable("t_slow").currentSnapshotId.get
    val removedRow = spark.read.parquet(first.path.stripPrefix("slowfs://"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).head
    val out = Changelog.changesOfLatest(spark, catalog, "t_slow").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3), r.getLong(4))).toSet
    assert(out == Set((removedRow._1, removedRow._2, removedRow._3, "delete", head)))
  }
}
