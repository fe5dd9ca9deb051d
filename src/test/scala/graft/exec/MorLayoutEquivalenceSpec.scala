package graft.exec

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.compaction.{Compaction, Maintenance}
import graft.meta._
import graft.selection.{FileGroup, FullCompactionConfig, PlanningParams}
import graft.testkit.FileGenerator

/** The two MOR plans agree on every delete layout: under the broadcast
  * gate (per-file bitmaps and lookups probed in the scan, broadcast
  * equality anti joins) and above it (anti joins on `(path, pos)`). Each
  * layout also checks the row count against a model of the data files.
  * [[MorLayoutEquivalenceInterpretedSpec]] runs the same layouts with code
  * generation off, so the expressions' `eval` paths run too. */
class MorLayoutEquivalenceSpec extends AnyFunSuite with BeforeAndAfterAll {

  protected lazy val spark = SparkTestBase.spark
  /** Session settings the layouts run under. */
  protected def sessionConf: Map[String, String] = Map.empty

  private var saved = Map.empty[String, Option[String]]
  override def beforeAll(): Unit = {
    super.beforeAll()
    saved = sessionConf.map { case (k, _) => k -> spark.conf.getOption(k) }
    sessionConf.foreach { case (k, v) => spark.conf.set(k, v) }
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.slowfs.impl", classOf[graft.testkit.SlowLocalFileSystem].getName)
    hc.set("fs.AbstractFileSystem.slowfs.impl", classOf[graft.testkit.SlowLocalAfs].getName)
  }
  override def afterAll(): Unit = {
    saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    super.afterAll()
  }

  /** One row of a data file: the file's index in the table's data files,
    * its position, and the key columns. */
  private final case class ModelRow(file: Int, pos: Long, id: Long, k: Long)

  private final case class Fixture(catalog: LocalCatalog, name: String) {
    def meta: TableMetadata = catalog.loadTable(name)
    def data: Seq[FileEntry] =
      meta.currentSnapshot.get.manifest.filter(_.content == FileContent.Data).sortBy(_.path)
    def group: FileGroup = {
      val m = meta
      val snap = m.currentSnapshot.get
      val byKey = snap.manifest.map(f => f.resolutionKey -> f).toMap
      FileGroup.fromDataFiles(m.scanTasks(snap), byKey.get)
    }
    def deletePositions(at: (Int, Long)*): Unit = {
      val s = spark
      import s.implicits._
      val d = data
      IceWrite.appendPositionDeletes(spark, catalog, name,
        at.map { case (f, p) => (d(f).path, p) }.toDF("file_path", "pos"))
    }
    def deleteKeys(column: String, values: Long*): Unit = {
      val s = spark
      import s.implicits._
      IceWrite.appendEqualityDeletes(spark, catalog, name, values.toDF(column), Seq(column))
    }
    /** A hand-written position-delete file (any values), not committed. */
    def positionDeleteFile(rows: Seq[(String, Long)], seq: Long): FileEntry = {
      val s = spark
      import s.implicits._
      val (path, size, n, _) = FileGenerator.writeSingleParquet(spark,
        rows.toDF("file_path", "pos"),
        Paths.get(catalog.dataDir(name), s"pos-${java.util.UUID.randomUUID}.parquet"))
      FileEntry(path, size, FileContent.PositionDeletes, n, sequenceNumber = seq)
    }
    def model(files: Seq[FileEntry] = data): Seq[ModelRow] =
      files.zipWithIndex.flatMap { case (f, i) =>
        spark.read.parquet(f.path).select(col("_metadata.row_index"), col("id"), col("k"))
          .collect().map(r => ModelRow(i, r.getLong(0), r.getLong(1), r.getLong(2)))
      }
  }

  private def rows(from: Long, until: Long): DataFrame =
    spark.range(from, until, 1, 4).select(col("id"), (col("id") % 7).as("k"),
      concat(lit("n"), col("id").cast("string")).as("name"))

  /** 200 rows in 4 data files. */
  private def fixture(formatVersion: Int = 2): Fixture = {
    val catalog = LocalCatalog(Files.createTempDirectory("mor-layout").toString)
    IceWrite.create(spark, catalog, "t", rows(0, 200), formatVersion = formatVersion)
    val f = Fixture(catalog, "t")
    assert(f.data.size == 4)
    f
  }

  /** Both plans over `group` return the same multiset of rows, `expected`
    * of them; under the gate no join carries position deletes. Returns
    * the rows. */
  private def assertPlansAgree(f: Fixture, group: FileGroup, expected: Long,
      keepHidden: Boolean = false, keepRowIds: Boolean = false): Seq[Row] = {
    val meta = f.meta
    def frame(gate: Long): DataFrame = Mor.dataFrame(spark, meta, group,
      broadcastDeleteBytesMax = gate, keepHidden = keepHidden, keepRowIds = keepRowIds)
    def multiset(df: DataFrame): Map[Row, Int] =
      df.collect().toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
    val under = frame(Long.MaxValue)
    val over = frame(0L)
    val underPlan = under.queryExecution.executedPlan.toString
    if (group.positionDeleteFiles.nonEmpty) {
      assert(underPlan.contains("dvcontains"), underPlan)
      assert(!over.queryExecution.executedPlan.toString.contains("dvcontains"))
    }
    val u = multiset(under)
    assert(u == multiset(over))
    assert(u.values.sum == expected)
    u.keys.toSeq
  }

  /** Rows of `model` that survive: not at a deleted position, no deleted key. */
  private def survivors(model: Seq[ModelRow], positions: Set[(Int, Long)] = Set.empty,
      ks: Set[Long] = Set.empty, ids: Set[Long] = Set.empty): Long =
    model.count(r => !positions((r.file, r.pos)) && !ks(r.k) && !ids(r.id)).toLong

  test("position deletes only") {
    val f = fixture()
    f.deletePositions((0, 0L), (0, 1L), (0, 2L), (1, 5L))
    assertPlansAgree(f, f.group, 196)
  }

  test("equality deletes only") {
    val f = fixture()
    f.deleteKeys("k", 3L)
    assertPlansAgree(f, f.group, survivors(f.model(), ks = Set(3L)))
  }

  test("position and equality deletes") {
    val f = fixture()
    f.deletePositions((0, 0L), (2, 7L), (3, 49L))
    f.deleteKeys("k", 3L)
    assertPlansAgree(f, f.group, survivors(f.model(),
      positions = Set((0, 0L), (2, 7L), (3, 49L)), ks = Set(3L)))
  }

  test("parquet position deletes and a deletion vector on the same data file") {
    val f = fixture()
    f.deletePositions((0, 1L), (0, 2L), (1, 3L))
    Maintenance.convertPositionDeletesToDVs(spark, f.catalog, f.name)
    f.deletePositions((0, 2L), (0, 4L))
    val g = f.group
    assert(g.positionDeleteFiles.count(_.isDeletionVector) == 2 &&
      g.positionDeleteFiles.exists(!_.isDeletionVector))
    assertPlansAgree(f, g, 196)
  }

  test("several equality-id runs") {
    val f = fixture()
    f.deleteKeys("k", 3L)
    f.deleteKeys("id", 10L, 11L, 12L)
    f.deleteKeys("k", 5L)
    assert(Mor.equalityDeleteGroups(f.group.equalityDeleteFiles).size == 3)
    assertPlansAgree(f, f.group, survivors(f.model(), ks = Set(3L, 5L), ids = Set(10L, 11L, 12L)))
  }

  test("v3 row lineage: materialized and inherited row ids") {
    val f = fixture(formatVersion = 3)
    new Compaction(f.catalog, f.name, spark, config = FullCompactionConfig(PlanningParams(
      targetFileSizeBytes = 512L * 1024 * 1024, maxOutputParallelism = 1))).compact()
    IceWrite.append(spark, f.catalog, f.name, rows(200, 250).coalesce(1))
    assert(f.data.size == 2)
    IceWrite.deleteWhere(spark, f.catalog, f.name, col("id") === 17L || col("id") === 201L)
    f.deletePositions((0, 30L), (1, 40L))
    f.deleteKeys("k", 6L)
    val model = f.model()
    val byPos = Set((0, 30L), (1, 40L))
    val out = assertPlansAgree(f, f.group, survivors(model, positions = byPos, ks = Set(6L),
      ids = Set(17L, 201L)), keepRowIds = true)
    // both plans share the lineage probe: ids must also be distinct and set
    val ids = out.map(_.getAs[Any](Mor.RowIdCol))
    assert(!ids.contains(null) && ids.distinct.size == ids.size)
    assert(!out.exists(_.isNullAt(out.head.fieldIndex(Mor.LastUpdatedSeqCol))))
  }

  test("keepHidden keeps each surviving row's path and position") {
    val f = fixture()
    f.deletePositions((1, 0L), (1, 9L))
    f.deleteKeys("id", 120L)
    assertPlansAgree(f, f.group, survivors(f.model(),
      positions = Set((1, 0L), (1, 9L)), ids = Set(120L)), keepHidden = true)
  }

  test("name-matched (add_files) inputs") {
    val f = fixture()
    val dir = Files.createTempDirectory("mor-layout-foreign").toString + "/t"
    rows(300, 340).repartition(2).write.parquet(dir)
    val foreign = scala.util.Using.resource(Files.walk(Paths.get(dir))) { w =>
      import scala.jdk.CollectionConverters._
      w.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    }
    IceWrite.addFiles(spark, f.catalog, f.name, foreign)
    val data = f.data
    assert(data.count(_.nameMatched) == 2)
    val imported = data.zipWithIndex.filter(_._1.nameMatched).map(_._2)
    f.deletePositions((imported.head, 0L), (imported.last, 3L), (0, 1L))
    f.deleteKeys("id", 305L, 10L)
    assertPlansAgree(f, f.group, survivors(f.model(),
      positions = Set((imported.head, 0L), (imported.last, 3L), (0, 1L)),
      ids = Set(305L, 10L)))
  }

  test("slowfs: spellings of data files, delete values and deletion vectors") {
    val f = fixture()
    f.deletePositions((2, 0L))
    Maintenance.convertPositionDeletesToDVs(spark, f.catalog, f.name)
    f.deleteKeys("k", 4L)
    val data = f.data
    val model = f.model(data)
    def slow(p: String) = s"slowfs://$p" // the manifest spelling slowfs:///x
    val g = f.group
    val posFile = f.positionDeleteFile(Seq(
      slow(data(0).path) -> 3L, // as the manifest spells it
      s"slowfs:${data(1).path}" -> 4L, // as Hadoop renders it
      slow(data(2).path) -> 5L), seq = f.meta.lastSequenceNumber + 1)
    val slowGroup = FileGroup(
      g.dataFiles.map(d => d.copy(path = slow(d.path))),
      g.positionDeleteFiles.map(d => d.copy(referencedDataFile = d.referencedDataFile.map(slow))) :+
        posFile,
      g.equalityDeleteFiles.map(d => d.copy(path = slow(d.path))))
    assertPlansAgree(f, slowGroup, survivors(model,
      positions = Set((0, 3L), (1, 4L), (2, 0L), (2, 5L)), ks = Set(4L)))
  }

  test("a negative position deletes nothing") {
    val f = fixture()
    val d = f.data
    val posFile = f.positionDeleteFile(Seq(d(0).path -> -1L, d(0).path -> 4L),
      seq = f.meta.lastSequenceNumber + 1)
    assertPlansAgree(f, FileGroup(d, Seq(posFile), Nil), 199)
  }

  test("delete rows naming files outside the group") {
    val f = fixture()
    f.deletePositions((0, 1L), (2, 2L), (3, 3L))
    f.deleteKeys("id", 0L, 150L)
    val g = f.group
    val inGroup = f.data.take(2)
    val model = f.model().filter(_.file < 2)
    assertPlansAgree(f, g.copy(dataFiles = g.dataFiles.filter(d => inGroup.exists(_.path == d.path))),
      survivors(model, positions = Set((0, 1L)), ids = Set(0L, 150L)))
  }
}

/** [[MorLayoutEquivalenceSpec]] with whole-stage and expression code
  * generation off. */
class MorLayoutEquivalenceInterpretedSpec extends MorLayoutEquivalenceSpec {
  override protected def sessionConf: Map[String, String] = Map(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
}
