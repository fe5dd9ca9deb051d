package graft.testkit

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta._
import graft.exec.SparkExecutor

/** Test fixture generator, the Scala analogue of the reference's
  * FileGenerator (integration-tests/src/test_utils/generator.rs:113-601):
  * fragments a source DataFrame into N small data files and emits position-
  * and equality-delete files against them, then registers everything as one
  * committed snapshot in the catalog.
  *
  * Delete-rate semantics mirror generator.rs:526-566: every
  * `rows/deleteRows`-th row of a file gets a tombstone. Data files commit at
  * sequence number 1, delete files at 2 (so equality deletes, which require
  * deleteSeq > dataSeq, apply to all data files).
  */
object FileGenerator {

  // The fixture's single-file writers below deliberately use GLOBAL windows
  // (deterministic whole-file row order is the point, files are tiny);
  // silence that one warning logger so fixture-heavy logs keep their signal
  graft.util.SparkLogs.quietGlobalWindowWarning()

  final case class Config(
      dataFileCount: Int = 5,
      eqDeleteRowsPerFile: Int = 0,
      posDeleteRowsPerFile: Int = 0,
      equalityIds: Seq[String] = Nil,
      orderCol: String = "",
      partitionSpec: Seq[PartitionField] = Nil,
      /** with a partition spec: data files per partition value. */
      filesPerPartition: Int = 2,
      sortOrder: Seq[SortField] = Nil,
      formatVersion: Int = 2
  )

  /** Writes one parquet file (coalesce(1) + rename); returns
    * (path, size, rows, footer info incl. zone maps + null counts). */
  def writeSingleParquet(
      spark: SparkSession, df: DataFrame, target: Path): (String, Long, Long, SparkExecutor.FooterInfo) = {
    val tmp = Files.createTempDirectory(target.getParent, ".gen")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = scala.util.Using.resource(Files.walk(tmp))(
      _.iterator().asScala.find(p => p.getFileName.toString.endsWith(".parquet")).get)
    Files.createDirectories(target.getParent)
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    scala.util.Using.resource(Files.walk(tmp))(
      _.iterator().asScala.toSeq).reverse.foreach(Files.deleteIfExists(_))
    val fi =
      SparkExecutor.parquetFooterInfo(spark.sessionState.newHadoopConf(), target.toString)
    (target.toString, Files.size(target), fi.rows, fi)
  }

  /** Fragments `source` into data files + delete files and commits snapshot 1. */
  def writeTable(
      spark: SparkSession,
      catalog: Catalog,
      tableName: String,
      source: DataFrame,
      cfg: Config
  ): TableMetadata = {
    val orderCol = if (cfg.orderCol.nonEmpty) cfg.orderCol else source.columns.head
    // drop BEFORE writing: dropTable deletes the whole table directory, so
    // dropping after the writes below would delete the files the new
    // manifest is about to reference
    if (catalog.tableExists(tableName)) catalog.dropTable(tableName)
    // the generator stages its fixture files with local java.nio plumbing
    // (tests only); the catalog hands back a MetaIO path string
    val dataDir = Paths.get(catalog.dataDir(tableName))
    Files.createDirectories(dataDir)

    var entries = Vector.empty[FileEntry]
    var posDeleteRows = Vector.empty[(String, Long)]
    var eqDeleteKeys: DataFrame = null

    /** writes `slices` of `df` as data files tagged with `partVals`. */
    def writeSlices(df: DataFrame, nFiles: Int, partVals: Map[String, String], tag: String): Unit = {
      val total = df.count()
      val per = math.max(1L, (total + nFiles - 1) / nFiles)
      // global (unpartitioned) window: intentional HERE ONLY — a test
      // fixture writing one small file whose deterministic row order IS
      // the point; never use this shape in a query path (the WindowExec
      // warning it would spam is silenced for the testkit, see object init)
      val w = org.apache.spark.sql.expressions.Window.orderBy(col(orderCol))
      val indexed = df.withColumn("__rn", row_number().over(w) - 1)
      for (i <- 0 until nFiles) {
        val lo = i * per
        val hi = math.min(total, (i + 1) * per)
        if (lo < hi) {
          val slice = indexed.filter(col("__rn") >= lo && col("__rn") < hi)
            .orderBy(col("__rn")).drop("__rn")
          val target = dataDir.resolve(f"data-$tag-$i%05d.parquet")
          val (p, size, rows, fi) = writeSingleParquet(spark, slice, target)
          entries :+= FileEntry(p, size, FileContent.Data, rows,
            sequenceNumber = 1L, partitionValues = partVals,
            columnStats = fi.stats, nullCounts = fi.nullCounts)

          if (cfg.posDeleteRowsPerFile > 0 && rows > 0) {
            val step = math.max(1L, rows / cfg.posDeleteRowsPerFile)
            val positions = (0L until rows by step).take(cfg.posDeleteRowsPerFile)
            posDeleteRows ++= positions.map(pos => (p, pos))
          }
          if (cfg.eqDeleteRowsPerFile > 0 && cfg.equalityIds.nonEmpty && rows > 0) {
            val step = math.max(1L, rows / cfg.eqDeleteRowsPerFile)
            val keys = slice.withColumn("__i", row_number().over(
                org.apache.spark.sql.expressions.Window.orderBy(col(orderCol))) - 1)
              .filter(col("__i") % step === 0 && col("__i") < step * cfg.eqDeleteRowsPerFile)
              .select(cfg.equalityIds.map(col): _*)
            eqDeleteKeys = if (eqDeleteKeys == null) keys else eqDeleteKeys.unionAll(keys)
          }
        }
      }
    }

    if (cfg.partitionSpec.isEmpty) {
      writeSlices(source, cfg.dataFileCount, Map.empty, "t")
    } else {
      // fragment per partition tuple (identity value or bucket id, matching
      // SparkExecutor.partitionExpr), filesPerPartition files each
      val partExprs = cfg.partitionSpec.map { p =>
        SparkExecutor.partitionExpr(p).cast("string").as(s"__pv_${p.column}")
      }
      val tagged = source.select(col("*") +: partExprs: _*)
      val tuples = tagged.select(cfg.partitionSpec.map(p => col(s"__pv_${p.column}")): _*)
        .distinct().collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString(","))
      for ((tuple, ti) <- tuples.zipWithIndex) {
        val cond = cfg.partitionSpec.zip(tuple)
          .map { case (p, v) => col(s"__pv_${p.column}") === v }.reduce(_ && _)
        val partVals = cfg.partitionSpec.zip(tuple).map { case (p, v) => p.column -> v }.toMap
        val slice = tagged.filter(cond).drop(cfg.partitionSpec.map(p => s"__pv_${p.column}"): _*)
        writeSlices(slice, cfg.filesPerPartition, partVals, f"p$ti%03d")
      }
    }

    if (posDeleteRows.nonEmpty) {
      import spark.implicits._
      val target = dataDir.resolve("pos-delete-00000.parquet")
      val df = graft.meta.IceWrite.withPosDeleteFieldIds(
        posDeleteRows.toDF("file_path", "pos"))
      val (p, size, rows, _) = writeSingleParquet(spark, df, target)
      entries :+= FileEntry(p, size, FileContent.PositionDeletes, rows, sequenceNumber = 2L)
    }
    if (eqDeleteKeys != null) {
      val target = dataDir.resolve("eq-delete-00000.parquet")
      val (p, size, rows, _) = writeSingleParquet(spark, eqDeleteKeys, target)
      entries :+= FileEntry(p, size, FileContent.EqualityDeletes, rows,
        sequenceNumber = 2L, equalityIds = cfg.equalityIds)
    }

    catalog.createTable(TableMetadata(
      name = tableName,
      location = catalog.tableLocation(tableName).toString,
      formatVersion = cfg.formatVersion,
      // untyped (name-addressed) schema: generator files are written from
      // plain DataFrames without field-id footers, so reads must stay
      // name-matched; the typed path is exercised through IceWrite
      schema = SchemaField.fromNames(source.columns.toSeq),
      partitionSpec = cfg.partitionSpec,
      sortOrder = cfg.sortOrder)
      .withSnapshot(None, entries, "append", 2L))
  }
}
