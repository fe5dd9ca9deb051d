package graft.exec

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SourceScan, SparkTestBase}
import graft.compaction.{Compaction, Maintenance, RowRewrite}
import graft.meta.{FileEntry, IceRead, IceWrite, LocalCatalog}
import graft.selection.FullCompactionConfig

/** [[SparkExecutor.writeTableFiles]] is the engine's one table writer:
  * every operation that adds files to a table writes them with the
  * table's `write.parquet.*` properties, and no engine code calls the raw
  * sink around it. */
class TableWriterSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def rows(from: Long, until: Long, tag: String): DataFrame =
    spark.range(from, until, 1, 2).select(col("id"), concat(lit(tag), col("id")).as("v"))

  /** Distinct parquet codecs across every column chunk of `f`. */
  private def codecs(f: FileEntry): Set[String] = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.path), spark.sessionState.newHadoopConf())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala).map(_.getCodec.toString).toSet
    finally r.close()
  }

  test("every writer honors the table's write.parquet.compression-codec") {
    val catalog = LocalCatalog(Files.createTempDirectory("graft-writer").toString)
    val t = "t_snappy"
    // two data files (ids 0-49, 50-99) in a typed table
    IceWrite.create(spark, catalog, t, rows(0, 100, "v"),
      extraProperties = Map(ParquetWriteConfig.CompressionKey -> "snappy"))
    // each operation touches rows the earlier ones left alone, so each
    // one adds files: the upsert's and merge's equality deletes stay live
    // for the conversion, and the position deletes stay live for the merge
    val ops: Seq[(String, () => Any)] = Seq(
      "append" -> (() => IceWrite.append(spark, catalog, t, rows(100, 150, "v"))),
      "upsert" -> (() => IceWrite.upsert(spark, catalog, t, rows(0, 10, "up"), Seq("id"))),
      "merge" -> (() => IceWrite.merge(spark, catalog, t, rows(10, 20, "merge"), Seq("id"))),
      "RowRewrite.updateWhere" -> (() => RowRewrite.updateWhere(spark, catalog, t,
        col("id") >= 100 && col("id") < 110, Map("v" -> lit("cow")))),
      "RowRewrite.purgeWhere" -> (() => RowRewrite.purgeWhere(spark, catalog, t, col("id") === 120)),
      "IceWrite.updateWhere" -> (() => IceWrite.updateWhere(spark, catalog, t,
        Map("v" -> lit("mor")), col("id") === 60)),
      "deleteWhere" -> (() => IceWrite.deleteWhere(spark, catalog, t, col("id") === 70)),
      "rewritePositionDeletes" -> (() => Maintenance.rewritePositionDeletes(spark, catalog, t)),
      "convertEqualityDeletes" -> (() => Maintenance.convertEqualityDeletes(spark, catalog, t)),
      "compact" -> (() => new Compaction(catalog, t, spark,
        config = FullCompactionConfig()).compact()))

    def manifest: Seq[FileEntry] = catalog.loadTable(t).currentSnapshot.get.manifest
    val offenders = ops.flatMap { case (op, run) =>
      val before = manifest.map(_.resolutionKey).toSet
      run()
      val added = manifest.filterNot(f => before.contains(f.resolutionKey))
      assert(added.nonEmpty, s"$op added no file: the codec check would be vacuous")
      added.map(f => f -> codecs(f)).collect {
        case (f, c) if c != Set("SNAPPY") => s"$op: ${f.content} file ${f.path} is $c"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // 150 rows, less the purged 120 and the deleted 70
    assert(IceRead.table(spark, catalog, t).count() == 148)
  }

  test("in src/main only SparkExecutor calls the raw writeDataFiles sink") {
    val offenders = SourceScan.offenders(SourceScan.Main) { (file, lines, i) =>
      lines(i).contains("writeDataFiles(") && file.getFileName.toString != "SparkExecutor.scala"
    }
    assert(offenders.isEmpty,
      "write through SparkExecutor.writeTableFiles, which derives the directory, " +
        s"field ids, layout and parquet settings from the table:\n${offenders.mkString("\n")}")
  }

  test("only IceWrite stamps parquet field ids onto a frame being written") {
    // Model.scala and Mor.scala build id-bearing READ schemas
    val mayBuild = Set("IceWrite.scala", "Model.scala", "Mor.scala")
    val offenders = SourceScan.offenders(SourceScan.Main) { (file, lines, i) =>
      lines(i).contains("ParquetFieldIdKey") && lines(i).contains("putLong") &&
        !mayBuild(file.getFileName.toString)
    }
    assert(offenders.isEmpty,
      "stamp ids with IceWrite.withFieldIds / withPosDeleteFieldIds:\n" + offenders.mkString("\n"))
  }
}
