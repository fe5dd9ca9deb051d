package graft.exec

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.meta._
import graft.selection.FileGroup
import graft.testkit.FileGenerator

/** Position-delete files are read with the spec schema, not one inferred
  * from the first file's footer, and a delete row without a value fails
  * the read instead of silently matching nothing. */
class PositionDeleteReadSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  test("a position-delete file without `pos` fails the MOR read") {
    import spark.implicits._
    val catalog = LocalCatalog(Files.createTempDirectory("graft-posdel").toString)
    val meta = IceWrite.create(spark, catalog, "t", spark.range(0, 100, 1, 2).toDF("id"))
    val data = meta.currentSnapshot.get.manifest
    assert(data.size == 2)
    // delete files as a foreign writer may leave them: a nullable `pos`
    // in the first, none at all in the second (which names the other
    // data file). A schema inferred from the first footer reads the
    // second's `pos` as null, and its deletes match nothing.
    def deleteFile(df: org.apache.spark.sql.DataFrame, name: String): FileEntry = {
      val (path, size, rows, _) = FileGenerator.writeSingleParquet(spark, df,
        Paths.get(catalog.dataDir("t"), name))
      FileEntry(path, size, FileContent.PositionDeletes, rows, sequenceNumber = 2L)
    }
    val good = deleteFile(Seq((data.head.path, Option(0L))).toDF("file_path", "pos"),
      "pos-delete-a.parquet")
    val bad = deleteFile(Seq(data(1).path).toDF("file_path"), "pos-delete-b.parquet")
    val group = FileGroup(data, Seq(good, bad), Nil)

    def morRows(g: FileGroup): Long =
      Mor.dataFrame(spark, meta, g).count()
    assert(morRows(FileGroup(data, Seq(good), Nil)) == 99)
    val e = intercept[Exception](morRows(group))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("position-delete file has no `pos` value")),
      e.toString)
  }
}
