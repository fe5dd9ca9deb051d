package graft.compaction

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.meta.{FileEntry, TableMetadata}
import graft.selection.FileGroup
import graft.exec.{GraftScan, Mor}

/** Compaction validation: the row count of the MOR query over a plan's
  * inputs must equal the row count of a plain scan of its outputs
  * (core/src/compaction/validator.rs:37-177). Counts, not hashes — same
  * contract as the reference. [[Compaction]] takes both counts while it
  * rewrites (each plan's worker counts its own input and output) and
  * compares them after the commit; [[validate]] is the same check as one
  * call. */
object Validator {
  final case class ValidationFailure(inputRows: Long, outputRows: Long)
      extends RuntimeException(
        s"compaction validation failed: input MOR rows $inputRows != output rows $outputRows")

  /** One plan's two counts; [[check]] throws on a mismatch. */
  final case class RowCounts(inputRows: Long, outputRows: Long) {
    def check(): Unit = if (inputRows != outputRows) throw ValidationFailure(inputRows, outputRows)
  }

  def validate(
      spark: SparkSession,
      inputGroup: FileGroup,
      outputFiles: Seq[FileEntry],
      table: TableMetadata
  ): Unit =
    RowCounts(inputRows(spark, inputGroup, table), outputRows(spark, outputFiles)).check()

  /** Rows the MOR query over `inputGroup` yields. metadataAggregates=false:
    * the count must come from an actual scan — answering it from manifest
    * recordCounts would compare recorded statistics against output counts
    * instead of independently re-reading the data, which is the invariant
    * this validator exists to enforce. */
  def inputRows(spark: SparkSession, inputGroup: FileGroup, table: TableMetadata): Long =
    Mor.dataFrame(spark, table, inputGroup, metadataAggregates = false).count()

  /** Rows in `outputFiles`, from a scan of the files themselves (never
    * their manifest record counts). A count reads no column, so the scan
    * is declared with an empty schema: no footer-inference job runs
    * first, and the file list comes from the entries, not a listing. */
  def outputRows(spark: SparkSession, outputFiles: Seq[FileEntry]): Long =
    if (outputFiles.isEmpty) 0L
    else GraftScan.relation(spark, outputFiles, new StructType(),
      metadataAggregates = false).count()

  final case class ContentValidationFailure(missingFromOutput: Long, extraInOutput: Long)
      extends RuntimeException(
        s"compaction content validation failed: $missingFromOutput rows missing from output, " +
          s"$extraInOutput unexpected rows in output")

  /** Stronger, opt-in check than the reference's count contract: the
    * output must be the exact multiset of the input MOR rows (two anti
    * joins — it shuffles both sides once, so it costs a comparison join,
    * not a full rewrite; run it on suspicion, not on every commit). */
  def validateContent(
      spark: SparkSession,
      inputGroup: FileGroup,
      outputFiles: Seq[FileEntry],
      table: TableMetadata
  ): Unit = {
    val input = Mor.dataFrame(spark, table, inputGroup)
    val output =
      if (outputFiles.isEmpty) input.limit(0)
      else Mor.readDataWith(spark, table, outputFiles)(_.select(table.schemaColumns.map(col): _*))
    val missing = input.exceptAll(output).count()
    val extra = output.exceptAll(input).count()
    if (missing != 0L || extra != 0L) throw ContentValidationFailure(missing, extra)
  }
}
