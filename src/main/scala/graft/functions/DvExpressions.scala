package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.meta.Puffin

/** Per-data-file facts of one merge-on-read scan, probed with the scan's
  * raw `_metadata.file_path`: the data sequence number, the v3
  * `first_row_id`, and the position bitmap of the rows deleted in that
  * file (parquet position deletes and deletion vectors, already unioned).
  * It replaces the file-path joins of the reference's MOR SQL
  * (core/src/executor/datafusion/datafusion_processor.rs:489-571).
  *
  * Rows of one file arrive together, so the probe resolves a path once per
  * file change: it keeps the last raw path and its entry, and only on a new
  * path applies [[graft.exec.Mor.normalizePath]]'s rule and the hash lookup.
  * Bitmaps travel as their portable serialization and are decoded once per
  * deserialized copy. Spark deserializes a fresh copy for each task, so the
  * cache is never shared between threads; a cached hit is immutable, so
  * even a shared copy would read a consistent entry.
  */
final class FileLookup(entries: Seq[FileLookup.Entry]) extends Serializable {
  private val paths: Array[String] = entries.map(_.path).toArray
  private val seqs: Array[Long] = entries.map(_.seq).toArray
  private val firstRowIds: Array[Long] =
    entries.map(_.firstRowId.getOrElse(FileLookup.Absent)).toArray
  private val bitmapBytes: Array[Array[Byte]] =
    entries.map(_.bitmap.map(_.serializePortable).orNull).toArray

  @transient private lazy val indexOf: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](paths.length * 2)
    paths.indices.foreach(i => m.put(paths(i), i))
    m
  }
  @transient private var last: FileLookup.Hit = _

  private def hit(file: UTF8String): FileLookup.Hit = {
    val h = last
    if (h != null && h.raw == file) h
    else {
      val i = indexOf.get(graft.exec.Mor.normalizePath(file.toString))
      val next =
        if (i == null) new FileLookup.Hit(file.copy(), -1, null)
        else new FileLookup.Hit(file.copy(), i,
          Option(bitmapBytes(i)).map(Puffin.PositionBitmap.deserializePortable).orNull)
      last = next
      next
    }
  }

  /** true iff `pos` of `file` is deleted; false for files without deletes. */
  def contains(file: UTF8String, pos: Long): Boolean = {
    val b = hit(file).bitmap
    b != null && b.contains(pos)
  }
  /** The file's data sequence number, [[FileLookup.Absent]] when unknown. */
  def seq(file: UTF8String): Long = {
    val i = hit(file).index
    if (i < 0) FileLookup.Absent else seqs(i)
  }
  /** The file's v3 first row id, [[FileLookup.Absent]] when unassigned. */
  def firstRowId(file: UTF8String): Long = {
    val i = hit(file).index
    if (i < 0) FileLookup.Absent else firstRowIds(i)
  }
}

object FileLookup {
  /** One data file: its path in canonical rendered form
    * ([[graft.exec.Mor.canonicalManifestPath]]). */
  final case class Entry(path: String, seq: Long, firstRowId: Option[Long],
      bitmap: Option[Puffin.PositionBitmap])

  /** The null marker of [[FileLookup.seq]] and [[FileLookup.firstRowId]]:
    * both are non-negative when present. */
  val Absent: Long = Long.MinValue

  private final class Hit(val raw: UTF8String, val index: Int,
      val bitmap: Puffin.PositionBitmap)

  /** The per-file long a [[FileConstant]] reads: the name of its method. */
  sealed abstract class Field(val method: String)
  case object DataSeq extends Field("seq")
  case object FirstRowId extends Field("firstRowId")
}

/** true iff the position bitmap for `file` marks `pos` deleted; false for
  * files without one. Null inputs yield null (cannot happen on the MOR
  * path — `_metadata` columns are non-null — but keeps the expression
  * honest standalone). */
case class DvContains(left: Expression, right: Expression, lookup: FileLookup)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == StringType && right.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dv_contains expects (string, bigint), got ${left.dataType} / ${right.dataType}")

  override def nullSafeEval(file: Any, pos: Any): Any =
    lookup.contains(file.asInstanceOf[UTF8String], pos.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fileLookup", lookup, classOf[FileLookup].getName)
    nullSafeCodeGen(ctx, ev, (file, pos) => s"${ev.value} = $ref.contains($file, $pos);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DvContains =
    copy(left = newLeft, right = newRight)
}

/** A per-file constant of the file named by `child`; null when the lookup
  * does not hold it. */
case class FileConstant(child: Expression, lookup: FileLookup, field: FileLookup.Field)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"file_constant expects a string path, got ${child.dataType}")

  override def nullSafeEval(file: Any): Any = {
    val f = file.asInstanceOf[UTF8String]
    val v = field match {
      case FileLookup.DataSeq => lookup.seq(f)
      case FileLookup.FirstRowId => lookup.firstRowId(f)
    }
    if (v == FileLookup.Absent) null else v
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fileLookup", lookup, classOf[FileLookup].getName)
    nullSafeCodeGen(ctx, ev, file =>
      s"""${ev.value} = $ref.${field.method}($file);
         |${ev.isNull} = ${ev.value} == java.lang.Long.MIN_VALUE;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): FileConstant =
    copy(child = newChild)
}

object DvExpressions {
  /** Column form: `dv_contains(file, pos)` against `lookup`'s bitmaps. */
  def dvContains(file: Column, pos: Column, lookup: FileLookup): Column =
    ColumnBridge.column(DvContains(
      ColumnBridge.expression(file), ColumnBridge.expression(pos), lookup))

  /** Column form of [[FileConstant]]: `field` of the file `file` names. */
  def fileConstant(file: Column, lookup: FileLookup, field: FileLookup.Field): Column =
    ColumnBridge.column(FileConstant(ColumnBridge.expression(file), lookup, field))
}
