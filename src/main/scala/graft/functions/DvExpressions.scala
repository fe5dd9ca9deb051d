package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode,
  GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.hash.Murmur3_x86_32
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

/** The equality deletes of one run of equality-delete files with the same
  * key columns: each key's largest delete sequence number. A data row is
  * deleted when its key matches and its data sequence number is strictly
  * lower (the reference's `seq <` rule,
  * core/src/executor/datafusion/datafusion_processor.rs:524-571). Keys
  * are compared as [[UnsafeRow]] bytes after [[EqualityDeletes.keyExprs]]
  * normalizes them, the way Spark's hash join compares its keys: a key
  * with a null column matches nothing, NaN equals NaN and -0.0 equals 0.0.
  * A run without key columns has one empty key, so every row whose data
  * sequence number is below the run's largest delete sequence is deleted.
  *
  * The table travels as one broadcast, so each executor decodes it once;
  * each deserialized copy of this wrapper fetches the shared value on its
  * first probe. */
final class EqualityDeletes(table: Broadcast[EqualityDeletes.KeyTable]) extends Serializable {
  @transient private lazy val keys = table.value

  /** true iff the normalized `key` names a delete newer than `dataSeq`. */
  def deleted(key: UnsafeRow, dataSeq: Long): Boolean =
    !key.anyNull && dataSeq < keys.maxSeq(key)
}

object EqualityDeletes {
  /** Key types the probe compares by their bytes, as the join would. Any
    * other key type stays on the anti join. */
  def supports(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         DateType | TimestampType | TimestampNTZType | BinaryType | _: DecimalType => true
    case st: StringType => st == StringType // collated strings compare by more than bytes
    case _ => false
  }

  /** `keys` normalized for byte comparison: floating-point NaNs and zeros
    * take one form. */
  def keyExprs(keys: Seq[Expression]): Seq[Expression] = keys.map { k =>
    k.dataType match {
      case FloatType | DoubleType => NormalizeNaNAndZero(k)
      case _ => k
    }
  }

  /** Keys larger than this in all stay on the anti join. */
  val MaxKeyBytes: Int = 1 << 30

  /** An open-addressing table of [[UnsafeRow]] keys, their bytes packed in
    * one array, each with its largest sequence number. The driver fills it
    * with [[add]] and [[trim]]s it before shipping; executors only read. */
  final class KeyTable extends Serializable {
    private var data = new Array[Byte](256)
    private var offsets = new Array[Int](17) // key k is data[offsets(k), offsets(k + 1))
    private var seqs = new Array[Long](16)
    private var slots = Array.fill(32)(-1) // key index, -1 when free
    private var n = 0

    private def sameKey(k: Int, key: UnsafeRow): Boolean =
      offsets(k + 1) - offsets(k) == key.getSizeInBytes && ByteArrayMethods.arrayEquals(
        data, Platform.BYTE_ARRAY_OFFSET + offsets(k), key.getBaseObject, key.getBaseOffset,
        key.getSizeInBytes)

    /** The slot holding `key`, or the free slot where it goes. */
    private def slotOf(key: UnsafeRow): Int = {
      val mask = slots.length - 1
      var i = key.hashCode & mask
      while (slots(i) >= 0 && !sameKey(slots(i), key)) i = (i + 1) & mask
      i
    }

    /** The largest delete sequence number of `key`; Long.MinValue when no
      * delete names it. */
    def maxSeq(key: UnsafeRow): Long = {
      val k = slots(slotOf(key))
      if (k < 0) Long.MinValue else seqs(k)
    }

    /** Adds `key` (normalized, without nulls) deleted at `seq`; false when
      * the table would pass [[MaxKeyBytes]]. */
    def add(key: UnsafeRow, seq: Long): Boolean = {
      val i = slotOf(key)
      if (slots(i) >= 0) {
        seqs(slots(i)) = math.max(seqs(slots(i)), seq)
        return true
      }
      val from = offsets(n)
      val len = key.getSizeInBytes
      if (from.toLong + len > MaxKeyBytes) return false
      if (from + len > data.length)
        data = java.util.Arrays.copyOf(data, math.min(MaxKeyBytes, math.max(data.length * 2, from + len)))
      key.writeToMemory(data, Platform.BYTE_ARRAY_OFFSET + from)
      if (n == seqs.length) {
        seqs = java.util.Arrays.copyOf(seqs, n * 2)
        offsets = java.util.Arrays.copyOf(offsets, n * 2 + 1)
      }
      seqs(n) = seq
      offsets(n + 1) = from + len
      slots(i) = n
      n += 1
      if (n * 2 > slots.length) {
        // UnsafeRow.hashCode over the stored bytes
        slots = Array.fill(slots.length * 2)(-1)
        val mask = slots.length - 1
        for (k <- 0 until n) {
          var j = Murmur3_x86_32.hashUnsafeWords(data, Platform.BYTE_ARRAY_OFFSET + offsets(k),
            offsets(k + 1) - offsets(k), 42) & mask
          while (slots(j) >= 0) j = (j + 1) & mask
          slots(j) = k
        }
      }
      true
    }

    /** Drops the unused capacity of the key arrays. */
    def trim(): KeyTable = {
      data = java.util.Arrays.copyOf(data, offsets(n))
      offsets = java.util.Arrays.copyOf(offsets, n + 1)
      seqs = java.util.Arrays.copyOf(seqs, n)
      this
    }
  }
}

/** true iff an equality delete of `deletes` removes the row: its `keys`
  * match a delete key and its `dataSeq` is lower than that key's largest
  * delete sequence number. A null `dataSeq` (a file the lookup does not
  * hold) is never deleted, as the anti join's `<` on a null never holds. */
case class EqualityDeleted(keys: Seq[Expression], dataSeq: Expression, deletes: EqualityDeletes)
    extends Expression {

  override def children: Seq[Expression] = keys :+ dataSeq
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (dataSeq.dataType == LongType && keys.forall(k => EqualityDeletes.supports(k.dataType)))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"equality_deleted expects atomic keys and a bigint sequence, got " +
        children.map(_.dataType.simpleString).mkString(", "))

  @transient private lazy val keyRow = UnsafeProjection.create(EqualityDeletes.keyExprs(keys))

  override def eval(input: InternalRow): Any = {
    val seq = dataSeq.eval(input)
    seq != null && deletes.deleted(keyRow(input), seq.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("equalityDeletes", deletes, classOf[EqualityDeletes].getName)
    val seq = dataSeq.genCode(ctx)
    val key = GenerateUnsafeProjection.createCode(ctx, EqualityDeletes.keyExprs(keys))
    ev.copy(code = code"""
      |${seq.code}
      |boolean ${ev.value} = false;
      |if (!${seq.isNull}) {
      |  ${key.code}
      |  ${ev.value} = $ref.deleted(${key.value}, ${seq.value});
      |}""".stripMargin, isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): EqualityDeleted =
    copy(keys = newChildren.init, dataSeq = newChildren.last)
}

object DvExpressions {
  /** Column form: `dv_contains(file, pos)` against `lookup`'s bitmaps. */
  def dvContains(file: Column, pos: Column, lookup: FileLookup): Column =
    ColumnBridge.column(DvContains(
      ColumnBridge.expression(file), ColumnBridge.expression(pos), lookup))

  /** Column form of [[FileConstant]]: `field` of the file `file` names. */
  def fileConstant(file: Column, lookup: FileLookup, field: FileLookup.Field): Column =
    ColumnBridge.column(FileConstant(ColumnBridge.expression(file), lookup, field))

  /** Column form of [[EqualityDeleted]]. */
  def equalityDeleted(keys: Seq[Column], dataSeq: Column, deletes: EqualityDeletes): Column =
    ColumnBridge.column(EqualityDeleted(keys.map(ColumnBridge.expression),
      ColumnBridge.expression(dataSeq), deletes))
}
