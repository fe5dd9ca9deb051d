package graft.meta

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.CRC32

import org.roaringbitmap.RoaringBitmap

/** Puffin statistics/deletion files + Iceberg v3 deletion-vector blobs.
  *
  * The reference engine predates format v3 and rewrites position deletes
  * as parquet files only (core/src/executor/datafusion/datafusion_processor.rs:489-522
  * consumes them via anti joins); this module adds the v3 path on top:
  * one compressed bitmap per data file, stored in a Puffin container, so
  * a reader applies deletes with a bitmap probe instead of a join.
  *
  * Both layouts below are the published Apache Iceberg Puffin spec
  * (puffin-spec: "Puffin file format" + blob type `deletion-vector-v1`),
  * re-implemented from the spec text:
  *
  * Container:
  * {{{
  *   Magic "PFA1" | blob bytes... | Magic | footer JSON (uncompressed)
  *     | footer-size (4B LE) | flags (4B, all zero) | Magic
  * }}}
  *
  * `deletion-vector-v1` blob payload (Delta-compatible DV layout):
  * {{{
  *   length (4B BE, = len(magic + bitmap)) | magic D1 D3 39 64
  *     | portable 64-bit roaring bitmap | crc32(magic + bitmap) (4B BE)
  * }}}
  *
  * The bitmap is the "portable" 64-bit roaring serialization: a u64 LE
  * bucket count, then per ascending high-32-bit key a u32 LE key followed
  * by the standard portable 32-bit roaring bitmap of the low 32 bits.
  * Positions are non-negative row indexes, so the high key is their
  * upper half and buckets stay dense/small.
  */
object Puffin {

  val ContainerMagic: Array[Byte] = Array(0x50, 0x46, 0x41, 0x31).map(_.toByte) // "PFA1"
  val DvMagic: Array[Byte] = Array(0xD1, 0xD3, 0x39, 0x64).map(_.toByte)
  val DvBlobType = "deletion-vector-v1"

  /** A position bitmap: 32-bit roaring buckets keyed by the high 32 bits —
    * the exact shape the portable 64-bit serialization stores, and the
    * shape Iceberg's own reader implementations use. */
  final class PositionBitmap private (
      private val buckets: java.util.TreeMap[Integer, RoaringBitmap]) {

    def add(pos: Long): Unit = {
      require(pos >= 0, s"negative position $pos")
      val hi = (pos >>> 32).toInt
      val lo = pos.toInt // low 32 bits, as unsigned int inside roaring
      var b = buckets.get(hi)
      if (b == null) { b = new RoaringBitmap(); buckets.put(hi, b) }
      b.add(lo)
    }

    /** Adds every position of `other`. */
    def addAll(other: PositionBitmap): Unit =
      other.buckets.forEach { (hi, rb) =>
        val b = buckets.get(hi)
        if (b == null) buckets.put(hi, rb.clone()) else b.or(rb)
      }

    def contains(pos: Long): Boolean = {
      if (pos < 0) return false
      val b = buckets.get((pos >>> 32).toInt)
      b != null && b.contains(pos.toInt)
    }

    def cardinality: Long = {
      var n = 0L
      buckets.values.forEach(b => n += b.getLongCardinality)
      n
    }

    def positions: Iterator[Long] = {
      import scala.jdk.CollectionConverters._
      buckets.entrySet.asScala.iterator.flatMap { e =>
        val hi = e.getKey.toLong << 32
        val it = e.getValue.iterator() // ascending unsigned order
        new Iterator[Long] {
          def hasNext: Boolean = it.hasNext
          def next(): Long = hi | (it.next().toLong & 0xFFFFFFFFL)
        }
      }
    }

    /** Portable 64-bit roaring serialization (spec layout above). */
    def serializePortable: Array[Byte] = {
      var size = 8L
      buckets.values.forEach(b => { b.runOptimize(); size += 4L + b.serializedSizeInBytes() })
      require(size <= Int.MaxValue, s"bitmap serialization too large: $size")
      val buf = ByteBuffer.allocate(size.toInt).order(ByteOrder.LITTLE_ENDIAN)
      buf.putLong(buckets.size.toLong)
      buckets.entrySet.forEach { e =>
        buf.putInt(e.getKey)
        e.getValue.serialize(buf)
      }
      buf.array()
    }
  }

  object PositionBitmap {
    def empty: PositionBitmap = new PositionBitmap(new java.util.TreeMap())

    def of(positions: IterableOnce[Long]): PositionBitmap = {
      val b = empty
      positions.iterator.foreach(b.add)
      b
    }

    def deserializePortable(bytes: Array[Byte]): PositionBitmap = {
      val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      val nBuckets = buf.getLong
      require(nBuckets >= 0 && nBuckets <= Int.MaxValue, s"bad bucket count $nBuckets")
      val m = new java.util.TreeMap[Integer, RoaringBitmap]()
      var i = 0L
      while (i < nBuckets) {
        val hi = buf.getInt
        val rb = new RoaringBitmap()
        // RoaringBitmap.deserialize(ByteBuffer) reads the portable format
        // and leaves the buffer position untouched — advance it manually.
        val slice = buf.slice().order(ByteOrder.LITTLE_ENDIAN)
        rb.deserialize(slice)
        buf.position(buf.position() + rb.serializedSizeInBytes())
        m.put(hi, rb)
        i += 1
      }
      new PositionBitmap(m)
    }
  }

  /** Encodes one `deletion-vector-v1` blob payload. */
  def encodeDvBlob(bitmap: PositionBitmap): Array[Byte] = {
    val vec = bitmap.serializePortable
    val crc = new CRC32()
    crc.update(DvMagic)
    crc.update(vec)
    val out = ByteBuffer.allocate(4 + 4 + vec.length + 4).order(ByteOrder.BIG_ENDIAN)
    out.putInt(4 + vec.length) // length of magic + vector
    out.put(DvMagic)
    out.put(vec)
    out.putInt(crc.getValue.toInt)
    out.array()
  }

  /** Decodes a `deletion-vector-v1` blob payload, verifying magic and CRC. */
  def decodeDvBlob(bytes: Array[Byte]): PositionBitmap = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    val len = buf.getInt
    require(len == bytes.length - 8,
      s"DV blob length mismatch: header says $len, payload has ${bytes.length - 8}")
    val magic = new Array[Byte](4)
    buf.get(magic)
    require(java.util.Arrays.equals(magic, DvMagic),
      s"bad DV magic: ${magic.map(b => f"${b & 0xFF}%02x").mkString}")
    val vec = new Array[Byte](len - 4)
    buf.get(vec)
    val stored = buf.getInt
    val crc = new CRC32()
    crc.update(DvMagic)
    crc.update(vec)
    require(stored == crc.getValue.toInt,
      f"DV blob CRC mismatch: stored ${stored}%08x, computed ${crc.getValue.toInt}%08x")
    PositionBitmap.deserializePortable(vec)
  }

  /** One blob scheduled for writing. `properties` lands in the footer. */
  final case class Blob(
      blobType: String,
      payload: Array[Byte],
      snapshotId: Long,
      sequenceNumber: Long,
      fields: Seq[Int] = Nil,
      properties: Map[String, String] = Map.empty)

  /** Footer record for a written blob: where it sits in the file. */
  final case class BlobMeta(
      blobType: String,
      offset: Long,
      length: Long,
      snapshotId: Long,
      sequenceNumber: Long,
      fields: Seq[Int],
      properties: Map[String, String])

  /** Writes a Puffin file; returns the footer records (offset/length per
    * blob) in input order. */
  def write(path: String, blobs: Seq[Blob]): Seq[BlobMeta] =
    writeWithSizes(path, blobs)._1

  /** [[write]] plus (file size, footer size) — Iceberg's `statistics`
    * metadata entries record both so readers can fetch the footer in one
    * ranged read. Footer size = magic + payload + size/flags + magic. */
  def writeWithSizes(path: String, blobs: Seq[Blob]): (Seq[BlobMeta], Long, Long) = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.write(ContainerMagic)
    val metas = blobs.map { b =>
      val off = bos.size().toLong
      out.write(b.payload)
      BlobMeta(b.blobType, off, b.payload.length.toLong, b.snapshotId,
        b.sequenceNumber, b.fields, b.properties)
    }
    out.write(ContainerMagic) // footer start
    val footer = footerJson(metas).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    out.write(footer)
    val tail = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    tail.putInt(footer.length)
    tail.putInt(0) // flags: footer uncompressed
    out.write(tail.array())
    out.write(ContainerMagic)
    out.flush()
    val bytes = bos.toByteArray
    MetaIO.write(path, bytes)
    (metas, bytes.length.toLong, (footer.length + 16).toLong)
  }

  private def footerJson(metas: Seq[BlobMeta]): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val blobs = metas.map { m =>
      ("type" -> m.blobType) ~
        ("fields" -> m.fields) ~
        ("snapshot-id" -> m.snapshotId) ~
        ("sequence-number" -> m.sequenceNumber) ~
        ("offset" -> m.offset) ~
        ("length" -> m.length) ~
        ("properties" -> m.properties)
    }
    JsonMethods.compact(JsonMethods.render(
      ("blobs" -> blobs) ~ ("properties" -> Map.empty[String, String])))
  }

  /** Reads the footer of a Puffin file back into blob records. */
  def readFooter(path: String): Seq[BlobMeta] = {
    val all = MetaIO.readBytes(path)
    require(all.length >= 20, s"not a Puffin file (too short): $path")
    def magicAt(off: Int): Boolean =
      java.util.Arrays.equals(java.util.Arrays.copyOfRange(all, off, off + 4), ContainerMagic)
    require(magicAt(0), s"bad Puffin head magic: $path")
    require(magicAt(all.length - 4), s"bad Puffin tail magic: $path")
    val tail = ByteBuffer.wrap(all, all.length - 12, 8).order(ByteOrder.LITTLE_ENDIAN)
    val footerSize = tail.getInt
    val flags = tail.getInt
    require((flags & 1) == 0, s"compressed Puffin footers not supported: $path")
    val footerStart = all.length - 12 - footerSize
    require(footerStart >= 8 && magicAt(footerStart - 4), s"bad Puffin footer framing: $path")
    val json = new String(all, footerStart, footerSize, java.nio.charset.StandardCharsets.UTF_8)
    parseFooter(json)
  }

  private def parseFooter(json: String): Seq[BlobMeta] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val j = JsonMethods.parse(json)
    def lng(v: JValue): Long = v match {
      case JInt(x) => x.toLong; case JLong(x) => x
      case _ => sys.error(s"expected number, got $v")
    }
    (j \ "blobs") match {
      case JArray(xs) => xs.map { b =>
        BlobMeta(
          blobType = (b \ "type") match { case JString(s) => s; case v => sys.error(s"bad type $v") },
          offset = lng(b \ "offset"),
          length = lng(b \ "length"),
          snapshotId = lng(b \ "snapshot-id"),
          sequenceNumber = lng(b \ "sequence-number"),
          fields = (b \ "fields") match {
            case JArray(fs) => fs.map(f => lng(f).toInt); case _ => Nil
          },
          properties = (b \ "properties") match {
            case JObject(ps) => ps.collect { case (k, JString(v)) => k -> v }.toMap
            case _ => Map.empty
          })
      }
      case _ => Nil
    }
  }

  /** Reads one blob's payload by footer coordinates — a positioned range
    * read through the [[MetaIO]] seam (a ranged GET on object stores). */
  def readBlob(path: String, offset: Long, length: Long): Array[Byte] =
    MetaIO.readRange(path, offset, length)
}
