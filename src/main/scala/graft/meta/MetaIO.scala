package graft.meta

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** The storage seam for ALL metadata-layer I/O: every byte the catalog,
  * manifest, Puffin, statistics, and maintenance code reads or writes goes
  * through the Hadoop `FileSystem` API, so pointing the warehouse at
  * `hdfs://...` or `s3a://...` is a configuration change, not a refactor —
  * the same seam the reference reaches through `iceberg::io::FileIO`
  * (core/src/compaction/mod.rs:736-744) to run against MinIO/S3
  * (integration-tests/testdata/docker-compose.yaml:31-33).
  *
  * Resolution: each path resolves its own FileSystem from the active
  * SparkSession's Hadoop configuration. On executors there is no session,
  * so executor-side callers (the Puffin container writers) ship the
  * driver's conf via [[serializableConf]] and install it with
  * [[installExecutorConf]] at the top of their partition functions —
  * `spark.hadoop.*` credentials/endpoints survive the hop instead of
  * degrading to core-site.xml defaults. Paths are plain strings
  * throughout; schemeless strings mean the default FS (`file:///`
  * locally).
  *
  * Commit atomicity: [[createExclusive]] is the CAS primitive —
  * create-with-no-overwrite, serialized through a JVM-wide per-path lock.
  * On HDFS the namenode makes the no-overwrite create atomic across
  * processes; on the local FS Hadoop's implementation is check-then-create,
  * so the JVM lock carries same-driver races (the single-writer reality of
  * a LocalCatalog) and MULTI-process local warehouses are out of contract.
  * On S3A a create is not exclusive at all — object stores need a catalog
  * that CASes server-side ([[RestCatalog]] here; Iceberg's REST/Hive
  * catalogs in the wild), which is exactly how the reference deploys.
  * This contract is EXERCISED, not just documented: ObjectStoreContractSpec
  * drives a mock S3-semantics filesystem ([[graft.testkit.MockS3FileSystem]])
  * through the lost-update demonstration, [[LocalCatalog]]'s refusal
  * (via [[isObjectStore]]), and a concurrent RestCatalog commit race
  * with every table byte on the mock store.
  */
object MetaIO {

  /** Serializable carrier for a Hadoop `Configuration` (which itself is
    * not `Serializable`): ship the driver's `spark.hadoop.*`-derived conf
    * into executor closures. Spark's own `SerializableConfiguration` is
    * `private[spark]`, hence this 10-line equivalent. */
  final class SerializableHadoopConf(@transient private var conf: Configuration)
      extends Serializable {
    def value: Configuration = conf
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject(); conf = new Configuration(false); conf.readFields(in)
    }
  }

  /** Driver-side capture of the session Hadoop conf for shipping into a
    * closure; pair with [[installExecutorConf]] at the top of the
    * partition function. */
  def serializableConf(): SerializableHadoopConf = new SerializableHadoopConf(hadoopConf)

  // Executor-side fallback: there is no active/default SparkSession on an
  // executor, so without injection `hadoopConf` would degrade to a bare
  // `new Configuration()` and silently drop every `spark.hadoop.*` setting
  // (object-store credentials/endpoints). Executor-side MetaIO callers
  // (DeletionVectors.writeEntriesStreamed, BloomIndex) install the shipped
  // driver conf here before touching the FS. JVM-global is correct: all
  // tasks of one application share one Hadoop conf.
  @volatile private var executorConf: Configuration = null
  def installExecutorConf(c: SerializableHadoopConf): Unit = executorConf = c.value

  def hadoopConf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .orElse(Option(executorConf))
      .getOrElse(new Configuration())

  def fsOf(p: Path): FileSystem = p.getFileSystem(hadoopConf)
  private def fp(s: String): (FileSystem, Path) = { val p = new Path(s); (fsOf(p), p) }

  /** Joins path segments (Hadoop `Path` semantics — collapses duplicate
    * slashes, keeps the scheme of the head segment). */
  def join(head: String, segments: String*): String =
    segments.foldLeft(new Path(head))((p, s) => new Path(p, s)).toString

  /** Canonical spelling of a path: scheme preserved, `//`, `/./`, and
    * trailing slashes collapsed — duplicate-registration guards must
    * compare one spelling. */
  def normalize(s: String): String = {
    val p = new Path(s)
    val u = p.toUri
    if (u.getScheme == null && u.getAuthority == null)
      new Path(new java.net.URI(null, null, u.getPath, null).normalize()).toString
    else p.toString
  }

  def fileName(s: String): String = new Path(s).getName
  /** Parent path, or "" at the filesystem root. */
  def parent(s: String): String =
    Option(new Path(s).getParent).map(_.toString).getOrElse("")

  /** The stored spelling of a listed path: local-FS paths stay PLAIN
    * (`/wh/t/data/f.parquet`, the manifest convention —
    * [[graft.exec.Mor.normalizePath]] maps Spark's `file:/...` metadata
    * column to the same spelling), remote schemes stay fully qualified
    * (`s3a://bucket/...`). All listings return this spelling so
    * path-keyed joins and duplicate guards compare one canonical form. */
  def toStoredPath(p: Path): String = {
    val u = p.toUri
    if (u.getScheme == "file") u.getPath else p.toString
  }

  def exists(s: String): Boolean = { val (fs, p) = fp(s); fs.exists(p) }
  def isFile(s: String): Boolean = { val (fs, p) = fp(s); fs.isFile(p) }
  def isDirectory(s: String): Boolean = { val (fs, p) = fp(s); fs.getFileStatus(p).isDirectory }
  def size(s: String): Long = { val (fs, p) = fp(s); fs.getFileStatus(p).getLen }
  def mkdirs(s: String): Unit = { val (fs, p) = fp(s); fs.mkdirs(p); () }

  def delete(s: String): Boolean = { val (fs, p) = fp(s); fs.delete(p, false) }
  def deleteRecursive(s: String): Boolean = { val (fs, p) = fp(s); fs.delete(p, true) }

  def readBytes(s: String): Array[Byte] = {
    val (fs, p) = fp(s)
    val in = fs.open(p)
    try {
      val len = fs.getFileStatus(p).getLen
      require(len <= Int.MaxValue, s"file too large to buffer: $s ($len bytes)")
      val buf = new Array[Byte](len.toInt)
      in.readFully(0L, buf)
      buf
    } finally in.close()
  }

  def readString(s: String): String = new String(readBytes(s), StandardCharsets.UTF_8)

  /** Positioned range read — the Puffin blob access path. One open, one
    * `readFully` at the offset; on object stores this maps to a ranged GET
    * instead of a whole-object download. */
  def readRange(s: String, offset: Long, length: Long): Array[Byte] = {
    require(length <= Int.MaxValue, s"range too large to buffer: $length")
    val (fs, p) = fp(s)
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](length.toInt)
      in.readFully(offset, buf)
      buf
    } finally in.close()
  }

  /** Plain (last-writer-wins) write; creates parent directories. */
  def write(s: String, bytes: Array[Byte]): Unit = {
    val (fs, p) = fp(s)
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  def writeString(s: String, text: String): Unit =
    write(s, text.getBytes(StandardCharsets.UTF_8))

  /** Filesystem schemes where a rename is NOT an atomic metadata swap
    * (delete-dest + copy + delete-src under the hood), but a plain object
    * PUT IS atomically visible — replace strategies must invert there.
    * `mocks3` is the in-repo contract-test stand-in
    * ([[graft.testkit.MockS3FileSystem]]) with the same semantics. */
  private val objectStoreSchemes =
    Set("s3", "s3a", "s3n", "gs", "oss", "abfs", "abfss", "wasb", "wasbs", "cos", "mocks3")

  /** True when `path`'s scheme names an object store — i.e. a filesystem
    * that cannot provide the atomic no-overwrite create [[createExclusive]]
    * needs. URI-parse only; never instantiates the FileSystem (callers use
    * this as a constructor guard, possibly without the FS's jars). */
  def isObjectStore(path: String): Boolean =
    Option(new Path(path).toUri.getScheme).exists(objectStoreSchemes.contains)

  /** Schemes genuinely LACKING an atomic create-no-overwrite — the
    * [[createExclusive]] CAS [[LocalCatalog]] fences commits with. A
    * DELIBERATELY narrower set than [[objectStoreSchemes]] (which answers
    * a different question: rename semantics): ADLS Gen2 (abfs/abfss,
    * hierarchical namespace), Azure Blob (wasb/wasbs, `If-None-Match: *`
    * PutBlob), and the GCS connector (gs, generation-0 precondition) all
    * invert renames yet DO create exclusively, so the version-file CAS
    * holds there. S3-compatible stores expose no such precondition
    * through the Hadoop connectors (a create is a last-writer-wins PUT). */
  private val nonExclusiveCreateSchemes =
    Set("s3", "s3a", "s3n", "oss", "cos", "mocks3")

  /** True when `path`'s scheme cannot back the exclusive-create commit
    * CAS. URI-parse only; never instantiates the FileSystem. */
  def lacksExclusiveCreate(path: String): Boolean =
    Option(new Path(path).toUri.getScheme).exists(nonExclusiveCreateSchemes.contains)

  /** Crash-safe replace for small state files whose partial loss is
    * unrecoverable (checkpoints): a reader never observes a truncated or
    * partial file. On rename-atomic filesystems (posix, HDFS) the content
    * lands under a temp name and renames over the target; on object
    * stores a rename is delete+copy (which would open a no-file window),
    * while a single PUT is atomically visible — so there the write goes
    * straight to the target. A plain [[write]] on a local FS truncates in
    * place first, which is exactly the crash hole this avoids. */
  def writeAtomicReplace(s: String, bytes: Array[Byte]): Unit = {
    val p = new Path(s)
    val fs = fsOf(p)
    val scheme = Option(fs.makeQualified(p).toUri.getScheme).getOrElse("file")
    if (objectStoreSchemes.contains(scheme)) { write(s, bytes); return }
    val tmp = new Path(p.getParent,
      s".${p.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    try {
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, hadoopConf)
      fc.rename(fc.makeQualified(tmp), fc.makeQualified(p),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case e: Throwable =>
        try fs.delete(tmp, false) catch { case _: Exception => () } // no temp residue
        throw e
    }
  }

  // STRIPED JVM-wide monitors keyed by the canonical target path's hash:
  // serialize same-JVM CAS attempts so the local FS's check-then-create
  // cannot double-commit under a same-driver race (the contract header
  // above). Striping keeps the lock table bounded — a per-path map would
  // intern one Object per version file forever (version paths are never
  // reused, so a long-lived streaming driver would leak an entry per
  // commit); over-serializing the rare hash collision is harmless.
  private val casLocks = Array.fill(64)(new Object)

  /** The commit CAS: create `s` with `bytes` iff it does not exist.
    * Returns false when the target is already present (a concurrent
    * writer won). WRITE-THEN-PUBLISH: the bytes land in a temp file
    * first and a no-overwrite rename publishes the target, so a
    * concurrent reader can never observe a created-but-empty version
    * file (a direct create(no-overwrite)+write makes the target visible
    * before its content — a reader's version roll-forward would parse an
    * empty file). See the class header for per-filesystem atomicity. */
  def createExclusive(s: String, bytes: Array[Byte]): Boolean = {
    val (fs, p) = fp(s)
    val key = fs.makeQualified(p).toString
    val lock = casLocks(math.floorMod(key.hashCode, casLocks.length))
    lock.synchronized {
      if (fs.exists(p)) false
      else {
        val tmp = new Path(p.getParent,
          s".${p.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
        try {
          val out = fs.create(tmp, true)
          try out.write(bytes) finally out.close()
          val fc = org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, hadoopConf)
          fc.rename(fc.makeQualified(tmp), fc.makeQualified(p),
            org.apache.hadoop.fs.Options.Rename.NONE) // fails if target exists
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
            try fs.delete(tmp, false) catch { case _: Exception => () }
            false
          case e: Throwable => // write/rename failure: no .tmp residue either
            try fs.delete(tmp, false) catch { case _: Exception => () }
            throw e
        }
      }
    }
  }

  /** Non-recursive file listing: (path, size) for plain files in `dir`,
    * sorted by path. Empty when the directory does not exist. */
  def listFiles(dir: String): Seq[(String, Long)] = {
    val (fs, p) = fp(dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isFile)
      .map(st => toStoredPath(st.getPath) -> st.getLen).sortBy(_._1)
  }

  /** Subdirectory names (not paths) directly under `dir`, sorted. */
  def listDirNames(dir: String): Seq[String] = {
    val (fs, p) = fp(dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName).sorted
  }

  /** Recursive file listing: (path, size, mtimeMs) for every plain file
    * under `dir`, sorted by path. Uses the FileSystem's bulk recursive
    * iterator — one listing call per directory page, not one RPC per
    * file (on S3A this is a flat LIST, the only listing shape that
    * scales). Empty when the directory does not exist. */
  def listFilesRecursive(dir: String): Seq[(String, Long, Long)] = {
    val (fs, p) = fp(dir)
    if (!fs.exists(p)) Nil
    else {
      val it = fs.listFiles(p, true)
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile) out += ((toStoredPath(st.getPath), st.getLen, st.getModificationTime))
      }
      out.sortBy(_._1).toSeq
    }
  }
}
