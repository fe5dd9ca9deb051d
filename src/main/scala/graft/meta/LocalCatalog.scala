package graft.meta

import java.nio.charset.StandardCharsets

/** Thrown when an optimistic commit loses the race (another writer created
  * the next metadata version first). Mirrors CatalogCommitConflicts in the
  * reference (core/src/compaction/mod.rs:763-782): retriable. */
final class CommitConflictException(msg: String) extends RuntimeException(msg)

/** The one commit-retry policy ([[Catalog.transact]]): the reference's
  * 3 retries with exponential backoff 1 s -> 10 s
  * (CommitManagerRetryConfig, core/src/compaction/mod.rs:774-782). */
final case class CommitRetryConfig(
    maxRetries: Int = 3,
    initialDelayMs: Long = 1000L,
    maxDelayMs: Long = 10000L
)

/** File-system catalog with compare-and-swap commits.
  *
  * Layout per table: `<warehouse>/<table>/metadata/v{N}.metadata.json` +
  * `version-hint.text`. A commit at version N+1 atomically creates
  * `v{N+1}.metadata.json` via [[MetaIO.createExclusive]] (create with
  * no-overwrite); if the target already exists, a concurrent writer won
  * and the commit raises [[CommitConflictException]] so callers can
  * reload + retry — the same optimistic-concurrency contract the
  * reference delegates to its Iceberg catalog. All I/O goes through the
  * Hadoop `FileSystem` seam ([[MetaIO]]), so the warehouse may live on
  * `file://`, `hdfs://`, or any configured filesystem; see MetaIO's
  * per-filesystem CAS atomicity notes — object stores should use a
  * catalog with a server-side CAS ([[RestCatalog]]) instead.
  */
trait Catalog {
  def createTable(meta: TableMetadata): TableMetadata
  def loadTable(name: String): TableMetadata
  def tableExists(name: String): Boolean
  /** CAS: persists `updated` as version `base.version + 1`; throws
    * [[CommitConflictException]] if that version already exists. */
  def commit(base: TableMetadata, updated: TableMetadata): TableMetadata

  /** The one optimistic transaction every metadata mutation goes through:
    * each attempt loads the table once, runs `build` against that fresh
    * head and makes one [[commit]]. Only a lost CAS race
    * ([[CommitConflictException]]) retries, after the `retry` backoff;
    * anything `build` throws propagates on the attempt that threw it. A
    * `build` that returns its input unchanged commits nothing. */
  def transact(name: String, retry: CommitRetryConfig = CommitRetryConfig())(
      build: TableMetadata => TableMetadata): TableMetadata = {
    var attempt = 0
    var delay = retry.initialDelayMs
    while (true) {
      val meta = loadTable(name)
      val updated = build(meta)
      if (updated eq meta) return meta
      try return commit(meta, updated)
      catch {
        case _: CommitConflictException if attempt < retry.maxRetries =>
          attempt += 1
          Thread.sleep(delay)
          delay = math.min(delay * 2, retry.maxDelayMs)
      }
    }
    sys.error("unreachable")
  }

  def dropTable(name: String): Unit
  /** Renames the catalog ENTRY only: the table keeps its uuid, history,
    * and LOCATION — data files stay in place (manifests hold absolute
    * paths), making a rename metadata-only however large the table.
    * Default: unsupported. */
  def renameTable(from: String, to: String): TableMetadata =
    throw new UnsupportedOperationException(
      s"renameTable is not supported by ${getClass.getSimpleName}")
  /** All table names in the catalog, sorted. */
  def listTables: Seq[String]
  /** Root of the table's storage (a [[MetaIO]] path string). Known even
    * before the table exists: writers stage data files first, then
    * register them in a commit (write-then-commit, the Iceberg pattern). */
  def tableLocation(name: String): String
  /** Where the table's data files live (under [[tableLocation]]). */
  def dataDir(name: String): String
}

final class LocalCatalog(val warehouse: String,
    /** Serialized metadata at or above this many bytes is gzip-compressed
      * on disk (file name unchanged — readers sniff the gzip magic, so
      * mixed plain/compressed version chains read transparently and the
      * CAS target stays one name per version). Manifests inline in the
      * metadata make big tables metadata-heavy: at 10^5-10^6 tracked
      * files the JSON runs to hundreds of MB, and gzip buys ~10x less
      * driver I/O per load/commit. Small metadata stays human-readable
      * plain text. `Long.MaxValue` disables; 0 always compresses. */
    val gzipMetadataAtBytes: Long = 1L << 20,
    /** Cross-version DELTA commits ([[MetadataJson.writeDelta]]): a commit
      * whose version is not a multiple of this writes only the change
      * since the previous version — O(change) bytes instead of re-inlining
      * the whole manifest chain, the difference between ~10 MiB and a few
      * KiB per commit on a million-file table. Every `anchorEvery`-th
      * version (and version 1) is a FULL anchor, bounding the load chain;
      * loads resolve delta files against their base recursively.
      * 1 disables deltas (every version full). */
    val anchorEvery: Int = 16) extends Catalog {
  require(anchorEvery >= 1, s"anchorEvery must be >= 1, got $anchorEvery")
  // The commit CAS is an exclusive filesystem create; S3-class stores
  // have no such primitive (a PUT is last-writer-wins), so a LocalCatalog
  // there could double-commit the same version and silently lose one
  // writer's snapshot. Refuse up front — such deployments go through a
  // catalog that CASes server-side (RestCatalog here; REST/Hive/Glue in
  // the wild), exactly how the reference deploys
  // (integration-tests/testdata/docker-compose.yaml:22-62). The guard is
  // the NARROW scheme set: ADLS Gen2 / Azure Blob / GCS invert renames
  // but do provide exclusive create, and stay in contract here.
  require(!MetaIO.lacksExclusiveCreate(warehouse),
    s"LocalCatalog warehouse $warehouse is on an object store with no atomic " +
      "no-overwrite create: the version-file CAS cannot hold. " +
      "Use RestCatalog (server-side CAS) for such warehouses.")
  MetaIO.mkdirs(warehouse)

  private def metaDir(name: String): String = MetaIO.join(warehouse, name, "metadata")
  private def versionFile(name: String, v: Int): String =
    MetaIO.join(metaDir(name), s"v$v.metadata.json")
  private def hintFile(name: String): String = MetaIO.join(metaDir(name), "version-hint.text")

  def tableLocation(name: String): String = MetaIO.join(warehouse, name)
  def dataDir(name: String): String = MetaIO.join(warehouse, name, "data")

  override def tableExists(name: String): Boolean = MetaIO.exists(hintFile(name))

  private def renamedMarker(root: String): String =
    MetaIO.join(root, ".graft-renamed")

  override def createTable(meta: TableMetadata): TableMetadata = {
    require(!tableExists(meta.name), s"table ${meta.name} already exists")
    // a RENAMED-AWAY table's data stays under its original root (rename
    // is metadata-only); a new table adopting that root would make its
    // orphan sweep delete the renamed table's live files — the marker the
    // rename left behind turns that collision into a refusal
    require(!MetaIO.exists(renamedMarker(tableLocation(meta.name))),
      s"location ${tableLocation(meta.name)} holds the data of a renamed " +
        s"table (${scala.util.Try(MetaIO.readString(renamedMarker(
          tableLocation(meta.name)))).getOrElse("")}) — pick another name")
    MetaIO.mkdirs(metaDir(meta.name))
    MetaIO.mkdirs(dataDir(meta.name))
    val m = TableMetadata.withStableUuid(
      meta.copy(version = 1, location = tableLocation(meta.name)))
    writeVersion(m)
    cachePut(m.name, 1, m)
  }

  /** Metadata-only rename: the current metadata is re-written (full form)
    * as version 1 of the NEW entry with the LOCATION unchanged, the old
    * entry's catalog chain is dropped, and — when the old entry lived in
    * its own root — a marker protects the retained data dir from a later
    * same-named create. Not atomic versus a concurrent writer on `from`
    * (a racing commit between the copy and the old-chain delete is lost);
    * renames are operator actions — serialize them with writes, as every
    * filesystem Iceberg catalog requires. */
  override def renameTable(from: String, to: String): TableMetadata = {
    require(tableExists(from), s"table $from does not exist")
    require(!tableExists(to), s"table $to already exists")
    val m = loadTable(from)
    // a marker on the DESTINATION root blocks the rename like it blocks a
    // create — unless this very table is renaming back HOME (its location
    // IS that root, so the data the marker protects is its own)
    require(m.location == tableLocation(to) ||
      !MetaIO.exists(renamedMarker(tableLocation(to))),
      s"location ${tableLocation(to)} holds the data of a renamed table")
    MetaIO.mkdirs(metaDir(to))
    val renamed = m.copy(name = to, version = 1)
    writeVersion(renamed)
    cachePut(to, 1, renamed)
    decoded.keySet.removeIf(_._1 == from)
    MetaIO.deleteRecursive(metaDir(from))
    if (m.location == tableLocation(from))
      MetaIO.writeString(renamedMarker(m.location),
        s"renamed to $to (uuid ${m.stableUuid}) — data retained in place")
    if (m.location == tableLocation(to)) // renamed back home: root owned again
      MetaIO.delete(renamedMarker(m.location))
    renamed
  }

  override def loadTable(name: String): TableMetadata = loadVersion(name, currentVersion(name))

  private def versionText(name: String, v: Int): String = {
    val raw = MetaIO.readBytes(versionFile(name, v))
    if (raw.length >= 2 && (raw(0) & 0xff) == 0x1f && (raw(1) & 0xff) == 0x8b)
      new String(new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(raw)).readAllBytes(), StandardCharsets.UTF_8)
    else new String(raw, StandardCharsets.UTF_8)
  }

  // decoded-metadata cache: version files are IMMUTABLE once CAS-created,
  // so caching the decoded object per (table, version) is sound — and at
  // 10^5-10^6 tracked files it is what keeps the commit loop's
  // load-retry-commit round trips O(delta) instead of re-parsing a
  // multi-MiB anchor on every load. Bounded to the freshest two versions
  // per table (the commit loop touches base + next); metadata objects are
  // immutable case classes, so sharing across callers is safe.
  private val decoded =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), TableMetadata]()
  private def cachePut(name: String, v: Int, m: TableMetadata): TableMetadata = {
    decoded.put((name, v), m)
    decoded.keySet.removeIf(k => k._1 == name && k._2 < v - 1)
    m
  }

  private def loadVersion(name: String, v: Int): TableMetadata = {
    val hit = decoded.get((name, v))
    if (hit != null) return hit
    val j = MetadataJson.parseValue(versionText(name, v)) // ONE parse per file
    val m =
      if (!MetadataJson.isDelta(j)) MetadataJson.readValue(j)
      else {
        val baseV = MetadataJson.deltaBaseVersion(j)
        require(baseV < v, s"table $name: delta v$v references non-ancestor v$baseV")
        MetadataJson.readDelta(j, loadVersion(name, baseV))
      }
    cachePut(name, v, m)
  }

  private def currentVersion(name: String): Int = {
    val hint = hintFile(name)
    require(MetaIO.exists(hint), s"table $name does not exist")
    // The hint is ADVISORY (written after the CAS): a reader racing the
    // in-place rewrite can see it empty — or a numeric PREFIX of the new
    // value mid-truncate-write ("2" of "26"), which after cleanup has
    // pruned versions below the anchor would strand roll-forward at the
    // pruned gap. A hint is trusted only if its version file actually
    // exists; otherwise degrade to the directory listing (cleanup may
    // have pruned early versions, so rolling forward from v1 is not an
    // option), never fail
    // the read itself can also fail mid-truncate (ChecksumFS EOF on a
    // concurrent writer's in-place hint rewrite) — same degradation to
    // the listing fallback, never an error
    val txt = scala.util.Try(MetaIO.readString(hint)).getOrElse("").trim
    var v =
      if (txt.nonEmpty && txt.forall(_.isDigit) &&
          MetaIO.exists(versionFile(name, txt.toInt))) txt.toInt
      else {
        val pat = """v(\d+)\.metadata\.json""".r
        MetaIO.listFiles(metaDir(name)).flatMap { case (p, _) =>
          MetaIO.fileName(p) match { case pat(n) => Some(n.toInt); case _ => None }
        }.foldLeft(1)(math.max)
      }
    // roll forward if a newer committed version exists
    while (MetaIO.exists(versionFile(name, v + 1))) v += 1
    v
  }

  override def commit(base: TableMetadata, updated: TableMetadata): TableMetadata = {
    val next = updated.copy(version = base.version + 1)
    // anchor versions (and any un-delta-able change) write the full form;
    // everything else writes O(change) bytes against the base version
    val text =
      if (next.version % anchorEvery == 0) None
      else MetadataJson.writeDelta(base, next)
    writeVersion(next, text)
    // the codec round-trips exactly (spec'd), so seeding the cache with
    // the in-memory object keeps the writer's next load O(1)
    cachePut(next.name, next.version, next)
  }

  private def writeVersion(m: TableMetadata, delta: Option[String] = None): Unit = {
    val target = versionFile(m.name, m.version)
    val plain = delta.getOrElse(MetadataJson.write(m)).getBytes(StandardCharsets.UTF_8)
    val bytes =
      if (plain.length >= gzipMetadataAtBytes) {
        val bos = new java.io.ByteArrayOutputStream(plain.length / 4)
        scala.util.Using.resource(new java.util.zip.GZIPOutputStream(bos))(_.write(plain))
        bos.toByteArray
      } else plain
    // exclusive create IS the compare-and-swap: the version file name
    // encodes the expected base version, so "target already exists"
    // means a concurrent writer committed that version first
    if (!MetaIO.createExclusive(target, bytes))
      throw new CommitConflictException(
        s"table ${m.name}: version ${m.version} was committed concurrently")
    // in-place truncate-write, NOT a rename-replace: tableExists keys on
    // the hint file's EXISTENCE, and Hadoop's overwrite rename on several
    // filesystems is delete-then-rename (a no-file window that reads as
    // "table does not exist" under concurrency). Truncating keeps the
    // file continuously present; the brief empty-content window degrades
    // to currentVersion's directory-listing fallback.
    MetaIO.writeString(hintFile(m.name), m.version.toString)
  }

  override def listTables: Seq[String] =
    MetaIO.listDirNames(warehouse).filter(n => MetaIO.exists(hintFile(n)))

  override def dropTable(name: String): Unit = {
    // a renamed entry's data lives under its ORIGINAL location; dropping
    // the table must reclaim both that root and the entry's own
    val loc = if (tableExists(name))
      scala.util.Try(loadTable(name).location).toOption else None
    decoded.keySet.removeIf(_._1 == name)
    val root = MetaIO.join(warehouse, name)
    // a root carrying the rename marker holds ANOTHER live entry's data
    // (rename a->b keeps b's files under warehouse/a): a drop of the stale
    // name `a` — e.g. an idempotent retry — must not destroy b. Only the
    // owning entry (whose location IS this root) may reclaim it.
    val rootIsForeign =
      MetaIO.exists(renamedMarker(root)) && !loc.contains(root)
    if (MetaIO.exists(root) && !rootIsForeign) { MetaIO.deleteRecursive(root); () }
    loc.filter(_ != root).foreach(l =>
      if (MetaIO.exists(l)) { MetaIO.deleteRecursive(l); () })
  }
}

object LocalCatalog {
  def apply(dir: String): LocalCatalog = new LocalCatalog(dir)
}
