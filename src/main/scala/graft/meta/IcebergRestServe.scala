package graft.meta

import java.net.InetSocketAddress

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/** Serves a graft catalog's tables over the public **Iceberg REST
  * catalog** read surface, so any spec-compliant Iceberg client
  * (engines, iceberg-rs — and therefore the reference itself) can load
  * them without knowing anything about this engine:
  *
  *  - `GET /v1/config` — prefix handshake;
  *  - `GET/POST/DELETE /v1/{prefix}/namespaces[...]` — NESTED namespaces
  *    rooted at this server's root namespace, mapping bijectively onto
  *    dot-prefixed catalog entry names (`[root, a, b]` table `t` is
  *    entry `a.b.t`); `parent=` listing, create/drop of empty children;
  *  - `GET /v1/{prefix}/namespaces/{ns}/tables` — table listing;
  *  - `GET /v1/{prefix}/namespaces/{ns}/tables/{t}` — LoadTableResult
  *    with the spec metadata EMBEDDED (produced by [[IcebergExport]]
  *    on demand and cached per table version, so repeated loads of an
  *    unchanged table cost no re-export);
  *  - `POST /v1/{prefix}/namespaces/{ns}/tables/{t}` — the spec COMMIT
  *    endpoint: requirements (`assert-ref-snapshot-id`,
  *    `assert-table-uuid`) validate against the live graft state and
  *    answer 409 on staleness (the spec's retry signal); updates
  *    (`add-snapshot` + `set-snapshot-ref`, `set-properties`/
  *    `remove-properties`) map onto graft's own CAS commit. An added
  *    snapshot's manifest list — written by the client on shared
  *    storage — is decoded with the import machinery and validated by
  *    SHAPE ([[buildCommitShape]]): appends, row-deltas (foreign
  *    DELETE/UPDATE/MERGE adding pos-deletes on v2 / DV Puffin entries
  *    on v3 / equality deletes), and replace commits (a foreign
  *    compactor's RewriteFiles, honoring the starting-sequence-number
  *    rule) are all accepted with per-shape conflict validation; on v3
  *    tables the server assigns row lineage from the table's
  *    next-row-id cursor unless a rewrite preserves its own.
  *
  *  - table LIFECYCLE: `POST .../namespaces/{ns}/tables` (spec
  *    CreateTableRequest — the schema/partition-spec/write-order JSON is
  *    synthesized into a metadata document and parsed by the SAME
  *    [[IcebergImport]] machinery as an attach, so create-through-REST
  *    and attach can never disagree on type mapping; `stage-create=true`
  *    runs the spec's CTAS handshake — staged metadata now, atomic
  *    register on the first `assert-create` commit);
  *    `POST .../namespaces/{ns}/register` (RegisterTableRequest: adopt
  *    an existing `*.metadata.json`); `DELETE .../tables/{t}`;
  *  - `POST /v1/{prefix}/transactions/commit` — the spec MULTI-TABLE
  *    transaction: validate-all-then-apply-all, with compensating
  *    rollback if a racing native commit CAS-fails one table mid-apply.
  *
  *  - `POST /v1/{prefix}/tables/rename` (and `views/rename`): a
  *    metadata-only catalog rename — the entry keeps its uuid, history
  *    and location ([[Catalog.renameTable]]), data files stay in place;
  *  - listings take the spec's `pageToken`/`pageSize` query params and
  *    answer `next-page-token` while more remain.
  *
  * Optional bearer-token auth; [[IcebergRestImport]] /
  * [[IcebergRestCommit]] are the in-repo clients, and the round trip
  * through real sockets is the contract test. */
object IcebergRestServe {
  /** One CommitTableRequest's updates, parsed but not yet applied. */
  private final case class CommitUpdates(
      properties: Map[String, String],
      addSnap: Option[(Long, String, Map[String, String])] = None, // id, list, summary
      setRefs: Seq[(String, String, Long)] = Nil, // name, branch|tag, snapshot id
      removeRefs: Seq[String] = Nil,
      addSchema: Option[(JValue, Option[Int])] = None, // schema, last-column-id
      setSchemaId: Option[Long] = None,
      addSpec: Option[JValue] = None,
      setSpecId: Option[Long] = None,
      removeSnaps: Seq[Long] = Nil,
      setStats: Option[(Long, String)] = None, // snapshot id, statistics path
      removeStats: Seq[Long] = Nil,
      addSortOrder: Option[JValue] = None,
      setSortOrderId: Option[Long] = None)

  /** Target data files per preplan shard: bounds every `plan` response
    * (rendered tasks AND server work per request) however large the
    * manifest — at 10^6 tracked files preplan answers ~1000 tasks a
    * reader fleet fans out over, instead of one multi-GB response. */
  val FilesPerPlanTask: Long = 1000L

  /** Unsharded ad-hoc `plan` requests over more data files than this go
    * ASYNC (`plan-status=submitted` + plan-id polling + paged fetch)
    * instead of rendering one unbounded inline response. */
  val AsyncPlanThreshold: Int = 1000

  /** file-scan-tasks per fetched page of a completed async plan. */
  val PlanPageSize: Int = 1000

  /** Async plans retained (oldest evict). */
  val MaxAsyncPlans: Int = 64

  /** TOTAL kept tasks retained across all async plans — the real memory
    * bound: 64 plans that each kept a 10^6-file snapshot would otherwise
    * pin ~10 GB of FileEntry lists for paging. Oldest plans evict until
    * the sum fits; a reader that polls an evicted plan re-submits. */
  val MaxRetainedPlanTasks: Long = 2000000L
}

final class IcebergRestServe(catalog: Catalog, namespace: String = "graft",
    prefix: String = "graft", bearerToken: Option[String] = None, port: Int = 0,
    /** Newest N posted scan reports kept per table (the spec metrics
      * endpoint persists into `<location>/metadata/metrics/`); older
      * files prune on write, bounding storage however chatty the
      * reader fleet. */
    metricsRetention: Int = 256,
    /** OAuth2 client-credentials registry (client-id -> secret). When
      * non-empty, `POST /v1/oauth/tokens` trades a valid pair for a
      * bearer token this server then accepts alongside the static
      * [[bearerToken]] — the bootstrap a stock spec client performs
      * before first contact (reference harness:
      * integration-tests/src/bin/README.md:52). Empty = endpoint off. */
    oauthClients: Map[String, String] = Map.empty,
    /** Storage credentials VENDED on every LoadTableResult (the spec's
      * `storage-credentials` stanza + `config`): object-store warehouses
      * hand clients the access configuration with the table, so a spec
      * client needs no out-of-band storage setup. Static server config;
      * empty = nothing vended. */
    storageCredentials: Map[String, String] = Map.empty,
    /** When > 0, vended storage credentials EXPIRE: every vend mints a
      * fresh `s3.session-token` stamped with
      * `s3.session-token-expires-at-ms` = now + TTL (the property names
      * real S3 REST catalogs use), live server-side until expiry or
      * [[rotateCredentials]]. Clients refresh through the spec's
      * `GET .../tables/{table}/credentials` endpoint
      * ([[CredentialSession]] is the client half). 0 = static vend,
      * never expires (the pre-round-11 behavior). Expiring vends bypass
      * the rendered-body cache — each load must carry fresh stamps. */
    credentialTtlMs: Long = 0L,
    /** Lifetime of OAuth2 tokens issued by `POST /v1/oauth/tokens`.
      * Spec default 1 h; tests shrink it to prove client re-auth. */
    tokenTtlMs: Long = 3600L * 1000) {

  /** Serve-side counters in the reference's registry shape
    * (core/src/common/metrics.rs:24-52): posted report counts by type,
    * visible to the operator alongside the compaction metrics. */
  val metrics = new graft.compaction.Metrics

  /** Fully-RENDERED LoadTableResult/LoadViewResult bodies cached per
    * (catalog entry NAME, stable uuid, version) — metadata-location must
    * be the actual `*.metadata.json` file (not its directory), and
    * caching the final body means repeated loads of an unchanged table
    * cost neither a re-export nor an O(metadata-size) re-parse/re-render.
    * A native DROP + RECREATE mints a fresh uuid and can never hit the
    * old body; but REGISTER/import deliberately PRESERVE the foreign
    * table-uuid and restart the version counter, so a drop + re-register
    * of the same source could reach a (uuid, version) pair the old
    * incarnation had cached — hence the name in the key AND [[purge]] on
    * every lifecycle mutation this server performs. (Out-of-band native
    * re-registration under the same name while serving is not covered —
    * mutate served catalogs through the server or restart it.) Older
    * versions of the same entry evict on insert, bounding the map. */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int, Long), String]()

  /** Per-entry cache GENERATION, bumped by [[purge]]. The epoch is read
    * BEFORE the route loads the entry's metadata and baked into the cache
    * key, so a reader that loaded PRE-drop metadata and races a locked
    * DELETE+register can only insert its stale body under the OLD epoch —
    * unreachable by every load after the purge. (Without it, concurrent
    * dispatch let that insert land AFTER purge() under a (name, uuid,
    * version) key the re-registered incarnation reaches again: register
    * preserves the foreign uuid and restarts the version counter.) */
  private val epochs =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  private def epochOf(name: String): Long =
    epochs.computeIfAbsent(name, _ => new java.util.concurrent.atomic.AtomicLong()).get()

  private def cached(name: String, meta: TableMetadata, epoch: Long)(
      build: => String): String = {
    val key = (name, meta.stableUuid, meta.version, epoch)
    // computeIfAbsent: concurrent first-loads of the same version run ONE
    // export (two would race the same exported *.metadata.json file)
    val body = cache.computeIfAbsent(key, _ => build)
    cache.keySet.removeIf(k => k._1 == key._1 && k._2 == key._2 &&
      (k._3 < key._3 || k._4 < key._4))
    body
  }

  /** Drops every cached body for catalog entry `name` — on DELETE,
    * register, and create, so a recurring (uuid, version) from a
    * re-registered source can never serve a prior incarnation's body. */
  private def purge(name: String): Unit = {
    epochs.computeIfAbsent(name,
      _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()
    cache.keySet.removeIf(k =>
      k._1 == name || k._1 == name + "\u001flocation-only" ||
        k._1 == name + "\u001fexport" || k._1 == name + "\u001fmetadoc")
  }

  /** Tables STAGED by `stage-create=true` (the spec CTAS handshake),
    * keyed by name: parsed + validated metadata with uuid and location
    * assigned, but NOTHING in the catalog — the first commit against the
    * name materializes create+commit atomically; until then the table is
    * invisible to every read route, and a crash (or server restart — the
    * store is in-memory on purpose) leaves no catalog entry. */
  private val staged =
    new java.util.concurrent.ConcurrentHashMap[String, TableMetadata]()

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  /** Bounded CONCURRENT dispatch: readers (loads, plans, listings) run in
    * parallel and never take a lock; mutations serialize per catalog
    * entry through [[withLocks]]. One slow foreign commit (footer
    * validation, DV bitmap compares — real I/O) no longer head-of-line-
    * blocks the reader fleet the preplan sharding fans out. */
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(16,
    graft.util.DaemonThreads("graft-rest-dispatch"))
  server.setExecutor(pool)
  server.start()

  def uri: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def stop(): Unit = { server.stop(0); pool.shutdown(); planPool.shutdown() }

  /** Per-entry mutation locks. Multi-name operations (rename, multi-table
    * transactions) acquire in SORTED order — one global lock order, so no
    * deadlock — and the catalog's own CAS still backstops racing writers
    * that bypass this server (a lost CAS answers the spec's 409 retry
    * signal exactly as before). Commit VALIDATION I/O runs before the
    * lock is taken ([[commitTable]]); only the commit+serve step holds it. */
  private val entryLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def withLocks[A](names: Seq[String])(body: => A): A = {
    def go(ls: List[Object]): A = ls match {
      case Nil => body
      case h :: t => h.synchronized(go(t))
    }
    go(names.distinct.sorted.map(n =>
      entryLocks.computeIfAbsent(n, _ => new Object)).toList)
  }
  /** The namespace-registry lock (createdNs check-then-act sections).
    * The NUL prefix can never collide with a [[safeName]]d entry. */
  private val NsLock = "\u0000namespaces"

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val plain = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    // big-metadata serving: LoadTableResult bodies at 10^5-10^6 tracked
    // files run to hundreds of MB of JSON — when the client advertises
    // gzip, ship it compressed (~10x on manifest JSON). Small bodies
    // skip the CPU.
    val gzipOk = Option(ex.getRequestHeaders.getFirst("Accept-Encoding"))
      .exists(_.toLowerCase(java.util.Locale.ROOT).contains("gzip"))
    val bytes =
      if (gzipOk && plain.length >= 4096) {
        val bos = new java.io.ByteArrayOutputStream(plain.length / 4)
        scala.util.Using.resource(
          new java.util.zip.GZIPOutputStream(bos))(_.write(plain))
        ex.getResponseHeaders.add("Content-Encoding", "gzip")
        bos.toByteArray
      } else plain
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def err(msg: String, code: Int): (Int, String) =
    code -> JsonMethods.compact(JsonMethods.render(
      "error" -> (("message" -> msg) ~ ("type" -> "RESTException") ~ ("code" -> code))))

  private val nsRootPath = s"/v1/$prefix/namespaces"

  /** NESTED namespaces: every namespace is rooted at this server's root
    * (`[root]`, `[root, a]`, `[root, a, b]`, ...). A child namespace maps
    * onto DOT-prefIXED catalog entry names — table `t` in `[root, a, b]`
    * is catalog entry `a.b.t` — a bijection the native engine sees as
    * plain names, so both surfaces address the same entries. Namespaces
    * exist implicitly while entries live under them; explicitly-created
    * EMPTY ones are tracked here (session-scoped until a table lands). */
  private val createdNs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Seq[String]]()

  /** Namespace properties (create-request `properties` + the spec's
    * properties-update endpoint). Session-scoped like [[createdNs]];
    * implicit namespaces (entries live below) may carry properties too. */
  private val nsProps =
    new java.util.concurrent.ConcurrentHashMap[Seq[String], Map[String, String]]()

  private def urlDecode(s: String): String =
    java.net.URLDecoder.decode(s, java.nio.charset.StandardCharsets.UTF_8)

  /** A decoded name (PATH-derived or BODY-derived — rename/transaction
    * identifiers, create/register names, namespace segments) that is safe
    * to use as a catalog key: `/`, `\` or dot segments would traverse OUT
    * of the warehouse when joined into filesystem paths (a rename
    * destination of `../x` writes catalog state outside it; a create name
    * `a/b` nests one table's root inside another's orphan-sweep domain);
    * `.` would ALIAS into another namespace (entries are dot-joined), and
    * U+001F is the wire's multipart separator. */
  private def safeName(s: String): Boolean =
    s.nonEmpty && !s.exists(c =>
      c == '/' || c == '\\' || c == '.' || c == '\u001f')

  /** Decoded namespace segments when `raw` (one path segment, `%1F`-
    * joined multiparts) is rooted at this server's root. */
  private def nsSegments(raw: String): Option[Seq[String]] = {
    val segs = urlDecode(raw).split('\u001f').toSeq
    Some(segs).filter(s => s.headOption.contains(namespace) && s.forall(safeName))
  }

  /** Catalog-entry prefix of a namespace ("" for the root, "a.b." below). */
  private def entryPrefix(ns: Seq[String]): String = ns.drop(1).map(_ + ".").mkString

  /** The namespace tail (segments BELOW the root) an entry lives in. */
  private def nsTailOf(entry: String): Seq[String] =
    entry.split('.').toSeq.dropRight(1)

  private def entriesIn(ns: Seq[String]): Seq[String] =
    catalog.listTables.filter(n => nsTailOf(n) == ns.drop(1))

  private def nsExists(ns: Seq[String]): Boolean =
    ns == Seq(namespace) || createdNs.contains(ns) ||
      catalog.listTables.exists(n => nsTailOf(n).startsWith(ns.drop(1)))

  /** `/v1/{prefix}/namespaces/{ns}/{tables|views}/{obj}[/plan|/preplan]`
    * decoded to (namespace segments, kind, CATALOG ENTRY NAME, suffix). */
  private def objRoute(path: String)
      : Option[(Seq[String], String, String, Option[String])] = {
    if (!path.startsWith(nsRootPath + "/")) return None
    path.stripPrefix(nsRootPath + "/").split("/", -1).toList match {
      case ns :: kind :: obj :: rest
          if (kind == "tables" || kind == "views") && obj.nonEmpty =>
        val suffix = rest match {
          case Nil => Some(None)
          case s :: Nil if s == "plan" || s == "preplan" || s == "metrics" ||
              s == "credentials" =>
            Some(Some(s))
          case "plan" :: id :: Nil if id.nonEmpty =>
            Some(Some("plan/" + urlDecode(id))) // async plan poll/cancel
          case _ => None
        }
        for { n <- nsSegments(ns); sfx <- suffix
              bare = urlDecode(obj) if safeName(bare) }
          yield (n, kind, entryPrefix(n) + bare, sfx)
      case _ => None
    }
  }

  /** `/v1/{prefix}/namespaces/{ns}[/tables|/views|/register]` decoded to
    * (namespace segments, collection). */
  private def nsRoute(path: String): Option[(Seq[String], Option[String])] = {
    if (!path.startsWith(nsRootPath + "/")) return None
    path.stripPrefix(nsRootPath + "/").split("/", -1).toList match {
      case ns :: Nil => nsSegments(ns).map((_, None))
      case ns :: k :: Nil
          if Set("tables", "views", "register", "properties").contains(k) =>
        nsSegments(ns).map((_, Some(k)))
      case _ => None
    }
  }

  /** View-ness requires the entry's metadata (the kind lives in
    * properties). Listings call this per entry: the backing catalog's
    * decoded-metadata cache makes repeats O(1) per unchanged table, so
    * only the FIRST listing after a server start pays a decode per
    * entry — tolerable because view kind can flip on drop+recreate, so
    * any name-keyed cache here would serve the wrong kind after an
    * out-of-band recreate. */
  private def isViewEntry(name: String): Boolean =
    catalog.tableExists(name) && Views.isView(catalog.loadTable(name))

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)

  /** OAuth2 tokens issued by [[oauthToken]], with their expiry stamps. */
  private val issuedTokens =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Session tokens minted by expiring credential vends, with their
    * expiry stamps ([[credentialTtlMs]] > 0 only). */
  private val liveSessionTokens =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** The config map ONE credential vend hands a client: the static
    * [[storageCredentials]], plus — when [[credentialTtlMs]] > 0 — a
    * fresh session token and its expiry stamp. Each call is a distinct
    * vend (distinct token), as real credential vendors behave. */
  private def vendedConfig(): Map[String, String] =
    if (credentialTtlMs <= 0) storageCredentials
    else {
      val now = System.currentTimeMillis()
      val tok = java.util.UUID.randomUUID().toString.replace("-", "")
      liveSessionTokens.put(tok, now + credentialTtlMs)
      liveSessionTokens.entrySet.removeIf(e => e.getValue <= now) // lazy expiry
      storageCredentials ++ Map(
        "s3.session-token" -> tok,
        "s3.session-token-expires-at-ms" -> (now + credentialTtlMs).toString)
    }

  /** True while `tok` is a session token this server vended and has
    * neither expired nor been rotated away — the check a storage layer
    * honoring this server's vends performs per access. */
  def validSessionToken(tok: String): Boolean =
    Option(liveSessionTokens.get(tok)).exists(_ > System.currentTimeMillis())

  /** Revokes EVERY outstanding vended session token (key compromise,
    * scheduled rotation): storage access with an old token dies at once;
    * clients recover by re-fetching from the credentials endpoint, which
    * mints fresh tokens. */
  def rotateCredentials(): Unit = liveSessionTokens.clear()

  /** Constant-time secret equality (MessageDigest.isEqual): token and
    * client-secret compares must not leak match length through timing. */
  private def ctEq(a: String, b: String): Boolean =
    java.security.MessageDigest.isEqual(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def authorized(ex: HttpExchange): Boolean = {
    if (bearerToken.isEmpty && oauthClients.isEmpty) return true
    val h = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
    if (!h.startsWith("Bearer ")) return false
    val tok = h.stripPrefix("Bearer ")
    val now = System.currentTimeMillis()
    // the issued-token scan compares every live entry in constant time
    // (the map stays small: tokens expire after tokenTtlMs and prune on
    // each issue), instead of a hash lookup keyed by the secret itself
    import scala.jdk.CollectionConverters._
    bearerToken.exists(ctEq(_, tok)) ||
      issuedTokens.entrySet.asScala.exists(e => e.getValue > now && ctEq(e.getKey, tok))
  }

  /** `POST /v1/oauth/tokens`: the spec's OAuth2 client-credentials grant
    * — the ONE unauthenticated route (it IS the bootstrap). Form-encoded
    * per RFC 6749; a valid (client_id, client_secret) pair answers a
    * bearer token accepted for [[tokenTtlMs]]; a bad secret answers the
    * OAuth `invalid_client` 401. */
  private def oauthToken(body: String): (Int, String) = {
    if (oauthClients.isEmpty)
      return err("OAuth token endpoint is not configured on this server", 404)
    val params: Map[String, String] = body.split("&").toSeq
      .flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(urlDecode(k) -> urlDecode(v))
        case _ => None
      }).toMap
    def oauthErr(code: Int, error: String, desc: String): (Int, String) =
      code -> JsonMethods.compact(JsonMethods.render(
        ("error" -> error) ~ ("error_description" -> desc)))
    if (!params.get("grant_type").contains("client_credentials"))
      return oauthErr(400, "unsupported_grant_type",
        "this server supports grant_type=client_credentials")
    (params.get("client_id"), params.get("client_secret")) match {
      case (Some(id), Some(sec)) if oauthClients.get(id).exists(ctEq(_, sec)) =>
        val tok = java.util.UUID.randomUUID().toString.replace("-", "")
        val now = System.currentTimeMillis()
        issuedTokens.put(tok, now + tokenTtlMs)
        issuedTokens.entrySet.removeIf(e => e.getValue <= now) // lazy expiry
        200 -> JsonMethods.compact(JsonMethods.render(
          ("access_token" -> tok) ~ ("token_type" -> "bearer") ~
            ("expires_in" -> tokenTtlMs / 1000)))
      case _ =>
        oauthErr(401, "invalid_client", "unknown client or wrong secret")
    }
  }

  private def handle(ex: HttpExchange): Unit = try {
    val path = ex.getRequestURI.getRawPath
    val method = ex.getRequestMethod
    // object routes resolve a namespace + name to ONE catalog entry; the
    // kind split (tables vs views answer 404 for each other's entries,
    // exactly as the spec separates the two object kinds) happens here
    val obj = objRoute(path)
    def tableOf: Option[String] = obj.collect {
      case (_, "tables", t, None) => t }
    def viewOf: Option[String] = obj.collect {
      case (_, "views", v, None) => v }
    val nsr = nsRoute(path)
    val (code, body): (Int, String) =
      if (method == "POST" && path == "/v1/oauth/tokens")
        oauthToken(readBody(ex)) // the bootstrap: unauthenticated by design
      else if (!authorized(ex))
        err("not authorized", 401)
      else if (method == "POST" && obj.exists(o => o._2 == "tables" && o._4.nonEmpty)) {
        val (_, _, t, Some(which)) = obj.get
        if (!catalog.tableExists(t) || isViewEntry(t)) err(s"table $t not found", 404)
        else if (which == "preplan") preplanTableScan(t, readBody(ex))
        else if (which == "metrics") recordMetrics(t, readBody(ex))
        else if (which == "credentials")
          err("POST is not supported on credentials — GET re-vends", 405)
        else if (which.startsWith("plan/"))
          err("POST is not supported on a plan id — GET polls, DELETE cancels", 405)
        else planTableScan(t, readBody(ex))
      }
      else if (method == "GET" &&
          obj.exists(o => o._2 == "tables" && o._4.contains("credentials"))) {
        val (_, _, t, _) = obj.get
        if (!catalog.tableExists(t) || isViewEntry(t)) err(s"table $t not found", 404)
        else loadCredentials(t)
      }
      else if ((method == "GET" || method == "DELETE") &&
          obj.exists(o => o._2 == "tables" && o._4.exists(_.startsWith("plan/")))) {
        val (_, _, t, Some(sfx)) = obj.get
        val id = sfx.stripPrefix("plan/")
        if (!catalog.tableExists(t) || isViewEntry(t)) err(s"table $t not found", 404)
        else if (method == "GET")
          planStatus(t, id, ex.getRequestURI.getRawQuery)
        else cancelPlan(t, id)
      }
      else if (method == "POST" && tableOf.nonEmpty) {
        val t = tableOf.get
        if (!catalog.tableExists(t) && staged.containsKey(t))
          withLocks(Seq(t))(commitStagedTable(t, readBody(ex)))
        else if (!catalog.tableExists(t) || isViewEntry(t))
          err(s"table $t not found", 404)
        else commitTable(t, readBody(ex))
      }
      else if (method == "POST" && viewOf.nonEmpty) {
        val v = viewOf.get
        if (!isViewEntry(v)) err(s"view $v not found", 404)
        else withLocks(Seq(v))(commitView(v, readBody(ex)))
      }
      else if (method == "POST" && nsr.exists(_._2.contains("tables")))
        createTable(nsr.get._1, readBody(ex))
      else if (method == "POST" && nsr.exists(_._2.contains("views")))
        createView(nsr.get._1, readBody(ex))
      else if (method == "POST" && nsr.exists(_._2.contains("register")))
        registerTable(nsr.get._1, readBody(ex))
      else if (method == "POST" && nsr.exists(_._2.contains("properties")))
        withLocks(Seq(NsLock))(updateNamespaceProperties(nsr.get._1, readBody(ex)))
      else if (method == "POST" && path == nsRootPath)
        withLocks(Seq(NsLock))(createNamespace(readBody(ex)))
      else if (method == "POST" && path == s"/v1/$prefix/transactions/commit")
        commitTransaction(readBody(ex))
      else if (method == "POST" && path == s"/v1/$prefix/tables/rename")
        renameEntry(readBody(ex), wantView = false)
      else if (method == "POST" && path == s"/v1/$prefix/views/rename")
        renameEntry(readBody(ex), wantView = true)
      else if (method == "DELETE" && tableOf.nonEmpty) withLocks(Seq(tableOf.get)) {
        val t = tableOf.get
        if (!catalog.tableExists(t) || isViewEntry(t))
          err(s"table $t not found", 404)
        else { catalog.dropTable(t); purge(t); 204 -> "" }
      }
      else if (method == "DELETE" && viewOf.nonEmpty) withLocks(Seq(viewOf.get)) {
        val v = viewOf.get
        if (!isViewEntry(v)) err(s"view $v not found", 404)
        else { catalog.dropTable(v); purge(v); 204 -> "" }
      }
      else if (method == "DELETE" && nsr.exists(_._2.isEmpty))
        withLocks(Seq(NsLock))(dropNamespace(nsr.get._1))
      else if (method == "HEAD" && tableOf.nonEmpty)
        // spec table-existence check: status only, no body
        (if (catalog.tableExists(tableOf.get) &&
          !isViewEntry(tableOf.get)) 204 else 404) -> ""
      else if (method == "HEAD" && viewOf.nonEmpty)
        (if (isViewEntry(viewOf.get)) 204 else 404) -> ""
      else if (method == "HEAD" && nsr.exists(_._2.isEmpty))
        (if (nsExists(nsr.get._1)) 204 else 404) -> ""
      else if (method != "GET")
        err(s"$method $path not supported: reads, table lifecycle " +
          "(create/register/drop/rename) and the commit endpoint", 405)
      else if (path == "/v1/config")
        // the spec capability list: clients discover that this server
        // takes table COMMITS as well as reads
        200 -> JsonMethods.compact(JsonMethods.render(
          ("defaults" -> JObject(Nil)) ~ ("overrides" -> ("prefix" -> prefix)) ~
            ("endpoints" -> List(
              "GET /v1/config",
              "GET /v1/{prefix}/namespaces",
              "POST /v1/{prefix}/namespaces",
              "GET /v1/{prefix}/namespaces/{namespace}",
              "HEAD /v1/{prefix}/namespaces/{namespace}",
              "DELETE /v1/{prefix}/namespaces/{namespace}",
              "POST /v1/{prefix}/namespaces/{namespace}/properties",
              "POST /v1/oauth/tokens",
              "GET /v1/{prefix}/namespaces/{namespace}/tables",
              "GET /v1/{prefix}/namespaces/{namespace}/tables/{table}",
              "HEAD /v1/{prefix}/namespaces/{namespace}/tables/{table}",
              "POST /v1/{prefix}/namespaces/{namespace}/tables",
              "POST /v1/{prefix}/namespaces/{namespace}/tables/{table}",
              "POST /v1/{prefix}/namespaces/{namespace}/register",
              "DELETE /v1/{prefix}/namespaces/{namespace}/tables/{table}",
              "POST /v1/{prefix}/tables/rename",
              "POST /v1/{prefix}/views/rename",
              "POST /v1/{prefix}/namespaces/{namespace}/tables/{table}/plan",
              "GET /v1/{prefix}/namespaces/{namespace}/tables/{table}/plan/{plan-id}",
              "DELETE /v1/{prefix}/namespaces/{namespace}/tables/{table}/plan/{plan-id}",
              "POST /v1/{prefix}/namespaces/{namespace}/tables/{table}/preplan",
              "POST /v1/{prefix}/namespaces/{namespace}/tables/{table}/metrics",
              "GET /v1/{prefix}/namespaces/{namespace}/tables/{table}/credentials",
              "POST /v1/{prefix}/transactions/commit",
              "GET /v1/{prefix}/namespaces/{namespace}/views",
              "GET /v1/{prefix}/namespaces/{namespace}/views/{view}",
              "HEAD /v1/{prefix}/namespaces/{namespace}/views/{view}",
              "POST /v1/{prefix}/namespaces/{namespace}/views",
              "POST /v1/{prefix}/namespaces/{namespace}/views/{view}",
              "DELETE /v1/{prefix}/namespaces/{namespace}/views/{view}"))))
      else if (path == nsRootPath)
        listNamespaces(ex.getRequestURI.getRawQuery)
      else if (nsr.exists(_._2.isEmpty)) {
        val ns = nsr.get._1
        if (!nsExists(ns)) err(s"namespace ${ns.mkString(".")} not found", 404)
        else 200 -> JsonMethods.compact(JsonMethods.render(
          ("namespace" -> ns) ~ ("properties" -> propsJson(ns))))
      }
      else if (nsr.exists(_._2.contains("tables"))) {
        val ns = nsr.get._1
        // views are their own object kind — the tables listing excludes them
        if (!nsExists(ns)) err(s"namespace ${ns.mkString(".")} not found", 404)
        else listing(ns, entriesIn(ns).sorted.filterNot(isViewEntry),
          ex.getRequestURI.getRawQuery)
      }
      else if (nsr.exists(_._2.contains("views"))) {
        val ns = nsr.get._1
        if (!nsExists(ns)) err(s"namespace ${ns.mkString(".")} not found", 404)
        else listing(ns, entriesIn(ns).sorted.filter(isViewEntry),
          ex.getRequestURI.getRawQuery)
      }
      else if (viewOf.nonEmpty) {
        val v = viewOf.get
        if (!isViewEntry(v)) err(s"view $v not found", 404)
        else loadViewResult(v)
      }
      else tableOf match {
        case Some(table) =>
          if (!catalog.tableExists(table)) err(s"table $table not found", 404)
          else if (isViewEntry(table))
            err(s"$table is a view — load it from the views route", 404)
          else loadTableResult(table, locationOnly =
            Option(ex.getRequestURI.getRawQuery)
              .exists(_.split("&").contains("metadata-location-only=true")))
        case None => err(s"no such route: $path", 404)
      }
    respond(ex, code, body)
  } catch {
    case e: Exception =>
      val (code, body) = err(Option(e.getMessage).getOrElse(e.toString), 500)
      respond(ex, code, body)
  }

  /** `locationOnly` (opt-in extension, `?metadata-location-only=true`):
    * answers metadata-location + vended config WITHOUT the embedded
    * metadata document — at 10^5-10^6 tracked files the embedded JSON is
    * hundreds of MB per load, and a reader fleet that fetches the
    * metadata file from shared storage (once, cached) doesn't need it on
    * every catalog round trip. The export still runs (the location must
    * name a real file) and is cached per version like the full body. */
  private def credConfigJson(conf: Map[String, String]): JValue =
    JObject(conf.toList.sortBy(_._1).map { case (k, v) => k -> (JString(v): JValue) })

  private def loadTableResult(table: String,
      locationOnly: Boolean = false): (Int, String) = {
    val epoch = epochOf(table) // read BEFORE the load (see [[epochs]])
    val meta = catalog.loadTable(table)
    // With EXPIRING vends every response must carry a fresh session
    // token + stamp, so only the EXPORT (the expensive, racy half — two
    // concurrent exports would write the same *.metadata.json) is cached
    // and the body renders per request; with static vends the whole body
    // caches as before. The export resolves BEFORE any body-cache
    // compute — ConcurrentHashMap refuses a computeIfAbsent nested
    // inside another on the same map ("Recursive update"). The U+001F
    // separator cannot appear in a safeName'd entry, so synthetic cache
    // keys never collide.
    val jsonPath =
      try cached(table + "\u001fexport", meta, epoch)(
        IcebergExport.exportIcebergMetadata(catalog, table))
      catch { case e: IllegalArgumentException => return err(e.getMessage, 409) }
    val conf = vendedConfig()
    if (locationOnly) {
      def renderLoc(): String =
        JsonMethods.compact(JsonMethods.render(
          ("metadata-location" -> jsonPath) ~
            ("config" -> credConfigJson(conf))))
      val body =
        if (credentialTtlMs > 0) renderLoc()
        else cached(table + "\u001flocation-only", meta, epoch)(renderLoc())
      return 200 -> body
    }
    // storage-credential vending: when configured, every load carries
    // the access configuration for the table's storage prefix (the
    // spec's storage-credentials stanza, mirrored into config for
    // clients that only read the io map) — a stock client needs no
    // out-of-band storage setup. metadata-location is the exported
    // *.metadata.json itself (spec clients that honor it over the
    // embedded copy must land on a real file), and the whole response
    // renders through json4s so paths with quotes/backslashes stay
    // valid JSON.
    def renderBody(): String = {
      val credConfig = credConfigJson(conf)
      val creds: JValue =
        if (conf.isEmpty) JNothing
        else JArray(List(("prefix" -> meta.location) ~ ("config" -> credConfig)))
      JsonMethods.compact(JsonMethods.render(
        ("metadata-location" -> jsonPath) ~
          ("metadata" -> JsonMethods.parse(MetaIO.readString(jsonPath))) ~
          ("config" -> credConfig) ~
          ("storage-credentials" -> creds)))
    }
    // expiring vends: only the config/storage-credentials stanzas vary
    // per request, so the big half (the parsed + re-rendered metadata
    // document) caches under its own key and the body SPLICES — without
    // this every load re-reads and re-parses the whole document just to
    // carry a fresh credential stamp. Fragments are valid JSON, so
    // string splicing is sound.
    def renderSpliced(): String = {
      val metaDoc = cached(table + "\u001fmetadoc", meta, epoch)(
        JsonMethods.compact(JsonMethods.render(
          JsonMethods.parse(MetaIO.readString(jsonPath)))))
      def q(v: String): String =
        JsonMethods.compact(JsonMethods.render(JString(v)))
      val confJson = JsonMethods.compact(JsonMethods.render(credConfigJson(conf)))
      val creds =
        if (conf.isEmpty) ""
        else s""","storage-credentials":[{"prefix":${q(meta.location)},"config":$confJson}]"""
      s"""{"metadata-location":${q(jsonPath)},"metadata":$metaDoc,"config":$confJson$creds}"""
    }
    val body =
      try {
        if (credentialTtlMs > 0) renderSpliced()
        else cached(table, meta, epoch)(renderBody())
      }
      catch {
        // v3 features the v2 wire cannot carry: refuse with the reason
        // rather than serving wrong metadata
        case e: IllegalArgumentException => return err(e.getMessage, 409)
      }
    200 -> body
  }

  /** `GET .../tables/{t}/credentials` — the spec's refresh endpoint
    * (LoadCredentialsResponse): a long job whose vended credential is
    * about to lapse re-fetches HERE instead of re-loading the whole
    * table. Every call is a fresh vend; never cached. */
  private def loadCredentials(table: String): (Int, String) = {
    val meta = catalog.loadTable(table)
    200 -> JsonMethods.compact(JsonMethods.render(
      ("storage-credentials" -> JArray(List(
        ("prefix" -> meta.location) ~
          ("config" -> credConfigJson(vendedConfig())))))))
  }

  import IcebergImport.{lng, str}
  private def optLng(j: JValue): Option[Long] =
    j match { case JNothing | JNull => None; case v => Some(lng(v)) }

  /** `POST .../namespaces/{ns}/tables`: the spec CreateTableRequest. The
    * request's schema / partition-spec / write-order / properties are
    * synthesized into a MINIMAL table-metadata document and parsed by
    * [[IcebergImport.parseIcebergMetadataJson]] — the exact machinery an
    * attach uses — so REST-created tables get the same type mapping,
    * transform validation, and refusal messages as attached ones. The
    * server assigns the location (requested locations are ignored, as the
    * spec allows) and the table uuid. */
  private def createTable(ns: Seq[String], body: String): (Int, String) =
    try createTable0(ns, body)
    // Exception, not just RuntimeException: malformed JSON surfaces from
    // jackson as an IOException and is a CLIENT error
    catch { case e: Exception =>
      err(s"bad CreateTableRequest: ${e.getMessage}", 400) }

  /** Bare object name + namespace -> catalog entry name; refuses names
    * that would alias into another namespace or traverse out of the
    * warehouse ([[safeName]] — guarding every BODY-derived name:
    * create/register/view-create, rename, transaction identifiers). */
  private def entryNameOf(ns: Seq[String], bare: String): Either[(Int, String), String] =
    if (!safeName(bare))
      Left(err(s"invalid object name '$bare' ('.' addresses namespaces; " +
        "'/' and '\\' are not allowed)", 400))
    else Right(entryPrefix(ns) + bare)

  private def createTable0(ns: Seq[String], body: String): (Int, String) = {
    // the spec's NoSuchNamespace: creating under a namespace that neither
    // holds entries nor was explicitly created answers 404
    if (!nsExists(ns))
      return err(s"namespace ${ns.mkString(".")} not found", 404)
    val req = JsonMethods.parse(body)
    val tname = entryNameOf(ns, str(req \ "name")) match {
      case Left(e) => return e; case Right(n) => n
    }
    // the name is known: take ITS lock for the rest of the create — the
    // concurrent-dispatch pool would otherwise let a create's
    // exists-check/mkdirs/write interleave with a locked DELETE of the
    // same name (half-created state), and two racing creates would
    // surface the loser's catalog CAS as a confusing 400
    withLocks(Seq(tname))(createTableLocked(ns, tname, req))
  }

  private def createTableLocked(ns: Seq[String], tname: String,
      req: JValue): (Int, String) = {
    if (catalog.tableExists(tname))
      return err(s"table $tname already exists", 409)
    val schemaJ = (req \ "schema") match {
      case JNothing | JNull => return err("CreateTableRequest: schema required", 400)
      case s => s
    }
    val fieldIds = (schemaJ \ "fields") match {
      case JArray(fs) if fs.nonEmpty => fs.map(f => lng(f \ "id"))
      case _ => return err("CreateTableRequest: schema has no fields", 400)
    }
    val specFields: JValue = (req \ "partition-spec" \ "fields") match {
      case JNothing | JNull => JArray(Nil); case fs => fs
    }
    val orderFields: JValue = (req \ "write-order" \ "fields") match {
      case JNothing | JNull => JArray(Nil); case fs => fs
    }
    val properties = (req \ "properties") match {
      case o: JObject => o; case _ => JObject(Nil)
    }
    // client-supplied reserved keys on a CREATE would forge engine state
    // the server is about to assign itself (identity, stats retirement,
    // ANALYZE provenance) — the register route is the sanctioned
    // adopt-a-foreign-uuid path, set-statistics the validated stats one
    try SchemaEvolution.requireUnreservedProps(properties.obj.map(_._1))
    catch { case e: IllegalArgumentException => return err(e.getMessage, 400) }
    // engines request v3 the way Iceberg itself does: a `format-version`
    // table property on the create
    val fv = (properties \ "format-version") match {
      case JString("3") => 3
      case JString("2") | JNothing | JNull => 2
      case other => return err(s"unsupported format-version $other", 400)
    }
    val doc: JValue =
      ("format-version" -> fv) ~
        ("last-sequence-number" -> 0L) ~
        ("last-column-id" -> fieldIds.max) ~
        ("current-schema-id" -> 0) ~
        ("schemas" -> JArray(List(schemaJ.merge(
          ("schema-id" -> 0): JValue)))) ~
        ("default-spec-id" -> 0) ~
        ("partition-specs" -> JArray(List(
          ("spec-id" -> 0) ~ ("fields" -> specFields)))) ~
        ("default-sort-order-id" -> (if (orderFields == JArray(Nil)) 0 else 1)) ~
        ("sort-orders" -> JArray(List(
          ("order-id" -> 1) ~ ("fields" -> orderFields)))) ~
        ("properties" -> properties) ~
        ("current-snapshot-id" -> -1L) ~
        ("snapshots" -> JArray(Nil))
    if ((req \ "stage-create") == JBool(true)) {
      // the spec CTAS handshake: validate + assign identity/location but
      // register NOTHING — the first commit materializes atomically
      val parsed =
        try IcebergImport.parseIcebergMetadataJson(tname, doc)
        catch { case e: RuntimeException =>
          return err(s"cannot stage $tname: ${e.getMessage}", 400) }
      val withId = TableMetadata.withStableUuid(
        parsed.copy(location = catalog.tableLocation(tname)))
      staged.put(tname, withId)
      // a staged LoadTableResult has NO metadata-location (nothing is
      // durable yet); the embedded metadata tells the client where to
      // write data and which identity to assert
      return 200 -> JsonMethods.compact(JsonMethods.render(
        ("metadata" -> doc.merge(
          (("table-uuid" -> withId.stableUuid) ~
            ("location" -> withId.location)): JValue)) ~
          ("config" -> JObject(Nil))))
    }
    try IcebergImport.importIcebergMetadataJson(catalog, tname, doc)
    catch {
      // a NATIVE writer's create winning the catalog CAS is the spec's
      // AlreadyExists (retryable 409), not a malformed request
      case e: CommitConflictException =>
        return err(s"table $tname was created concurrently: ${e.getMessage}", 409)
      case e: RuntimeException =>
        return err(s"cannot create $tname: ${e.getMessage}", 400)
    }
    purge(tname)
    loadTableResult(tname)
  }

  /** First commit against a STAGED table (the CTAS handshake's second
    * half). The commit is VALIDATED against the staged metadata before
    * anything touches the catalog — a refused commit leaves no entry and
    * no side effects (in particular it must NOT delete the writer's
    * already-staged data files); only a valid one materializes
    * create+commit. */
  private def commitStagedTable(table: String, body: String): (Int, String) = {
    val stagedMeta = staged.get(table)
    if (stagedMeta == null) // consumed by a racing staged commit
      return err(s"table $table not found", 404)
    val built =
      try buildCommit(table, JsonMethods.parse(body), Some(stagedMeta))
      catch { case e: Exception =>
        return err(s"bad CommitTableRequest: ${e.getMessage}", 400) }
    built match {
      case Left(e) => e
      case Right((_, updated)) =>
        val created =
          try catalog.createTable(stagedMeta)
          catch { case e: RuntimeException =>
            return err(s"staged table $table lost the create race: " +
              s"${e.getMessage}", 409) }
        try {
          catalog.commit(created, updated)
          staged.remove(table); purge(table)
          loadTableResult(table)
        } catch {
          case _: CommitConflictException =>
            // only reachable with a racing writer on the entry created
            // microseconds ago; unwind the materialization so the
            // handshake stays all-or-nothing
            try catalog.dropTable(table) catch { case _: Exception => () }
            purge(table)
            err("concurrent commit on the staged create — restage and retry", 409)
        }
    }
  }

  /** `GET .../views/{v}`: the spec LoadViewResult — the Iceberg view-spec
    * v1 metadata ([[IcebergExport.exportIcebergViewMetadata]]), cached
    * fully-rendered per (view, version) like tables. */
  private def loadViewResult(view: String): (Int, String) = {
    val epoch = epochOf(view) // read BEFORE the load (see [[epochs]])
    val meta = catalog.loadTable(view)
    val body =
      try cached(view, meta, epoch) {
        val jsonPath = IcebergExport.exportIcebergViewMetadata(
          catalog, view, defaultNamespace = namespace)
        JsonMethods.compact(JsonMethods.render(
          ("metadata-location" -> jsonPath) ~
            ("metadata" -> JsonMethods.parse(MetaIO.readString(jsonPath))) ~
            ("config" -> JObject(Nil))))
      }
      catch { case e: IllegalArgumentException => return err(e.getMessage, 400) }
    200 -> body
  }

  /** `POST .../namespaces/{ns}/views`: the spec CreateViewRequest. Like
    * table creates, the request is synthesized into a view-metadata
    * document and parsed by the same [[IcebergImport]] machinery as an
    * attach. */
  private def createView(ns: Seq[String], body: String): (Int, String) = {
    // the request-shape catch covers parse + import ONLY — once the view
    // exists, a failure rendering the response must not masquerade as a
    // 400 "bad request" (the client would retry into a confusing 409)
    if (!nsExists(ns))
      return err(s"namespace ${ns.mkString(".")} not found", 404)
    val vname =
      try {
        val req = JsonMethods.parse(body)
        val vname = entryNameOf(ns, str(req \ "name")) match {
          case Left(e) => return e; case Right(n) => n
        }
        withLocks(Seq(vname)) { // serialize vs locked drops/creates of the name
        if (catalog.tableExists(vname))
          return err(s"$vname already exists", 409)
        val vv = (req \ "view-version") match {
          case JNothing | JNull =>
            return err("CreateViewRequest: view-version required", 400)
          case x => x
        }
        val schemaJ = (req \ "schema") match {
          case JNothing | JNull => return err("CreateViewRequest: schema required", 400)
          case s => s.merge(("schema-id" -> 0): JValue)
        }
        val doc: JValue =
          ("format-version" -> 1) ~
            ("current-version-id" -> 1) ~
            ("current-schema-id" -> 0) ~
            ("schemas" -> JArray(List(schemaJ))) ~
            ("versions" -> JArray(List(vv.merge(
              (("version-id" -> 1) ~ ("schema-id" -> 0)): JValue)))) ~
            ("properties" -> ((req \ "properties") match {
              case o: JObject => o; case _ => JObject(Nil)
            }))
        IcebergImport.importIcebergViewMetadataJson(catalog, vname, doc)
        purge(vname)
        vname
        }
      } catch {
        case e: CommitConflictException =>
          return err(s"view was created concurrently: ${e.getMessage}", 409)
        case e: Exception =>
          return err(s"bad CreateViewRequest: ${e.getMessage}", 400)
      }
    loadViewResult(vname)
  }

  /** `POST .../namespaces/{ns}/views/{v}`: the spec's view COMMIT —
    * how a foreign engine's CREATE OR REPLACE VIEW lands on a served
    * view. `assert-view-uuid` validates identity (409 on mismatch);
    * `add-view-version` appends a version (spark representation
    * preferred, foreign dialects stored under their label and handled
    * at read by [[DialectTranslate]]'s safe subset); optional
    * `add-schema` re-pins the declared output schema;
    * `set-current-view-version` must name the added version (or the
    * spec's -1). No analysis happens here — this server has no Spark
    * session, and imported/committed views are LATE-BOUND like every
    * other foreign view (a bad definition fails at read, by name). */
  private def commitView(view: String, body: String): (Int, String) = {
    val req =
      try JsonMethods.parse(body)
      catch { case e: Exception =>
        return err(s"bad CommitViewRequest: ${e.getMessage}", 400) }
    val meta = catalog.loadTable(view)
    (req \ "requirements") match {
      case JArray(rs) => rs.foreach { r =>
        (r \ "type") match {
          case JString("assert-view-uuid") =>
            if (str(r \ "uuid") != meta.stableUuid)
              return err(s"requirement failed: view uuid is ${meta.stableUuid}, " +
                s"client expected ${str(r \ "uuid")}", 409)
          case JString(t) => return err(s"unsupported view requirement: $t", 400)
          case o => return err(s"bad requirement: $o", 400)
        }
      }
      case JNothing | JNull => ()
      case o => return err(s"bad requirements: $o", 400)
    }
    var addVersion: Option[JValue] = None
    var setCurrent: Option[Long] = None
    var newSchema: Option[Seq[SchemaField]] = None
    var properties = meta.properties
    (req \ "updates") match {
      case JArray(us) => us.foreach { u =>
        (u \ "action") match {
          case JString("add-view-version") =>
            if (addVersion.nonEmpty) return err("multiple add-view-version", 400)
            addVersion = Some(u \ "view-version")
          case JString("set-current-view-version") =>
            setCurrent = Some(lng(u \ "view-version-id"))
          case JString("add-schema") =>
            newSchema = Some(
              try IcebergImport.arr(u \ "schema" \ "fields").map { f =>
                SchemaField(lng(f \ "id").toInt, str(f \ "name"),
                  IcebergImport.ddlOf(f \ "type"),
                  nullable = (f \ "required") != JBool(true))
              } catch { case e: Exception =>
                return err(s"bad add-schema: ${e.getMessage}", 400) })
          case JString("set-properties") => (u \ "updates") match {
            case JObject(kv) =>
              val props = kv.collect { case (k, JString(v)) => k -> v }
              props.find(_._1.startsWith("graft.view.")).foreach(p =>
                return err(s"property ${p._1} is reserved view state", 400))
              properties ++= props
            case o => return err(s"bad set-properties: $o", 400)
          }
          case JString("remove-properties") => (u \ "removals") match {
            case JArray(ks) =>
              val keys = ks.collect { case JString(k) => k }
              keys.find(_.startsWith("graft.view.")).foreach(k =>
                return err(s"property $k is reserved view state", 400))
              properties --= keys
            case o => return err(s"bad remove-properties: $o", 400)
          }
          case JString(a) => return err(s"unsupported view update: $a", 400)
          case o => return err(s"bad update: $o", 400)
        }
      }
      case JNothing | JNull => ()
      case o => return err(s"bad updates: $o", 400)
    }
    val updated = addVersion match {
      case None =>
        if (setCurrent.nonEmpty)
          return err("set-current-view-version without add-view-version — " +
            "this server keeps the added version current", 400)
        meta.copy(schema = newSchema.getOrElse(meta.schema),
          properties = properties)
      case Some(vv) =>
        val reps = IcebergImport.arr(vv \ "representations").collect {
          case r if (r \ "type") == JString("sql") =>
            (str(r \ "sql"), (r \ "dialect") match {
              case JString(d) => d; case _ => ""
            })
        }
        if (reps.isEmpty)
          return err("add-view-version carries no SQL representation", 400)
        val (sql, dialect) = reps.find(_._2.equalsIgnoreCase("spark"))
          .getOrElse(reps.head)
        val nextV = Views.versions(meta).map(_._1).max + 1
        val proposedId = optLng(vv \ "version-id")
        setCurrent.foreach(id =>
          if (id != -1L && !proposedId.contains(id) && id != nextV.toLong)
            return err(s"set-current-view-version $id does not name the " +
              s"added version ($nextV)", 400))
        val ts = (vv \ "timestamp-ms") match {
          case JNothing | JNull => System.currentTimeMillis(); case v => lng(v)
        }
        meta.copy(
          schema = newSchema.getOrElse(meta.schema),
          properties = properties ++ Map(
            Views.SqlKey -> sql, Views.DialectKey -> dialect,
            Views.CurrentVersionKey -> nextV.toString,
            Views.versionSqlKey(nextV) -> sql,
            Views.versionTsKey(nextV) -> ts.toString) ++
            (if (dialect.nonEmpty)
              Map(Views.versionDialectKey(nextV) -> dialect) else Map.empty))
    }
    try { catalog.commit(meta, updated); loadViewResult(view) }
    catch {
      case _: CommitConflictException =>
        err("concurrent commit — reload and retry", 409)
    }
  }

  /** `POST .../namespaces/{ns}/register`: the spec RegisterTableRequest —
    * adopt a table that already has a `*.metadata.json` on shared storage
    * (the REST analogue of `CALL attach_iceberg`). */
  private def registerTable(ns: Seq[String], body: String): (Int, String) = {
    if (!nsExists(ns))
      return err(s"namespace ${ns.mkString(".")} not found", 404)
    val (tname, loc) =
      try {
        val req = JsonMethods.parse(body)
        val n = entryNameOf(ns, str(req \ "name")) match {
          case Left(e) => return e; case Right(x) => x
        }
        (n, str(req \ "metadata-location"))
      }
      catch { case e: Exception =>
        return err(s"bad RegisterTableRequest: ${e.getMessage}", 400) }
    withLocks(Seq(tname)) { // serialize vs locked drops/creates of the name
      if (catalog.tableExists(tname))
        return err(s"table $tname already exists", 409)
      try IcebergImport.importIcebergMetadata(catalog, tname, loc)
      catch {
        case e: CommitConflictException =>
          return err(s"table $tname was created concurrently: ${e.getMessage}", 409)
        case e: Exception =>
          return err(s"cannot register $tname from $loc: ${e.getMessage}", 400)
      }
      // a re-registered source PRESERVES its foreign uuid and restarts the
      // version counter — stale bodies for this name must go
      purge(tname)
      loadTableResult(tname)
    }
  }

  /** `POST .../tables/{t}/metrics` (the spec ReportMetricsRequest):
    * PERSISTS the posted scan/commit report under the table's own
    * `metadata/metrics/` (newest [[metricsRetention]] kept, pruned on
    * write), surfaces it through SQL as the `metrics` metadata table
    * ([[IceRead.metrics]] — `SELECT * FROM cat.t.metrics`), and counts
    * it in the serve [[metrics]] registry, mirroring the reference's
    * recorded registry (core/src/common/metrics.rs:24-52). Served scan
    * reports are the observability signal a catalog operator reads;
    * discarding them (the pre-round-10 behavior) wasted it. */
  private def recordMetrics(table: String, body: String): (Int, String) = {
    val j =
      try JsonMethods.parse(body)
      catch { case e: Exception =>
        return err(s"bad ReportMetricsRequest: ${e.getMessage}", 400) }
    val reportType = (j \ "report-type") match {
      case JString(t) => t; case _ => "unknown"
    }
    val stamped = j merge (("received-at-ms" -> System.currentTimeMillis()): JValue)
    val dir = MetaIO.join(catalog.loadTable(table).location, "metadata", "metrics")
    withLocks(Seq("\u0000metrics:" + table)) {
      MetaIO.writeString(MetaIO.join(dir,
        f"r${System.currentTimeMillis()}%013d-" +
          s"${java.util.UUID.randomUUID().toString.take(8)}.json"),
        JsonMethods.compact(JsonMethods.render(stamped)))
      MetaIO.listFiles(dir).map(_._1).sorted.dropRight(metricsRetention)
        .foreach(p => MetaIO.delete(p))
    }
    metrics.counter("reports_received").incrementAndGet()
    // counter names come from the CLIENT: bucket anything but the spec's
    // two report types, or a hostile/chatty reporter grows the in-memory
    // registry one AtomicLong per distinct string, forever
    val bucket =
      if (reportType == "scan-report" || reportType == "commit-report") reportType
      else "other"
    metrics.counter(s"reports_$bucket").incrementAndGet()

    rollIntoRegistry(table, reportType, j)
    204 -> ""
  }

  /** Registry AGGREGATION (metrics.rs:24-52 design): beyond raw
    * persisted reports, the well-known envelope metrics of one report
    * roll into per-table histograms, so the operator reads scan-latency
    * / planning-duration / result-size DISTRIBUTIONS per served table
    * from `metrics.histogramSnapshots`. Histogram names key on the
    * CATALOG table (the metrics route already 404'd unknown names),
    * never on client strings — the registry stays bounded by what is
    * served. */
  private def rollIntoRegistry(table: String, reportType: String,
      j: JValue): Unit = {
    def durationMs(v: JValue): Option[Double] = {
      val raw = (v \ "total-duration") match {
        case JInt(x) => Some(x.toDouble); case JLong(x) => Some(x.toDouble)
        case JDouble(x) => Some(x); case _ => None
      }
      val unit = (v \ "time-unit") match { case JString(u) => u; case _ => "nanoseconds" }
      raw.map(_ / (unit match {
        case "nanoseconds" => 1e6
        case "microseconds" => 1e3
        case "milliseconds" => 1.0
        case "seconds" => 1e-3
        case _ => 1e6
      }))
    }
    def counterVal(v: JValue): Option[Double] = (v \ "value") match {
      case JInt(x) => Some(x.toDouble); case JLong(x) => Some(x.toDouble)
      case JDouble(x) => Some(x); case _ => None
    }
    val m = j \ "metrics"
    if (reportType == "scan-report") {
      // planning latencies are routinely sub-second: the reference's
      // duration envelope (x4^8), shifted to a 1 ms start (~65 s ceiling)
      durationMs(m \ "total-planning-duration").foreach(
        metrics.histogram(s"scan_planning_ms:$table", 1.0, 4.0, 8).record)
      counterVal(m \ "result-data-files").foreach(
        metrics.histogram(s"scan_result_files:$table", 1.0, 2.0, 13).record)
      counterVal(m \ "total-file-size-in-bytes").foreach(
        metrics.histogram(s"scan_result_bytes:$table",
          1024.0 * 1024.0, 4.0, 12).record)
    } else if (reportType == "commit-report") {
      durationMs(m \ "total-duration").foreach(
        metrics.histogram(s"commit_duration_ms:$table", 1.0, 4.0, 8).record)
      counterVal(m \ "added-data-files").foreach(
        metrics.histogram(s"commit_added_files:$table", 1.0, 2.0, 13).record)
    }
  }

  /** Replays every PERSISTED report (`metadata/metrics/` across served
    * tables) into the in-memory registry — the restart-recovery hook: a
    * rebooted server calls this once and its distributions pick up where
    * the previous process left off, bounded by the per-table retention.
    * Returns the number of reports replayed. */
  def rollupPersistedReports(): Int = {
    var n = 0
    catalog.listTables.foreach { t =>
      val dir = scala.util.Try(
        MetaIO.join(catalog.loadTable(t).location, "metadata", "metrics"))
      dir.foreach { d =>
        scala.util.Try(MetaIO.listFiles(d)).getOrElse(Nil).map(_._1).sorted
          .foreach { p =>
            scala.util.Try(JsonMethods.parse(MetaIO.readString(p))).foreach { j =>
              val rt = (j \ "report-type") match {
                case JString(s) => s; case _ => "unknown"
              }
              rollIntoRegistry(t, rt, j)
              n += 1
            }
          }
      }
    }
    n
  }

  /** `POST .../tables/{t}/preplan`: the spec's distributed-planning
    * first half. Small tables answer a SINGLE opaque plan task; at
    * manifest scale (10^5-10^6 tracked files) the response SHARDS the
    * snapshot into bounded tasks of ~[[IcebergRestServe.FilesPerPlanTask]]
    * data files each — a fleet of readers plans in parallel, no one
    * response carries a million rendered tasks, and each shard's `plan`
    * call prunes + renders only its slice. */
  private def preplanTableScan(table: String, body: String): (Int, String) = {
    val meta = catalog.loadTable(table)
    val snapId = optLng(if (body.trim.isEmpty) JNothing
                        else JsonMethods.parse(body) \ "snapshot-id")
      .orElse(meta.currentSnapshotId)
      .getOrElse(return 200 -> JsonMethods.compact(JsonMethods.render(
        ("plan-status" -> "completed") ~ ("plan-tasks" -> JArray(Nil)))))
    val snap = meta.snapshotById(snapId).getOrElse(
      return err(s"no snapshot $snapId", 404))
    val dataFiles = snap.manifest.count(_.content == FileContent.Data)
    val shards = math.max(1L,
      (dataFiles + IcebergRestServe.FilesPerPlanTask - 1) /
        IcebergRestServe.FilesPerPlanTask).toInt
    val tasks =
      if (shards == 1) List(s"graft-snapshot:$snapId")
      else (0 until shards).map(i => s"graft-snapshot:$snapId:$i:$shards").toList
    200 -> JsonMethods.compact(JsonMethods.render(
      ("plan-status" -> "completed") ~ ("plan-tasks" -> tasks)))
  }

  /** `POST .../tables/{t}/plan` (PlanTableScanRequest): server-side scan
    * planning — the response's `file-scan-tasks` are the MANIFEST-PRUNED
    * file tasks graft's own reads use ([[graft.exec.ZonePrune]] over
    * zone maps, identity constants, bucket/truncate transforms), each
    * with its resolved delete files as indices into a shared
    * `delete-files` list (the spec's reference encoding) and the
    * original filter echoed as the residual. A foreign reader gets
    * graft's pruning without downloading or decoding any metadata.
    * Unsupported filter shapes degrade to keep-everything — pruning is
    * advisory, never wrong. */
  private def planTableScan(table: String, body: String): (Int, String) = {
    val meta = catalog.loadTable(table)
    val req = if (body.trim.isEmpty) JObject(Nil) else JsonMethods.parse(body)
    // `plan-task` tokens: `graft-snapshot:<id>` (whole snapshot) or
    // `graft-snapshot:<id>:<shard>:<of>` (one preplan shard)
    var shard: Option[(Int, Int)] = None
    val snapIdOpt: Option[Long] = (req \ "plan-task") match {
      case JString(s) if s.startsWith("graft-snapshot:") =>
        s.stripPrefix("graft-snapshot:").split(":") match {
          case Array(id) => Some(id.toLong)
          case Array(id, i, of) if i.toInt >= 0 && i.toInt < of.toInt =>
            shard = Some((i.toInt, of.toInt)); Some(id.toLong)
          case _ => return err(s"malformed plan-task $s", 400)
        }
      case JString(other) => return err(s"unknown plan-task $other", 400)
      case _ => optLng(req \ "snapshot-id").orElse(meta.currentSnapshotId)
    }
    val snap = snapIdOpt match {
      case None =>
        return 200 -> JsonMethods.compact(JsonMethods.render(
          ("plan-status" -> "completed") ~
            ("file-scan-tasks" -> JArray(Nil)) ~ ("delete-files" -> JArray(Nil))))
      case Some(id) => meta.snapshotById(id).getOrElse(
        return err(s"no snapshot $id", 404))
    }
    // shard BEFORE filtering: the slice is a stable function of manifest
    // order, so the union of every shard's pruned answer is exactly the
    // unsharded answer whatever filter each reader brings
    val tasks0 = meta.scanTasks(snap)
    val tasks = shard match {
      case None => tasks0
      case Some((i, of)) => tasks0.zipWithIndex.collect {
        case (t, idx) if idx % of == i => t
      }
    }
    val filterJ = req \ "filter"
    // ---- async arm: an UNSHARDED ad-hoc plan over a big snapshot never
    // renders inline — at 10^5-10^6 files one response runs to hundreds
    // of MB and pins a dispatch thread for its whole render. The server
    // answers the spec's `submitted` + plan-id; the client polls
    // GET .../plan/{plan-id} and PAGES the completed result
    // (`pageToken`), or cancels with DELETE. preplan shard tokens stay
    // synchronous (each shard is bounded by construction).
    val isAdHoc = (req \ "plan-task") match {
      case JNothing | JNull => true; case _ => false
    }
    if (isAdHoc && tasks.size > IcebergRestServe.AsyncPlanThreshold)
      return submitAsyncPlan(table, meta, snap, tasks, filterJ)
    val kept = pruneTasks(meta, tasks, filterJ)
    val byKey = snap.entriesByKey
    200 -> JsonMethods.compact(JsonMethods.render(
      (("plan-status" -> "completed"): JObject) ~
        renderScanTasks(kept, byKey, filterJ)))
  }

  /** Prunes plan tasks with the request filter (polarity-aware
    * translation + zone/partition pruning) — shared by the synchronous
    * and async plan arms. */
  private def pruneTasks(meta: TableMetadata, tasks: Seq[FileEntry],
      filterJ: JValue): Seq[FileEntry] = meta.typedStruct match {
    case Some(struct) =>
      val expr = exprOf(filterJ,
        meta.schema.map(f => f.name -> f.sparkType).toMap)
        .getOrElse(org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral)
      val identityCols = meta.partitionSpec.filter(_.isIdentity).map(_.column).toSet
      val bucketFields = meta.partitionSpec.filter(p => p.isBucket || p.isTruncate)
      tasks.filter(t => graft.exec.ZonePrune.mayMatch(expr, t, struct,
        identityCols, "UTC", bucketFields, meta.statsRetiredNames))
    case None => tasks // legacy untyped: no pruning, keep everything
  }

  private def contentFileJson(e: FileEntry): JValue =
    ("content" -> (e.content match {
      case FileContent.Data => "data"
      case FileContent.PositionDeletes => "position-deletes"
      case FileContent.EqualityDeletes => "equality-deletes"
    })) ~
      ("file-path" -> e.path) ~
      ("file-format" -> (if (e.isDeletionVector) "puffin" else "parquet")) ~
      ("record-count" -> e.recordCount) ~
      ("file-size-in-bytes" -> e.length) ~
      ("sequence-number" -> e.sequenceNumber) ~
      ("spec-id" -> e.specId) ~
      ("partition" -> JObject(e.partitionValues.toList.sortBy(_._1)
        .map { case (k, v) => k -> (JString(v): JValue) })) ~
      ("equality-ids" ->
        (if (e.equalityFieldIds.isEmpty) JNothing else JArray(
          e.equalityFieldIds.toList.map(i => JInt(BigInt(i)))))) ~
      ("referenced-data-file" -> e.referencedDataFile.fold[JValue](JNothing)(JString(_))) ~
      ("content-offset" -> e.contentOffset.fold[JValue](JNothing)(o => JInt(BigInt(o)))) ~
      ("content-size-in-bytes" ->
        e.contentSizeInBytes.fold[JValue](JNothing)(o => JInt(BigInt(o))))

  /** Renders one PAGE of kept tasks with its own `delete-files` list —
    * references are page-local indices (the spec's reference encoding),
    * so every page is self-contained. */
  private def renderScanTasks(kept: Seq[FileEntry],
      byKey: Map[String, FileEntry], filterJ: JValue): JObject = {
    val deleteKeys = kept.flatMap(_.deletes).distinct
    val deleteIdx = deleteKeys.zipWithIndex.toMap
    val taskJ = kept.map { t =>
      ("data-file" -> contentFileJson(t)) ~
        ("delete-file-references" ->
          (if (t.deletes.isEmpty) JNothing
           else JArray(t.deletes.map(k => JInt(BigInt(deleteIdx(k)))).toList))) ~
        ("residual-filter" -> filterJ)
    }
    ("file-scan-tasks" -> taskJ) ~
      ("delete-files" -> deleteKeys.map(k => contentFileJson(byKey(k))))
  }

  /** One async plan: status transitions under the object's own monitor
    * (submitted -> completed|failed by the worker, -> cancelled by
    * DELETE, which always wins). */
  private final class AsyncPlan(val table: String, val seq: Long,
      val filterJ: JValue) {
    var status: String = "submitted"
    var error: String = ""
    @volatile var kept: Seq[FileEntry] = Nil
    @volatile var byKey: Map[String, FileEntry] = Map.empty
  }
  private val asyncPlans =
    new java.util.concurrent.ConcurrentHashMap[String, AsyncPlan]()
  private val asyncPlanSeq = new java.util.concurrent.atomic.AtomicLong()
  /** Plan computations run off the dispatch pool, so polls/reads stay
    * responsive while a million-file prune grinds. */
  private val planPool = java.util.concurrent.Executors.newFixedThreadPool(2,
    graft.util.DaemonThreads("graft-rest-plan"))

  /** Bounds the registry BOTH ways: plan count AND total retained kept
    * tasks (the real memory bound — 64 plans each keeping a 10^6-file
    * snapshot would pin ~10 GB for paging). Oldest evict first, never
    * the sole survivor; a reader that polls an evicted plan 404s and
    * re-submits. Called on submit and on completion. */
  private def evictPlans(): Unit = {
    import scala.jdk.CollectionConverters._
    def retainedTasks: Long =
      asyncPlans.values.asScala.iterator.map(_.kept.size.toLong).sum
    while (asyncPlans.size > IcebergRestServe.MaxAsyncPlans ||
        (asyncPlans.size > 1 &&
          retainedTasks > IcebergRestServe.MaxRetainedPlanTasks))
      asyncPlans.entrySet.asScala.minByOption(_.getValue.seq)
        .foreach(e => asyncPlans.remove(e.getKey))
  }

  private def submitAsyncPlan(table: String, meta: TableMetadata, snap: Snapshot,
      tasks: Seq[FileEntry], filterJ: JValue): (Int, String) = {
    val id = java.util.UUID.randomUUID().toString
    val plan = new AsyncPlan(table, asyncPlanSeq.incrementAndGet(), filterJ)
    asyncPlans.put(id, plan)
    evictPlans()
    planPool.submit(new Runnable {
      def run(): Unit =
        try {
          val kept = pruneTasks(meta, tasks, filterJ)
          val byKey = snap.entriesByKey
          // publish ONLY while still submitted: a cancel that already
          // cleared the plan must not have its kept list repopulated —
          // that would pin a cancelled 10^6-file list in memory and
          // charge it against the retained-task budget
          plan.synchronized {
            if (plan.status == "submitted") {
              plan.kept = kept; plan.byKey = byKey; plan.status = "completed"
            }
          }
          // the kept list just materialized — re-check the budget (a
          // burst of big plans completing after their submits would
          // otherwise exceed it with no submit left to trigger eviction)
          evictPlans()
        } catch {
          case e: Exception => plan.synchronized {
            plan.error = Option(e.getMessage).getOrElse(e.toString)
            if (plan.status == "submitted") plan.status = "failed"
          }
        }
    })
    200 -> JsonMethods.compact(JsonMethods.render(
      ("plan-status" -> "submitted") ~ ("plan-id" -> id)))
  }

  /** `GET .../tables/{t}/plan/{plan-id}[?pageToken=N]`: the spec's
    * FetchPlanningResult — submitted/cancelled/failed pass through;
    * completed answers ONE page of file-scan-tasks (with its own
    * delete-files) and a `next-page-token` while more remain. */
  private def planStatus(table: String, id: String, rawQuery: String): (Int, String) = {
    val p = asyncPlans.get(id)
    if (p == null || p.table != table)
      return err(s"no plan $id for table $table", 404)
    // the WHOLE page (status check + kept slice + byKey snapshot) renders
    // under one monitor hold: a concurrent DELETE (cancelPlan) between a
    // status read and the kept read would otherwise answer
    // plan-status=completed with ZERO tasks and no next-page-token — a
    // racing client would take that for an empty scan, not a cancellation
    p.synchronized {
      p.status match {
        case "submitted" => 200 -> JsonMethods.compact(JsonMethods.render(
          (("plan-status" -> "submitted"): JObject)))
        case "cancelled" => 200 -> JsonMethods.compact(JsonMethods.render(
          (("plan-status" -> "cancelled"): JObject)))
        case "failed" => 200 -> JsonMethods.compact(JsonMethods.render(
          ("plan-status" -> "failed") ~ ("error" -> p.error)))
        case _ =>
          val off = Option(rawQuery).toSeq.flatMap(_.split("&").toSeq)
            .flatMap(_.split("=", 2) match {
              case Array("pageToken", v) => urlDecode(v).toIntOption; case _ => None
            }).headOption.getOrElse(0).max(0)
          val page = p.kept.slice(off, off + IcebergRestServe.PlanPageSize)
          val base: JObject = (("plan-status" -> "completed"): JObject) ~
            renderScanTasks(page, p.byKey, p.filterJ)
          val next = off + IcebergRestServe.PlanPageSize
          val full: JObject =
            if (next < p.kept.size) base ~ ("next-page-token" -> next.toString)
            else base
          200 -> JsonMethods.compact(JsonMethods.render(full))
      }
    }
  }

  /** `DELETE .../tables/{t}/plan/{plan-id}`: cancellation — always wins
    * (a worker completing concurrently cannot resurrect the plan), and a
    * cancelled plan's results are never served. Idempotent. */
  private def cancelPlan(table: String, id: String): (Int, String) = {
    val p = asyncPlans.get(id)
    if (p == null || p.table != table)
      return err(s"no plan $id for table $table", 404)
    p.synchronized { p.status = "cancelled"; p.kept = Nil; p.byKey = Map.empty }
    204 -> ""
  }

  /** The spec expression JSON (a bound scan filter) to a Catalyst
    * expression [[graft.exec.ZonePrune.mayMatch]] understands. Returns
    * None for shapes outside the subset. AND may drop an unparseable side
    * — but ONLY at positive polarity: the drop WEAKENS the predicate,
    * which is conservative for pruning right up until a NOT above it
    * flips the weakening into a STRENGTHENING (Not(weaker) prunes files
    * whose rows match the original filter). `pos` tracks the polarity;
    * under an odd number of NOTs every child must translate fully or the
    * whole subtree degrades to keep-everything. */
  private def exprOf(j: JValue,
      types: Map[String, org.apache.spark.sql.types.DataType],
      pos: Boolean = true)
      : Option[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    def ref(t: JValue): Option[AttributeReference] = (t match {
      case JString(n) => Some(n)
      case o => (o \ "term") match { case JString(n) => Some(n); case _ => None }
    }).flatMap(n => types.get(n).map(dt => AttributeReference(n, dt)()))
    def lit(v: JValue, dt: DataType): Option[Literal] =
      try dt match {
        case LongType => Some(Literal(lng(v)))
        case IntegerType | ShortType | ByteType => Some(Literal(lng(v).toInt, IntegerType))
        case DoubleType => v match {
          case JDouble(d) => Some(Literal(d)); case x => Some(Literal(lng(x).toDouble))
        }
        case FloatType => v match {
          case JDouble(d) => Some(Literal(d.toFloat)); case x => Some(Literal(lng(x).toFloat))
        }
        case StringType => v match {
          case JString(s) => Some(Literal.create(s, StringType)); case _ => None
        }
        case BooleanType => v match { case JBool(b) => Some(Literal(b)); case _ => None }
        case DateType => v match {
          // the spec serializes dates as days-since-epoch ints; tolerate
          // the human form too
          case JString(s) => Some(Literal(
            java.time.LocalDate.parse(s).toEpochDay.toInt, DateType))
          case x => Some(Literal(lng(x).toInt, DateType))
        }
        case _ => None
      } catch { case scala.util.control.NonFatal(_) => None }
    def cmpOf(mk: (Expression, Expression) => Expression): Option[Expression] =
      for {
        a <- ref(j \ "term")
        l <- lit(j \ "value", a.dataType)
      } yield mk(a, l)
    (j \ "type") match {
      case JString("and") =>
        (exprOf(j \ "left", types, pos), exprOf(j \ "right", types, pos)) match {
          case (Some(l), Some(r)) => Some(And(l, r))
          // dropping a conjunct keeps more — sound ONLY at positive polarity
          case (one, other) if pos => one.orElse(other)
          case _ => None
        }
      case JString("or") =>
        for { l <- exprOf(j \ "left", types, pos); r <- exprOf(j \ "right", types, pos) }
          yield Or(l, r)
      case JString("not") => exprOf(j \ "child", types, !pos).map(Not(_))
      case JString("lt") => cmpOf(LessThan(_, _))
      case JString("lt-eq") => cmpOf(LessThanOrEqual(_, _))
      case JString("gt") => cmpOf(GreaterThan(_, _))
      case JString("gt-eq") => cmpOf(GreaterThanOrEqual(_, _))
      case JString("eq") => cmpOf(EqualTo(_, _))
      case JString("not-eq") => cmpOf((a, l) => Not(EqualTo(a, l)))
      case JString("starts-with") => cmpOf(StartsWith(_, _))
      case JString("is-null") => ref(j \ "term").map(IsNull(_))
      case JString("not-null") => ref(j \ "term").map(IsNotNull(_))
      case JString("in") => ref(j \ "term").flatMap { a =>
        (j \ "values") match {
          case JArray(vs) =>
            val lits = vs.map(lit(_, a.dataType))
            if (lits.forall(_.nonEmpty)) Some(In(a, lits.flatten)) else None
          case _ => None
        }
      }
      case JString("true") => Some(Literal.TrueLiteral)
      case JString("false") => Some(Literal.FalseLiteral)
      case _ => None
    }
  }

  /** Spec listing pagination: `pageToken` resumes EXCLUSIVELY after the
    * token (which is the last name of the prior page — names are served
    * sorted, so the token stays a stable resume point under concurrent
    * creates/drops), `pageSize` bounds the page. A `next-page-token` is
    * answered while more remain. */
  private def paginate(names: Seq[String], rawQuery: String)
      : (Seq[String], Option[String]) = {
    val params: Map[String, String] = Option(rawQuery).toSeq
      .flatMap(_.split("&").toSeq).flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(k -> java.net.URLDecoder.decode(
          v, java.nio.charset.StandardCharsets.UTF_8))
        case _ => None
      }).toMap
    val resumed = params.get("pageToken").filter(_.nonEmpty)
      .fold(names)(t => names.dropWhile(_ <= t))
    params.get("pageSize").flatMap(s => scala.util.Try(s.toInt).toOption)
      .filter(_ > 0) match {
      case Some(n) if resumed.size > n => (resumed.take(n), Some(resumed(n - 1)))
      case _ => (resumed, None)
    }
  }

  private def listing(ns: Seq[String], names: Seq[String],
      rawQuery: String): (Int, String) = {
    val (page, next) = paginate(names, rawQuery)
    val base: JValue = "identifiers" -> page.map(t =>
      ("namespace" -> ns) ~ ("name" -> t.split('.').last))
    200 -> JsonMethods.compact(JsonMethods.render(
      next.fold(base)(t => base merge (("next-page-token" -> t): JValue))))
  }

  /** `GET /v1/{prefix}/namespaces[?parent=X]`: without `parent`, the
    * single top-level namespace (this server's root); with it, the
    * DIRECT children of X — implicit ones (entries live below) plus
    * explicitly-created empty ones. */
  private def listNamespaces(rawQuery: String): (Int, String) = {
    val params: Map[String, String] = Option(rawQuery).toSeq
      .flatMap(_.split("&").toSeq).flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(k -> urlDecode(v)); case _ => None
      }).toMap
    val parent = params.get("parent").map(_.split('\u001f').toSeq)
    val result: Seq[Seq[String]] = parent match {
      case None => Seq(Seq(namespace))
      case Some(p) if !p.headOption.contains(namespace) => Nil
      case Some(p) =>
        val tail = p.drop(1)
        val implicitKids = catalog.listTables.map(nsTailOf)
          .filter(t => t.length > tail.length && t.startsWith(tail))
          .map(t => p :+ t(tail.length))
        val explicitKids = {
          import scala.jdk.CollectionConverters._
          createdNs.asScala.toSeq.filter(n =>
            n.length == p.length + 1 && n.startsWith(p))
        }
        (implicitKids ++ explicitKids).distinct.sortBy(_.mkString("\u001f"))
    }
    200 -> JsonMethods.compact(JsonMethods.render(
      ("namespaces" -> result): JValue))
  }

  private def dropNamespace(ns: Seq[String]): (Int, String) = {
    if (ns == Seq(namespace))
      return err("cannot drop the root namespace", 400)
    if (!nsExists(ns)) return err(s"namespace ${ns.mkString(".")} not found", 404)
    if (catalog.listTables.exists(n => nsTailOf(n).startsWith(ns.drop(1))))
      return err(s"namespace ${ns.mkString(".")} is not empty", 409)
    import scala.jdk.CollectionConverters._
    if (createdNs.asScala.exists(n => n.length > ns.length && n.startsWith(ns)))
      return err(s"namespace ${ns.mkString(".")} has child namespaces", 409)
    createdNs.remove(ns)
    nsProps.remove(ns)
    204 -> ""
  }

  /** `POST /v1/{prefix}/tables/rename` (and `views/rename`): the spec
    * RenameTableRequest — a metadata-only catalog rename
    * ([[Catalog.renameTable]]: same uuid, same history, same location,
    * data files untouched). The old name 404s afterwards; the new name
    * serves the same table. */
  private def renameEntry(body: String, wantView: Boolean): (Int, String) = {
    val (from, to) =
      try {
        val req = JsonMethods.parse(body)
        (identEntry(req \ "source"), identEntry(req \ "destination"))
      } catch { case e: Exception =>
        return err(s"bad RenameTableRequest: ${e.getMessage}", 400) }
    val kind = if (wantView) "view" else "table"
    withLocks(Seq(from, to)) {
      if (!catalog.tableExists(from) || isViewEntry(from) != wantView)
        return err(s"$kind $from not found", 404)
      if (catalog.tableExists(to))
        return err(s"$to already exists", 409)
      try catalog.renameTable(from, to)
      catch {
        case e: UnsupportedOperationException => return err(e.getMessage, 405)
        case e: Exception =>
          return err(s"cannot rename $from to $to: ${e.getMessage}", 400)
      }
      purge(from); purge(to)
      204 -> ""
    }
  }

  /** A spec TableIdentifier ({namespace, name}) to the catalog entry
    * name, validating the namespace is rooted here. Throws
    * IllegalArgumentException for the caller's 400 wrapper. */
  private def identEntry(j: JValue): String = {
    val ns = (j \ "namespace") match {
      case JArray(xs) if xs.nonEmpty && xs.forall(_.isInstanceOf[JString]) =>
        xs.map(_.asInstanceOf[JString].s)
      case other => throw new IllegalArgumentException(s"bad namespace $other")
    }
    require(ns.headOption.contains(namespace),
      s"unknown namespace ${ns.mkString(".")} (rooted at '$namespace')")
    // BODY-derived segments get the same traversal guard as URL-derived
    // ones: a namespace like ["graft", "../x"] must never reach the
    // catalog's path joins
    ns.drop(1).find(!safeName(_)).foreach(bad => throw new IllegalArgumentException(
      s"invalid namespace segment '$bad' ('.', '/', '\\' and separator " +
        "characters are not allowed)"))
    entryNameOf(ns, str(j \ "name")) match {
      case Left((_, msg)) => throw new IllegalArgumentException(msg)
      case Right(n) => n
    }
  }

  private def propsJson(ns: Seq[String]): JValue =
    JObject(Option(nsProps.get(ns)).getOrElse(Map.empty).toList.sortBy(_._1)
      .map { case (k, v) => k -> (JString(v): JValue) })

  /** `POST .../namespaces`: creates a CHILD namespace under the root
    * (the root itself answers the spec's AlreadyExists; namespaces not
    * rooted here are refused honestly). The request's `properties` are
    * stored and served on GET. */
  private def createNamespace(body: String): (Int, String) = {
    val req = JsonMethods.parse(body)
    (req \ "namespace") match {
      case JArray(xs) if xs.nonEmpty && xs.forall(_.isInstanceOf[JString]) =>
        val ns = xs.map(_.asInstanceOf[JString].s)
        val props = (req \ "properties") match {
          case JObject(kv) => kv.collect { case (k, JString(v)) => k -> v }.toMap
          case _ => Map.empty[String, String]
        }
        if (!ns.headOption.contains(namespace))
          err(s"namespaces here are rooted at '$namespace': cannot create " +
            ns.mkString("."), 400)
        else if (ns.exists(s => !safeName(s)))
          err(s"invalid namespace segment in ${ns.mkString(".")} " +
            "('.', '/', '\\' and separator characters are not allowed)", 400)
        else if (props.keys.exists(_.startsWith("graft.")))
          err(s"namespace property ${props.keys.find(_.startsWith("graft.")).get} " +
            "is reserved", 400)
        else if (nsExists(ns)) err(s"namespace ${ns.mkString(".")} already exists", 409)
        else if (ns.length > 1 && !nsExists(ns.dropRight(1)))
          err(s"parent namespace ${ns.dropRight(1).mkString(".")} does not exist", 404)
        else {
          createdNs.add(ns)
          if (props.nonEmpty) nsProps.put(ns, props)
          200 -> JsonMethods.compact(JsonMethods.render(
            ("namespace" -> ns) ~ ("properties" -> propsJson(ns))))
        }
      case other => err(s"bad CreateNamespaceRequest: $other", 400)
    }
  }

  /** `POST .../namespaces/{ns}/properties` (the spec
    * UpdateNamespacePropertiesRequest): apply `updates`, drop
    * `removals`, answer the spec's updated/removed/missing triple. A key
    * in BOTH lists is a client error; reserved `graft.` keys refuse like
    * table properties. */
  private def updateNamespaceProperties(ns: Seq[String], body: String): (Int, String) = {
    if (!nsExists(ns)) return err(s"namespace ${ns.mkString(".")} not found", 404)
    val req =
      try JsonMethods.parse(body)
      catch { case e: Exception =>
        return err(s"bad UpdateNamespacePropertiesRequest: ${e.getMessage}", 400) }
    val removals: Seq[String] = (req \ "removals") match {
      case JArray(xs) => xs.collect { case JString(s) => s }
      case JNothing | JNull => Nil
      case o => return err(s"bad removals: $o", 400)
    }
    val updates: Map[String, String] = (req \ "updates") match {
      case JObject(kv) => kv.collect { case (k, JString(v)) => k -> v }.toMap
      case JNothing | JNull => Map.empty
      case o => return err(s"bad updates: $o", 400)
    }
    removals.toSet.intersect(updates.keySet).headOption.foreach(k =>
      return err(s"property $k appears in both updates and removals", 400))
    (removals ++ updates.keys).find(k => k.isEmpty || k.startsWith("graft."))
      .foreach(k => return err(
        if (k.isEmpty) "empty property key" else s"property $k is reserved", 400))
    val cur = Option(nsProps.get(ns)).getOrElse(Map.empty)
    val (removed, missing) = removals.distinct.partition(cur.contains)
    nsProps.put(ns, cur -- removals ++ updates)
    200 -> JsonMethods.compact(JsonMethods.render(
      ("updated" -> updates.keys.toList.sorted) ~
        ("removed" -> removed.toList) ~ ("missing" -> missing.toList)))
  }

  /** `POST .../tables/{t}`: the spec CommitTableRequest. Validation —
    * including the real I/O (manifest-list decode, parquet footer checks,
    * DV bitmap compares) — runs OUTSIDE the entry lock so a slow commit
    * never serializes the server; the lock covers only the CAS+serve
    * step, and a commit whose validation raced a concurrent writer loses
    * the CAS and answers the spec's 409 retry signal. */
  private def commitTable(table: String, body: String): (Int, String) = {
    val built =
      try buildCommit(table, JsonMethods.parse(body))
      catch { case e: Exception =>
        return err(s"bad CommitTableRequest: ${e.getMessage}", 400) }
    built match {
      case Left(e) => e
      case Right((base, updated)) => withLocks(Seq(table)) {
        try { catalog.commit(base, updated); loadTableResult(table) }
        catch {
          case _: CommitConflictException =>
            err("concurrent commit — reload and retry", 409)
        }
      }
    }
  }

  /** A refusal in the wire shape the endpoints answer. */
  private def refuse(msg: String, code: Int) = Left(err(msg, code))

  /** Validates one CommitTableRequest against the LIVE table state and
    * builds `(base, updated)` WITHOUT committing — shared by the
    * single-table commit endpoint and [[commitTransaction]], so a
    * transaction applies exactly the semantics of N single commits.
    * Three steps: the requirements, the update parse, the apply. */
  private def buildCommit(table: String, req: JValue,
      stagedBase: Option[TableMetadata] = None)
      : Either[(Int, String), (TableMetadata, TableMetadata)] = {
    // a STAGED first commit validates against the staged metadata — the
    // table has no catalog entry yet ([[commitStagedTable]])
    val meta = stagedBase.getOrElse(catalog.loadTable(table))
    for {
      _ <- checkRequirements(meta, req)
      updates <- parseUpdates(meta, req)
      updated <- applyUpdates(meta, updates)
    } yield (meta, updated)
  }

  /** Requirements: each validates against the LIVE state; failures
    * answer 409, the spec's "reload and retry" signal. */
  private def checkRequirements(meta: TableMetadata, req: JValue)
      : Either[(Int, String), Unit] = {
    val reqList = (req \ "requirements") match {
      case JArray(xs) => xs; case JNothing | JNull => Nil
      case o => return refuse(s"bad requirements: $o", 400)
    }
    reqList.foreach { r =>
      (r \ "type") match {
        case JString("assert-ref-snapshot-id") =>
          val ref = str(r \ "ref")
          val want = optLng(r \ "snapshot-id")
          val have = meta.refs.get(ref).orElse(meta.tags.get(ref))
          if (want != have)
            return refuse(s"requirement failed: ref $ref is at " +
              s"${have.getOrElse("absent")}, client expected ${want.getOrElse("absent")}", 409)
        case JString("assert-create") =>
          // the CTAS first commit asserts it is creating the table: by
          // the time this builder runs the staged entry has just been
          // materialized, so the check is that the entry is still the
          // PRISTINE materialization (no snapshot snuck in)
          if (meta.snapshots.nonEmpty || meta.currentSnapshotId.nonEmpty)
            return refuse("requirement failed: assert-create against a table " +
              "that already has snapshots", 409)
        case JString("assert-table-uuid") =>
          // the STABLE identity every export of this table serves — uuid
          // mismatch means the client loaded a different table (the spec
          // treats table-uuid as immutable, so this is not retryable for
          // conforming clients; answer 409 per the spec's error mapping)
          if (str(r \ "uuid") != meta.stableUuid)
            return refuse(s"requirement failed: table uuid is " +
              s"${meta.stableUuid}, client expected ${str(r \ "uuid")}", 409)
        // conforming clients attach these with schema/spec/sort changes;
        // this server serves schema-id 0 / spec-id 0 and sort-order 0|1
        case JString("assert-current-schema-id") =>
          if (lng(r \ "current-schema-id") != 0L)
            return refuse("requirement failed: current schema-id is 0", 409)
        case JString("assert-default-spec-id") =>
          if (lng(r \ "default-spec-id") != 0L)
            return refuse("requirement failed: default spec-id is 0", 409)
        case JString("assert-default-sort-order-id") =>
          val served = if (meta.sortOrder.nonEmpty) 1L else 0L
          if (lng(r \ "default-sort-order-id") != served)
            return refuse(s"requirement failed: default sort-order-id is $served", 409)
        case JString("assert-last-assigned-field-id") =>
          // stale iff the client's value predates ids already assigned
          // (the exported last-column-id can exceed the stored one by
          // export-minted nested element ids, so >= is the honest check)
          val floor = math.max(meta.lastColumnId,
            meta.schema.map(_.id).foldLeft(0)(math.max)).toLong
          if (lng(r \ "last-assigned-field-id") < floor)
            return refuse(s"requirement failed: last-assigned-field-id is at " +
              s"least $floor", 409)
        case JString(t) => return refuse(s"unsupported requirement: $t", 400)
        case o => return refuse(s"bad requirement: $o", 400)
      }
    }
    Right(())
  }

  private def parseUpdates(meta: TableMetadata, req: JValue)
      : Either[(Int, String), IcebergRestServe.CommitUpdates] = {
    val updList = (req \ "updates") match {
      case JArray(xs) => xs; case JNothing | JNull => Nil
      case o => return refuse(s"bad updates: $o", 400)
    }
    Right(updList.foldLeft(IcebergRestServe.CommitUpdates(meta.properties)) { (acc, u) =>
      (u \ "action") match {
        case JString("add-schema") =>
          if (acc.addSchema.nonEmpty) return refuse("multiple add-schema updates", 400)
          acc.copy(addSchema = Some(((u \ "schema"),
            optLng(u \ "last-column-id").map(_.toInt))))
        case JString("set-current-schema-id") =>
          acc.copy(setSchemaId = Some(lng(u \ "schema-id")))
        case JString("add-spec") =>
          if (acc.addSpec.nonEmpty) return refuse("multiple add-spec updates", 400)
          acc.copy(addSpec = Some(u \ "spec"))
        case JString("set-default-spec-id") =>
          acc.copy(setSpecId = Some(lng(u \ "spec-id")))
        case JString("add-sort-order") =>
          if (acc.addSortOrder.nonEmpty)
            return refuse("multiple add-sort-order updates", 400)
          acc.copy(addSortOrder = Some(u \ "sort-order"))
        case JString("set-default-sort-order-id") =>
          acc.copy(setSortOrderId = Some(lng(u \ "sort-order-id")))
        case JString("remove-snapshot-ref") =>
          acc.copy(removeRefs = acc.removeRefs :+ str(u \ "ref-name"))
        case JString("remove-snapshots") =>
          (u \ "snapshot-ids") match {
            case JArray(xs) => acc.copy(removeSnaps = acc.removeSnaps ++ xs.map(lng))
            case o => return refuse(s"bad remove-snapshots: $o", 400)
          }
        case JString("set-statistics") =>
          if (acc.setStats.nonEmpty) return refuse("multiple set-statistics updates", 400)
          val s = u \ "statistics"
          // the statistics object's own snapshot-id is authoritative;
          // the update's top-level copy is the spec's deprecated form
          val sid = optLng(s \ "snapshot-id").orElse(optLng(u \ "snapshot-id"))
            .getOrElse(return refuse("set-statistics: no snapshot-id", 400))
          (s \ "statistics-path") match {
            case JString(p) => acc.copy(setStats = Some((sid, p)))
            case o => return refuse(s"set-statistics: bad statistics-path $o", 400)
          }
        case JString("remove-statistics") =>
          acc.copy(removeStats = acc.removeStats :+ lng(u \ "snapshot-id"))
        case JString("add-snapshot") =>
          val s = u \ "snapshot"
          if (acc.addSnap.nonEmpty) return refuse("multiple add-snapshot updates", 400)
          acc.copy(addSnap = Some((lng(s \ "snapshot-id"), str(s \ "manifest-list"),
            (s \ "summary") match {
              case JObject(kv) => kv.collect { case (k, JString(v)) => k -> v }.toMap
              case _ => Map.empty[String, String]
            })))
        case JString("set-snapshot-ref") =>
          acc.copy(setRefs = acc.setRefs :+ ((str(u \ "ref-name"),
            (u \ "type") match { case JString(t) => t; case _ => "branch" },
            lng(u \ "snapshot-id"))))
        case JString("set-properties") =>
          (u \ "updates") match {
            case JObject(kv) =>
              val props = kv.collect { case (k, JString(v)) => k -> v }
              // reserved engine state refuses here exactly as the
              // namespace and view doors already do — removing
              // graft.stats.retired-names would re-arm stale zone maps
              // after a rename (silently wrong reads), and
              // graft.table-uuid is spec-immutable identity
              try SchemaEvolution.requireUnreservedProps(props.map(_._1))
              catch { case e: IllegalArgumentException =>
                return refuse(e.getMessage, 400) }
              acc.copy(properties = acc.properties ++ props)
            case o => return refuse(s"bad set-properties: $o", 400)
          }
        case JString("remove-properties") =>
          (u \ "removals") match {
            case JArray(ks) =>
              val keys = ks.collect { case JString(k) => k }
              try SchemaEvolution.requireUnreservedProps(keys)
              catch { case e: IllegalArgumentException =>
                return refuse(e.getMessage, 400) }
              acc.copy(properties = acc.properties -- keys)
            case o => return refuse(s"bad remove-properties: $o", 400)
          }
        case JString(a) => return refuse(s"unsupported update: $a", 400)
        case o => return refuse(s"bad update: $o", 400)
      }
    })
  }

  /** Applies parsed updates in a fixed order: snapshot, schema, refs,
    * partition spec, sort order, statistics, remove-snapshots. */
  private def applyUpdates(meta: TableMetadata, u: IcebergRestServe.CommitUpdates)
      : Either[(Int, String), TableMetadata] = {
    // ---- build the new snapshot from the client-written manifest list,
    // on top of the head of the branch the commit publishes it to (main
    // when no set-snapshot-ref names it)
    val withSnap = u.addSnap match {
      case None => meta
      case Some((snapId, listPath, summary)) =>
        if (meta.snapshots.exists(_.snapshotId == snapId))
          return refuse(s"snapshot id $snapId already exists", 409)
        val entries =
          try IcebergImport.decodeManifestListForTable(meta, listPath)
          catch { case e: Exception =>
            return refuse(s"cannot decode manifest list $listPath: ${e.getMessage}", 400) }
        val parent = meta.commitBase(u.setRefs
          .collectFirst { case (name, typ, id) if typ != "tag" && id == snapId => name }
          .getOrElse("main"))
        val headManifest = parent.map(_.manifest).getOrElse(Nil)
        val headKeys = headManifest.map(_.resolutionKey).toSet
        val newKeys = entries.map(_.resolutionKey).toSet
        val removed = headManifest.filterNot(f => newKeys.contains(f.resolutionKey))
        val added = entries.filterNot(f => headKeys.contains(f.resolutionKey))
        if (added.isEmpty && removed.isEmpty)
          return refuse("add-snapshot carries no change against the current snapshot", 400)
        val newSeq = meta.lastSequenceNumber + 1
        val (manifest, defaultOp) =
          buildCommitShape(meta, headManifest, added, removed, newSeq) match {
            case Left(e) => return Left(e)
            case Right(x) => x
          }
        meta.withSnapshot(parent, manifest,
          summary.getOrElse("operation", defaultOp), newSeq,
          publish = false, summary = summary, snapshotId = snapId)
    }
    u.setRefs.find { case (_, _, id) => !withSnap.snapshots.exists(_.snapshotId == id) }
      .foreach { case (name, _, id) =>
        return refuse(s"set-snapshot-ref $name: no snapshot $id", 400)
      }
    u.removeRefs.foreach { name =>
      if (name == "main")
        return refuse("remove-snapshot-ref: the main branch cannot be removed", 400)
      if (!meta.refs.contains(name) && !meta.tags.contains(name))
        return refuse(s"remove-snapshot-ref: no branch or tag named $name", 400)
    }

    val updated0 = withSnap.copy(properties = u.properties)
    // ---- schema evolution (add-schema + set-current-schema-id): the
    // foreign engine's ALTER TABLE, validated by the SAME rulebook as
    // the SQL surface (SchemaEvolution.applyForeignSchema)
    val withSchema = u.addSchema match {
      case None =>
        // set-current-schema-id without add-schema: only the current
        // schema's id (a no-op) is honest to accept
        if (u.setSchemaId.exists(id => id != -1L && id != 0L))
          return refuse(s"set-current-schema-id ${u.setSchemaId.get} without " +
            "add-schema — this server serves schema-id 0", 400)
        updated0
      case Some((sj, lastHint)) =>
        val proposedId = optLng(sj \ "schema-id")
        // the spec's -1 means "the schema added in this commit"
        u.setSchemaId.foreach(id => if (id != -1L && proposedId.exists(_ != id))
          return refuse(s"set-current-schema-id $id does not name the added " +
            s"schema ${proposedId.get}", 400))
        val fields =
          try IcebergImport.arr(sj \ "fields").map { f =>
            val ddl = IcebergImport.ddlOf(f \ "type")
            SchemaField(lng(f \ "id").toInt, str(f \ "name"), ddl,
              nullable = (f \ "required") != JBool(true),
              initialDefault = IcebergImport.defaultSqlOf(ddl, f \ "initial-default"))
          } catch { case e: Exception =>
            return refuse(s"bad add-schema: ${e.getMessage}", 400) }
        try SchemaEvolution.applyForeignSchema(updated0, fields, lastHint)
        catch { case e: IllegalArgumentException =>
          return refuse(e.getMessage, 400) }
    }
    val afterSets = u.setRefs.foldLeft(withSchema) { case (m, (name, typ, id)) =>
      if (typ == "tag") m.copy(tags = m.tags + (name -> id))
      else if (name == "main")
        m.copy(refs = m.refs + (name -> id), currentSnapshotId = Some(id))
      else m.copy(refs = m.refs + (name -> id))
    }
    val afterRemoves = u.removeRefs.foldLeft(afterSets)((m, name) =>
      m.copy(refs = m.refs - name, tags = m.tags - name))
    // ---- partition-spec evolution (add-spec + set-default-spec-id): the
    // foreign engine's ALTER TABLE ... ADD/DROP PARTITION FIELD,
    // validated by the SAME rulebook as the native/SQL surface
    // (SchemaEvolution.applyPartitionSpec — transform changes get the
    // identical re-marking snapshot). Applied AFTER schema evolution so
    // a commit may add a column and partition on it in one exchange,
    // and AFTER the ref updates so a combined add-snapshot + add-spec +
    // set-snapshot-ref commit re-marks the commit's FINAL head — marking
    // the pre-commit head would orphan the marking snapshot mid-chain
    // and leave old-transform partition values live under the new
    // default spec (silently wrong pruning).
    val withSpec = u.addSpec match {
      case None =>
        // set-default-spec-id without add-spec: this server re-exports
        // the current spec as id 0, so only the no-op is honest
        if (u.setSpecId.exists(id => id != -1L && id != 0L))
          return refuse(s"set-default-spec-id ${u.setSpecId.get} without " +
            "add-spec — this server serves spec-id 0", 400)
        afterRemoves
      case Some(sj) =>
        // graft materializes only the DEFAULT spec, so a registration-
        // only add-spec (no set-default-spec-id) cannot be honored as
        // the spec intends (register now, activate later) — refuse
        // loudly instead of silently activating
        if (u.setSpecId.isEmpty)
          return refuse("add-spec without set-default-spec-id — this server " +
            "materializes only the default spec; send set-default-spec-id " +
            "(-1 names the added spec)", 400)
        val proposedId = optLng(sj \ "spec-id")
        // the spec's -1 means "the spec added in this commit"
        u.setSpecId.foreach(id => if (id != -1L && proposedId.exists(_ != id))
          return refuse(s"set-default-spec-id $id does not name the added " +
            s"spec ${proposedId.get}", 400))
        val byId = afterRemoves.schema.map(f => f.id -> f).toMap
        val fields =
          try IcebergImport.arr(sj \ "fields")
            .map(f => IcebergImport.foreignSpecField(byId, f, "add-spec")._2)
          catch { case e: Exception =>
            return refuse(s"bad add-spec: ${e.getMessage}", 400) }
        try SchemaEvolution.applyPartitionSpec(afterRemoves, fields)
        catch { case e: IllegalArgumentException =>
          return refuse(e.getMessage, 400) }
    }
    // ---- sort-order evolution (add-sort-order + set-default-sort-order-
    // id): Iceberg's replaceSortOrder; empty fields clears to unsorted
    val withSort = u.addSortOrder match {
      case None =>
        val served = if (withSpec.sortOrder.nonEmpty) 1L else 0L
        if (u.setSortOrderId.exists(id => id != -1L && id != served))
          return refuse(s"set-default-sort-order-id ${u.setSortOrderId.get} " +
            s"without add-sort-order — this server serves sort-order-id " +
            s"$served", 400)
        withSpec
      case Some(oj) =>
        if (u.setSortOrderId.isEmpty)
          return refuse("add-sort-order without set-default-sort-order-id — " +
            "this server materializes only the default order; send " +
            "set-default-sort-order-id (-1 names the added order)", 400)
        val proposedId = optLng(oj \ "order-id")
        u.setSortOrderId.foreach(id => if (id != -1L && proposedId.exists(_ != id))
          return refuse(s"set-default-sort-order-id $id does not name the " +
            s"added order ${proposedId.get}", 400))
        val byId = withSpec.schema.map(f => f.id -> f).toMap
        val fields =
          try IcebergImport.arr(oj \ "fields").map { f =>
            // accepting a non-identity sort transform and serving it back
            // as identity would silently change the client's layout
            // contract — refuse (zorder/hilbert stay engine-internal)
            val tf = str(f \ "transform")
            if (tf != "identity") throw new IllegalArgumentException(
              s"sort transform $tf is not identity")
            val src = byId.getOrElse(lng(f \ "source-id").toInt,
              throw new IllegalArgumentException(
                s"sort source-id ${f \ "source-id"} not in schema"))
            SortField(src.name,
              ascending = str(f \ "direction") == "asc",
              nullsFirst = str(f \ "null-order") == "nulls-first")
          } catch { case e: Exception =>
            return refuse(s"bad add-sort-order: ${e.getMessage}", 400) }
        try SchemaEvolution.applySortOrder(withSpec, fields)
        catch { case e: IllegalArgumentException =>
          return refuse(e.getMessage, 400) }
    }

    // ---- statistics (the spec's set-statistics / remove-statistics):
    // a foreign ANALYZE registers its Puffin sidecar as THE provenance
    // graft's own ANALYZE / SHOW / export serve; applied after ref
    // updates so an add-snapshot + set-statistics commit binds to the
    // snapshot it just made current. Removal is idempotent.
    val withStats0 = u.setStats match {
      case None => withSort
      case Some((sid, path)) =>
        try NdvStats.registerForeign(withSort, sid, path)
        catch { case e: IllegalArgumentException => return refuse(e.getMessage, 400) }
    }
    val updated = u.removeStats.foldLeft(withStats0)(
      (m, sid) => NdvStats.removeForSnapshot(m, sid))
    // ---- remove-snapshots (the spec's snapshot expiry): metadata-only
    // trim under Maintenance.expireSnapshots' rules — ref-pinned and
    // current snapshots refuse (a client expires a branch by removing
    // the ref in the SAME commit, honored because this applies LAST,
    // against the post-ref-update state). Physical file GC stays
    // server-side: expiry only unlinks history; orphan reclamation is
    // the serving engine's maintenance sweep. A client MAY sever the
    // middle of a parent chain (native expiry only ever trims an age
    // prefix, but keepLast=1 already leaves the head parentless):
    // reads are unaffected, and changelog/time-travel over a severed
    // range fails LOUDLY ("not an ancestor" / "no snapshot") rather
    // than answering silently wrong — the same contract as expired
    // prefixes, pinned by the serve spec's expiry test.
    if (u.removeSnaps.isEmpty) Right(updated)
    else {
      val ids = u.removeSnaps.toSet
      ids.find(id => !updated.snapshots.exists(_.snapshotId == id))
        .foreach(id => return refuse(s"remove-snapshots: no snapshot $id", 400))
      val pinned = updated.refs.values.toSet ++ updated.tags.values.toSet ++
        updated.currentSnapshotId.toSet
      ids.find(pinned).foreach(id =>
        return refuse(s"remove-snapshots: snapshot $id is pinned by a " +
          "branch, tag, or is current — remove the ref first", 400))
      Right(updated.copy(snapshots =
        updated.snapshots.filterNot(s => ids.contains(s.snapshotId)))
        .pruneUnreferencedHistoricalSpecs)
    }
  }

  /** Classifies and validates ONE add-snapshot's manifest delta against
    * the parent head, returning the new manifest (added files carry their
    * sequence numbers; v3 row ids are left to the snapshot builder) and
    * the default summary operation. Three accepted shapes, mirroring the
    * spec's commit kinds:
    *
    *  - **append**: nothing removed, additions all data files;
    *  - **row-delta** (DELETE/UPDATE/MERGE emitted by a foreign engine):
    *    nothing removed except deletion vectors superseded by a
    *    replacement DV on the same data file; additions may mix data
    *    files with position deletes (pos-delete parquet on v2, DV Puffin
    *    entries on v3 — the v3 spec forbids new pos-delete parquet) and
    *    equality deletes (which must carry their key ids);
    *  - **replace** (a compaction's RewriteFiles — the reference's own
    *    commit shape, core/src/compaction/mod.rs:950-1061): removals of
    *    any content (rewritten data + compacted-away deletes), additions
    *    all data. Added files keep the CLIENT's sequence numbers (the
    *    starting-sequence-number rule: rewritten rows must not outrank
    *    equality deletes committed after the starting snapshot), which
    *    must not exceed the commit's own new sequence.
    *
    * DV invariants enforced server-side: a referenced data file must be
    * live in the resulting snapshot, at most one DV per data file, and a
    * replacement DV must CONTAIN every position of the one it supersedes
    * (readable cheaply — DV bitmaps are small); a replace commit may not
    * leave a surviving DV pointing at a removed data file. */
  private def buildCommitShape(meta: TableMetadata, headManifest: Seq[FileEntry],
      added: Seq[FileEntry], removed: Seq[FileEntry], newSeq: Long)
      : Either[(Int, String), (Seq[FileEntry], String)] = {
    added.find(f => !MetaIO.exists(f.path)).foreach(f =>
      return refuse(s"added file does not exist: ${f.path}", 400))
    val addedData = added.filter(_.content == FileContent.Data)
    val addedDeletes = added.filterNot(_.content == FileContent.Data)
    val removedKeys = removed.map(_.resolutionKey).toSet
    val surviving = headManifest.filterNot(f => removedKeys.contains(f.resolutionKey))

    // v3 row lineage: the snapshot builder gives every added data file
    // without an id a fresh range from THIS table's cursor. A compaction
    // preserving lineage ships explicit first_row_id per rewritten file —
    // honored; appends/deltas get server-assigned ranges, whatever the
    // client proposed. v<3 tables and delete files carry no ids.
    def lineage(f: FileEntry, keepClientIds: Boolean): FileEntry =
      if (keepClientIds && meta.formatVersion >= 3 && f.content == FileContent.Data) f
      else f.copy(firstRowId = None)

    if (addedDeletes.isEmpty && removed.isEmpty) {
      // ---- APPEND
      Right((headManifest ++ addedData.map(f =>
        lineage(f.copy(sequenceNumber = newSeq), keepClientIds = false)), "append"))
    } else if (addedDeletes.nonEmpty) {
      // ---- ROW-DELTA
      val addedDvFiles = addedDeletes.filter(_.isDeletionVector)
        .flatMap(_.referencedDataFile).toSet
      removed.find(r => !(r.isDeletionVector &&
          addedDvFiles.contains(r.referencedDataFile.get))).foreach(r =>
        return refuse(s"a commit that adds delete files may remove only deletion " +
          s"vectors it supersedes — it removes ${r.resolutionKey}", 400))
      addedDeletes.foreach { d =>
        d.content match {
          case FileContent.PositionDeletes if d.isDeletionVector =>
            if (meta.formatVersion < 3)
              return refuse("deletion vectors require a format-version 3 table", 400)
          case FileContent.PositionDeletes =>
            if (meta.formatVersion >= 3)
              return refuse("v3 tables take positional deletes as deletion vectors " +
                "(content=1 Puffin entries), not pos-delete parquet", 400)
            // validate the footer BEFORE the commit: an unstamped
            // tombstone would poison every later export of this table
            // (spec readers project delete files by the reserved ids)
            if (!IcebergExport.posDeleteStamped(MetaIO.hadoopConf, d.path))
              return refuse(s"position-delete file ${d.path} lacks the reserved " +
                "Iceberg field ids (2147483546 file_path / 2147483545 pos) in " +
                "its parquet footer — stamp them and re-commit", 400)
          case FileContent.EqualityDeletes =>
            if (d.equalityFieldIds.isEmpty && d.equalityIds.isEmpty)
              return refuse(s"equality-delete file ${d.path} carries no equality_ids", 400)
            // same pre-commit footer check: the key columns must be
            // projectable (by id on typed tables, by name otherwise)
            val footer = IcebergExport.footerFieldIds(MetaIO.hadoopConf, d.path)
            if (d.equalityFieldIds.nonEmpty) {
              val footerIds = footer.values.flatten.toSet
              val missing = d.equalityFieldIds.filterNot(footerIds.contains)
              if (missing.nonEmpty)
                return refuse(s"equality-delete file ${d.path} footer lacks field " +
                  s"ids ${missing.mkString(",")} for its key columns — spec " +
                  "readers project delete files by id", 400)
            } else {
              val missing = d.equalityIds.filterNot(footer.contains)
              if (missing.nonEmpty)
                return refuse(s"equality-delete file ${d.path} footer lacks key " +
                  s"columns ${missing.mkString(",")}", 400)
            }
          case _ => ()
        }
      }
      // delta additions are all stamped with the commit's sequence: the
      // delta's own data files do not see its equality deletes (strict <),
      // and its position deletes apply to everything at or below — the
      // spec's RowDelta semantics
      val stamped = added.map(f =>
        lineage(f.copy(sequenceNumber = newSeq), keepClientIds = false))
      val result = surviving ++ stamped
      val liveDataPaths = result.filter(_.content == FileContent.Data).map(_.path).toSet
      val removedDvByFile = removed.filter(_.isDeletionVector)
        .map(d => d.referencedDataFile.get -> d).toMap
      val survivingDvFiles = surviving.filter(_.isDeletionVector)
        .flatMap(_.referencedDataFile).toSet
      stamped.filter(_.isDeletionVector).foreach { dv =>
        val target = dv.referencedDataFile.get
        if (!liveDataPaths.contains(target))
          return refuse(s"deletion vector references a data file not live in the " +
            s"resulting snapshot: $target", 400)
        if (survivingDvFiles.contains(target))
          return refuse(s"data file $target already has a deletion vector — the " +
            "commit must remove the DV it supersedes (one DV per file)", 400)
        // a replacement DV must contain the superseded DV's positions: DVs
        // are cumulative per the v3 spec, and a shrinking one would
        // silently resurrect deleted rows
        val newBm =
          try Puffin.decodeDvBlob(Puffin.readBlob(
            dv.path, dv.contentOffset.get, dv.contentSizeInBytes.get))
          catch { case e: Exception =>
            return refuse(s"cannot read deletion vector blob ${dv.resolutionKey}: " +
              s"${e.getMessage}", 400) }
        removedDvByFile.get(target).foreach { old =>
          val oldBm = Puffin.decodeDvBlob(Puffin.readBlob(
            old.path, old.contentOffset.get, old.contentSizeInBytes.get))
          if (!oldBm.positions.forall(newBm.contains))
            return refuse(s"replacement deletion vector for $target drops positions " +
              "of the DV it supersedes — DVs must grow monotonically", 400)
        }
      }
      Right((result, "overwrite"))
    } else {
      // ---- REPLACE (rewrite): removals present, additions all data
      addedData.find(f => f.sequenceNumber > newSeq || f.sequenceNumber < 0)
        .foreach(f => return refuse(s"replace commit proposes sequence number " +
          s"${f.sequenceNumber} for ${f.path} beyond the commit's own $newSeq", 400))
      val stamped = addedData.map(f => lineage(f, keepClientIds = true))
      if (meta.formatVersion >= 3) {
        // client-claimed ranges may only re-use the REMOVED files' ids
        // (that is what preservation means) — overlap with a SURVIVING
        // file's range, among the added files themselves, or with the
        // block the builder assigns to the added files without ids,
        // would break the every-row-id-unique invariant for all future
        // readers
        val assignedRows = stamped.filter(_.firstRowId.isEmpty).map(_.recordCount).sum
        val addedRanges = stamped.filter(_.firstRowId.nonEmpty)
          .map(f => (f.path, f.firstRowId.get, f.firstRowId.get + f.recordCount)) ++
          Seq(("the rows this commit assigns ids to", meta.nextRowId,
            meta.nextRowId + assignedRows)).filter(_ => assignedRows > 0)
        val survivingRanges = surviving
          .filter(f => f.content == FileContent.Data && f.firstRowId.nonEmpty)
          .map(f => (f.path, f.firstRowId.get, f.firstRowId.get + f.recordCount))
        for ((p1, lo1, hi1) <- addedRanges;
             (p2, lo2, hi2) <- addedRanges ++ survivingRanges
             if p1 != p2 && lo1 < hi2 && lo2 < hi1)
          return refuse(s"replace commit claims row-id range [$lo1,$hi1) for $p1 " +
            s"overlapping [$lo2,$hi2) of $p2 — preserved lineage may only " +
            "re-use the ids of the files being removed", 400)
      }
      val result = surviving ++ stamped
      val liveDataPaths = result.filter(_.content == FileContent.Data).map(_.path).toSet
      result.find(f => f.isDeletionVector &&
          !liveDataPaths.contains(f.referencedDataFile.get)).foreach(f =>
        return refuse(s"replace commit removes data file ${f.referencedDataFile.get} " +
          s"but leaves its deletion vector ${f.resolutionKey} live — remove both", 400))
      Right((result, if (addedData.isEmpty) "delete" else "replace"))
    }
  }

  /** `POST /v1/{prefix}/transactions/commit`: the spec MULTI-TABLE
    * commit (CommitTransactionRequest). Every change validates against
    * live state and builds its updated metadata BEFORE any table
    * commits, under the per-table locks of every involved table
    * ([[withLocks]], sorted acquisition), so versus other REST writers
    * the transaction is atomic. A racing NATIVE graft commit can still
    * CAS-fail one table mid-apply; the already-applied tables are then
    * rolled back with compensating commits and the whole transaction
    * answers 409 — the honest contract of a catalog whose CAS is
    * per-table (readers can observe the intermediate state inside that
    * rollback window). */
  private def commitTransaction(body: String): (Int, String) = {
    // ---- phase 0: parse and resolve the identifiers (cheap, unlocked)
    val named: List[(String, JValue)] = try {
      val req = JsonMethods.parse(body)
      val changes = (req \ "table-changes") match {
        case JArray(xs) if xs.nonEmpty => xs
        case JArray(_) => return err("empty transaction", 400)
        case o => return err(s"bad table-changes: $o", 400)
      }
      changes.map { c =>
        (try identEntry(c \ "identifier")
         catch { case e: IllegalArgumentException =>
           return err(s"transaction: ${e.getMessage}", 400) }) -> c
      }
    } catch {
      case e: Exception =>
        return err(s"bad CommitTransactionRequest: ${e.getMessage}", 400)
    }
    named.groupBy(_._1).collectFirst { case (t, cs) if cs.size > 1 => t }
      .foreach(t => return err(
        s"table $t appears twice in one transaction — merge its changes", 400))
    // hold every involved table's lock (sorted acquisition) through
    // build+apply: versus other REST writers the transaction is atomic —
    // they wait, never observe the intermediate state, and never force a
    // rollback. A racing NATIVE graft commit can still CAS-fail one table
    // mid-apply; the compensating rollback below covers that window.
    withLocks(named.map(_._1)) {
      // ---- phase 1: validate and build EVERY change before committing ANY
      val builds: List[(String, TableMetadata, TableMetadata)] = try {
        named.collectFirst { case (t, _) if !catalog.tableExists(t) => t }
          .foreach(t => return err(s"table $t not found", 404))
        named.map { case (t, c) => buildCommit(t, c) match {
          case Left(e) => return e
          case Right((base, updated)) => (t, base, updated)
        }}
      } catch {
        case e: Exception =>
          return err(s"bad CommitTransactionRequest: ${e.getMessage}", 400)
      }
      // ---- phase 2: apply; roll back on a mid-apply CAS loss
      var applied: List[(String, TableMetadata, TableMetadata)] = Nil
      builds.foreach { case (t, base, updated) =>
        try applied ::= ((t, base, catalog.commit(base, updated)))
        catch {
          case _: CommitConflictException =>
            applied.foreach { case (rt, pre, committed) =>
              val live = catalog.loadTable(rt)
              // compensate only when OUR commit is still the head — if a
              // native writer already built on top, its state wins
              if (live.version == committed.version)
                try catalog.commit(live, pre)
                catch { case _: CommitConflictException => () }
            }
            return err(s"concurrent commit on $t — transaction rolled back, " +
              "reload and retry", 409)
        }
      }
      204 -> ""
    }
  }
}
