package graft.meta

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Attach tables from a spec-compliant **Iceberg REST catalog** (the
  * public Iceberg REST OpenAPI — the catalog type the reference consumes
  * through iceberg-rs, and what Nessie/Polaris/Unity/Gravitino serve).
  * One `GET /v1/{prefix}/namespaces/{ns}/tables/{t}` returns a
  * LoadTableResult whose `metadata` field IS the table-metadata JSON, so
  * the whole import reuses [[IcebergImport]] — data files stay in place,
  * attaching costs one HTTP round trip plus one metadata read per
  * manifest, regardless of table size.
  *
  * This is a READ-side attach (import once, then graft owns its copy),
  * not a live two-way catalog binding: the source of truth for commits
  * stays whichever engine talks to the REST service. Namespace levels
  * join with the spec's `%1F` unit separator; `authToken` rides as an
  * OAuth bearer header. The optional `GET /v1/config` handshake resolves
  * a server-assigned prefix, as the spec requires of clients. */
object IcebergRestImport {

  private val http = HttpClient.newHttpClient()

  private def get(uri: String, authToken: Option[String]): String = {
    // advertise gzip: plan pages / big bodies ship ~10x smaller; servers
    // that ignore the header answer plain and the decode below is a no-op
    val b = HttpRequest.newBuilder(URI.create(uri)).GET()
      .header("Accept", "application/json")
      .header("Accept-Encoding", "gzip")
    authToken.foreach(t => b.header("Authorization", s"Bearer $t"))
    val resp = http.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
    val body =
      if (resp.headers().firstValue("Content-Encoding").orElse("")
          .toLowerCase(java.util.Locale.ROOT).contains("gzip"))
        new String(new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(resp.body())).readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
      else new String(resp.body(), java.nio.charset.StandardCharsets.UTF_8)
    require(resp.statusCode() == 200,
      s"Iceberg REST GET $uri failed: HTTP ${resp.statusCode()} ${body.take(300)}")
    body
  }

  /** The spec client's OAuth2 bootstrap: trade (client_id, client_secret)
    * for a bearer token at `POST /v1/oauth/tokens` (RFC 6749
    * client-credentials grant, form-encoded). The returned token rides as
    * every later call's `authToken`. Throws on a refused grant (the
    * server answers the OAuth `invalid_client` 401 for a bad secret). */
  def fetchOauthToken(uri: String, clientId: String, clientSecret: String): String =
    fetchOauthTokenWithExpiry(uri, clientId, clientSecret)._1

  /** [[fetchOauthToken]] plus the grant's `expires_in` (seconds; the RFC
    * default when a server omits it is here 3600) — what [[OauthSession]]
    * schedules its re-auth on. */
  def fetchOauthTokenWithExpiry(uri: String, clientId: String,
      clientSecret: String): (String, Long) = {
    def enc(s: String) = java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)
    val form = s"grant_type=client_credentials&client_id=${enc(clientId)}" +
      s"&client_secret=${enc(clientSecret)}"
    val resp = http.send(HttpRequest.newBuilder(
        URI.create(s"${uri.stripSuffix("/")}/v1/oauth/tokens"))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(HttpRequest.BodyPublishers.ofString(form)).build(),
      HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() == 200,
      s"OAuth token request failed: HTTP ${resp.statusCode()} ${resp.body().take(300)}")
    val j = JsonMethods.parse(resp.body())
    val tok = j \ "access_token" match {
      case org.json4s.JString(t) => t
      case other => sys.error(s"bad token response: $other")
    }
    val expiresIn = j \ "expires_in" match {
      case org.json4s.JInt(n) => n.toLong
      case org.json4s.JLong(n) => n
      case _ => 3600L
    }
    (tok, expiresIn)
  }

  /** `GET .../tables/{t}/credentials` (the spec's LoadCredentialsResponse,
    * flattened to one config map): the refresh a long job performs when
    * its vended storage credential nears `s3.session-token-expires-at-ms`
    * — see [[CredentialSession]]. */
  def fetchCredentials(uri: String, namespace: Seq[String], table: String,
      authToken: Option[String] = None,
      prefix: Option[String] = None): Map[String, String] = {
    val pfx = prefix.getOrElse(resolvePrefix(uri, authToken))
    val body = JsonMethods.parse(get(
      tableRoute(uri, pfx, namespace, table) + "/credentials", authToken))
    body \ "storage-credentials" match {
      case JArray(xs) => xs.flatMap(x => x \ "config" match {
        case JObject(kv) => kv.collect { case (k, JString(v)) => k -> v }
        case _ => Nil
      }).toMap
      case _ => Map.empty
    }
  }

  /** The server-assigned route prefix from `GET /v1/config` ("" when the
    * server declares none or does not serve the endpoint). */
  def resolvePrefix(uri: String, authToken: Option[String] = None): String =
    try {
      JsonMethods.parse(get(s"${uri.stripSuffix("/")}/v1/config", authToken)) \
          "overrides" \ "prefix" match {
        case JString(p) => p.stripPrefix("/").stripSuffix("/")
        case _ => ""
      }
    } catch { case _: Exception => "" } // config endpoint optional in practice

  /** The spec table route `/v1[/{prefix}]/namespaces/{ns}/tables/{t}`:
    * multipart namespaces join with the spec's 0x1F unit separator
    * (percent-encodes to %1F); URLEncoder form-encodes spaces as '+',
    * which URL paths must not carry. Shared with [[IcebergRestCommit]] —
    * the read and write clients must address tables identically. */
  private[meta] def tableRoute(uri: String, prefix: String,
      namespace: Seq[String], table: String,
      /** "tables" or "views" — the two spec object kinds share the
        * route shape. */
      kind: String = "tables"): String = {
    require(namespace.nonEmpty, "Iceberg REST: empty namespace")
    def enc(s: String) = java.net.URLEncoder.encode(
      s, java.nio.charset.StandardCharsets.UTF_8).replace("+", "%20")
    val pfx = prefix match { case "" => ""; case p => s"/$p" }
    s"${uri.stripSuffix("/")}/v1$pfx/namespaces/" +
      s"${enc(namespace.mkString("\u001f"))}/$kind/${enc(table)}"
  }

  private def loadResult(uri: String, namespace: Seq[String], table: String,
      authToken: Option[String], prefix: Option[String]): (JValue, Option[String], String) = {
    val pfx = prefix.getOrElse(resolvePrefix(uri, authToken))
    val body = JsonMethods.parse(get(tableRoute(uri, pfx, namespace, table), authToken))
    val loc = body \ "metadata-location" match {
      case JString(l) => Some(l); case _ => None
    }
    val metadata = body \ "metadata" match {
      case JNothing | JNull =>
        // spec allows metadata-location-only responses; fall back to
        // reading the metadata file directly (reachable warehouses only)
        loc.map(l => JsonMethods.parse(MetaIO.readString(l))).getOrElse(sys.error(
          s"LoadTableResult for $table carries neither metadata nor metadata-location"))
      case m => m
    }
    (metadata, loc, pfx.stripPrefix("/"))
  }

  /** Fingerprint of everything a refresh would REPLACE: any local
    * mutation of these (schema evolution, spec/sort changes, branch/tag
    * moves, commits) since the attach makes a blind re-import lossy, so
    * [[refreshTable]] refuses when it no longer matches. Properties are
    * excluded — graft's own provenance/statistics keys ride there
    * legitimately. */
  private def localFingerprint(m: TableMetadata): String =
    (m.schema, m.partitionSpec, m.sortOrder, m.refs.toSeq.sorted,
      m.tags.toSeq.sorted, m.snapshots.map(_.snapshotId),
      m.formatVersion).hashCode.toString

  /** The provenance an attach records (as `attach.*` table properties) so
    * [[refreshTable]] can re-find and re-sync the source later. The auth
    * token is deliberately NOT stored — pass it to refresh. */
  private def provenance(uri: String, namespace: Seq[String], table: String,
      pfx: String, loc: Option[String], parsed: TableMetadata): Map[String, String] =
    Map(
      "attach.rest.uri" -> uri.stripSuffix("/"),
      "attach.rest.namespace" -> namespace.mkString("\u001f"),
      "attach.rest.table" -> table,
      "attach.rest.prefix" -> pfx,
      "attach.snapshot-id" -> parsed.currentSnapshotId.getOrElse(-1L).toString,
      "attach.fingerprint" -> localFingerprint(parsed)) ++
      loc.map("attach.metadata-location" -> _)

  /** Fetches LoadTableResult for `namespace.table` and registers it into
    * `catalog` as `name`. `namespace` levels (e.g. Seq("prod","events"))
    * join with the spec's unit separator. Everything the file-based
    * import supports (spec evolution, deletes, v3 DVs + lineage,
    * zone-map bounds, NDV statistics) applies. Provenance lands in
    * `attach.*` properties so the table can later FOLLOW its source via
    * [[refreshTable]]. */
  def importTable(catalog: Catalog, name: String, uri: String,
      namespace: Seq[String], table: String,
      authToken: Option[String] = None,
      /** pass a known prefix to skip the config handshake; None resolves
        * via `GET /v1/config`. */
      prefix: Option[String] = None): TableMetadata = {
    val (metadata, loc, pfx) = loadResult(uri, namespace, table, authToken, prefix)
    val parsed = IcebergImport.parseIcebergMetadataJson(name, metadata)
    catalog.createTable(parsed.copy(properties = parsed.properties ++
      provenance(uri, namespace, table, pfx, loc, parsed)))
  }

  /** Attaches a VIEW from a spec REST catalog: one GET of the
    * LoadViewResult, parsed by
    * [[IcebergImport.parseIcebergViewMetadataJson]] — versions, dialect,
    * current schema and the stable view-uuid all carry over. Table
    * references inside the view SQL resolve BY NAME on the reading
    * engine (the same contract Iceberg views have): register the
    * catalogs those names expect before reading. */
  def importView(catalog: Catalog, name: String, uri: String,
      namespace: Seq[String], view: String,
      authToken: Option[String] = None,
      prefix: Option[String] = None): TableMetadata = {
    val pfx = prefix.getOrElse(resolvePrefix(uri, authToken))
    val body = JsonMethods.parse(
      get(tableRoute(uri, pfx, namespace, view, kind = "views"), authToken))
    val metadata = body \ "metadata" match {
      case JNothing | JNull =>
        (body \ "metadata-location") match {
          case JString(l) => JsonMethods.parse(MetaIO.readString(l))
          case _ => sys.error(s"LoadViewResult for $view carries neither " +
            "metadata nor metadata-location")
        }
      case m => m
    }
    IcebergImport.importIcebergViewMetadataJson(catalog, name, metadata)
  }

  /** What [[refreshTable]] did: `refreshed` is false when the source
    * hadn't moved (metadata-location/head unchanged — a no-op probe);
    * `addedSnapshots` counts foreign snapshots the local copy gained
    * (negative when the source also EXPIRED old history). */
  final case class RefreshResult(refreshed: Boolean, snapshotId: Option[Long],
      addedSnapshots: Int)

  /** Re-syncs a REST-attached table with its source catalog: one GET, a
    * staleness check against the recorded `attach.metadata-location` /
    * head snapshot, and — if the source moved — a re-parse committed as a
    * new VERSION of the local table. Snapshot ids and manifests are the
    * source's own, so changelogs stay continuous across the refresh:
    * unchanged rows produce no spurious inserts/deletes.
    *
    * Local commits past the attach point REFUSE loudly (this engine does
    * not rebase local writes onto a foreign history — re-attach under a
    * new name, or push the writes through the source's own commit path,
    * e.g. [[IcebergRestCommit]]). A source that expired/rewrote history
    * such that the local head no longer exists there also refuses. */
  def refreshTable(catalog: Catalog, name: String,
      authToken: Option[String] = None): RefreshResult = {
    // one attempt per head: the guards and the staleness probe re-run
    // against the freshly loaded table if the commit loses a race
    var result = RefreshResult(refreshed = false, None, 0)
    catalog.transact(name) { meta =>
      val uri = meta.properties.getOrElse("attach.rest.uri",
        throw new IllegalArgumentException(
          s"refresh_iceberg_rest: $name was not attached from a REST catalog " +
            "(no attach.rest.uri property)"))
      val namespace = meta.properties("attach.rest.namespace").split('\u001f').toSeq
      val table = meta.properties("attach.rest.table")
      val prefix = meta.properties.get("attach.rest.prefix")
      val attachedAt = meta.properties.get("attach.snapshot-id").map(_.toLong).filter(_ >= 0)
      require(meta.currentSnapshotId == attachedAt,
        s"refresh_iceberg_rest: $name has LOCAL commits past the attach point " +
          s"(head ${meta.currentSnapshotId.getOrElse(-1L)}, attached at " +
          s"${attachedAt.getOrElse(-1L)}) — local writes cannot be rebased onto the " +
          "foreign history. Re-attach under a new name, or write through the " +
          "source catalog (IcebergRestCommit).")
      // metadata-only local changes (schema evolution, spec/sort edits,
      // branch/tag moves) would be silently DISCARDED by a re-import —
      // refuse those too (properties excluded: ANALYZE etc. is fine)
      meta.properties.get("attach.fingerprint").foreach(fp =>
        require(fp == localFingerprint(meta),
          s"refresh_iceberg_rest: $name has local metadata changes since the " +
            "attach (schema/spec/sort/refs) that a refresh would discard — " +
            "re-attach under a new name to follow the source."))

      val (metadata, loc, pfx) = loadResult(uri, namespace, table, authToken, prefix)
      val foreignCur = (metadata \ "current-snapshot-id") match {
        case JNothing | JNull => None
        case JInt(v) => Some(v.toLong).filter(_ != -1L)
        case v => Some(v.values.toString.toLong).filter(_ != -1L)
      }
      val sameLoc = loc.nonEmpty &&
        loc == meta.properties.get("attach.metadata-location")
      if (sameLoc || (loc.isEmpty && foreignCur == attachedAt)) {
        result = RefreshResult(refreshed = false, attachedAt, 0)
        meta
      } else {
        val parsed = IcebergImport.parseIcebergMetadataJson(name, metadata)
        // identity guard: table-uuid is immutable for a table's life (spec),
        // so a changed uuid means the source was DROPPED AND RECREATED under
        // the same name — its snapshot ids may collide with the attached
        // history (sequential engines restart at 1), which the continuity
        // check below cannot see. Refuse instead of replacing the follower
        // with an unrelated table's history.
        for (local <- meta.properties.get(TableMetadata.UuidKey);
             foreign <- parsed.properties.get(TableMetadata.UuidKey))
          require(local == foreign,
            s"refresh_iceberg_rest: the source's table-uuid changed " +
              s"($local -> $foreign) — the table was dropped and recreated. Re-attach.")
        // continuity guard: the local head must still exist in the source's
        // history, or a changelog across the refresh would be meaningless
        require(attachedAt.forall(id => parsed.snapshots.exists(_.snapshotId == id)),
          s"refresh_iceberg_rest: the source rewrote history — local head " +
            s"${attachedAt.getOrElse(-1L)} no longer exists there. Re-attach.")
        val merged = parsed.copy(
          location = meta.location,
          properties = parsed.properties ++
            provenance(uri, namespace, table, pfx, loc, parsed))
        result = RefreshResult(refreshed = true, merged.currentSnapshotId,
          parsed.snapshots.size - meta.snapshots.size)
        merged
      }
    }
    result
  }
}
