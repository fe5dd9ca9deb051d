package graft.meta

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/** WRITE-side client for the **Iceberg REST catalog** commit endpoint —
  * the other half of [[IcebergRestImport]]'s switch-engines loop: commit
  * pre-written files to a table served by ANY spec catalog (including
  * [[IcebergRestServe]]) exactly the way a conforming engine does it:
  *
  *  1. `GET .../tables/{t}` — load the table (metadata, uuid, head);
  *  2. write spec manifests for the change and a manifest LIST that
  *     carries the head's state plus the change (all on shared storage,
  *     next to the data);
  *  3. `POST .../tables/{t}` with `assert-table-uuid` +
  *     `assert-ref-snapshot-id(main)` requirements and `add-snapshot` +
  *     `set-snapshot-ref` updates;
  *  4. on 409 (someone committed in between) reload and REBUILD from the
  *     new head — the spec's optimistic-concurrency loop. A non-200 is
  *     NOT taken as proof of no-apply: the follow-up load is checked for
  *     this attempt's unique commit marker before staged files are
  *     touched (Iceberg's CommitStateUnknown discipline).
  *
  * Three commit shapes, mirroring the spec's operations (and exactly
  * what [[IcebergRestServe.buildCommitShape]] accepts):
  *
  *  - [[appendFiles]] — append-only data commits;
  *  - [[commitDelta]] — a row delta: new data files plus DELETE files
  *    (pos-delete parquet on v2, DV Puffin entries on v3, equality
  *    deletes on either), head files untouched — how a foreign engine's
  *    DELETE/UPDATE/MERGE lands on a served table;
  *  - [[replaceFiles]] — a rewrite (the reference's compaction commit,
  *    core/src/compaction/mod.rs:950-1061): removed files dropped from
  *    the head, added data files stamped with the STARTING sequence
  *    number so rewritten rows do not outrank equality deletes committed
  *    after the starting snapshot. Survivors are carried into rewritten
  *    manifests field-by-field (stats bytes included, so the serving
  *    engine keeps its zone maps for files this client did not touch).
  *
  * Scope: tables on their default (current) partition spec; partition
  * values supplied as graft literal strings. Stats on NEW files are
  * omitted from the client-written manifest (spec-optional) — the
  * serving engine keeps its own zone maps for files it wrote and simply
  * doesn't prune on the new ones. */
object IcebergRestCommit {

  /** One pre-written parquet data file to register. `partitionValues`
    * uses graft's literal forms (day strings for dates, floor multiples
    * for truncate, ordinals for bucket), keyed by SOURCE column name.
    * `firstRowId` (v3 replace commits only): the preserved row-lineage
    * range start when this file REWRITES removed files and keeps their
    * ids — absent, the server assigns a fresh range. */
  final case class AddedFile(path: String, sizeInBytes: Long, recordCount: Long,
      partitionValues: Map[String, String] = Map.empty,
      firstRowId: Option[Long] = None)

  /** One pre-written DELETE file for a row-delta commit.
    *
    * @param content "position" (pos-delete parquet, v2 tables), "dv"
    *                (a deletion-vector blob inside a Puffin file, v3 —
    *                requires `referencedDataFile` + `contentOffset` +
    *                `contentSizeInBytes`), or "equality" (requires
    *                `equalityFieldIds`). */
  final case class AddedDeleteFile(path: String, sizeInBytes: Long,
      recordCount: Long, content: String,
      partitionValues: Map[String, String] = Map.empty,
      equalityFieldIds: Seq[Int] = Nil,
      referencedDataFile: Option[String] = None,
      contentOffset: Option[Long] = None,
      contentSizeInBytes: Option[Long] = None) {
    require(Set("position", "dv", "equality").contains(content),
      s"AddedDeleteFile.content must be position|dv|equality, got $content")
    require(content != "dv" || (referencedDataFile.nonEmpty &&
      contentOffset.nonEmpty && contentSizeInBytes.nonEmpty),
      "a DV delete needs referencedDataFile + contentOffset + contentSizeInBytes")
    require(content != "equality" || equalityFieldIds.nonEmpty,
      "an equality delete needs equalityFieldIds")
  }

  private val http = HttpClient.newHttpClient()

  private def send(b: HttpRequest.Builder, authToken: Option[String]): HttpResponse[String] = {
    authToken.foreach(t => b.header("Authorization", s"Bearer $t"))
    http.send(b.header("Accept", "application/json").build(),
      HttpResponse.BodyHandlers.ofString())
  }

  import IcebergImport.{arr, lng, str}

  /** Appends `files` to `namespace.table` on the catalog at `uri` and
    * returns the snapshot id the commit published. `stagingDir` receives
    * the client-written manifest + manifest list (must be readable by
    * the serving engine — same shared storage as the data files). */
  def appendFiles(uri: String, namespace: Seq[String], table: String,
      files: Seq[AddedFile], stagingDir: String,
      authToken: Option[String] = None, prefix: Option[String] = None,
      maxRetries: Int = 3): Long = {
    require(files.nonEmpty, "appendFiles: no files given")
    commitLoop(uri, namespace, table, stagingDir, authToken, prefix, maxRetries,
      files, Nil, Set.empty, useStartingSequenceNumber = false, "append")
  }

  /** Commits a ROW DELTA: `dataFiles` plus `deleteFiles` on top of the
    * untouched head — the wire shape of a foreign engine's DELETE/
    * UPDATE/MERGE against a served table. A v3 delta REPLACING a data
    * file's deletion vector must name the superseded DV's Puffin
    * container in `supersededDeletePaths` (one DV per file is a spec
    * invariant; a container path drops every DV it holds, so writers
    * keep one DV per container when they expect replacement). Returns
    * the snapshot id. */
  def commitDelta(uri: String, namespace: Seq[String], table: String,
      dataFiles: Seq[AddedFile], deleteFiles: Seq[AddedDeleteFile],
      stagingDir: String, authToken: Option[String] = None,
      prefix: Option[String] = None, maxRetries: Int = 3,
      operation: String = "overwrite",
      supersededDeletePaths: Seq[String] = Nil): Long = {
    require(dataFiles.nonEmpty || deleteFiles.nonEmpty, "commitDelta: empty delta")
    commitLoop(uri, namespace, table, stagingDir, authToken, prefix, maxRetries,
      dataFiles, deleteFiles, supersededDeletePaths.toSet,
      useStartingSequenceNumber = false, operation)
  }

  /** The spec CTAS handshake's client half: commit `files` as the FIRST
    * snapshot of a table staged with `stage-create=true`, using the
    * staged response's embedded metadata (a staged table cannot be
    * loaded) and an `assert-create` requirement. One attempt — a 409
    * means the staged create lost a race; restage to retry. Returns the
    * snapshot id. */
  def commitStagedCreate(uri: String, namespace: Seq[String], table: String,
      stagedMetadata: JValue, files: Seq[AddedFile], stagingDir: String,
      authToken: Option[String] = None, prefix: Option[String] = None): Long = {
    require(files.nonEmpty, "commitStagedCreate: no files given")
    commitLoop(uri, namespace, table, stagingDir, authToken, prefix,
      maxRetries = 0, files, Nil, Set.empty,
      useStartingSequenceNumber = false, "append",
      stagedMeta = Some(stagedMetadata))
  }

  /** Commits a REPLACE (rewrite): drops `removedPaths` (data or delete
    * files — a Puffin path drops every DV it contains) from the head and
    * adds `files`, stamped with the head's sequence number when
    * `useStartingSequenceNumber` (the compaction rule — rewritten rows
    * must not outrank equality deletes committed later). Returns the
    * snapshot id. */
  def replaceFiles(uri: String, namespace: Seq[String], table: String,
      removedPaths: Seq[String], files: Seq[AddedFile], stagingDir: String,
      authToken: Option[String] = None, prefix: Option[String] = None,
      maxRetries: Int = 3, useStartingSequenceNumber: Boolean = true): Long = {
    require(removedPaths.nonEmpty, "replaceFiles: nothing to remove " +
      "(use appendFiles for pure additions)")
    commitLoop(uri, namespace, table, stagingDir, authToken, prefix, maxRetries,
      files, Nil, removedPaths.toSet, useStartingSequenceNumber,
      if (files.isEmpty) "delete" else "replace")
  }

  /** Deep-converts an avro datum read from a FOREIGN schema instance to
    * `schema`, matching record fields BY NAME recursively — how survivor
    * manifest entries (stats ByteBuffers and all) are carried into the
    * rewritten manifest without this client understanding every field. */
  private def convert(datum: AnyRef, schema: Schema): AnyRef = {
    import scala.jdk.CollectionConverters._
    schema.getType match {
      case Schema.Type.UNION =>
        if (datum == null) null
        else convert(datum,
          schema.getTypes.asScala.find(_.getType != Schema.Type.NULL).get)
      case Schema.Type.RECORD =>
        val old = datum.asInstanceOf[GenericRecord]
        val rec = new GenericData.Record(schema)
        schema.getFields.asScala.foreach { f =>
          if (old.getSchema.getField(f.name) != null)
            rec.put(f.name, convert(old.get(f.name).asInstanceOf[AnyRef], f.schema))
        }
        rec
      case Schema.Type.ARRAY =>
        val coll = datum.asInstanceOf[java.util.Collection[AnyRef]]
        val out = new GenericData.Array[AnyRef](coll.size, schema)
        coll.asScala.foreach(e => out.add(convert(e, schema.getElementType)))
        out
      case Schema.Type.MAP =>
        val m = datum.asInstanceOf[java.util.Map[AnyRef, AnyRef]]
        val out = new java.util.HashMap[AnyRef, AnyRef]()
        m.asScala.foreach { case (k, v) => out.put(k, convert(v, schema.getValueType)) }
        out
      case _ => datum
    }
  }

  /** The manifests and manifest list one commit attempt wrote. */
  private[meta] final case class Staged(newSnapId: Long, newSeq: Long,
      listPath: String, paths: Seq[String], tag: String)

  /** Writes the manifests and the manifest list of one commit on top of
    * snapshot `headId` of the loaded spec metadata `m`: the head's
    * manifests carried plus the change (append/delta), or the head
    * rewritten without `removedPaths` plus the change (replace). */
  private[meta] def stageManifestList(m: JValue, headId: Option[Long],
      stagingDir: String, dataFiles: Seq[AddedFile],
      deleteFiles: Seq[AddedDeleteFile], removedPaths: Set[String],
      useStartingSequenceNumber: Boolean): Staged = {
    val fv = lng(m \ "format-version").toInt
    val lastSeq = lng(m \ "last-sequence-number")
    val snapIds = arr(m \ "snapshots").map(s => lng(s \ "snapshot-id"))
    val newSnapId = (snapIds :+ 0L).max + 1
    val newSeq = lastSeq + 1
    val headSeq = headId.flatMap(id => arr(m \ "snapshots")
      .find(s => lng(s \ "snapshot-id") == id).map(s => lng(s \ "sequence-number")))
      .getOrElse(0L)
    // the sequence stamped on added DATA files: a replace under the
    // starting-sequence rule pins them to the head it rewrote
    val addedDataSeq =
      if (removedPaths.nonEmpty && useStartingSequenceNumber) headSeq else newSeq

    // ---- the table's schema + default spec, in manifest layout
    val schemaJ = arr(m \ "schemas").find(s =>
      lng(s \ "schema-id") == lng(m \ "current-schema-id")).getOrElse(
      sys.error("no current schema in loaded metadata"))
    val schemaFields = arr(schemaJ \ "fields").map { f =>
      SchemaField(lng(f \ "id").toInt, str(f \ "name"),
        IcebergImport.ddlOf(f \ "type"), nullable = (f \ "required") != JBool(true))
    }
    val byId = schemaFields.map(f => f.id -> f).toMap
    val defaultSpecId = lng(m \ "default-spec-id").toInt
    val specJ = arr(m \ "partition-specs").find(s =>
      lng(s \ "spec-id") == defaultSpecId).getOrElse(
      sys.error("no default partition spec in loaded metadata"))
    val specFields = arr(specJ \ "fields").map { f =>
      val src = byId(lng(f \ "source-id").toInt)
      (PartitionField(src.name, str(f \ "transform")), lng(f \ "field-id").toInt)
    }
    val clientMeta = TableMetadata("rest-client", "", schema = schemaFields,
      partitionSpec = specFields.map(_._1))
    val mSchema = new Schema.Parser().parse(IcebergExport.manifestSchemaJsonFor(
      clientMeta, specFields.map(_._1), specFields.toMap, fv))
    val dfSchema = mSchema.getField("data_file").schema()

    def partitionRecord(values: Map[String, String]): GenericData.Record = {
      val part = new GenericData.Record(dfSchema.getField("partition").schema())
      specFields.foreach { case (p, _) =>
        part.put(IcebergExport.partFieldName(p),
          IcebergExport.partitionValue(clientMeta, p, values.get(p.column)))
      }
      part
    }
    def entry(status: Int, seq: Long, df: GenericData.Record): GenericData.Record = {
      val e = new GenericData.Record(mSchema)
      e.put("status", Integer.valueOf(status))
      e.put("snapshot_id", java.lang.Long.valueOf(newSnapId))
      e.put("sequence_number", java.lang.Long.valueOf(seq))
      e.put("file_sequence_number", java.lang.Long.valueOf(seq))
      e.put("data_file", df)
      e
    }

    // UUID-named like any Iceberg writer's metadata files: two clients
    // racing the same head would otherwise write the SAME staging path
    // (both compute the same next snapshot id) and tear each other's avro
    val tag = java.util.UUID.randomUUID().toString.take(12)

    // ---- 2a. added DATA entries (ADDED status, explicit sequences)
    val addedDataRecords = dataFiles.map { f =>
      val df = new GenericData.Record(dfSchema)
      df.put("content", Integer.valueOf(0))
      df.put("file_path", f.path)
      df.put("file_format", "PARQUET")
      df.put("partition", partitionRecord(f.partitionValues))
      df.put("record_count", java.lang.Long.valueOf(f.recordCount))
      df.put("file_size_in_bytes", java.lang.Long.valueOf(f.sizeInBytes))
      if (fv >= 3 && f.firstRowId.nonEmpty)
        df.put("first_row_id", java.lang.Long.valueOf(f.firstRowId.get))
      entry(1, addedDataSeq, df)
    }
    // ---- 2b. added DELETE entries (row-delta shape)
    val addedDeleteRecords = deleteFiles.map { d =>
      val df = new GenericData.Record(dfSchema)
      df.put("content", Integer.valueOf(if (d.content == "equality") 2 else 1))
      df.put("file_path", d.path)
      df.put("file_format", if (d.content == "dv") "PUFFIN" else "PARQUET")
      df.put("partition", partitionRecord(d.partitionValues))
      df.put("record_count", java.lang.Long.valueOf(d.recordCount))
      df.put("file_size_in_bytes", java.lang.Long.valueOf(d.sizeInBytes))
      if (d.equalityFieldIds.nonEmpty) {
        val l = new java.util.ArrayList[Integer]()
        d.equalityFieldIds.foreach(i => l.add(Integer.valueOf(i)))
        df.put("equality_ids", l)
      }
      if (d.content == "dv") {
        require(fv >= 3, "deletion vectors need a format-version 3 table")
        df.put("referenced_data_file", d.referencedDataFile.get)
        df.put("content_offset", java.lang.Long.valueOf(d.contentOffset.get))
        df.put("content_size_in_bytes",
          java.lang.Long.valueOf(d.contentSizeInBytes.get))
      }
      entry(1, newSeq, df)
    }

    // ---- 2c. survivors (replace shape): every head manifest's live
    // entries minus the removed paths, converted field-by-field into
    // OUR manifest schema as EXISTING entries with their own sequences
    val headList: Option[String] = headId.map { id =>
      arr(m \ "snapshots").find(s => lng(s \ "snapshot-id") == id)
        .map(s => str(s \ "manifest-list")).getOrElse(
          sys.error(s"head snapshot $id missing from loaded metadata"))
    }
    val (survivorData, survivorDeletes, removedSeen) =
      if (removedPaths.isEmpty) (Nil, Nil, Set.empty[String])
      else {
        val seen = scala.collection.mutable.Set.empty[String]
        val dataB = Seq.newBuilder[GenericData.Record]
        val delB = Seq.newBuilder[GenericData.Record]
        headList.toSeq.foreach { listPath =>
          val (listEntries, _) = IcebergExport.readAvro(listPath)
          listEntries.foreach { le =>
            val mSpecId = le.get("partition_spec_id").asInstanceOf[Int]
            require(mSpecId == 0 || mSpecId == defaultSpecId,
              s"replaceFiles: head manifest under historical partition spec " +
                s"$mSpecId — rewriting spec-evolved tables stays with the " +
                "serving engine")
            val listSeq = le.get("sequence_number").asInstanceOf[Long]
            IcebergExport.readAvro(le.get("manifest_path").toString)._1.foreach { r =>
              if (r.get("status").asInstanceOf[Int] != 2) {
                val df = r.get("data_file").asInstanceOf[GenericRecord]
                val path = df.get("file_path").toString
                if (removedPaths.contains(path)) seen += path
                else {
                  val seq = Option(r.get("sequence_number"))
                    .map(_.asInstanceOf[Long]).getOrElse(listSeq)
                  val conv = entry(0, seq,
                    convert(df, dfSchema).asInstanceOf[GenericData.Record])
                  // EXISTING entries keep the snapshot that ADDED them
                  Option(r.get("snapshot_id")).foreach(id => conv.put("snapshot_id", id))
                  if (df.get("content").asInstanceOf[Int] == 0) dataB += conv
                  else delB += conv
                }
              }
            }
          }
        }
        (dataB.result(), delB.result(), seen.toSet)
      }
    if (removedPaths.nonEmpty) {
      val missing = removedPaths -- removedSeen
      require(missing.isEmpty,
        s"replaceFiles: not in the current snapshot: ${missing.take(3).mkString(", ")}")
    }

    // ---- 2d. the new manifests + manifest list
    val listSchema = new Schema.Parser().parse(
      IcebergExport.manifestListSchemaJsonV(fv))
    def listEntry(mPath: String, mLen: Long, content: Int,
        records: Seq[GenericData.Record]): GenericData.Record = {
      val seqs = records.map(_.get("sequence_number").asInstanceOf[java.lang.Long].longValue)
      val added = records.count(_.get("status").asInstanceOf[Integer].intValue == 1)
      val rows = records.map(_.get("data_file").asInstanceOf[GenericRecord]
        .get("record_count").asInstanceOf[java.lang.Long].longValue)
      val addedRows = records.zip(rows).collect {
        case (r, n) if r.get("status").asInstanceOf[Integer].intValue == 1 => n
      }
      val le = new GenericData.Record(listSchema)
      le.put("manifest_path", mPath)
      le.put("manifest_length", java.lang.Long.valueOf(mLen))
      le.put("partition_spec_id", Integer.valueOf(defaultSpecId))
      le.put("content", Integer.valueOf(content))
      le.put("sequence_number", java.lang.Long.valueOf(newSeq))
      le.put("min_sequence_number",
        java.lang.Long.valueOf(seqs.foldLeft(newSeq)(math.min)))
      le.put("added_snapshot_id", java.lang.Long.valueOf(newSnapId))
      le.put("added_files_count", Integer.valueOf(added))
      le.put("existing_files_count", Integer.valueOf(records.size - added))
      le.put("deleted_files_count", Integer.valueOf(0))
      le.put("added_rows_count", java.lang.Long.valueOf(addedRows.sum))
      le.put("existing_rows_count", java.lang.Long.valueOf(rows.sum - addedRows.sum))
      le.put("deleted_rows_count", java.lang.Long.valueOf(0L))
      le
    }
    def writeManifest(name: String, content: Int,
        records: Seq[GenericData.Record]): (String, GenericData.Record) = {
      val mPath = MetaIO.join(stagingDir, s"client-$tag-$name.avro")
      val mLen = IcebergExport.avroWrite(mPath, mSchema, Map(
        "schema" -> JsonMethods.compact(JsonMethods.render(schemaJ)),
        "partition-spec" -> JsonMethods.compact(JsonMethods.render(specJ \ "fields")),
        "partition-spec-id" -> defaultSpecId.toString,
        "format-version" -> fv.toString,
        "content" -> (if (content == 0) "data" else "deletes")), records)
      (mPath, listEntry(mPath, mLen, content, records))
    }

    val newManifests = Seq.newBuilder[(String, GenericData.Record)]
    if (removedPaths.isEmpty) {
      if (addedDataRecords.nonEmpty)
        newManifests += writeManifest("m0", 0, addedDataRecords)
      if (addedDeleteRecords.nonEmpty)
        newManifests += writeManifest("d0", 1, addedDeleteRecords)
    } else {
      // with removals the list references ONLY the rewritten manifests:
      // survivors + additions (a DV-replacing delta adds delete records
      // here too — the superseded DV is simply not carried)
      if ((survivorData ++ addedDataRecords).nonEmpty)
        newManifests += writeManifest("m0", 0, survivorData ++ addedDataRecords)
      if ((survivorDeletes ++ addedDeleteRecords).nonEmpty)
        newManifests += writeManifest("d0", 1, survivorDeletes ++ addedDeleteRecords)
    }
    val written = newManifests.result()

    // carried head list entries (append/delta only — a replace rewrote
    // the head into the new manifests above)
    val carried: Seq[GenericData.Record] =
      if (removedPaths.nonEmpty) Nil
      else headList.toSeq.flatMap { path =>
        IcebergExport.readAvro(path)._1.map(old =>
          convert(old, listSchema).asInstanceOf[GenericData.Record])
      }
    val listPath = MetaIO.join(stagingDir, s"client-snap-$tag.avro")
    IcebergExport.avroWrite(listPath, listSchema, Map(
      "format-version" -> fv.toString,
      "snapshot-id" -> newSnapId.toString,
      "sequence-number" -> newSeq.toString,
      "parent-snapshot-id" -> headId.map(_.toString).getOrElse("null")),
      carried ++ written.map(_._2))
    Staged(newSnapId, newSeq, listPath, written.map(_._1) :+ listPath, tag)
  }

  // one optimistic-concurrency commit loop for all three shapes
  private def commitLoop(uri: String, namespace: Seq[String], table: String,
      stagingDir: String, authToken: Option[String], prefix: Option[String],
      maxRetries: Int, dataFiles: Seq[AddedFile],
      deleteFiles: Seq[AddedDeleteFile], removedPaths: Set[String],
      useStartingSequenceNumber: Boolean, operation: String,
      stagedMeta: Option[JValue] = None): Long = {
    val route = IcebergRestImport.tableRoute(uri,
      prefix.getOrElse(IcebergRestImport.resolvePrefix(uri, authToken)),
      namespace, table)

    var attempt = 0
    while (true) {
      // ---- 1. load (a STAGED table is not loadable — the stage-create
      // response's embedded metadata stands in)
      val m = stagedMeta.getOrElse {
        val load = send(HttpRequest.newBuilder(URI.create(route)).GET(), authToken)
        require(load.statusCode() == 200,
          s"load $route failed: HTTP ${load.statusCode()} ${load.body().take(300)}")
        JsonMethods.parse(load.body()) \ "metadata"
      }
      val uuid = str(m \ "table-uuid")
      val curId = (m \ "current-snapshot-id") match {
        case JNothing | JNull => None
        case v => Some(lng(v)).filter(_ != -1L)
      }
      // ---- 2. the manifests + manifest list on shared storage
      val Staged(newSnapId, newSeq, listPath, stagedPaths, tag) =
        stageManifestList(m, curId, stagingDir, dataFiles, deleteFiles,
          removedPaths, useStartingSequenceNumber)

      // ---- 3. commit. The summary carries a per-attempt marker: servers
      // that re-render metadata (graft re-exports its own manifest lists)
      // keep summary keys verbatim, so a failed-looking commit can be
      // CHECKED for having actually applied (below)
      val snapshotJ: JValue =
        ("snapshot-id" -> newSnapId) ~
          ("parent-snapshot-id" -> curId) ~
          ("sequence-number" -> newSeq) ~
          ("timestamp-ms" -> System.currentTimeMillis()) ~
          ("manifest-list" -> listPath) ~
          ("summary" -> (("operation" -> operation) ~
            ("graft.commit-uuid" -> tag): JValue)) ~
          ("schema-id" -> lng(m \ "current-schema-id"))
      val requirements: List[JValue] =
        if (stagedMeta.nonEmpty)
          // the CTAS first commit: assert the table is being CREATED
          List(("type" -> "assert-create"): JValue)
        else List(
          ("type" -> "assert-table-uuid") ~ ("uuid" -> uuid),
          ("type" -> "assert-ref-snapshot-id") ~ ("ref" -> "main") ~
            ("snapshot-id" -> curId))
      val reqJ: JValue =
        ("identifier" -> (("namespace" -> namespace) ~ ("name" -> table))) ~
          ("requirements" -> requirements) ~
          ("updates" -> List[JValue](
            ("action" -> "add-snapshot") ~ ("snapshot" -> snapshotJ),
            ("action" -> "set-snapshot-ref") ~ ("ref-name" -> "main") ~
              ("type" -> "branch") ~ ("snapshot-id" -> newSnapId)))
      val resp = send(HttpRequest.newBuilder(URI.create(route))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(
          JsonMethods.compact(JsonMethods.render(reqJ)))), authToken)
      resp.statusCode() match {
        case 200 => return newSnapId
        case code =>
          // A non-200 does NOT prove the commit was not applied: a server
          // can commit first and only then fail rendering the response
          // (graft's own endpoint 409s a v3-wire export refusal AFTER the
          // CAS), and catalogs behind proxies can answer 5xx post-apply.
          // Deleting the staged avro then would leave the COMMITTED
          // snapshot referencing dead files — table corruption. So:
          // reload and look for this attempt's unique marker before
          // touching the staged files (Iceberg's CommitStateUnknown
          // handling); delete only on a PROVEN no-apply.
          val applied: Option[Boolean] =
            try {
              val re = send(HttpRequest.newBuilder(URI.create(route)).GET(), authToken)
              // a staged table is only loadable once its first commit
              // REGISTERED it — a 404 here proves the commit did not land
              if (re.statusCode() == 404 && stagedMeta.nonEmpty) Some(false)
              else if (re.statusCode() != 200) None
              else Some(arr(JsonMethods.parse(re.body()) \ "metadata" \ "snapshots")
                .exists(s => (s \ "manifest-list") == JString(listPath) ||
                  (s \ "summary" \ "graft.commit-uuid") == JString(tag)))
            } catch { case scala.util.control.NonFatal(_) => None }
          applied match {
            case Some(true) =>
              // applied despite the error answer — the commit IS durable
              return newSnapId
            case Some(false) if code == 409 && attempt < maxRetries =>
              // someone moved the head — reload and rebuild. The losing
              // attempt's staged avro is referenced by NOTHING (the
              // table's orphan sweep never visits a foreign staging
              // dir), so delete it rather than leak two files per race
              stagedPaths.foreach(MetaIO.delete)
              attempt += 1
            case Some(false) =>
              stagedPaths.foreach(MetaIO.delete)
              sys.error(s"commit $route failed: HTTP $code ${resp.body().take(500)}")
            case None =>
              // commit state UNKNOWN (the follow-up load failed too):
              // keep the staged files — orphans are recoverable, a
              // committed snapshot over deleted files is not
              sys.error(s"commit $route failed with HTTP $code and the " +
                "follow-up load could not determine whether it applied — " +
                s"staged files kept: ${stagedPaths.mkString(", ")}. " +
                resp.body().take(300))
          }
      }
    }
    sys.error("unreachable")
  }
}
