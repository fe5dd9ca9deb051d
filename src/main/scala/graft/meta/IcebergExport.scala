package graft.meta

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/** ONE-WAY export of a graft table's metadata into the published Apache
  * Iceberg format-v2 layout — spec-compliant table-metadata JSON plus
  * Avro manifest lists and manifest files — so a snapshot written by this
  * engine becomes readable by any spec-compliant Iceberg reader without
  * changing graft's own (JSON+gzip+delta) native format. Data files are
  * NOT copied: the export references the existing parquet paths, exactly
  * like Iceberg's own `register_table`/`add_files` flows.
  *
  * Everything here is re-implemented from the public Iceberg table spec
  * ("Iceberg Table Spec", format version 2): metadata-file field set,
  * manifest-list entry fields (ids 500-519), manifest-entry/data_file
  * fields (ids 0-4, 100-143), the 1000+ partition-field-id convention,
  * and the avro file-metadata keys (`schema`, `partition-spec`,
  * `format-version`, `content`). The reference engine itself delegates
  * this layer to `iceberg-rust`; this module is the from-spec equivalent.
  *
  * Scope (documented, checked): format v2, and format v3 for v3-featured
  * tables — deletion vectors export as content=1 manifest entries naming
  * their Puffin blob (referenced_data_file/content_offset/
  * content_size_in_bytes, data_file fields 143-145), row lineage as
  * explicit per-file first_row_id (field 142) + metadata next-row-id,
  * column defaults as initial-default/write-default (Appendix D JSON
  * single values). Schema export covers primitive columns plus
  * ARRAY<primitive>. Per-file stats: graft's manifest zone maps + null
  * counts export as `lower_bounds`/`upper_bounds`/`value_counts`/
  * `null_value_counts` (data_file fields 109/110/125/128, Appendix D
  * single-value serialization), so external readers keep min/max file
  * pruning; columns without recorded stats simply omit their entries
  * (spec-optional). Snapshot lineage for `status`:
  * entries whose sequence number equals the snapshot's are ADDED, the
  * rest EXISTING with explicit (non-inherited) sequence numbers — the
  * spec-legal conservative encoding when the adding snapshot of an old
  * file is no longer tracked.
  */
object IcebergExport {

  // ---- type mapping: graft DDL strings -> Iceberg type JSON ----

  private[meta] def icebergType(ddl: String, nextId: () => Int): JValue = {
    val t = ddl.trim.toUpperCase
    t match {
      case "BIGINT" | "LONG" => JString("long")
      case "INT" | "INTEGER" | "SMALLINT" | "TINYINT" => JString("int")
      case "STRING" | "VARCHAR" => JString("string")
      case "DOUBLE" => JString("double")
      case "FLOAT" | "REAL" => JString("float")
      case "BOOLEAN" => JString("boolean")
      case "DATE" => JString("date")
      case "TIMESTAMP" => JString("timestamptz") // Spark TimestampType is tz-aware
      case "TIMESTAMP_NTZ" => JString("timestamp")
      case "BINARY" => JString("binary")
      case d if d.startsWith("DECIMAL") => JString(d.toLowerCase.replace(" ", ""))
      case a if a.startsWith("ARRAY<") && a.endsWith(">") =>
        val inner = icebergType(a.stripPrefix("ARRAY<").stripSuffix(">"), nextId)
        ("type" -> "list") ~ ("element-id" -> nextId()) ~
          ("element" -> inner) ~ ("element-required" -> false)
      case other => sys.error(s"exportIcebergMetadata: unsupported type $other")
    }
  }

  /** (schema JSON, highest field id assigned — INCLUDING nested list
    * element-ids minted here). The caller must write that max as
    * `last-column-id`: the spec requires last-column-id >= every assigned
    * field id, or a later ADD COLUMN by another engine would mint a
    * colliding id. */
  private def schemaJsonWithMax(meta: TableMetadata, fv: Int = 2): (JValue, Int) = {
    require(meta.isTyped,
      "exportIcebergMetadata requires a typed (field-id) schema")
    var next = math.max(meta.lastColumnId, meta.schema.map(_.id).max)
    val fresh = () => { next += 1; next }
    val j: JValue = ("type" -> "struct") ~ ("schema-id" -> 0) ~
      ("fields" -> meta.schema.map { f =>
        val base = ("id" -> f.id) ~ ("name" -> f.name) ~
          ("required" -> !f.nullable) ~ ("type" -> icebergType(f.dataType, fresh))
        // v3 schema defaults (spec "Default values"): graft's single
        // initial-default slot fills both file-absent reads AND missing
        // INSERT columns, so it exports as initial-default + write-default
        val dflt = if (fv >= 3) f.initialDefault.flatMap(defaultJsonValue(f.dataType, _))
                   else None
        dflt.fold(base)(v => base ~ ("initial-default" -> v) ~ ("write-default" -> v))
      })
    (j, next)
  }

  /** Spec Appendix D "JSON single-value serialization" of a folded SQL
    * literal default. None when the literal cannot be rendered (the
    * default then simply does not export — spec-optional). */
  private[meta] def defaultJsonValue(ddl: String, sql: String): Option[JValue] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val lit =
      try org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql) match {
        case l: Literal => Some(l)
        case c @ Cast(l: Literal, _, _, _) if c.resolved && c.foldable =>
          Some(Literal.create(c.eval(), c.dataType))
        case _ => None
      } catch { case scala.util.control.NonFatal(_) => None }
    lit.flatMap { l =>
      if (l.value == null) return Some(JNull)
      val t = ddl.trim.toUpperCase
      (t, l.value) match {
        case ("BOOLEAN", b: Boolean) => Some(JBool(b))
        case (("INT" | "INTEGER" | "SMALLINT" | "TINYINT" | "BIGINT" | "LONG"), _) =>
          scala.util.Try(JLong(l.value.toString.toLong)).toOption
        case (("DOUBLE" | "FLOAT" | "REAL"), _) =>
          scala.util.Try(JDouble(l.value.toString.toDouble)).toOption
        case (d, _) if d.startsWith("DECIMAL") =>
          // decimal serializes as a JSON string preserving scale
          Some(JString(l.value.toString))
        case (("STRING" | "VARCHAR"), s) => Some(JString(s.toString))
        case ("DATE", _) => l.value match {
          // Literal dates fold to epoch-day ints; spec wants "YYYY-MM-DD"
          case i: Int => Some(JString(java.time.LocalDate.ofEpochDay(i.toLong).toString))
          case _ => Some(JString(l.value.toString))
        }
        case (("TIMESTAMP" | "TIMESTAMP_NTZ"), _) => l.value match {
          case micros: Long => Some(JString(
            java.time.Instant.EPOCH.plus(micros, java.time.temporal.ChronoUnit.MICROS)
              .toString.stripSuffix("Z") + (if (t == "TIMESTAMP") "+00:00" else "")))
          case _ => None
        }
        case _ => None
      }
    }
  }

  /** Iceberg partition-field name convention: identity keeps the column
    * name, bucket[n] appends `_bucket`. */
  private[meta] def partFieldName(p: PartitionField): String =
    if (p.isIdentity) p.column
    else if (p.bucketN.nonEmpty || p.sparkBucketN.nonEmpty) s"${p.column}_bucket"
    else if (p.isTruncate) s"${p.column}_trunc"
    else if (p.isTime) s"${p.column}_${p.transform}"
    else sys.error(s"unsupported partition transform: ${p.transform}")

  private def partTransform(p: PartitionField): String =
    if (p.isIdentity) "identity"
    else if (p.isTime) p.transform
    else if (p.isTruncate) s"truncate[${p.truncateW.get}]"
    else p.bucketN.map(n => s"bucket[$n]").getOrElse(
      sys.error(s"exportIcebergMetadata: transform ${p.transform} is engine-internal " +
        "(sparkbucket is not Iceberg-spec); rewrite the table with bucket[n]"))

  private def specJsonFor(meta: TableMetadata, specId: Int,
      fields: Seq[PartitionField], idOf: PartitionField => Int): JValue =
    ("spec-id" -> specId) ~ ("fields" -> fields.map { p =>
      ("name" -> partFieldName(p)) ~ ("transform" -> partTransform(p)) ~
        ("source-id" -> meta.fieldByName(p.column).map(_.id).getOrElse(
          sys.error(s"partition column ${p.column} not in schema"))) ~
        ("field-id" -> idOf(p))
    })

  private def sortOrderJson(meta: TableMetadata): JValue =
    if (meta.sortOrder.isEmpty) ("order-id" -> 0) ~ ("fields" -> JArray(Nil))
    else ("order-id" -> 1) ~ ("fields" -> meta.sortOrder.flatMap { s =>
      // multi-column clustering transforms (zorder/hilbert) are
      // engine-internal; exported tables advertise an unsorted order then
      meta.fieldByName(s.column).map { f =>
        ("transform" -> "identity") ~ ("source-id" -> f.id) ~
          ("direction" -> (if (s.ascending) "asc" else "desc")) ~
          ("null-order" -> (if (s.nullsFirst) "nulls-first" else "nulls-last"))
      }
    })

  // ---- avro schemas (field ids from the published spec) ----

  private def fld(name: String, id: Int, typ: JValue, doc: Option[String] = None): JValue = {
    val base = ("name" -> name) ~ ("type" -> typ) ~ ("field-id" -> id)
    doc.map(d => base ~ ("doc" -> d)).getOrElse(base)
  }
  private def opt(typ: JValue): JValue = JArray(List(JString("null"), typ))
  private def optFld(name: String, id: Int, typ: JValue): JValue =
    ("name" -> name) ~ ("type" -> opt(typ)) ~ ("default" -> JNull) ~ ("field-id" -> id)

  private[meta] def manifestListSchemaJsonV(fv: Int): String = JsonMethods.compact(JsonMethods.render(
    ("type" -> "record") ~ ("name" -> "manifest_file") ~ ("fields" -> (List(
      fld("manifest_path", 500, JString("string")),
      fld("manifest_length", 501, JString("long")),
      fld("partition_spec_id", 502, JString("int")),
      fld("content", 517, JString("int")),
      fld("sequence_number", 515, JString("long")),
      fld("min_sequence_number", 516, JString("long")),
      fld("added_snapshot_id", 503, JString("long")),
      fld("added_files_count", 504, JString("int")),
      fld("existing_files_count", 505, JString("int")),
      fld("deleted_files_count", 506, JString("int")),
      fld("added_rows_count", 512, JString("long")),
      fld("existing_rows_count", 513, JString("long")),
      fld("deleted_rows_count", 514, JString("long")),
      optFld("partitions", 507,
        ("type" -> "array") ~ ("element-id" -> 508) ~ ("items" ->
          (("type" -> "record") ~ ("name" -> "r508") ~ ("fields" -> List(
            fld("contains_null", 509, JString("boolean")),
            optFld("contains_nan", 518, JString("boolean")),
            optFld("lower_bound", 510, JString("bytes")),
            optFld("upper_bound", 511, JString("bytes"))))))),
      optFld("key_metadata", 519, JString("bytes"))) ++
      // v3 row lineage: the starting _row_id for rows in this manifest's
      // ADDED data files (spec manifest-list field 520); graft writes
      // per-file first_row_id explicitly too, so inheritance never fires
      (if (fv >= 3) List(optFld("first_row_id", 520, JString("long"))) else Nil)))))

  private[meta] val manifestListSchemaJson: String = manifestListSchemaJsonV(2)

  /** Avro type of one partition column inside the manifest `partition`
    * struct: identity mirrors the source column, bucket is an int. */
  private def partAvroType(meta: TableMetadata, p: PartitionField): JValue =
    // day's result type is a date (int days, avro date logical type);
    // year/month/hour are plain int ordinals, like bucket; truncate's
    // result type is the SOURCE type (spec: "Partition Transforms")
    if (p.transform == "day") ("type" -> "int") ~ ("logicalType" -> "date")
    else if (p.isTruncate)
      meta.fieldByName(p.column).map(_.dataType.trim.toUpperCase) match {
        case Some("BIGINT") | Some("LONG") => JString("long")
        case Some("INT") | Some("INTEGER") => JString("int")
        case Some("STRING") | Some("VARCHAR") => JString("string")
        case other => sys.error(s"unsupported truncate partition source type $other")
      }
    else if (!p.isIdentity) JString("int")
    else meta.fieldByName(p.column).map(_.dataType.trim.toUpperCase) match {
      case Some("BIGINT") | Some("LONG") => JString("long")
      case Some("INT") | Some("INTEGER") => JString("int")
      case Some("STRING") | Some("VARCHAR") => JString("string")
      case Some("DOUBLE") => JString("double")
      case Some("FLOAT") => JString("float")
      // spec partition-data encoding for a date source: int days since
      // epoch (avro date logical type) — a string here would break any
      // conforming reader's partition struct decode
      case Some("DATE") => ("type" -> "int") ~ ("logicalType" -> "date")
      case Some("BOOLEAN") => JString("boolean")
      case other => sys.error(s"unsupported identity partition source type $other")
    }

  /** Iceberg's Avro encoding for a map with non-string keys (spec
    * Appendix A): an array of key/value records with `logicalType: map`,
    * each field carrying its spec field-id. */
  private def kvMapType(keyId: Int, valId: Int, valType: String): JValue =
    ("type" -> "array") ~ ("logicalType" -> "map") ~ ("items" ->
      (("type" -> "record") ~ ("name" -> s"k${keyId}_v$valId") ~ ("fields" -> List(
        fld("key", keyId, JString("int")),
        fld("value", valId, JString(valType))))))

  private[meta] def manifestSchemaJson(meta: TableMetadata): String =
    manifestSchemaJsonFor(meta, meta.partitionSpec,
      p => 1000 + meta.partitionSpec.indexOf(p))

  private[meta] def manifestSchemaJsonFor(meta: TableMetadata,
      specFields: Seq[PartitionField], idOf: PartitionField => Int,
      fv: Int = 2): String = {
    val partFields = specFields.map { p =>
      optFld(partFieldName(p), idOf(p), partAvroType(meta, p))
    }
    val dataFile =
      ("type" -> "record") ~ ("name" -> "r2") ~ ("fields" -> (List(
        fld("content", 134, JString("int")),
        fld("file_path", 100, JString("string")),
        fld("file_format", 101, JString("string")),
        fld("partition", 102,
          ("type" -> "record") ~ ("name" -> "r102") ~ ("fields" -> partFields)),
        fld("record_count", 103, JString("long")),
        fld("file_size_in_bytes", 104, JString("long")),
        // per-file stats (data_file fields 109/110/125/128 with map
        // key/value ids 119-130): external readers prune files on these
        optFld("value_counts", 109, kvMapType(119, 120, "long")),
        optFld("null_value_counts", 110, kvMapType(121, 122, "long")),
        optFld("lower_bounds", 125, kvMapType(126, 127, "bytes")),
        optFld("upper_bounds", 128, kvMapType(129, 130, "bytes")),
        optFld("equality_ids", 135,
          ("type" -> "array") ~ ("element-id" -> 136) ~ ("items" -> JString("int"))),
        optFld("sort_order_id", 140, JString("int"))) ++
        // v3 additions (spec data_file fields 142-145): row lineage per
        // data file, and deletion-vector addressing (a Puffin blob named
        // by referenced data file + byte range) for content=1 entries
        (if (fv >= 3) List(
          optFld("first_row_id", 142, JString("long")),
          optFld("referenced_data_file", 143, JString("string")),
          optFld("content_offset", 144, JString("long")),
          optFld("content_size_in_bytes", 145, JString("long"))) else Nil)))
    JsonMethods.compact(JsonMethods.render(
      ("type" -> "record") ~ ("name" -> "manifest_entry") ~ ("fields" -> List(
        fld("status", 0, JString("int")),
        optFld("snapshot_id", 1, JString("long")),
        optFld("sequence_number", 3, JString("long")),
        optFld("file_sequence_number", 4, JString("long")),
        fld("data_file", 2, dataFile)))))
  }

  private[meta] def avroWrite(path: String, schema: Schema,
      fileMeta: Map[String, String], records: Seq[GenericRecord]): Long = {
    val bos = new java.io.ByteArrayOutputStream()
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    fileMeta.foreach { case (k, v) => w.setMeta(k, v) }
    w.create(schema, bos)
    records.foreach(w.append)
    w.close()
    val bytes = bos.toByteArray
    MetaIO.write(path, bytes)
    bytes.length.toLong
  }

  /** Iceberg single-value binary serialization (table spec Appendix D) of
    * one zone-map bound. Numeric stats are decimal strings in footer
    * encoding; string stats are the bound itself (UTF-8 serialized).
    * Anything else (or a value that doesn't parse exactly) yields None
    * and the bound is omitted — spec-legal, readers just don't prune on
    * that column. */
  private[meta] def boundBytes(ddl: String, v: String): Option[java.nio.ByteBuffer] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int)(put: ByteBuffer => ByteBuffer): ByteBuffer = {
      val b = put(ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN))
      b.flip(); b
    }
    val t = ddl.trim.toUpperCase
    // string bounds: Appendix D serializes as UTF-8 bytes; the recorded
    // zone-map strings are valid (possibly writer-truncated) bounds,
    // which the spec permits for lower/upper_bounds
    if (t == "STRING" || t.startsWith("VARCHAR") || t.startsWith("CHAR"))
      return Some(java.nio.ByteBuffer.wrap(v.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    try {
      val d = BigDecimal(v)
      t match {
        case "INT" | "INTEGER" | "SMALLINT" | "TINYINT" =>
          Some(le(4)(_.putInt(d.toIntExact)))
        case "BIGINT" | "LONG" => Some(le(8)(_.putLong(d.toLongExact)))
        case "FLOAT" | "REAL" => Some(le(4)(_.putFloat(d.toFloat)))
        case "DOUBLE" => Some(le(8)(_.putDouble(d.toDouble)))
        // parquet stores DATE as int32 days / TIMESTAMP as int64 micros —
        // exactly Appendix D's representation, just re-ordered to LE
        case "DATE" => Some(le(4)(_.putInt(d.toIntExact)))
        case "TIMESTAMP" | "TIMESTAMP_NTZ" => Some(le(8)(_.putLong(d.toLongExact)))
        // int32/int64-backed parquet decimals surface their UNSCALED value
        // in footer stats; Appendix D wants exactly that, big-endian
        // minimal two's complement
        case dec if dec.startsWith("DECIMAL") =>
          d.toBigIntExact.map(bi => ByteBuffer.wrap(bi.toByteArray))
        case _ => None
      }
    } catch {
      case _: NumberFormatException | _: ArithmeticException => None
    }
  }

  private[meta] def partitionValue(meta: TableMetadata, p: PartitionField, raw: Option[String]): AnyRef =
    raw match {
      case None => null
      // time transforms: graft records the human literal, the spec wants
      // the int ordinal
      case Some(v) if p.isTime =>
        Integer.valueOf(PartitionField.timeLiteralToOrdinal(p.transform, v))
      // truncate values ride in the SOURCE type (the literal is faithful)
      case Some(v) if p.isTruncate =>
        meta.fieldByName(p.column).map(_.dataType.trim.toUpperCase) match {
          case Some("BIGINT") | Some("LONG") => java.lang.Long.valueOf(v.toLong)
          case Some("INT") | Some("INTEGER") => Integer.valueOf(v.toInt)
          case _ => v // string
        }
      case Some(v) if !p.isIdentity => Integer.valueOf(v.toInt)
      case Some(v) =>
        meta.fieldByName(p.column).map(_.dataType.trim.toUpperCase) match {
          case Some("BIGINT") | Some("LONG") => java.lang.Long.valueOf(v.toLong)
          case Some("INT") | Some("INTEGER") => Integer.valueOf(v.toInt)
          case Some("DOUBLE") => java.lang.Double.valueOf(v.toDouble)
          case Some("FLOAT") => java.lang.Float.valueOf(v.toFloat)
          // graft records the literal day string; the spec's partition
          // data carries int days since epoch
          case Some("DATE") =>
            Integer.valueOf(java.time.LocalDate.parse(v).toEpochDay.toInt)
          case Some("BOOLEAN") => java.lang.Boolean.valueOf(v)
          case _ => v
        }
    }

  /** Top-level field ids stamped in a parquet footer, by column name.
    * Footer-only read (no data pages). */
  private[meta] def footerFieldIds(
      conf: org.apache.hadoop.conf.Configuration, path: String): Map[String, Option[Int]] = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFooter.getFileMetaData.getSchema.getFields.asScala
      .map(f => f.getName -> Option(f.getId).map(_.intValue())).toMap
    finally r.close()
  }

  private[meta] def posDeleteStamped(
      conf: org.apache.hadoop.conf.Configuration, path: String): Boolean = {
    val ids = footerFieldIds(conf, path)
    ids.get("file_path").flatten.contains(2147483546) &&
      ids.get("pos").flatten.contains(2147483545)
  }

  /** One footer check per distinct pos-delete file; past 8 files the
    * checks run as a Spark job when a session is active (same cutoff and
    * reasoning as [[graft.exec.SparkExecutor.listWrittenFiles]]: a long
    * table history can reference thousands of delete files, and serial
    * driver round-trips against an object store are minutes there). */
  private def posDeleteStampedMap(paths: Seq[String]): Map[String, Boolean] = {
    val session = org.apache.spark.sql.SparkSession.getActiveSession
    if (paths.size <= 8 || session.isEmpty)
      paths.map(p => p -> posDeleteStamped(MetaIO.hadoopConf, p)).toMap
    else {
      val spark = session.get
      val shipped = new MetaIO.SerializableHadoopConf(spark.sessionState.newHadoopConf())
      val slices = math.min(paths.size,
        math.max(1, spark.sparkContext.defaultParallelism))
      spark.sparkContext.parallelize(paths, slices)
        .mapPartitions { it =>
          val c = shipped.value
          it.map(p => p -> posDeleteStamped(c, p))
        }.collect().toMap
    }
  }

  /** Spec-compliant readers project position-delete files BY the
    * reserved field ids (2147483546 file_path / 2147483545 pos — table
    * spec "Position Delete Files"); a tombstone parquet without them
    * silently resurrects deleted rows in external engines. Every
    * in-repo writer stamps them ([[IceWrite.withPosDeleteFieldIds]]).
    *
    * Remediation is split by reachability: an unstamped file referenced
    * by the CURRENT snapshot aborts the export (fixable —
    * `Maintenance.rewritePositionDeletes` rewrites the live snapshot with
    * the ids stamped), while HISTORICAL snapshots referencing unstamped
    * files are dropped from the export (with their refs/tags, parent
    * links patched) exactly like `allowV3` drops DV-bearing history —
    * rewritePositionDeletes cannot reach a past snapshot, so blocking the
    * whole export on one would leave no remediation short of snapshot
    * expiry. */
  private def filterUnstampedPosDeleteHistory(meta: TableMetadata): TableMetadata = {
    val posPaths = meta.snapshots.flatMap(_.manifest)
      .filter(f => f.content == FileContent.PositionDeletes && !f.isDeletionVector)
      .map(_.path).distinct
    if (posPaths.isEmpty) return meta
    val stamped = posDeleteStampedMap(posPaths)
    val bad = stamped.collect { case (p, false) => p }.toSet
    if (bad.isEmpty) return meta
    meta.currentSnapshot.foreach { s =>
      val hit = s.manifest.find(f =>
        f.content == FileContent.PositionDeletes && !f.isDeletionVector && bad(f.path))
      require(hit.isEmpty,
        s"exportIcebergMetadata: position-delete file ${hit.get.path} (current " +
          "snapshot) lacks the reserved Iceberg field ids in its parquet footer — " +
          "external readers cannot project it. Run Maintenance.rewritePositionDeletes " +
          "first (rewrites stamp the ids), then re-export. Historical snapshots " +
          "referencing unstamped files are dropped from the export automatically.")
    }
    val kept = meta.snapshots.filter(_.manifest.forall(f =>
      f.content != FileContent.PositionDeletes || f.isDeletionVector || !bad(f.path)))
    val keptIds = kept.map(_.snapshotId).toSet
    meta.copy(
      snapshots = kept.map(s =>
        if (s.parentId.exists(keptIds.contains)) s else s.copy(parentId = None)),
      refs = meta.refs.filter { case (_, id) => keptIds.contains(id) },
      tags = meta.tags.filter { case (_, id) => keptIds.contains(id) })
  }

  /** v3 metadata must not reference plain position-delete FILES (the
    * spec replaces them with deletion vectors; writers must not add them
    * to v3 tables). A current snapshot carrying one aborts with the
    * conversion remediation; historical snapshots carrying them drop
    * from the export — the same reachability split as the
    * unstamped-pos-delete and unknown-spec filters. */
  private def filterPlainPosDeletesForV3(meta: TableMetadata): TableMetadata = {
    def plain(f: FileEntry) =
      f.content == FileContent.PositionDeletes && !f.isDeletionVector
    if (meta.snapshots.forall(_.manifest.forall(!plain(_)))) return meta
    meta.currentSnapshot.foreach { s =>
      val hit = s.manifest.find(plain)
      require(hit.isEmpty,
        s"exportIcebergMetadata: ${hit.get.path} (current snapshot) is a plain " +
          "position-delete file, which format-version 3 forbids (deletion " +
          "vectors replace them). Run Maintenance.convertPositionDeletesToDVs " +
          "first, then re-export. Historical snapshots carrying plain position " +
          "deletes are dropped from the export automatically.")
    }
    val kept = meta.snapshots.filter(_.manifest.forall(!plain(_)))
    val keptIds = kept.map(_.snapshotId).toSet
    meta.copy(
      snapshots = kept.map(s =>
        if (s.parentId.exists(keptIds.contains)) s else s.copy(parentId = None)),
      refs = meta.refs.filter { case (_, id) => keptIds.contains(id) },
      tags = meta.tags.filter { case (_, id) => keptIds.contains(id) })
  }

  /** True when a historical spec's field can be emitted into the v2
    * layout: its source column still resolves, its transform is a spec
    * transform, and (identity only) its avro partition value type is
    * representable. */
  private def exportableSpecField(meta: TableMetadata, p: PartitionField): Boolean =
    meta.fieldByName(p.column).exists { f =>
      if (p.bucketN.nonEmpty || p.isTime) true
      else if (p.isTruncate)
        Set("BIGINT", "LONG", "INT", "INTEGER", "STRING", "VARCHAR")
          .contains(f.dataType.trim.toUpperCase)
      else if (!p.isIdentity) false // sparkbucket etc: engine-internal
      else Set("BIGINT", "LONG", "INT", "INTEGER", "STRING", "VARCHAR",
        "DOUBLE", "FLOAT", "DATE", "BOOLEAN").contains(f.dataType.trim.toUpperCase)
    }

  /** Spec markers the export can emit faithfully: 0 (the current spec)
    * plus every [[TableMetadata.historicalSpecs]] entry whose definition
    * still resolves. */
  private def exportableSpecIds(meta: TableMetadata): Set[Int] =
    Set(0) ++ meta.historicalSpecs.collect {
      case (k, fields) if fields.forall(exportableSpecField(meta, _)) => k
    }

  /** Files whose spec marker has a KNOWN definition export faithfully
    * (their manifest rides the historical spec, see the multi-spec
    * grouping in [[exportIcebergMetadata]]). A marker with NO recorded
    * definition (pre-tracking metadata, or a dropped/renamed source
    * column) cannot: a current snapshot carrying such a file aborts
    * (remediation: compaction rewrites every file under the current
    * spec), historical snapshots carrying them are dropped — the same
    * reachability split as the unstamped-pos-delete and allowV3 filters. */
  private def filterUnknownSpecHistory(meta: TableMetadata): TableMetadata = {
    val ok = exportableSpecIds(meta)
    if (meta.snapshots.forall(_.manifest.forall(f => ok(f.specId)))) return meta
    meta.currentSnapshot.foreach { s =>
      val hit = s.manifest.find(f => !ok(f.specId))
      require(hit.isEmpty,
        s"exportIcebergMetadata: file ${hit.get.path} (current snapshot) was " +
          "written under a partition spec whose definition is not recorded " +
          "(or no longer resolves) and cannot be exported. Compact the table " +
          "first — rewrites land under the current spec — then re-export. " +
          "Historical snapshots with such files are dropped automatically.")
    }
    val kept = meta.snapshots.filter(_.manifest.forall(f => ok(f.specId)))
    val keptIds = kept.map(_.snapshotId).toSet
    meta.copy(
      snapshots = kept.map(s =>
        if (s.parentId.exists(keptIds.contains)) s else s.copy(parentId = None)),
      refs = meta.refs.filter { case (_, id) => keptIds.contains(id) },
      tags = meta.tags.filter { case (_, id) => keptIds.contains(id) })
  }

  /** Writes the Iceberg metadata for every snapshot of `name` under
    * `<table location>/iceberg-metadata/` (or `outDir`) and returns the
    * path of the table-metadata JSON. Data files are referenced in
    * place. Tables with v3 features (deletion vectors, row lineage,
    * format-version 3) export as format-version 3; everything else as
    * format-version 2.
    *
    * `allowV3 = true` is the downgrade-export mode
    * ([[graft.compaction.Maintenance.exportIcebergV2]] is the one-call
    * wrapper): a format-v3 table exports as v2 PROVIDED its current
    * snapshot carries no deletion vectors (convert first — the wrapper
    * does); historical snapshots that still carry DVs are filtered out
    * of the exported metadata (with their refs/tags and snapshot-log
    * rows), and a retained snapshot whose parent was filtered exports
    * with a null parent. Row lineage has no v2 equivalent and is not
    * exported; the lineage columns materialized in data files are
    * invisible to id-addressed readers. */
  def exportIcebergMetadata(catalog: Catalog, name: String,
      outDir: Option[String] = None, allowV3: Boolean = false,
      /** per-column NDV sketches ([[NdvStats.compute]]): written as a
        * Puffin statistics file of `apache-datasketches-theta-v1` blobs
        * (each carrying the authoritative `ndv` property) referenced from
        * the metadata `statistics` list — external engines' CBOs read
        * cardinalities from exactly there. */
      ndvSketches: Map[String, ThetaSketch] = Map.empty): String = {
    val fullMeta = catalog.loadTable(name)
    require(!Views.isView(fullMeta),
      s"exportIcebergMetadata: $name is a VIEW — use exportIcebergViewMetadata")
    // format-v3-featured tables export AS format-version 3 (DV manifest
    // entries, per-file first_row_id, next-row-id, schema defaults);
    // `allowV3` remains the explicit DOWNGRADE mode (v2 wire, DV history
    // filtered) for readers that cannot consume v3 yet
    val v3Featured = fullMeta.formatVersion >= 3 || fullMeta.nextRowId > 0 ||
      fullMeta.snapshots.exists(_.manifest.exists(_.isDeletionVector))
    val fv = if (!allowV3 && v3Featured) 3 else 2
    val exportable =
      if (!allowV3) {
        if (fv == 3) filterPlainPosDeletesForV3(fullMeta) else fullMeta
      } else {
        require(fullMeta.currentSnapshot.forall(_.manifest.forall(!_.isDeletionVector)),
          s"exportIcebergMetadata: $name's CURRENT snapshot still carries deletion " +
            "vectors; run Maintenance.convertDeletionVectorsToPositionDeletes first " +
            "(Maintenance.exportIcebergV2 does both)")
        val kept = fullMeta.snapshots.filter(_.manifest.forall(!_.isDeletionVector))
        val keptIds = kept.map(_.snapshotId).toSet
        fullMeta.copy(
          snapshots = kept.map(s =>
            if (s.parentId.exists(keptIds.contains)) s else s.copy(parentId = None)),
          refs = fullMeta.refs.filter { case (_, id) => keptIds.contains(id) },
          tags = fullMeta.tags.filter { case (_, id) => keptIds.contains(id) })
      }
    val meta = filterUnknownSpecHistory(filterUnstampedPosDeleteHistory(exportable))
    val dir = outDir.getOrElse(MetaIO.join(meta.location, "iceberg-metadata"))
    MetaIO.mkdirs(dir)
    // per-EXPORT tag, only ever used in FILE NAMES (exports of successive
    // versions must not overwrite each other's metadata files); the
    // `table-uuid` FIELD below is the table's stable identity instead —
    // the spec requires it immutable across the table's life (REST
    // clients validate it on refresh, assert-table-uuid compares to it)
    val uuid = java.util.UUID.randomUUID().toString

    // EVERY spec referenced by a surviving manifest entry exports: the
    // current spec as spec-id 0 plus each historical marker under its own
    // id, with partition field ids assigned GLOBALLY — the same
    // (column, transform) field shares one id across specs (Iceberg's
    // evolution semantics), distinct fields get distinct ids
    val referencedSpecIds = meta.snapshots.flatMap(_.manifest.map(_.specId)).distinct
    val allSpecs: Seq[(Int, Seq[PartitionField])] =
      ((0 -> meta.partitionSpec) +: referencedSpecIds.filter(_ != 0).sorted
        .map(k => k -> meta.historicalSpecs(k))).toSeq
    val partFieldIds = scala.collection.mutable.LinkedHashMap.empty[(String, String), Int]
    def idOf(p: PartitionField): Int =
      partFieldIds.getOrElseUpdate((p.column, p.transform), 1000 + partFieldIds.size)
    allSpecs.foreach { case (_, fs) => fs.foreach(idOf) }

    val manifestSchemaOf: Map[Int, Schema] = allSpecs.map { case (k, fs) =>
      k -> new Schema.Parser().parse(manifestSchemaJsonFor(meta, fs, idOf, fv))
    }.toMap
    val listSchema = new Schema.Parser().parse(manifestListSchemaJsonV(fv))
    val (schemaJV, maxFieldId) = schemaJsonWithMax(meta, fv)
    val schemaJ = JsonMethods.compact(JsonMethods.render(schemaJV))
    val specFieldsJOf: Map[Int, String] = allSpecs.map { case (k, fs) =>
      k -> JsonMethods.compact(JsonMethods.render(
        specJsonFor(meta, k, fs, idOf) \ "fields"))
    }.toMap

    // one manifest per (snapshot, content, spec) + one manifest list per
    // snapshot — a spec-evolved table's older files ride manifests of
    // THEIR spec, exactly like Iceberg writes them
    val snapshotsJ = meta.snapshots.map { snap =>
      val groups = snap.manifest.groupBy(f =>
        (if (f.content == FileContent.Data) 0 else 1, f.specId)).toSeq.sortBy(_._1)
      val listEntries = groups.map { case ((content, specId), files) =>
        val mPath = MetaIO.join(dir, s"$uuid-${snap.snapshotId}-m$content-s$specId.avro")
        val manifestSchema = manifestSchemaOf(specId)
        val specFields = allSpecs.find(_._1 == specId).get._2
        val dfSchema = manifestSchema.getField("data_file").schema()
        val partSchema = dfSchema.getField("partition").schema()
        val records = files.map { f =>
          val part = new GenericData.Record(partSchema)
          specFields.foreach { p =>
            part.put(partFieldName(p),
              partitionValue(meta, p, f.partitionValues.get(p.column)))
          }
          val df = new GenericData.Record(dfSchema)
          df.put("content", Integer.valueOf(f.content match {
            case FileContent.Data => 0
            case FileContent.PositionDeletes => 1
            case FileContent.EqualityDeletes => 2
          }))
          df.put("file_path", f.path)
          df.put("file_format", if (f.isDeletionVector) "PUFFIN" else "PARQUET")
          df.put("partition", part)
          df.put("record_count", java.lang.Long.valueOf(f.recordCount))
          df.put("file_size_in_bytes", java.lang.Long.valueOf(f.length))
          // per-file stats from graft's manifest zone maps + null counts,
          // keyed by table field id. Pos-delete files are skipped: their
          // footer columns are the RESERVED-id pair, and a table column
          // that happens to be named `pos` must not capture their stats.
          def kvArray(fieldName: String, entries: Seq[(Int, AnyRef)]): AnyRef =
            if (entries.isEmpty) null
            else {
              val arrSchema = dfSchema.getField(fieldName).schema().getTypes.get(1)
              val elemSchema = arrSchema.getElementType
              val arr = new GenericData.Array[GenericRecord](entries.size, arrSchema)
              entries.foreach { case (k, v) =>
                val rec = new GenericData.Record(elemSchema)
                rec.put("key", Integer.valueOf(k))
                rec.put("value", v)
                arr.add(rec)
              }
              arr
            }
          if (f.content == FileContent.PositionDeletes) {
            df.put("value_counts", null)
            df.put("null_value_counts", null)
            df.put("lower_bounds", null)
            df.put("upper_bounds", null)
          } else {
            // RETIRED names (renamed-away/dropped, possibly reused by a
            // later column with a new field id): their recorded stats may
            // describe another field — exporting them would hand external
            // readers wrong bounds. Omit (spec-optional).
            val retired = meta.statsRetiredNames
            val resolved = f.columnStats.toSeq.flatMap { case (n, (mn, mx)) =>
              if (retired.contains(n)) None
              else meta.fieldByName(n).map(fs => (fs.id, fs.dataType, mn, mx))
            }.sortBy(_._1)
            // a top-level column holds exactly one value per row (nulls
            // included per spec), so value_count == record_count for every
            // column the footer observed
            val observed = (f.columnStats.keySet ++ f.nullCounts.keySet).toSeq
              .filterNot(retired.contains)
              .flatMap(n => meta.fieldByName(n).map(_.id)).distinct.sorted
            df.put("value_counts", kvArray("value_counts",
              observed.map(id => id -> (java.lang.Long.valueOf(f.recordCount): AnyRef))))
            df.put("null_value_counts", kvArray("null_value_counts",
              f.nullCounts.toSeq.flatMap { case (n, c) =>
                if (retired.contains(n)) None
                else meta.fieldByName(n).map(fs => fs.id -> (java.lang.Long.valueOf(c): AnyRef))
              }.sortBy(_._1)))
            df.put("lower_bounds", kvArray("lower_bounds",
              resolved.flatMap { case (id, dt, mn, _) =>
                boundBytes(dt, mn).map(b => id -> (b: AnyRef)) }))
            df.put("upper_bounds", kvArray("upper_bounds",
              resolved.flatMap { case (id, dt, _, mx) =>
                boundBytes(dt, mx).map(b => id -> (b: AnyRef)) }))
          }
          df.put("equality_ids",
            if (f.equalityFieldIds.isEmpty) null
            else {
              val l = new java.util.ArrayList[Integer]()
              f.equalityFieldIds.foreach(i => l.add(Integer.valueOf(i)))
              l
            })
          df.put("sort_order_id", null)
          if (fv >= 3) {
            // row lineage is written EXPLICITLY per data file (inheritance
            // never fires on graft exports); DVs carry their Puffin blob
            // coordinates (referenced data file + byte range)
            df.put("first_row_id", f.firstRowId.map(java.lang.Long.valueOf).orNull)
            df.put("referenced_data_file", f.referencedDataFile.orNull)
            df.put("content_offset", f.contentOffset.map(java.lang.Long.valueOf).orNull)
            df.put("content_size_in_bytes",
              f.contentSizeInBytes.map(java.lang.Long.valueOf).orNull)
          }
          val e = new GenericData.Record(manifestSchema)
          // ADDED in the exporting snapshot iff the file's sequence is the
          // snapshot's; everything else EXISTING with explicit sequences
          e.put("status", Integer.valueOf(
            if (f.sequenceNumber == snap.sequenceNumber) 1 else 0))
          e.put("snapshot_id", java.lang.Long.valueOf(snap.snapshotId))
          e.put("sequence_number", java.lang.Long.valueOf(f.sequenceNumber))
          e.put("file_sequence_number", java.lang.Long.valueOf(f.sequenceNumber))
          e.put("data_file", df)
          e
        }
        val mLen = avroWrite(mPath, manifestSchema, Map(
          "schema" -> schemaJ,
          "partition-spec" -> specFieldsJOf(specId),
          "partition-spec-id" -> specId.toString,
          "format-version" -> fv.toString,
          "content" -> (if (content == 0) "data" else "deletes")), records)
        val added = files.filter(_.sequenceNumber == snap.sequenceNumber)
        val existing = files.filterNot(_.sequenceNumber == snap.sequenceNumber)
        val le = new GenericData.Record(listSchema)
        le.put("manifest_path", mPath)
        le.put("manifest_length", java.lang.Long.valueOf(mLen))
        le.put("partition_spec_id", Integer.valueOf(specId))
        le.put("content", Integer.valueOf(content))
        le.put("sequence_number", java.lang.Long.valueOf(snap.sequenceNumber))
        le.put("min_sequence_number", java.lang.Long.valueOf(
          files.map(_.sequenceNumber).foldLeft(snap.sequenceNumber)(math.min)))
        le.put("added_snapshot_id", java.lang.Long.valueOf(snap.snapshotId))
        le.put("added_files_count", Integer.valueOf(added.size))
        le.put("existing_files_count", Integer.valueOf(existing.size))
        le.put("deleted_files_count", Integer.valueOf(0))
        le.put("added_rows_count", java.lang.Long.valueOf(added.map(_.recordCount).sum))
        le.put("existing_rows_count", java.lang.Long.valueOf(existing.map(_.recordCount).sum))
        le.put("deleted_rows_count", java.lang.Long.valueOf(0L))
        le.put("partitions", null)
        le.put("key_metadata", null)
        if (fv >= 3)
          // starting row id of this manifest's added DATA files; null for
          // delete manifests and for pre-lineage files (spec: optional —
          // per-file explicit values make inheritance a no-op anyway)
          le.put("first_row_id",
            (if (content == 0) added.flatMap(_.firstRowId).minOption else None)
              .map(java.lang.Long.valueOf).orNull)
        le
      }
      val listPath = MetaIO.join(dir, s"snap-${snap.snapshotId}-1-$uuid.avro")
      avroWrite(listPath, listSchema, Map(
        "format-version" -> fv.toString,
        "snapshot-id" -> snap.snapshotId.toString,
        "sequence-number" -> snap.sequenceNumber.toString,
        "parent-snapshot-id" -> snap.parentId.map(_.toString).getOrElse("null")),
        listEntries)
      val snapJ = ("snapshot-id" -> snap.snapshotId) ~
        ("parent-snapshot-id" -> snap.parentId) ~
        ("sequence-number" -> snap.sequenceNumber) ~
        ("timestamp-ms" -> snap.timestampMs) ~
        ("manifest-list" -> listPath) ~
        // the FULL summary map (spec: map<string,string> with operation
        // required): custom snapshot properties a writer attached — and
        // commit-identity markers REST clients rely on for
        // commit-state-unknown recovery — must survive re-export. Sorted
        // for byte-stable bodies per version.
        ("summary" -> (JObject(
          ("operation" -> (JString(snap.summary.getOrElse("operation", "append")): JValue)) ::
            snap.summary.toList.filterNot(_._1 == "operation").sortBy(_._1)
              .map { case (k, v) => k -> (JString(v): JValue) }): JValue)) ~
        ("schema-id" -> 0)
      // v3 row lineage: the first row id assigned by this snapshot (files
      // added here carry explicit values; this is their minimum)
      val firstRowId = if (fv >= 3)
        snap.manifest.filter(f => f.content == FileContent.Data &&
          f.sequenceNumber == snap.sequenceNumber).flatMap(_.firstRowId).minOption
      else None
      firstRowId.fold(snapJ)(r => snapJ ~ ("first-row-id" -> r))
    }

    val lastPartId = if (partFieldIds.isEmpty) 999
      else 1000 + partFieldIds.size - 1
    val refsJ: JValue = JObject(
      (meta.refs.map { case (b, id) =>
        b -> (("snapshot-id" -> id) ~ ("type" -> "branch"))
      } ++ meta.tags.map { case (t, id) =>
        t -> (("snapshot-id" -> id) ~ ("type" -> "tag"))
      }).toList)

    // NDV statistics (Puffin theta blobs, one per resolvable column),
    // bound to the CURRENT snapshot — the spec's `statistics` list entry.
    // When the caller passes none, persisted ANALYZE sketches covering
    // the current snapshot bind automatically (so REST-served metadata
    // carries cardinalities for external CBOs without an explicit pass).
    val effectiveSketches =
      if (ndvSketches.nonEmpty) ndvSketches else NdvStats.persistedForCurrent(meta)
    val statisticsJ: List[JValue] = (meta.currentSnapshot, effectiveSketches) match {
      case (Some(cur), sk) if sk.nonEmpty =>
        val resolved = sk.toSeq
          .flatMap { case (c, s) => meta.fieldByName(c).map(f => (f.id, c, s)) }
          .sortBy(_._1)
        if (resolved.isEmpty) Nil
        else {
          val statsPath = MetaIO.join(dir, s"$uuid-${cur.snapshotId}.stats")
          val blobs = resolved.map { case (fid, _, s) =>
            Puffin.Blob("apache-datasketches-theta-v1", s.serialize,
              cur.snapshotId, cur.sequenceNumber, Seq(fid),
              Map("ndv" -> s.estimate.toString))
          }
          val (metas, fileSize, footerSize) = Puffin.writeWithSizes(statsPath, blobs)
          List(
            ("snapshot-id" -> cur.snapshotId) ~
              ("statistics-path" -> statsPath) ~
              ("file-size-in-bytes" -> fileSize) ~
              ("file-footer-size-in-bytes" -> footerSize) ~
              ("blob-metadata" -> metas.map(m =>
                ("type" -> m.blobType) ~
                  ("snapshot-id" -> m.snapshotId) ~
                  ("sequence-number" -> m.sequenceNumber) ~
                  ("fields" -> m.fields) ~
                  ("properties" -> m.properties))))
        }
      case _ => Nil
    }
    val metadataJ: JObject =
      ("format-version" -> fv) ~
        ("table-uuid" -> meta.stableUuid) ~
        ("location" -> meta.location) ~
        ("last-sequence-number" -> meta.lastSequenceNumber) ~
        ("last-updated-ms" -> System.currentTimeMillis()) ~
        ("last-column-id" -> maxFieldId) ~
        ("current-schema-id" -> 0) ~
        ("schemas" -> JArray(List(schemaJV))) ~
        ("default-spec-id" -> 0) ~
        ("partition-specs" -> JArray(allSpecs.map { case (k, fs) =>
          specJsonFor(meta, k, fs, idOf) }.toList)) ~
        ("last-partition-id" -> lastPartId) ~
        ("default-sort-order-id" -> (if (meta.sortOrder.isEmpty) 0 else 1)) ~
        ("sort-orders" -> JArray(List(sortOrderJson(meta)))) ~
        ("properties" -> meta.properties) ~
        ("current-snapshot-id" -> meta.currentSnapshotId.getOrElse(-1L)) ~
        ("refs" -> refsJ) ~
        ("snapshots" -> snapshotsJ) ~
        ("snapshot-log" -> meta.snapshots.map(s =>
          ("timestamp-ms" -> s.timestampMs) ~ ("snapshot-id" -> s.snapshotId))) ~
        ("metadata-log" -> JArray(Nil)) ~
        ("statistics" -> JArray(statisticsJ))
    val metadataJV =
      if (fv >= 3) metadataJ ~ ("next-row-id" -> meta.nextRowId) else metadataJ
    val jsonPath = MetaIO.join(dir, s"00000-$uuid.metadata.json")
    MetaIO.writeString(jsonPath, JsonMethods.pretty(JsonMethods.render(metadataJV)))
    jsonPath
  }

  /** Exports a graft VIEW ([[Views]]) as public **Iceberg view spec**
    * format-version 1 view-metadata JSON: every stored version with its
    * SQL representation and dialect, `current-version-id`, the
    * `version-log`, and a stable `view-uuid`. One documented
    * simplification: all versions reference the CURRENT schema (id 0) —
    * graft pins a view's schema only for the live version, and the spec
    * resolves reads through the current version alone.
    * `graft.view.*` bookkeeping keys stay out of the exported properties
    * (they are redundantly encoded as the versions list itself). */
  def exportIcebergViewMetadata(catalog: Catalog, name: String,
      outDir: Option[String] = None,
      /** the namespace the view's table references resolve in on the
        * serving catalog — the spec's per-version `default-namespace`. */
      defaultNamespace: String = "graft"): String = {
    val meta = catalog.loadTable(name)
    require(Views.isView(meta),
      s"exportIcebergViewMetadata: $name is a table — use exportIcebergMetadata")
    val dir = outDir.getOrElse(MetaIO.join(meta.location, "iceberg-metadata"))
    MetaIO.mkdirs(dir)
    val (schemaJV, _) = schemaJsonWithMax(meta, 2)
    val vs = Views.versions(meta)
    // dialect is PER VERSION (a replaced imported view has a spark head
    // over a foreign-dialect history); the table-level key is the
    // current version's fallback for pre-per-version entries
    def dialectOf(id: Int): String =
      meta.properties.getOrElse(Views.versionDialectKey(id),
        meta.properties.getOrElse(Views.DialectKey, "spark"))
    val j: JValue =
      ("view-uuid" -> meta.stableUuid) ~
        ("format-version" -> 1) ~
        ("location" -> meta.location) ~
        ("current-schema-id" -> 0) ~
        ("schemas" -> JArray(List(schemaJV))) ~
        ("current-version-id" -> meta.properties(Views.CurrentVersionKey).toInt) ~
        ("versions" -> vs.map { case (id, sql, ts) =>
          (("version-id" -> id) ~ ("timestamp-ms" -> ts) ~
            ("schema-id" -> 0) ~
            ("summary" -> (("engine-name" -> "graft"): JValue)) ~
            ("representations" -> List(
              ("type" -> "sql") ~ ("sql" -> sql) ~ ("dialect" -> dialectOf(id)))) ~
            ("default-namespace" -> List(defaultNamespace))): JValue
        }.toList) ~
        ("version-log" -> vs.map { case (id, _, ts) =>
          (("timestamp-ms" -> ts) ~ ("version-id" -> id)): JValue }.toList) ~
        ("properties" -> meta.properties.filterNot(_._1.startsWith("graft.view.")))
    val tag = java.util.UUID.randomUUID().toString
    val jsonPath = MetaIO.join(dir, f"${meta.version}%05d-$tag.view-metadata.json")
    MetaIO.writeString(jsonPath, JsonMethods.pretty(JsonMethods.render(j)))
    jsonPath
  }

  /** Reads back an exported manifest list or manifest (generic Avro) —
    * the verification half of the round-trip spec. Returns the records
    * plus the avro file-metadata map. */
  private[meta] def readAvro(path: String): (Seq[GenericRecord], Map[String, String]) = {
    val in = new org.apache.avro.file.SeekableByteArrayInput(MetaIO.readBytes(path))
    val r = new DataFileReader[GenericRecord](in, new GenericDatumReader[GenericRecord]())
    try {
      val recs = scala.collection.mutable.ArrayBuffer.empty[GenericRecord]
      while (r.hasNext) recs += r.next()
      import scala.jdk.CollectionConverters._
      val metaKeys = r.getMetaKeys.asScala.filterNot(_.startsWith("avro.")).toSeq
      (recs.toSeq, metaKeys.map(k => k -> r.getMetaString(k)).toMap)
    } finally r.close()
  }
}
