package graft.meta

/** Metadata-only schema evolution: rename / add / drop a column without
  * touching any data file. Safe because the table schema is field-id
  * addressed ([[SchemaField]]): data and equality-delete parquet files carry
  * field ids in their footers, and the MOR read matches its requested schema
  * against files by id, so a file written under the old name still resolves
  * to the renamed column, and a file written before an added column reads
  * NULL for it. Mirrors the reference's id-addressed schema handling
  * (datafusion_processor.rs:693,741 `field_by_id`, 835-841
  * `highest_field_id`).
  *
  * Each operation is one optimistic CAS commit of the next metadata version
  * (no new snapshot — the data is untouched).
  */
object SchemaEvolution {

  /** Renames `from` to `to`. The field keeps its id, so existing files
    * (data and equality deletes) keep resolving. Sort-order entries follow
    * the rename; renaming a partition-source column is rejected — manifest
    * partition values are keyed by name, and silently detaching them from
    * the spec would corrupt partition pruning (real Iceberg solves this
    * with id-addressed partition specs; out of scope here). */
  def renameColumn(catalog: Catalog, tableName: String, from: String, to: String): TableMetadata =
    catalog.transact(tableName) { meta =>
      val field = meta.fieldByName(from).getOrElse(
        throw new IllegalArgumentException(s"no such column: $from"))
      require(meta.fieldByName(to).isEmpty, s"column $to already exists")
      require(!meta.partitionSpec.exists(_.column == from),
        s"cannot rename partition column $from")
      // add_files-imported files are name-addressed (no footer field ids):
      // a rename would make every live or time-travel read of them resolve
      // the column to nothing. Compaction rewrites them with ids stamped
      // (and snapshot expiry ages the old entries out) — rename after that.
      require(!meta.snapshots.exists(_.manifest.exists(f =>
          f.nameMatched && f.content == FileContent.Data)),
        s"cannot rename $from: table holds name-addressed imported files " +
          "(add_files); compact + expire snapshots first to graduate them " +
          "to field-id addressing")
      meta.copy(
        schema = meta.schema.map(f => if (f.id == field.id) f.copy(name = to) else f),
        sortOrder = meta.sortOrder.map(s => if (s.column == from) s.copy(column = to) else s),
        // historical files keep columnStats/nullCounts keyed by the OLD
        // name; if a later addColumn reuses it, those stats would describe
        // another field — retire the name from every stats consumer
        properties = meta.withStatsRetired(Seq(from)))
    }

  /** Adds a nullable column with a fresh field id (never reused — a dropped
    * and re-added name cannot resurrect old data). Existing files read NULL
    * for it. `ddlType` is a Spark DDL type string ("BIGINT", "STRING", ...). */
  /** Adds a nullable column; `default` (a SQL literal, e.g. "'unknown'"
    * or "42") is Iceberg v3's initial-default: rows in files written
    * BEFORE the column existed read as the default — per-file exactness,
    * files that already have the column keep their explicit nulls. */
  def addColumn(catalog: Catalog, tableName: String, name: String, ddlType: String,
      default: Option[String] = None): TableMetadata =
    catalog.transact(tableName) { meta =>
      require(meta.fieldByName(name).isEmpty, s"column $name already exists")
      // validate the type and default eagerly — a bad DDL/literal string,
      // or a default that does not CAST to the column type, must fail the
      // commit, not the first read
      val target = org.apache.spark.sql.types.DataType.fromDDL(ddlType)
      default.foreach { d =>
        val e = org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(d)
        require(e.foldable, s"initial-default must be a literal, got: $d")
        try org.apache.spark.sql.catalyst.expressions.Cast(e, target,
          ansiEnabled = true).eval(): Unit
        catch { case ex: Exception => throw new IllegalArgumentException(
          s"initial-default $d does not cast to $ddlType: ${ex.getMessage}") }
      }
      val id = math.max(meta.lastColumnId, meta.schema.map(_.id).foldLeft(0)(math.max)) + 1
      meta.copy(
        schema = meta.schema :+ SchemaField(id, name, ddlType, nullable = true, default),
        lastColumnId = id)
    }

  /** Safe widening promotions (Iceberg's type-promotion table restricted
    * to what Spark's vectorized parquet reader converts in place —
    * verified: int32 files read as BIGINT, float as DOUBLE, with or
    * without field-id matching). */
  private[meta] val Widenings: Map[String, Set[String]] = Map(
    "TINYINT" -> Set("SMALLINT", "INT", "BIGINT"),
    "SMALLINT" -> Set("INT", "BIGINT"),
    "INT" -> Set("BIGINT"),
    "FLOAT" -> Set("DOUBLE"))

  /** Widens a column's type (metadata-only; files keep their narrower
    * physical type and the parquet reader up-converts). Only lossless
    * promotions from [[Widenings]] are allowed — narrowing or changing
    * type families would corrupt existing data. */
  def widenColumnType(catalog: Catalog, tableName: String, name: String,
      newDdlType: String): TableMetadata =
    catalog.transact(tableName) { meta =>
      val field = meta.fieldByName(name).getOrElse(
        throw new IllegalArgumentException(s"no such column: $name"))
      val from = field.dataType.toUpperCase
      val to = newDdlType.toUpperCase
      require(Widenings.get(from).exists(_.contains(to)),
        s"cannot widen $name from $from to $to (allowed: ${Widenings.getOrElse(from, Set.empty).mkString(",")})")
      meta.copy(schema = meta.schema.map(f =>
        if (f.id == field.id) f.copy(dataType = to) else f))
    }

  /** Drops a column from the schema; file data is untouched and simply no
    * longer projected. Partition / sort-order / equality-delete key columns
    * are load-bearing and cannot be dropped. */
  def dropColumn(catalog: Catalog, tableName: String, name: String): TableMetadata =
    catalog.transact(tableName) { meta =>
      val field = meta.fieldByName(name).getOrElse(
        throw new IllegalArgumentException(s"no such column: $name"))
      require(meta.schema.size > 1, "cannot drop the last column")
      require(!meta.partitionSpec.exists(_.column == name),
        s"cannot drop partition column $name")
      require(!meta.sortOrder.exists(_.column == name),
        s"cannot drop sort-order column $name")
      val liveEqIds = meta.snapshots.lastOption.toSeq.flatMap(_.manifest)
        .filter(_.content == FileContent.EqualityDeletes)
        .flatMap(f => f.equalityFieldIds ++ f.equalityIds.flatMap(n => meta.fieldByName(n).map(_.id)))
      require(!liveEqIds.contains(field.id),
        s"cannot drop equality-delete key column $name")
      meta.copy(
        schema = meta.schema.filterNot(_.id == field.id),
        lastColumnId = math.max(meta.lastColumnId, field.id),
        // same hazard as rename: a re-added column with this name must not
        // inherit the dropped field's manifest statistics
        properties = meta.withStatsRetired(Seq(name)))
    }

  /** Applies a FOREIGN engine's whole-schema replacement (the REST
    * commit endpoint's `add-schema` + `set-current-schema-id`) under the
    * SAME evolution rules as the SQL surface — one rulebook, two doors.
    * Field ids are authoritative: same id + new name = rename (follows
    * into sort orders, old name stats-retired), same id + wider type =
    * widening (lossless promotions only), id absent = drop (partition /
    * sort / live-eq-key columns refuse), new ids must exceed every id
    * ever assigned (never reused). Pure function of the metadata —
    * callers own the CAS. Throws IllegalArgumentException with the
    * refusal reason. */
  def applyForeignSchema(meta: TableMetadata, proposed: Seq[SchemaField],
      lastColumnIdHint: Option[Int]): TableMetadata = {
    require(proposed.nonEmpty, "add-schema: empty schema")
    require(meta.isTyped,
      "add-schema: the table has no typed (field-id) schema to evolve")
    require(proposed.forall(_.isTyped), "add-schema: untyped field in schema")
    require(proposed.map(_.id).distinct.size == proposed.size,
      "add-schema: duplicate field ids")
    require(proposed.map(_.name.toLowerCase(java.util.Locale.ROOT)).distinct.size
      == proposed.size, "add-schema: duplicate field names")
    val cur = meta.schema
    val curById = cur.map(f => f.id -> f).toMap
    val maxExisting = math.max(meta.lastColumnId, cur.map(_.id).foldLeft(0)(math.max))
    val renamedAway = Seq.newBuilder[String]
    proposed.foreach { f =>
      // validate the DDL parses to a real Spark type eagerly
      try f.sparkType
      catch { case e: Exception => throw new IllegalArgumentException(
        s"add-schema: field ${f.name} type ${f.dataType} invalid: ${e.getMessage}") }
      curById.get(f.id) match {
        case Some(old) =>
          val from = old.dataType.toUpperCase
          val to = f.dataType.toUpperCase
          require(from == to || Widenings.get(from).exists(_.contains(to)),
            s"add-schema: field ${old.name} (id ${f.id}) cannot change " +
              s"$from to $to (lossless widenings only)")
          if (old.name != f.name) {
            require(!meta.partitionSpec.exists(_.column == old.name),
              s"add-schema: cannot rename partition column ${old.name}")
            require(!meta.snapshots.exists(_.manifest.exists(x =>
                x.nameMatched && x.content == FileContent.Data)),
              s"add-schema: cannot rename ${old.name}: table holds " +
                "name-addressed imported files (add_files); compact first")
            renamedAway += old.name
          }
        case None =>
          require(f.id > maxExisting,
            s"add-schema: new field ${f.name} uses id ${f.id} <= " +
              s"last-column-id $maxExisting — field ids are never reused")
      }
    }
    val proposedIds = proposed.map(_.id).toSet
    val dropped = cur.filterNot(f => proposedIds.contains(f.id))
    dropped.foreach { f =>
      require(!meta.partitionSpec.exists(_.column == f.name),
        s"add-schema: cannot drop partition column ${f.name}")
      require(!meta.sortOrder.exists(_.column == f.name),
        s"add-schema: cannot drop sort-order column ${f.name}")
      val liveEqIds = meta.currentSnapshot.toSeq.flatMap(_.manifest)
        .filter(_.content == FileContent.EqualityDeletes)
        .flatMap(x => x.equalityFieldIds ++
          x.equalityIds.flatMap(n => meta.fieldByName(n).map(_.id)))
      require(!liveEqIds.contains(f.id),
        s"add-schema: cannot drop equality-delete key column ${f.name}")
    }
    val renameMap = proposed.flatMap(f =>
      curById.get(f.id).filter(_.name != f.name).map(o => o.name -> f.name)).toMap
    val newLast = (lastColumnIdHint.getOrElse(0) +: maxExisting +:
      proposed.map(_.id)).max
    meta.copy(
      schema = proposed,
      lastColumnId = newLast,
      sortOrder = meta.sortOrder.map(s =>
        s.copy(column = renameMap.getOrElse(s.column, s.column))),
      properties = {
        val retire = renamedAway.result() ++ dropped.map(_.name)
        if (retire.isEmpty) meta.properties else meta.withStatsRetired(retire)
      })
  }

  /** Replaces the partition spec (metadata-only). Existing files keep
    * their old per-file partition values in the manifest — the format
    * stores partitioning PER FILE, so a snapshot can mix layouts; new
    * writes use the new spec, and a subsequent compaction rewrites old
    * files into it (the migration path). Reads stay exact because
    * [[IceRead.tablePartition]] prunes manifests conservatively and
    * applies a residual row filter.
    *
    * TRANSFORM CHANGES (e.g. `bucket[4] -> bucket[8]` when buckets
    * outgrow — the canonical 100 TB evolution) are supported: recorded
    * manifest values for the changed column live in the OLD transform's
    * domain (old bucket ordinals), so the commit appends one
    * metadata-only snapshot that re-marks every live file recording a
    * changed column with a fresh non-zero [[FileEntry.specId]]. The pair
    * (specId, partitionValues) is the partition identity engine-wide:
    * marked files are exempt from value-keyed pruning (kept
    * conservatively, rows corrected by the residual filter), excluded
    * from value-keyed partition ops (which refuse until compaction), and
    * never cross-matched by scoped deletes. Files recording only
    * UNCHANGED columns keep their marks and their prunability. The next
    * compaction rewrites marked files under the new spec (fresh
    * directory fan-out, specId 0), restoring full pruning — the same
    * self-healing migration real Iceberg gets from spec-id-addressed
    * manifests. The same marking covers a column RE-ADDED to the spec
    * whose value some live file already records (the drop-then-re-add
    * path, where the old domain is unknowable).
    *
    * Refused while non-main branch refs exist: their head manifests
    * would need the same re-marking, and moving a staged branch's
    * snapshot is not this call's business — publish or drop branches
    * first. */
  def updatePartitionSpec(catalog: Catalog, tableName: String,
      newSpec: Seq[PartitionField]): TableMetadata =
    catalog.transact(tableName)(applyPartitionSpec(_, newSpec))

  /** The pure rulebook behind [[updatePartitionSpec]] — ONE set of
    * evolution rules shared by the native/SQL door (which wraps it in a
    * CAS commit here) and the REST commit endpoint's `add-spec` +
    * `set-default-spec-id` door (which applies it inside its own commit
    * build, the [[applyForeignSchema]] pattern). Throws
    * IllegalArgumentException with the refusal reason. */
  def applyPartitionSpec(meta: TableMetadata,
      newSpec: Seq[PartitionField]): TableMetadata = {
      for (p <- newSpec) {
        require(meta.fieldByName(p.column).nonEmpty,
          s"partition column ${p.column} not in schema")
        require(p.isIdentity || p.isBucket || p.isTime || p.isTruncate,
          s"unsupported transform ${p.transform}")
      }
      val head = meta.currentSnapshot
      val liveRecords: Set[String] =
        head.map(_.manifest.flatMap(_.partitionValues.keys).toSet).getOrElse(Set.empty)
      // columns whose recorded values change domain under the new spec:
      // direct transform changes, plus re-added columns some live file
      // already recorded under a spec we no longer know
      val changedCols = newSpec.flatMap { p =>
        meta.partitionSpec.find(_.column == p.column) match {
          case Some(old) if old.transform != p.transform => Some(p.column)
          case None if liveRecords.contains(p.column) => Some(p.column)
          case _ => None
        }
      }.toSet
      val needsMark = head.exists(_.manifest.exists(f =>
        f.specId == 0 && f.partitionValues.keys.exists(changedCols)))
      if (!needsMark) meta.copy(partitionSpec = newSpec)
      else {
        require(meta.refs.keySet == Set("main"),
          s"cannot change a partition transform while branches exist " +
            s"(${meta.refs.keySet - "main"}); publish or drop them first")
        val snap = head.get
        val fresh = snap.manifest.map(_.specId).max + 1
        val marked = snap.manifest.map(f =>
          if (f.specId == 0 && f.partitionValues.keys.exists(changedCols))
            f.copy(specId = fresh)
          else f)
        meta.withSnapshot(Some(snap), marked, "replace",
          summary = Map("spec-evolution" -> changedCols.toSeq.sorted.mkString(","))).copy(
          partitionSpec = newSpec,
          // record the superseded spec under the marker: reads never need
          // it (conservative handling), but IcebergExport uses it to emit
          // spec-faithful multi-spec metadata instead of dropping history
          historicalSpecs = meta.historicalSpecs + (fresh -> meta.partitionSpec))
      }
    }

  /** Replaces the table sort order (metadata-only — Iceberg's
    * `replaceSortOrder`). Existing files keep their layout; new writes and
    * the next compaction adopt the new order (set a `zorder(a, b)` field
    * to recluster for multi-column zone-map pruning). */
  def updateSortOrder(catalog: Catalog, tableName: String,
      newOrder: Seq[SortField]): TableMetadata =
    catalog.transact(tableName)(applySortOrder(_, newOrder))

  /** The pure rulebook behind [[updateSortOrder]], shared with the REST
    * commit endpoint's `add-sort-order` + `set-default-sort-order-id`
    * door (see [[applyPartitionSpec]]). */
  def applySortOrder(meta: TableMetadata,
      newOrder: Seq[SortField]): TableMetadata = {
    for (s <- newOrder) {
      val cols = graft.exec.SparkExecutor.multiColsOf(s.column).getOrElse(Seq(s.column))
      for (c <- cols)
        require(meta.fieldByName(c).nonEmpty, s"sort column $c not in schema")
    }
    meta.copy(sortOrder = newOrder)
  }

  /** Upserts/removes TABLE-level properties (metadata-only CAS commit —
    * Iceberg's `updateProperties`). Existing keys not named are kept.
    *
    * This is the INTERNAL library API — engine components (Bloom index
    * registration, ANN/MV provenance, NDV sidecars) write their own
    * reserved keys through it. The user-facing property DOORS (SQL
    * `ALTER TABLE SET/UNSET TBLPROPERTIES` and the REST commit
    * endpoint's `set-properties`/`remove-properties`) must call
    * [[requireUnreservedProps]] first. */
  def updateProperties(catalog: Catalog, tableName: String,
      upserts: Map[String, String], removes: Set[String] = Set.empty): TableMetadata =
    catalog.transact(tableName) { meta =>
      meta.copy(properties = meta.properties -- removes ++ upserts)
    }

  /** Refuses reserved `graft.`-prefixed table-property keys at the
    * user-facing property doors. The prefix carries LOAD-BEARING engine
    * state: `graft.stats.retired-names` is what stops zone-map pruning
    * from trusting per-file stats recorded under a column name a rename
    * retired (removing it makes reads of a renamed-column table return
    * silently wrong rows), `graft.table-uuid` is the spec-immutable
    * identity that `assert-table-uuid`, refresh validation, and the
    * served-body cache key on, and `graft.bloom.<col>.*` registers Bloom
    * sidecars. The namespace and view doors already refuse the prefix
    * (IcebergRestServe); this is the same guard for tables, shared by
    * both table doors so they can never diverge.
    *
    * `ndv.sketch.*` (the ANALYZE provenance triple) is reserved too:
    * the REST `set-statistics` door validates a registration (file
    * exists, parses as Puffin, theta field ids resolve, snapshot is
    * current — [[NdvStats.registerForeign]]); letting the raw property
    * surface write the same keys would feed export and incremental
    * ANALYZE unvalidated attacker-chosen sidecars. */
  def requireUnreservedProps(keys: Iterable[String]): Unit =
    keys.find(k => k.startsWith("graft.") || k.startsWith("ndv.sketch."))
      .foreach(k =>
        throw new IllegalArgumentException(s"table property $k is reserved " +
          "engine state and cannot be set or removed through the property " +
          "surface"))
}
