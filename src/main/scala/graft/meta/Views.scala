package graft.meta

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Catalog-persisted SQL VIEWS, modeled the way the public **Iceberg
  * view spec** (format-version 1) models them: a view is a named,
  * VERSIONED pointer to a SQL text plus the schema that SQL produced
  * when it was defined. Each `CREATE OR REPLACE` appends a new version
  * (the spec's `versions` list + `version-log`); the current version is
  * what queries resolve.
  *
  * Storage reuses the catalog's [[TableMetadata]] CAS machinery — a view
  * is an entry with zero snapshots and reserved `graft.view.*`
  * properties, so it gets versioned metadata, mirroring, and REST
  * serving for free and needs no second persistence format. Reads
  * substitute the ANALYZED plan of the stored SQL for the relation
  * ([[GraftSql]]'s analyzer rule), so filter pushdown, manifest pruning
  * and metadata-only aggregates flow through a view exactly as through
  * its definition — a view costs nothing at 100 TB that its SELECT
  * doesn't.
  *
  * The definition SQL is analyzed at CREATE time (names must resolve,
  * the schema is pinned and recorded) and re-analyzed at each read
  * (late-binding, like Spark/Hive/Iceberg views: dropping a base table
  * breaks dependent views at read, not at drop). Self- or mutually-
  * recursive views are refused at read with a clear cycle message. */
object Views {

  /** Reserved view properties ([[TableMetadata.properties]]). */
  val SqlKey = "graft.view.sql"
  val DialectKey = "graft.view.dialect"
  val CurrentVersionKey = "graft.view.current-version-id"
  def versionSqlKey(id: Int): String = s"graft.view.version.$id.sql"
  def versionTsKey(id: Int): String = s"graft.view.version.$id.timestamp-ms"
  def versionDialectKey(id: Int): String = s"graft.view.version.$id.dialect"

  /** Whether a catalog entry is a view (vs a data table). */
  def isView(m: TableMetadata): Boolean = m.properties.contains(SqlKey)

  /** The stored versions in id order: (version-id, sql, timestamp-ms).
    * Ids are scanned by key prefix, not assumed contiguous — an IMPORTED
    * foreign view keeps its source's version ids verbatim. */
  def versions(m: TableMetadata): Seq[(Int, String, Long)] = {
    val VKey = """graft\.view\.version\.(\d+)\.sql""".r
    m.properties.keysIterator.collect { case VKey(id) => id.toInt }.toSeq.sorted
      .map(i => (i, m.properties(versionSqlKey(i)),
        m.properties.get(versionTsKey(i)).map(_.toLong).getOrElse(0L)))
  }

  /** Creates (or, with `orReplace`, re-versions) a view. The SQL is
    * parsed and ANALYZED now against the live session — unresolvable
    * names refuse here, and the result schema is pinned into the entry
    * (what SHOW/DESCRIBE/export surface). */
  def create(spark: SparkSession, catalog: Catalog, name: String, sql: String,
      orReplace: Boolean = false,
      properties: Map[String, String] = Map.empty): TableMetadata = {
    refuseTempReferences(spark, sql)
    val schema = analyze(spark, sql).schema
    val fields = SchemaField.fromStruct(schema)
    val now = System.currentTimeMillis()
    if (catalog.tableExists(name)) {
      catalog.transact(name) { old =>
        require(isView(old), s"$name exists and is a TABLE — CREATE OR REPLACE " +
          "VIEW cannot overwrite a table")
        require(orReplace, s"view $name already exists (use CREATE OR REPLACE VIEW)")
        // past the HIGHEST stored id, not current+1 — imported views keep
        // their source's (possibly sparse) version ids
        val nextV = versions(old).map(_._1).max + 1
        old.copy(
          schema = fields,
          // DialectKey resets too: the replacement SQL just analyzed as
          // SPARK, whatever dialect an imported predecessor carried
          properties = old.properties ++ properties ++ Map(
            SqlKey -> sql, DialectKey -> "spark", CurrentVersionKey -> nextV.toString,
            versionSqlKey(nextV) -> sql, versionTsKey(nextV) -> now.toString,
            versionDialectKey(nextV) -> "spark"))
      }
    } else {
      catalog.createTable(TableMetadata(name, location = "",
        schema = fields,
        properties = properties ++ Map(
          SqlKey -> sql, DialectKey -> "spark", CurrentVersionKey -> "1",
          versionSqlKey(1) -> sql, versionTsKey(1) -> now.toString,
          versionDialectKey(1) -> "spark")))
    }
  }

  /** Persistent views must reference catalog objects only: a definition
    * that names a session TEMPORARY view would break (or silently rebind
    * to something else) in every other session and on every foreign
    * engine the exported view-spec metadata reaches — the same refusal
    * Spark gives `CREATE VIEW ... FROM <temp>`. CTE aliases shadow temp
    * views of the same name and are excluded. */
  private def refuseTempReferences(spark: SparkSession, sql: String): Unit = {
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    // scope-AWARE walk: a CTE name shadows a temp view only inside the
    // WITH subtree that defines it (each definition additionally sees the
    // preceding names, plus its own for WITH RECURSIVE) — a same-named
    // reference in an unrelated subquery is NOT excused, or a
    // session-dependent definition could slip into the catalog
    def walk(p: LogicalPlan, scope: Set[String]): Unit = p match {
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        var inner = scope
        w.cteRelations.foreach { r => inner += lc(r._1); walk(r._2, inner) }
        walk(w.child, inner)
      case node =>
        node match {
          case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
            val parts = u.multipartIdentifier
            val shadowedByCte =
              parts.lengthCompare(1) == 0 && scope.contains(lc(parts.head))
            if (!shadowedByCte && spark.sessionState.catalog.isTempView(parts))
              throw new IllegalArgumentException(
                s"CREATE VIEW: the definition references TEMPORARY view " +
                  s"${parts.mkString(".")} — persistent views may reference " +
                  "catalog objects only")
          case _ => ()
        }
        node.children.foreach(walk(_, scope))
        // subquery expressions (IN/EXISTS/scalar) hold their own plans,
        // which child traversal does not descend into
        node.expressions.foreach(_.foreach {
          case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
            walk(s.plan, scope)
          case _ => ()
        })
    }
    walk(spark.sessionState.sqlParser.parsePlan(sql), Set.empty)
  }

  /** Drops a view; refuses when the name holds a data table. */
  def drop(catalog: Catalog, name: String): Unit = {
    require(isView(catalog.loadTable(name)),
      s"$name is a TABLE — use DROP TABLE")
    catalog.dropTable(name)
  }

  // views being resolved on this thread — a definition that (transitively)
  // names itself would otherwise recurse without bound
  private val resolving = ThreadLocal.withInitial(
    () => scala.collection.mutable.Set.empty[(String, String)])

  /** The ANALYZED plan of the view's current SQL — what the analyzer
    * rule substitutes for `catName.name`. Late-binding: re-analyzed per
    * read, so schema evolution of base tables flows through. */
  def plan(spark: SparkSession, catalog: Catalog, catName: String,
      name: String): LogicalPlan = {
    val key = (catName.toLowerCase(java.util.Locale.ROOT),
      name.toLowerCase(java.util.Locale.ROOT))
    val stack = resolving.get()
    // the add-check stays OUTSIDE the try: the finally below must remove
    // the key only when THIS frame added it — a cycle detection (add
    // fails, throws here) must leave the outer frames' guard entries
    // intact while the exception unwinds through their own finallys
    if (!stack.add(key))
      throw new IllegalArgumentException(
        s"view $catName.$name is recursive (its definition references itself, " +
          "directly or through another view)")
    try {
      val meta = catalog.loadTable(name)
      // an imported view whose current representation is another engine's
      // dialect must never be fed RAW to Spark's parser — foreign syntax
      // can parse to something silently different (e.g. Trino's "quoted
      // identifiers" become Spark string literals). The mechanical safe
      // subset translates ([[DialectTranslate]]); anything beyond it
      // still refuses BY NAME.
      val dialect = meta.properties.getOrElse(DialectKey, "spark")
      val sql =
        if (dialect.isEmpty || dialect.equalsIgnoreCase("spark"))
          meta.properties(SqlKey)
        else DialectTranslate.toSpark(dialect, meta.properties(SqlKey)).getOrElse(
          throw new IllegalArgumentException(
            s"view $catName.$name stores a '$dialect'-dialect SQL representation " +
              "outside the mechanically-translatable subset — re-create it " +
              "here, or attach a version with a spark representation"))
      analyze(spark, sql)
    }
    finally stack.remove(key)
  }

  private def analyze(spark: SparkSession, sql: String): LogicalPlan =
    org.apache.spark.sql.graftbridge.ColumnBridge
      .ofRows(spark, spark.sessionState.sqlParser.parsePlan(sql))
      .queryExecution.analyzed
}
