package graft.meta

import java.util.Locale

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedIdentifier, UnresolvedNamespace, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, CreateTable, CreateTableAsSelect, DeleteAction, DeleteFromTable, InsertAction, InsertIntoStatement, InsertStarAction, LogicalPlan, MergeAction, MergeIntoTable, ShowTables, SubqueryAlias, TruncateTable, UnresolvedTableSpec, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DataType

/** SQL FRONT DOOR: graft tables addressable from plain `spark.sql`.
  *
  * [[graft.functions.GraftExtensions]] injects [[GraftSql.Rule]] into the
  * analyzer (build the session with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`); after
  * `GraftSql.register("graft", catalog)` — or a
  * `spark.graft.catalog.graft=<warehouse>` conf — queries resolve
  * against the catalog LATE (every statement re-loads table metadata,
  * so a committed append is visible to the next query, unlike the
  * snapshot-pinned [[IceRead.attachViews]] temp views):
  *
  * {{{
  * SELECT * FROM graft.t WHERE d >= DATE'2024-01-01'   -- MOR view, filters
  *                                                     -- push into the scan
  * SELECT * FROM graft.t.branch_dev                    -- branch read
  * SELECT * FROM graft.t.tag_v1                        -- immutable tag
  * SELECT * FROM graft.t.snapshot_id_42                -- time travel by id
  * SELECT * FROM graft.t.at_timestamp_1700000000000    -- time travel by ms
  * SELECT * FROM graft.t VERSION AS OF 42              -- standard syntax,
  * SELECT * FROM graft.t TIMESTAMP AS OF '2024-01-01'  -- same semantics
  * SELECT * FROM graft.t.snapshots                     -- metadata tables:
  *                                                     -- files / history /
  *                                                     -- refs / partitions /
  *                                                     -- all_files
  * INSERT INTO graft.t SELECT ...                      -- append snapshot
  * INSERT OVERWRITE graft.t PARTITION (day='x') ...    -- dynamic partition
  *                                                     -- overwrite (or full
  *                                                     -- replace when
  *                                                     -- unpartitioned)
  * DELETE FROM graft.t WHERE ...                       -- MOR tombstones
  * UPDATE graft.t SET a = expr WHERE ...               -- ONE snapshot:
  *                                                     -- tombstones + copies
  * MERGE INTO graft.t AS t USING src AS s ON t.k = s.k -- one snapshot,
  *   WHEN MATCHED [AND c] THEN UPDATE SET ... | DELETE -- equality-delete
  *   WHEN NOT MATCHED [AND c] THEN INSERT ...          -- keys + new files
  *   WHEN NOT MATCHED BY SOURCE THEN UPDATE ... | DELETE
  * CREATE TABLE graft.t (k BIGINT, day DATE)           -- DDL: typed create,
  *   PARTITIONED BY (days(day), bucket(4, k))          -- Iceberg transforms,
  *   TBLPROPERTIES ('format-version'='3', ...)         -- v3 via property
  * CREATE TABLE graft.t2 AS SELECT ...                 -- CTAS
  * TRUNCATE TABLE graft.t                              -- one-snapshot empty
  * DROP TABLE [IF EXISTS] graft.t
  * SHOW TABLES IN graft [LIKE 't*']
  * CREATE [OR REPLACE] VIEW graft.v AS SELECT ...      -- versioned catalog
  * DROP VIEW [IF EXISTS] graft.v                       -- views ([[Views]])
  * SHOW VIEWS IN graft [LIKE 'v*']
  * ALTER TABLE graft.t ADD COLUMNS (x DOUBLE,          -- schema evolution:
  *   tag STRING DEFAULT 'none')                        -- v3 initial-default
  * ALTER TABLE graft.t ALTER COLUMN k TYPE BIGINT      -- widening only
  * ALTER TABLE graft.t RENAME COLUMN v TO label        -- id-stable rename
  * ALTER TABLE graft.t RENAME TO t2                    -- metadata-only
  * ALTER TABLE graft.t DROP COLUMN x
  * ALTER TABLE graft.t SET/UNSET TBLPROPERTIES (...)
  * DESCRIBE [EXTENDED] graft.t
  * CALL graft.system.rewrite_data_files('t')           -- maintenance
  * CALL graft.system.expire_snapshots(table => 't',    -- procedures with
  *   retain_last => 1)                                 -- Iceberg's names
  * CALL graft.system.remove_orphan_files(table => 't')
  * CALL graft.system.rollback_to_snapshot('t', 42)
  * CALL graft.system.rewrite_position_delete_files('t')
  * }}}
  *
  * The suffix grammar (`branch_` / `tag_` / `snapshot_id_` /
  * `at_timestamp_` as trailing identifier parts) is Iceberg's public
  * Spark-connector convention, so queries port across. Resolution
  * substitutes the relation with [[IceRead]]'s composed MOR plan —
  * ordinary Catalyst nodes, so filter pushdown, column pruning and
  * join planning optimize THROUGH the front door exactly as they do for
  * the Scala API (the reference exposes no SQL surface at all; this is
  * the engine-side seam its README.md:12-22 leaves to "query engines").
  */
object GraftSql {

  /** catalog-name -> live Catalog, process-global (mirrors how Spark
    * treats `spark.sql.catalog.*`: one registry the session consults). */
  private val registry = TrieMap.empty[String, Catalog]
  /** conf-declared warehouses, keyed (name, warehouse) so re-pointing
    * the conf at a different path takes effect immediately. */
  private val confCatalogs = TrieMap.empty[(String, String), Catalog]

  /** Metadata-table suffixes served by [[IceRead]]'s metadata entry
    * points. A data table can never collide: catalog names are flat, so
    * `graft.t.snapshots` is unambiguous (`t.snapshots` is not a legal
    * table name). */
  private val MetadataTables =
    Set("snapshots", "files", "history", "refs", "partitions", "all_files",
      "entries", "manifests", "position_deletes", "all_entries", "metrics")

  def register(name: String, catalog: Catalog): Unit =
    registry.put(name.toLowerCase(java.util.Locale.ROOT), catalog)

  def unregister(name: String): Unit =
    registry.remove(name.toLowerCase(java.util.Locale.ROOT))

  /** The catalog a name resolves to: explicit [[register]] first, then
    * the session conf `spark.graft.catalog.<name>` (a LocalCatalog
    * warehouse path — REST or custom catalogs register programmatically). */
  def resolve(spark: SparkSession, name: String): Option[Catalog] = {
    val key = name.toLowerCase(java.util.Locale.ROOT)
    registry.get(key).orElse {
      spark.conf.getOption(s"spark.graft.catalog.$key").map { wh =>
        confCatalogs.getOrElseUpdate((key, wh), LocalCatalog(wh))
      }
    }
  }

  /** Analyzer rule: rewrites `graft.<table>[.<suffix>]` relations into
    * IceRead plans and INSERTs targeting them into [[InsertCommand]].
    * Top-down so the INSERT case claims its target relation before the
    * bare-relation case would. */
  final class SqlRule(spark: SparkSession) extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsDown {
      case ins @ InsertIntoStatement(u: UnresolvedRelation, _, _, _, _, _, _)
          if resolvable(u.multipartIdentifier).isDefined =>
        val (catName, _, parts) = resolvable(u.multipartIdentifier).get
        require(parts.lengthCompare(1) == 0,
          s"INSERT into ${u.multipartIdentifier.mkString(".")}: writes target the " +
            "table itself — branch/tag/snapshot suffixes and metadata tables are read-only")
        require(!ins.ifPartitionNotExists,
          "INSERT ... IF NOT EXISTS is not supported; use INSERT INTO (append) " +
            "or INSERT OVERWRITE (replace)")
        InsertCommand(catName, parts.head, ins.partitionSpec,
          ins.userSpecifiedCols, ins.query, ins.overwrite, ins.byName)

      case d: DeleteFromTable if writeTarget(d.table).isDefined =>
        val t = writeTarget(d.table).get
        DeleteCommand(t.catName, t.table,
          ColumnBridge.column(stripQuals(d.condition, t.prefixes)))

      case u: UpdateTable if writeTarget(u.table).isDefined =>
        val t = writeTarget(u.table).get
        val set = u.assignments.map { a =>
          assignKey(a, t.prefixes) ->
            ColumnBridge.column(stripQuals(a.value, t.prefixes))
        }.toMap
        UpdateCommand(t.catName, t.table, set,
          u.condition.map(c => ColumnBridge.column(stripQuals(c, t.prefixes)))
            .getOrElse(lit(true)))

      case m: MergeIntoTable if writeTarget(m.targetTable).isDefined =>
        convertMerge(m, writeTarget(m.targetTable).get)

      case ct: CreateTable => ct.name match {
        case id: UnresolvedIdentifier if idTarget(id.nameParts).isDefined =>
          val (catName, t) = idTarget(id.nameParts).get
          CreateCommand(catName, t, Some(ct.tableSchema), None,
            ct.partitioning.map(toPartitionField),
            specProperties(ct.tableSpec), ct.ignoreIfExists)
        case _ => ct
      }

      case cta: CreateTableAsSelect => cta.name match {
        case id: UnresolvedIdentifier if idTarget(id.nameParts).isDefined =>
          val (catName, t) = idTarget(id.nameParts).get
          CreateCommand(catName, t, None, Some(cta.query),
            cta.partitioning.map(toPartitionField),
            specProperties(cta.tableSpec), cta.ignoreIfExists)
        case _ => cta
      }

      case dt: org.apache.spark.sql.catalyst.plans.logical.DropTable => dt.child match {
        case id: UnresolvedIdentifier if idTarget(id.nameParts).isDefined =>
          val (catName, t) = idTarget(id.nameParts).get
          DropCommand(catName, t, dt.ifExists)
        case _ => dt
      }

      case tt: TruncateTable => tt.table match {
        case ut: org.apache.spark.sql.catalyst.analysis.UnresolvedTable
            if idTarget(ut.multipartIdentifier).isDefined =>
          val (catName, t) = idTarget(ut.multipartIdentifier).get
          TruncateCommand(catName, t)
        case _ => tt
      }

      case st: ShowTables => st.namespace match {
        case ns: UnresolvedNamespace
            if ns.multipartIdentifier.lengthCompare(1) == 0 &&
              resolve(spark, ns.multipartIdentifier.head).isDefined =>
          ShowTablesCommand(ns.multipartIdentifier.head, st.pattern, st.output)
        case _ => st
      }

      case sv: org.apache.spark.sql.catalyst.plans.logical.ShowViews => sv.namespace match {
        case ns: UnresolvedNamespace
            if ns.multipartIdentifier.lengthCompare(1) == 0 &&
              resolve(spark, ns.multipartIdentifier.head).isDefined =>
          ShowViewsCommand(ns.multipartIdentifier.head, sv.pattern, sv.output)
        case _ => sv
      }

      case ac: org.apache.spark.sql.catalyst.plans.logical.AddColumns =>
        alterTarget(ac.table).map { case (cat, t) =>
          val cols = ac.columnsToAdd.map { qct =>
            require(qct.path.isEmpty, "nested ADD COLUMN is not supported")
            require(qct.position.isEmpty, "FIRST/AFTER positions are not supported — " +
              "columns append in declaration order")
            require(qct.nullable || qct.default.nonEmpty,
              s"new column ${qct.colName} must be nullable or carry a DEFAULT " +
                "(existing rows have no value for it)")
            (qct.colName, qct.dataType.sql, qct.default.map(_.originalSQL))
          }
          AlterCommand(cat, t, AlterOp.AddCols(cols)): LogicalPlan
        }.getOrElse(ac)

      case dc: org.apache.spark.sql.catalyst.plans.logical.DropColumns =>
        alterTarget(dc.table).map { case (cat, t) =>
          AlterCommand(cat, t, AlterOp.DropCols(
            dc.columnsToDrop.map(f => singleName(f.name)), dc.ifExists)): LogicalPlan
        }.getOrElse(dc)

      case rc: org.apache.spark.sql.catalyst.plans.logical.RenameColumn =>
        alterTarget(rc.table).map { case (cat, t) =>
          AlterCommand(cat, t,
            AlterOp.Rename(singleName(rc.column.name), rc.newName)): LogicalPlan
        }.getOrElse(rc)

      case rt: org.apache.spark.sql.catalyst.plans.logical.RenameTable =>
        (rt.child match {
          case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView =>
            idTarget(u.multipartIdentifier)
          case _ => None
        }).map { case (cat, t) =>
          val newName = rt.newName match {
            case Seq(n) => n
            case Seq(c, n) if sameIdent(c, cat) => n
            case other => throw new IllegalArgumentException(
              s"ALTER TABLE $cat.$t RENAME TO: the new name must stay in " +
                s"catalog $cat, got ${other.mkString(".")}")
          }
          AlterCommand(cat, t, AlterOp.RenameTo(newName)): LogicalPlan
        }.getOrElse(rt)

      case alc: org.apache.spark.sql.catalyst.plans.logical.AlterColumns =>
        alterTarget(alc.table).map { case (cat, t) =>
          val widens = alc.specs.map { spec =>
            require(spec.newDataType.nonEmpty &&
              spec.newNullability.isEmpty && spec.newComment.isEmpty &&
              spec.newPosition.isEmpty && spec.newDefaultExpression.isEmpty &&
              !spec.dropDefault,
              "ALTER COLUMN supports TYPE widening only")
            (singleName(spec.column.name), spec.newDataType.get.sql)
          }
          AlterCommand(cat, t, AlterOp.Widen(widens)): LogicalPlan
        }.getOrElse(alc)

      case sp: org.apache.spark.sql.catalyst.plans.logical.SetTableProperties =>
        alterTarget(sp.table).map { case (cat, t) =>
          AlterCommand(cat, t, AlterOp.SetProps(sp.properties)): LogicalPlan
        }.getOrElse(sp)

      case up: org.apache.spark.sql.catalyst.plans.logical.UnsetTableProperties =>
        alterTarget(up.table).map { case (cat, t) =>
          AlterCommand(cat, t, AlterOp.UnsetProps(up.propertyKeys)): LogicalPlan
        }.getOrElse(up)

      case sct: org.apache.spark.sql.catalyst.plans.logical.ShowCreateTable => sct.child match {
        case ut: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView
            if idTarget(ut.multipartIdentifier).isDefined =>
          val (catName, t) = idTarget(ut.multipartIdentifier).get
          ShowCreateCommand(catName, t, sct.output)
        case ut: org.apache.spark.sql.catalyst.analysis.UnresolvedTable
            if idTarget(ut.multipartIdentifier).isDefined =>
          val (catName, t) = idTarget(ut.multipartIdentifier).get
          ShowCreateCommand(catName, t, sct.output)
        case _ => sct
      }

      case sp: org.apache.spark.sql.catalyst.plans.logical.ShowPartitions => sp.child match {
        case ut: org.apache.spark.sql.catalyst.analysis.UnresolvedTable
            if idTarget(ut.multipartIdentifier).isDefined =>
          val (catName, t) = idTarget(ut.multipartIdentifier).get
          val filter: Map[String, String] = sp.pattern match {
            case Some(ps: org.apache.spark.sql.catalyst.analysis.UnresolvedPartitionSpec) =>
              ps.spec.map { case (k, v) => k -> v }
            case _ => Map.empty
          }
          ShowPartitionsCommand(catName, t, filter, sp.output)
        case _ => sp
      }

      case at: org.apache.spark.sql.catalyst.plans.logical.AnalyzeTable => at.child match {
        case ut: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView
            if idTarget(ut.multipartIdentifier).isDefined =>
          val (catName, t) = idTarget(ut.multipartIdentifier).get
          require(at.partitionSpec.isEmpty,
            s"ANALYZE TABLE $catName.$t: per-partition statistics are not " +
              "supported — run the table-level form")
          AnalyzeCommand(catName, t, at.noScan)
        case _ => at
      }

      case ac: org.apache.spark.sql.catalyst.plans.logical.AnalyzeColumn => ac.child match {
        case ut: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView
            if idTarget(ut.multipartIdentifier).isDefined =>
          val (catName, t) = idTarget(ut.multipartIdentifier).get
          require(!ac.allColumns || ac.columnNames.isEmpty,
            s"ANALYZE $catName.$t: pass FOR COLUMNS c1, c2 or FOR ALL COLUMNS")
          AnalyzeColumnsCommand(catName, t,
            if (ac.allColumns) Nil else ac.columnNames.getOrElse(Nil))
        case _ => ac
      }

      case stp: org.apache.spark.sql.catalyst.plans.logical.ShowTableProperties => stp.table match {
        case ut: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView
            if idTarget(ut.multipartIdentifier).isDefined =>
          val (catName, t) = idTarget(ut.multipartIdentifier).get
          ShowPropertiesCommand(catName, t, stp.propertyKey, stp.output)
        case ut: org.apache.spark.sql.catalyst.analysis.UnresolvedTable
            if idTarget(ut.multipartIdentifier).isDefined =>
          val (catName, t) = idTarget(ut.multipartIdentifier).get
          ShowPropertiesCommand(catName, t, stp.propertyKey, stp.output)
        case _ => stp
      }

      case dr: org.apache.spark.sql.catalyst.plans.logical.DescribeRelation => dr.relation match {
        case tv: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView
            if idTarget(tv.multipartIdentifier).isDefined =>
          val (catName, t) = idTarget(tv.multipartIdentifier).get
          DescribeCommand(catName, t, dr.isExtended, dr.output)
        case _ => dr
      }

      case c: org.apache.spark.sql.catalyst.plans.logical.Call => c.procedure match {
        case up: org.apache.spark.sql.catalyst.analysis.UnresolvedProcedure =>
          (up.nameParts match {
            case Seq(cat, "system", proc) if resolve(spark, cat).isDefined => Some((cat, proc))
            case Seq(cat, proc) if resolve(spark, cat).isDefined => Some((cat, proc))
            case _ => None
          }) match {
            case Some((cat, proc)) => ProcedureCommand(cat, proc, c.args.map(procArg))
            case None => c
          }
        case _ => c
      }

      // standard time-travel syntax: SELECT ... FROM t VERSION AS OF <id>
      // / TIMESTAMP AS OF <ts> — equivalent to the snapshot_id_/
      // at_timestamp_ suffixes, provided for porting queries verbatim
      case tt: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel =>
        tt.relation match {
          case u: UnresolvedRelation if resolvable(u.multipartIdentifier).isDefined =>
            val (catName, cat, parts) = resolvable(u.multipartIdentifier).get
            require(parts.lengthCompare(1) == 0,
              s"${u.multipartIdentifier.mkString(".")}: VERSION/TIMESTAMP AS OF " +
                "applies to the table itself, not a suffix form")
            val table = parts.head
            require(cat.tableExists(table),
              s"table $catName.$table does not exist in the registered catalog")
            val df = (tt.version, tt.timestamp) match {
              case (Some(v), None) =>
                IceRead.tableAt(spark, cat, table, v.toLong)
              case (None, Some(ts)) =>
                IceRead.tableAsOf(spark, cat, table, timestampMs(ts))
              case _ => throw new IllegalArgumentException(
                "pass exactly one of VERSION AS OF / TIMESTAMP AS OF")
            }
            SubqueryAlias(Seq(catName, table), df.queryExecution.analyzed)
          case _ => tt
        }

      case u: UnresolvedRelation if resolvable(u.multipartIdentifier).isDefined =>
        val (catName, cat, parts) = resolvable(u.multipartIdentifier).get
        SubqueryAlias(catName +: parts, relationPlan(cat, catName, parts))
    }

    /** TIMESTAMP AS OF argument -> epoch millis: a timestamp/date/string
      * literal (parsed in the session zone) or a numeric epoch-seconds/
      * millis literal (Spark's convention: values < 10^11 are seconds). */
    private def timestampMs(e: Expression): Long = e match {
      case l: org.apache.spark.sql.catalyst.expressions.Literal => l.value match {
        case micros: java.lang.Long
            if l.dataType.isInstanceOf[org.apache.spark.sql.types.TimestampType] =>
          micros / 1000L
        case n: Number =>
          val v = n.longValue(); if (v < 100000000000L) v * 1000L else v
        case u: org.apache.spark.unsafe.types.UTF8String =>
          val t = java.sql.Timestamp.valueOf(
            if (u.toString.length == 10) u.toString + " 00:00:00" else u.toString)
          t.getTime
        case other => throw new IllegalArgumentException(
          s"TIMESTAMP AS OF: unsupported literal $other")
      }
      case other => throw new IllegalArgumentException(
        s"TIMESTAMP AS OF must be a literal, got ${other.sql}")
    }

    /** CALL argument -> (name?, literal value). Procedures take literal
      * arguments only (Iceberg's CALL convention). */
    private def procArg(e: Expression): (Option[String], Any) = {
      def value(v: Expression): Any = v match {
        case l: org.apache.spark.sql.catalyst.expressions.Literal => l.value match {
          case u: org.apache.spark.unsafe.types.UTF8String => u.toString
          case other => other
        }
        case other => throw new IllegalArgumentException(
          s"CALL arguments must be literals, got: ${other.sql}")
      }
      e match {
        case na: org.apache.spark.sql.catalyst.expressions.NamedArgumentExpression =>
          (Some(na.key.toLowerCase(Locale.ROOT)), value(na.value))
        case other => (None, value(other))
      }
    }

    /** Some((catalogName, catalog, identifier-after-catalog)) when the
      * head part names a registered graft catalog. */
    private def resolvable(ident: Seq[String]): Option[(String, Catalog, Seq[String])] =
      if (ident.lengthCompare(2) < 0) None
      else resolve(spark, ident.head).map(c => (ident.head, c, ident.tail))

    private def relationPlan(cat: Catalog, catName: String, parts: Seq[String]): LogicalPlan = {
      val table = parts.head
      require(cat.tableExists(table),
        s"table $catName.$table does not exist in the registered catalog")
      if (Views.isView(cat.loadTable(table))) {
        // a VIEW substitutes the analyzed plan of its stored SQL — filter
        // pushdown / pruning flow through exactly as for its definition.
        // Metadata suffixes address physical table state views don't have.
        require(parts.lengthCompare(1) == 0,
          s"$catName.$table is a view — metadata/branch suffixes apply to tables")
        return Views.plan(spark, cat, catName, table)
      }
      val df = parts.drop(1) match {
        case Seq() => IceRead.table(spark, cat, table)
        case Seq(sub) => sub match {
          case "snapshots" => IceRead.snapshots(spark, cat, table)
          case "files" => IceRead.files(spark, cat, table)
          case "history" => IceRead.history(spark, cat, table)
          case "refs" => IceRead.refs(spark, cat, table)
          case "partitions" => IceRead.partitions(spark, cat, table)
          case "all_files" => IceRead.allFiles(spark, cat, table)
          case "metrics" => IceRead.metrics(spark, cat, table)
          case "entries" => IceRead.entries(spark, cat, table)
          case "manifests" => IceRead.manifests(spark, cat, table)
          case "position_deletes" => IceRead.positionDeletes(spark, cat, table)
          case "all_entries" => IceRead.allEntries(spark, cat, table)
          case b if b.startsWith("branch_") =>
            IceRead.table(spark, cat, table, branch = b.stripPrefix("branch_"))
          case t if t.startsWith("tag_") =>
            IceRead.tableAtTag(spark, cat, table, t.stripPrefix("tag_"))
          case s if s.startsWith("snapshot_id_") =>
            IceRead.tableAt(spark, cat, table, s.stripPrefix("snapshot_id_").toLong)
          case ts if ts.startsWith("at_timestamp_") =>
            IceRead.tableAsOf(spark, cat, table, ts.stripPrefix("at_timestamp_").toLong)
          case other => throw new IllegalArgumentException(
            s"$catName.$table.$other: unknown suffix — expected a metadata table " +
              s"(${MetadataTables.toSeq.sorted.mkString("/")}) or branch_* / tag_* / " +
              "snapshot_id_* / at_timestamp_*")
        }
        case more => throw new IllegalArgumentException(
          s"${(catName +: parts).mkString(".")}: at most one suffix part after the table name")
      }
      df.queryExecution.analyzed
    }

    /** A DML write target: `cat.table` or `alias OF cat.table`, plus the
      * qualifier prefixes user expressions may carry for it. */
    private case class WriteTarget(catName: String, cat: Catalog, table: String,
        alias: Option[String]) {
      def prefixes: Seq[Seq[String]] =
        (alias.map(Seq(_)).toSeq :+ Seq(table) :+ Seq(catName, table)).distinct
    }

    private def writeTarget(plan: LogicalPlan): Option[WriteTarget] = plan match {
      case SubqueryAlias(a, child) =>
        writeTarget(child).map(_.copy(alias = Some(a.name)))
      case u: UnresolvedRelation =>
        resolvable(u.multipartIdentifier).map { case (catName, cat, parts) =>
          require(parts.lengthCompare(1) == 0,
            s"${u.multipartIdentifier.mkString(".")}: DML writes target the table " +
              "itself — branch/tag/snapshot suffixes and metadata tables are read-only")
          WriteTarget(catName, cat, parts.head, None)
        }
      case _ => None
    }

    /** DDL identifier (`CREATE/DROP TABLE cat.t`). */
    private def idTarget(parts: Seq[String]): Option[(String, String)] =
      if (parts.lengthCompare(2) == 0 && resolve(spark, parts.head).isDefined)
        Some((parts.head, parts(1)))
      else None

    /** ALTER statements wrap their target in UnresolvedTable. */
    private def alterTarget(plan: LogicalPlan): Option[(String, String)] = plan match {
      case ut: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
        idTarget(ut.multipartIdentifier)
      case _ => None
    }

    private def singleName(parts: Seq[String]): String = {
      require(parts.lengthCompare(1) == 0,
        s"nested column ${parts.mkString(".")} is not supported")
      parts.head
    }

    private def sameIdent(a: String, b: String): Boolean =
      a.toLowerCase(Locale.ROOT) == b.toLowerCase(Locale.ROOT)

    private def hasPrefix(nameParts: Seq[String], prefix: Seq[String]): Boolean =
      nameParts.lengthCompare(prefix.length) > 0 &&
        nameParts.zip(prefix).forall { case (a, b) => sameIdent(a, b) }

    /** Drops single-table qualifiers (`t.a`, `cat.t.a`, `alias.a` -> `a`)
      * so the expression resolves against the bare scan inside
      * deleteWhere/updateWhere. */
    private def stripQuals(e: Expression, prefixes: Seq[Seq[String]]): Expression =
      e.transform {
        case ua: UnresolvedAttribute =>
          prefixes.find(hasPrefix(ua.nameParts, _))
            .map(p => UnresolvedAttribute(ua.nameParts.drop(p.length)))
            .getOrElse(ua)
      }

    /** Assignment key -> bare column name (struct-field paths rejected). */
    private def assignKey(a: Assignment, prefixes: Seq[Seq[String]]): String = {
      val parts = a.key match {
        case ua: UnresolvedAttribute =>
          prefixes.find(hasPrefix(ua.nameParts, _))
            .map(p => ua.nameParts.drop(p.length)).getOrElse(ua.nameParts)
        case other => throw new IllegalArgumentException(
          s"SET target must be a column, got $other")
      }
      require(parts.lengthCompare(1) == 0,
        s"SET ${parts.mkString(".")}: nested-field assignment is not supported — " +
          "update the whole top-level column")
      parts.head
    }

    /** MERGE INTO -> [[MergeCommand]] over [[IceWrite.merge]]. The ON
      * condition must be a conjunction of `t.k = s.k` equalities on
      * same-named columns (the equality-delete key shape merge commits);
      * WHEN clauses map onto merge()'s condition/set parameters with
      * SQL's in-order clause precedence preserved. */
    private def convertMerge(m: MergeIntoTable, t: WriteTarget): LogicalPlan = {
      val (srcPlan, srcAlias) = m.sourceTable match {
        case sa @ SubqueryAlias(a, _) => (sa: LogicalPlan, Some(a.name))
        case other => (other, None)
      }
      val srcPrefixes: Seq[Seq[String]] =
        (srcAlias.map(Seq(_)).toSeq ++ (m.sourceTable match {
          case u: UnresolvedRelation =>
            Seq(Seq(u.multipartIdentifier.last), u.multipartIdentifier)
          case _ => Nil
        })).distinct

      // requalify user expressions onto merge()'s `t`/`s` join aliases
      def reQual(e: Expression): Expression = e.transform {
        case ua: UnresolvedAttribute =>
          t.prefixes.find(hasPrefix(ua.nameParts, _))
            .map(p => UnresolvedAttribute("t" +: ua.nameParts.drop(p.length)))
            .orElse(srcPrefixes.find(hasPrefix(ua.nameParts, _))
              .map(p => UnresolvedAttribute("s" +: ua.nameParts.drop(p.length))))
            .getOrElse(ua)
      }
      def cond(c: Option[Expression]): Column =
        c.map(e => ColumnBridge.column(reQual(e))).getOrElse(lit(true))

      // ON: conjunction of same-named t/s key equalities
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case And(l, r) => conjuncts(l) ++ conjuncts(r)
        case other => Seq(other)
      }
      val keys = conjuncts(m.mergeCondition).map { c =>
        reQual(c) match {
          case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
              if Set(a.nameParts.head, b.nameParts.head) == Set("t", "s") &&
                a.nameParts.lengthCompare(2) == 0 && b.nameParts.lengthCompare(2) == 0 &&
                sameIdent(a.nameParts(1), b.nameParts(1)) =>
            a.nameParts(1)
          case other => throw new IllegalArgumentException(
            s"MERGE ON must be a conjunction of target.k = source.k equalities on " +
              s"same-named, alias-qualified columns (the merge key); got: ${other.sql}")
        }
      }.distinct

      lazy val tableCols: Seq[String] = columnsOf(spark, t.cat, t.table)

      // SET keys resolve to the table's declared casing HERE — a
      // user-cased key beside the exact-cased t.* defaults below would
      // otherwise produce two map entries with the default silently
      // winning over the user's assignment
      def toSet(assigns: Seq[Assignment]): Map[String, Column] =
        assigns.map(a => resolveColumn(spark, assignKey(a, t.prefixes),
            tableCols, s"MERGE INTO ${t.catName}.${t.table} SET") ->
          ColumnBridge.column(reQual(a.value))).toMap
      def withTargetDefaults(assigned: Map[String, Column]): Map[String, Column] =
        assigned ++ tableCols.filterNot(assigned.contains)
          .map(c => c -> col(s"t.$c"))

      var updWhen: Column = lit(false)
      var updSet: Map[String, Column] = Map.empty
      var delWhen: Column = lit(false)
      m.matchedActions match {
        case Seq() =>
        case Seq(one) => one match {
          case ua: UpdateAction => updWhen = cond(ua.condition); updSet = withTargetDefaults(toSet(ua.assignments))
          case us: UpdateStarAction => updWhen = cond(us.condition)
          case da: DeleteAction => delWhen = cond(da.condition)
          case other => unsupportedAction(other)
        }
        case Seq(first, second) =>
          (first, second) match {
            case (u: UpdateAction, d: DeleteAction) =>
              updWhen = cond(u.condition); updSet = withTargetDefaults(toSet(u.assignments))
              delWhen = cond(d.condition) && !updWhen // update clause fires first
            case (u: UpdateStarAction, d: DeleteAction) =>
              updWhen = cond(u.condition)
              delWhen = cond(d.condition) && !updWhen
            case (d: DeleteAction, u: UpdateAction) =>
              delWhen = cond(d.condition) // delete-first = merge()'s precedence
              updWhen = cond(u.condition); updSet = withTargetDefaults(toSet(u.assignments))
            case (d: DeleteAction, u: UpdateStarAction) =>
              delWhen = cond(d.condition); updWhen = cond(u.condition)
            case _ => throw new IllegalArgumentException(
              "MERGE supports at most one WHEN MATCHED UPDATE and one WHEN MATCHED DELETE")
          }
        case _ => throw new IllegalArgumentException(
          "MERGE supports at most one WHEN MATCHED UPDATE and one WHEN MATCHED DELETE")
      }

      var insWhen: Column = lit(false)
      m.notMatchedActions match {
        case Seq() =>
        case Seq(ia: InsertStarAction) => insWhen = cond(ia.condition)
        case Seq(ia: InsertAction) =>
          // identity column list (INSERT (a, b) VALUES (s.a, s.b)) is the
          // whole-source-row insert merge() performs; anything else would
          // need a per-clause source projection
          val identity = ia.assignments.forall { a =>
            val k = assignKey(a, t.prefixes)
            reQual(a.value) match {
              case ua: UnresolvedAttribute =>
                sameIdent(ua.nameParts.last, k)
              case _ => false
            }
          }
          require(identity,
            "MERGE WHEN NOT MATCHED THEN INSERT must insert the source row " +
              "(INSERT * or a column-for-column list); expressions belong in the " +
              "source query")
          insWhen = cond(ia.condition)
        case _ => throw new IllegalArgumentException(
          "MERGE supports at most one WHEN NOT MATCHED THEN INSERT clause")
      }

      var bsUpdWhen: Option[Column] = None
      var bsUpdSet: Map[String, Column] = Map.empty
      var bsDelWhen: Option[Column] = None
      m.notMatchedBySourceActions.foreach {
        case ua: UpdateAction =>
          require(bsUpdWhen.isEmpty, "at most one WHEN NOT MATCHED BY SOURCE UPDATE")
          bsUpdWhen = Some(cond(ua.condition)); bsUpdSet = toSet(ua.assignments)
        case da: DeleteAction =>
          require(bsDelWhen.isEmpty, "at most one WHEN NOT MATCHED BY SOURCE DELETE")
          bsDelWhen = Some(cond(da.condition))
        case other => unsupportedAction(other)
      }

      MergeCommand(t.catName, t.table, srcPlan, keys,
        updWhen, delWhen, updSet, insWhen,
        bsUpdWhen.getOrElse(lit(false)), bsDelWhen.getOrElse(lit(false)), bsUpdSet)
    }

    private def unsupportedAction(a: MergeAction): Nothing =
      throw new IllegalArgumentException(s"unsupported MERGE action: $a")

    /** Spark DDL partition transform -> graft [[PartitionField]]. */
    private def toPartitionField(tr: Transform): PartitionField = {
      val (column, transform) = ColumnBridge.decomposeTransform(tr)
      PartitionField(column, transform)
    }

    private def specProperties(spec: Any): Map[String, String] = spec match {
      case u: UnresolvedTableSpec =>
        u.properties ++ u.comment.map("comment" -> _)
      case _ => Map.empty
    }
  }

  /** `INSERT INTO` = append snapshot; `INSERT OVERWRITE` = dynamic
    * partition overwrite (partitioned) or atomic full replace
    * (unpartitioned) — Iceberg's INSERT OVERWRITE semantics. The source
    * query is analyzed at run time (it may itself read graft relations),
    * then aligned to the table schema: by position (default), by the
    * `(col, ...)` list, or by name (`INSERT ... BY NAME`); static
    * PARTITION values become literal columns; absent nullable columns
    * fill with NULL. */
  final case class InsertCommand(
      catalogName: String,
      table: String,
      staticPartition: Map[String, Option[String]],
      userCols: Seq[String],
      query: LogicalPlan,
      overwrite: Boolean,
      byName: Boolean) extends LeafRunnableCommand {

    override def innerChildren: Seq[LogicalPlan] = Seq(query)

    override def run(spark: SparkSession): Seq[Row] = {
      val cat = GraftSql.resolve(spark, catalogName).getOrElse(
        throw new IllegalStateException(s"graft catalog $catalogName vanished between " +
          "analysis and execution"))
      val meta = cat.loadTable(table)
      require(!Views.isView(meta),
        s"$catalogName.$table is a VIEW — INSERT targets tables")
      val target: Seq[(String, Option[DataType], Boolean, Option[String])] =
        if (meta.schema.nonEmpty)
          meta.schema.map(f =>
            (f.name, if (f.isTyped) Some(f.sparkType) else None, f.nullable,
              f.initialDefault))
        else // legacy untyped table: names+types from the live read schema
          IceRead.table(spark, cat, table).schema.fields.toSeq
            .map(f => (f.name, Some(f.dataType), f.nullable, None))

      val ctx = s"INSERT into $catalogName.$table"
      val targetNames = target.map(_._1)
      def toTarget(n: String) = resolveColumn(spark, n, targetNames, ctx)
      val static = staticPartition.collect { case (k, Some(v)) => toTarget(k) -> v }

      val src = ColumnBridge.ofRows(spark, query)
      // name the provided columns, resolved to the table's casing
      val provided: Seq[(String, org.apache.spark.sql.Column)] =
        if (byName) src.columns.toSeq.map(c => toTarget(c) -> col(c))
        else {
          val names =
            if (userCols.nonEmpty) userCols.map(toTarget)
            else targetNames.filterNot(static.contains)
          require(src.columns.length == names.length,
            s"$ctx: query produces ${src.columns.length} " +
              s"columns but ${names.length} are expected (${names.mkString(", ")})")
          names.zip(src.columns.toSeq.map(col))
        }
      provided.groupBy(_._1).collectFirst { case (n, xs) if xs.lengthCompare(1) > 0 => n }
        .foreach(n => throw new IllegalArgumentException(
          s"$ctx: column $n is provided more than once"))
      val byTarget = provided.toMap

      val out = src.select(target.map { case (name, dt, nullable, dflt) =>
        def typedCol(c: org.apache.spark.sql.Column) = dt.fold(c)(c.cast)
        static.get(name) match {
          case Some(v) => typedCol(lit(v)).as(name)
          case None => byTarget.get(name) match {
            case Some(c) => typedCol(c).as(name)
            case None => dflt match {
              // omitted DEFAULT-carrying columns take their default (SQL
              // semantics), not NULL
              case Some(sql) => typedCol(org.apache.spark.sql.functions.expr(sql)).as(name)
              case None =>
                require(nullable, s"INSERT into $catalogName.$table: non-nullable " +
                  s"column $name has no value")
                typedCol(lit(null)).as(name)
            }
          }
        }
      }: _*)

      // write-audit-publish session confs (Iceberg's): spark.wap.branch
      // redirects appends to a branch; spark.wap.id (with the table
      // property write.wap.enabled) STAGES the snapshot unpublished —
      // audit via the snapshots metadata table / snapshot_id suffix, then
      // CALL cherrypick_snapshot to publish
      val wapBranch = spark.conf.getOption("spark.wap.branch").filter(_.nonEmpty)
      val wapId = spark.conf.getOption("spark.wap.id").filter(_.nonEmpty)
        .filter(_ => meta.properties.get("write.wap.enabled").exists(_.equalsIgnoreCase("true")))
      if (overwrite) {
        require(wapBranch.isEmpty && wapId.isEmpty,
          s"$ctx: INSERT OVERWRITE cannot be staged (spark.wap.id/spark.wap.branch); " +
            "stage appends, or overwrite a branch via the Scala API")
        if (meta.partitionSpec.nonEmpty) IceWrite.overwritePartitions(spark, cat, table, out)
        else IceWrite.replaceAll(spark, cat, table, out)
      } else wapBranch match {
        case Some(b) =>
          require(wapId.isEmpty,
            s"$ctx: set spark.wap.branch OR spark.wap.id, not both")
          IceWrite.append(spark, cat, table, out, branch = b)
        case None => IceWrite.append(spark, cat, table, out, stageWapId = wapId)
      }
      Seq.empty
    }
  }

  /** Writes refuse views loudly — a view entry has no data files, so DML
    * against one would otherwise treat it as an empty table and
    * "succeed" silently. */
  private def refuseView(cat: Catalog, catName: String, table: String,
      verb: String): Unit =
    if (cat.tableExists(table) && Views.isView(cat.loadTable(table)))
      throw new IllegalArgumentException(
        s"$catName.$table is a VIEW — $verb targets tables")

  private def catalogOrDie(spark: SparkSession, name: String): Catalog =
    resolve(spark, name).getOrElse(throw new IllegalStateException(
      s"graft catalog $name vanished between analysis and execution"))

  /** SQL identifiers match case-insensitively unless
    * spark.sql.caseSensitive; the TABLE's declared casing wins so the
    * string-keyed engine APIs (updateWhere/merge/SchemaEvolution) get
    * exact names. */
  private def resolveColumn(spark: SparkSession, provided: String,
      targetCols: Seq[String], context: String): String = {
    val cs = spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    targetCols.find(c => if (cs) c == provided else c.equalsIgnoreCase(provided))
      .getOrElse(throw new IllegalArgumentException(
        s"$context: column $provided does not exist " +
          s"(columns: ${targetCols.mkString(", ")})"))
  }

  /** Column names of a table for identifier resolution. */
  private def columnsOf(spark: SparkSession, cat: Catalog, table: String): Seq[String] = {
    val meta = cat.loadTable(table)
    if (meta.schema.nonEmpty) meta.schemaColumns
    else IceRead.table(spark, cat, table).columns.toSeq
  }

  /** `DELETE FROM cat.t WHERE ...` -> [[IceWrite.deleteWhere]] (MOR
    * position tombstones, no data file rewritten). */
  final case class DeleteCommand(catalogName: String, table: String,
      condition: Column) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val cat = catalogOrDie(spark, catalogName)
      refuseView(cat, catalogName, table, "DELETE")
      IceWrite.deleteWhere(spark, cat, table, condition,
        branch = wapWriteBranch(spark, cat, table, s"DELETE FROM $catalogName.$table"))
      Seq.empty
    }
  }

  /** `UPDATE cat.t SET ... WHERE ...` -> [[IceWrite.updateWhere]] (ONE
    * snapshot: tombstones + updated copies). */
  final case class UpdateCommand(catalogName: String, table: String,
      set: Map[String, Column], condition: Column) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val cat = catalogOrDie(spark, catalogName)
      refuseView(cat, catalogName, table, "UPDATE")
      val cols = columnsOf(spark, cat, table)
      val resolved = set.map { case (k, v) =>
        resolveColumn(spark, k, cols, s"UPDATE $catalogName.$table") -> v
      }
      IceWrite.updateWhere(spark, cat, table, resolved, condition,
        branch = wapWriteBranch(spark, cat, table, s"UPDATE $catalogName.$table"))
      Seq.empty
    }
  }

  /** `MERGE INTO cat.t USING src ON ... WHEN ...` -> [[IceWrite.merge]]
    * (ONE snapshot: equality-delete keys + new data files). The source
    * plan analyzes at run time, so it may itself read graft relations. */
  final case class MergeCommand(catalogName: String, table: String,
      source: LogicalPlan, keys: Seq[String],
      matchedUpdateWhen: Column, matchedDeleteWhen: Column,
      updateSet: Map[String, Column], insertWhen: Column,
      bySourceUpdateWhen: Column, bySourceDeleteWhen: Column,
      bySourceSet: Map[String, Column]) extends LeafRunnableCommand {
    override def innerChildren: Seq[LogicalPlan] = Seq(source)
    override def run(spark: SparkSession): Seq[Row] = {
      val cat = catalogOrDie(spark, catalogName)
      refuseView(cat, catalogName, table, "MERGE INTO")
      val cols = columnsOf(spark, cat, table)
      def res(m: Map[String, Column]) = m.map { case (k, v) =>
        resolveColumn(spark, k, cols, s"MERGE INTO $catalogName.$table") -> v
      }
      IceWrite.merge(spark, cat, table,
        ColumnBridge.ofRows(spark, source),
        keys.map(resolveColumn(spark, _, cols, s"MERGE INTO $catalogName.$table ON")),
        matchedUpdateWhen = matchedUpdateWhen,
        matchedDeleteWhen = matchedDeleteWhen,
        updateSet = res(updateSet),
        insertWhen = insertWhen,
        notMatchedBySourceUpdateWhen = bySourceUpdateWhen,
        notMatchedBySourceDeleteWhen = bySourceDeleteWhen,
        notMatchedBySourceSet = res(bySourceSet),
        branch = wapWriteBranch(spark, cat, table, s"MERGE INTO $catalogName.$table"))
      Seq.empty
    }
  }

  /** `CREATE TABLE cat.t (...) [PARTITIONED BY ...] [TBLPROPERTIES ...]`
    * (explicit `schema`) and `CREATE TABLE ... AS SELECT` (`query`) ->
    * [[IceWrite.create]]. `format-version` arrives as a table property. */
  final case class CreateCommand(catalogName: String, table: String,
      declaredSchema: Option[org.apache.spark.sql.types.StructType],
      query: Option[LogicalPlan], partitionSpec: Seq[PartitionField],
      properties: Map[String, String], ignoreIfExists: Boolean)
      extends LeafRunnableCommand {
    override def innerChildren: Seq[LogicalPlan] = query.toSeq
    override def run(spark: SparkSession): Seq[Row] = {
      val cat = catalogOrDie(spark, catalogName)
      if (cat.tableExists(table)) {
        if (ignoreIfExists) return Seq.empty
        throw new IllegalArgumentException(s"table $catalogName.$table already exists")
      }
      // the CREATE door refuses reserved keys exactly like ALTER and the
      // REST create — forged graft.*/ndv.sketch.* engine state must not
      // land through the oldest door either
      SchemaEvolution.requireUnreservedProps(properties.keys)
      val df = query.map(ColumnBridge.ofRows(spark, _)).getOrElse(
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], declaredSchema.get))
      val formatVersion =
        properties.get("format-version").map(_.trim.toInt).getOrElse(2)
      val spec = partitionSpec.map(p => p.copy(column = resolveColumn(spark,
        p.column, df.columns.toSeq, s"CREATE TABLE $catalogName.$table PARTITIONED BY")))
      IceWrite.create(spark, cat, table, df, partitionSpec = spec,
        formatVersion = formatVersion,
        extraProperties = properties - "format-version")
      Seq.empty
    }
  }

  /** `CREATE [OR REPLACE] VIEW [IF NOT EXISTS] cat.v [(a, b)] AS
    * <query>` -> [[Views.create]]. The definition analyzes at RUN time
    * (it may read graft relations), pinning the schema and appending a
    * view VERSION. A column-alias list renames the query's output
    * columns (stored as part of the definition, so exports and foreign
    * readers see the aliased schema); IF NOT EXISTS no-ops when the name
    * is taken, like Spark's. */
  final case class CreateViewCommand(catalogName: String, view: String,
      sql: String, orReplace: Boolean, ifNotExists: Boolean = false,
      columnAliases: Seq[String] = Nil) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val cat = catalogOrDie(spark, catalogName)
      if (ifNotExists && cat.tableExists(view)) return Seq.empty
      val effectiveSql =
        if (columnAliases.isEmpty) sql
        // subquery alias with a column list IS Spark's rename-outputs
        // form; an alias-count mismatch fails analysis right here at
        // CREATE, exactly when the user can fix it
        else s"SELECT * FROM ($sql) AS __graft_view_cols(${columnAliases.mkString(", ")})"
      Views.create(spark, cat, view, effectiveSql, orReplace = orReplace)
      Seq.empty
    }
  }

  /** `DROP VIEW [IF EXISTS] cat.v` -> [[Views.drop]] (refuses tables). */
  final case class DropViewCommand(catalogName: String, view: String,
      ifExists: Boolean) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val cat = catalogOrDie(spark, catalogName)
      if (!cat.tableExists(view)) {
        if (ifExists) return Seq.empty
        throw new IllegalArgumentException(s"view $catalogName.$view does not exist")
      }
      Views.drop(cat, view)
      Seq.empty
    }
  }

  /** `DROP TABLE [IF EXISTS] cat.t` -> `Catalog.dropTable`. */
  final case class DropCommand(catalogName: String, table: String,
      ifExists: Boolean) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val cat = catalogOrDie(spark, catalogName)
      if (!cat.tableExists(table)) {
        if (ifExists) return Seq.empty
        throw new IllegalArgumentException(s"table $catalogName.$table does not exist")
      }
      refuseView(cat, catalogName, table, "DROP TABLE (use DROP VIEW)")
      cat.dropTable(table)
      Seq.empty
    }
  }

  /** `TRUNCATE TABLE cat.t` -> [[IceWrite.replaceAll]] with an empty
    * frame: ONE snapshot drops every live file; history stays
    * time-travelable until expiry. */
  final case class TruncateCommand(catalogName: String, table: String)
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val cat = catalogOrDie(spark, catalogName)
      refuseView(cat, catalogName, table, "TRUNCATE")
      val meta = cat.loadTable(table)
      // TRUNCATE is a full replace with no branch form: refuse WAP confs
      // loudly rather than silently publishing a destructive op
      require(spark.conf.getOption("spark.wap.branch").forall(_.isEmpty) &&
        spark.conf.getOption("spark.wap.id").forall(_.isEmpty ||
          !meta.properties.get("write.wap.enabled").exists(_.equalsIgnoreCase("true"))),
        s"TRUNCATE TABLE $catalogName.$table cannot be staged " +
          "(spark.wap.id/spark.wap.branch); unset the conf or truncate a branch " +
          "via the Scala API")
      val schema = meta.typedStruct.getOrElse(
        IceRead.table(spark, cat, table).schema)
      IceWrite.replaceAll(spark, cat, table,
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))
      Seq.empty
    }
  }

  /** Branch a row-level front-door write lands on, honoring WAP session
    * confs: `spark.wap.branch` redirects the op; `spark.wap.id` staging
    * is APPEND-only (cherry-pick cannot replay row-level deletes), so a
    * staged-id session refuses row-level ops with the branch alternative
    * spelled out instead of silently publishing. */
  private def wapWriteBranch(spark: SparkSession, cat: Catalog, table: String,
      ctx: String): String = {
    val wapId = spark.conf.getOption("spark.wap.id").filter(_.nonEmpty)
      .filter(_ => cat.loadTable(table).properties
        .get("write.wap.enabled").exists(_.equalsIgnoreCase("true")))
    require(wapId.isEmpty,
      s"$ctx: spark.wap.id stages APPENDS only (cherrypick_snapshot cannot replay " +
        "row-level deletes); stage this operation on a branch via spark.wap.branch " +
        "and publish with CALL fast_forward")
    spark.conf.getOption("spark.wap.branch").filter(_.nonEmpty).getOrElse("main")
  }

  /** ALTER TABLE operation, converted at analysis time. */
  sealed trait AlterOp
  object AlterOp {
    /** (name, DDL type, DEFAULT literal SQL). */
    final case class AddCols(cols: Seq[(String, String, Option[String])]) extends AlterOp
    final case class DropCols(names: Seq[String], ifExists: Boolean) extends AlterOp
    final case class Rename(from: String, to: String) extends AlterOp
    /** `ALTER TABLE cat.t RENAME TO t2` — a metadata-only catalog
      * rename ([[Catalog.renameTable]]: same uuid/history/location). */
    final case class RenameTo(newName: String) extends AlterOp
    /** (name, new DDL type) — widening only, per Iceberg evolution rules. */
    final case class Widen(cols: Seq[(String, String)]) extends AlterOp
    final case class SetProps(props: Map[String, String]) extends AlterOp
    final case class UnsetProps(keys: Seq[String]) extends AlterOp
    /** partition-spec evolution ([[GraftSqlParser]] extension grammar). */
    final case class AddPartField(field: PartitionField) extends AlterOp
    final case class DropPartField(field: PartitionField) extends AlterOp
    final case class ReplacePartField(from: PartitionField, to: PartitionField) extends AlterOp
    /** sort-order replacement (`WRITE ORDERED BY` / `WRITE UNORDERED`). */
    final case class WriteOrdered(order: Seq[SortField]) extends AlterOp
    /** `CREATE BRANCH/TAG [IF NOT EXISTS] ref [AS OF VERSION v]`. */
    final case class CreateRef(ref: String, isBranch: Boolean,
        ifNotExists: Boolean, asOfVersion: Option[Long]) extends AlterOp
    /** `DROP BRANCH/TAG [IF EXISTS] ref`. */
    final case class DropRef(ref: String, isBranch: Boolean,
        ifExists: Boolean) extends AlterOp
  }

  /** `ALTER TABLE cat.t ...` -> [[SchemaEvolution]] (metadata-only CAS
    * commits; Iceberg evolution rules — ids never reused, widenings
    * only, DEFAULT becomes the v3 initial-default). */
  final case class AlterCommand(catalogName: String, table: String,
      op: AlterOp) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val cat = catalogOrDie(spark, catalogName)
      refuseView(cat, catalogName, table, "ALTER TABLE")
      def res(n: String) = resolveColumn(spark, n,
        columnsOf(spark, cat, table), s"ALTER TABLE $catalogName.$table")
      op match {
        case AlterOp.AddCols(cols) => cols.foreach { case (n, ddl, dflt) =>
          SchemaEvolution.addColumn(cat, table, n, ddl, dflt)
        }
        case AlterOp.DropCols(names, ifExists) => names.foreach { n =>
          if (!ifExists || cat.loadTable(table).schemaColumns
              .exists(_.equalsIgnoreCase(n)))
            SchemaEvolution.dropColumn(cat, table, res(n))
        }
        case AlterOp.Rename(from, to) =>
          SchemaEvolution.renameColumn(cat, table, res(from), to)
        case AlterOp.RenameTo(newName) =>
          cat.renameTable(table, newName)
        case AlterOp.Widen(cols) => cols.foreach { case (n, ddl) =>
          SchemaEvolution.widenColumnType(cat, table, res(n), ddl)
        }
        case AlterOp.SetProps(props) =>
          SchemaEvolution.requireUnreservedProps(props.keys)
          SchemaEvolution.updateProperties(cat, table, props)
        case AlterOp.UnsetProps(keys) =>
          SchemaEvolution.requireUnreservedProps(keys)
          SchemaEvolution.updateProperties(cat, table, Map.empty, keys.toSet)

        case AlterOp.AddPartField(f0) =>
          val f = f0.copy(column = res(f0.column))
          val spec = cat.loadTable(table).partitionSpec
          require(!spec.exists(_.column == f.column),
            s"ALTER TABLE $catalogName.$table: ${f.column} is already a partition " +
              s"field (${spec.find(_.column == f.column).get.transform}); use " +
              "REPLACE PARTITION FIELD to change its transform")
          SchemaEvolution.updatePartitionSpec(cat, table, spec :+ f)
        case AlterOp.DropPartField(f0) =>
          val f = f0.copy(column = res(f0.column))
          val spec = cat.loadTable(table).partitionSpec
          require(spec.contains(f),
            s"ALTER TABLE $catalogName.$table: ${f.transform}(${f.column}) is not a " +
              s"partition field (spec: ${spec.map(p => s"${p.transform}(${p.column})").mkString(", ")})")
          SchemaEvolution.updatePartitionSpec(cat, table, spec.filterNot(_ == f))
        case AlterOp.ReplacePartField(from0, to0) =>
          val from = from0.copy(column = res(from0.column))
          val to = to0.copy(column = res(to0.column))
          val spec = cat.loadTable(table).partitionSpec
          require(spec.contains(from),
            s"ALTER TABLE $catalogName.$table: ${from.transform}(${from.column}) is not " +
              s"a partition field (spec: ${spec.map(p => s"${p.transform}(${p.column})").mkString(", ")})")
          // position-preserving: the field keeps its slot in the spec
          SchemaEvolution.updatePartitionSpec(cat, table,
            spec.map(p => if (p == from) to else p))

        case AlterOp.WriteOrdered(order) =>
          val resolved = order.map { s =>
            // zorder(a,b)/hilbert(a,b) multi-column fields resolve their
            // inner columns; plain fields resolve directly
            if (graft.exec.SparkExecutor.multiColsOf(s.column).isDefined) s
            else s.copy(column = res(s.column))
          }
          SchemaEvolution.updateSortOrder(cat, table, resolved)

        case AlterOp.CreateRef(ref, isBranch, ifNotExists, asOf) =>
          val meta = cat.loadTable(table)
          val exists = if (isBranch) meta.refs.contains(ref) else meta.tags.contains(ref)
          if (exists && ifNotExists) () // no-op by request
          // createBranch/createBranchAt are create-or-reset primitives; an
          // unqualified CREATE on an existing ref must refuse (Iceberg
          // errors here), not silently move the ref to main's head
          else if (exists) throw new IllegalArgumentException(
            s"${if (isBranch) "branch" else "tag"} $ref already exists in $table " +
              "(use IF NOT EXISTS to tolerate)")
          else if (isBranch) asOf match {
            case Some(v) => IceWrite.createBranchAt(cat, table, ref, v)
            case None => IceWrite.createBranch(cat, table, ref)
          } else {
            val at = asOf.orElse(meta.currentSnapshotId).getOrElse(
              throw new IllegalStateException(s"table $table has no snapshot to tag"))
            IceWrite.createTag(cat, table, ref, at)
          }
        case AlterOp.DropRef(ref, isBranch, ifExists) =>
          val meta = cat.loadTable(table)
          val exists = if (isBranch) meta.refs.contains(ref) else meta.tags.contains(ref)
          if (!exists && ifExists) () // tolerated by request
          else if (isBranch) IceWrite.dropBranch(cat, table, ref)
          else IceWrite.dropTag(cat, table, ref)
      }
      Seq.empty
    }
  }

  /** `DESCRIBE [EXTENDED] cat.t` with Spark's own describe output shape
    * (col_name, data_type, comment). EXTENDED appends partition spec,
    * sort order, format, location, snapshot, and properties. */
  final case class DescribeCommand(catalogName: String, table: String,
      isExtended: Boolean, override val output: Seq[Attribute])
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val cat = catalogOrDie(spark, catalogName)
      val meta = cat.loadTable(table)
      val cols: Seq[Row] =
        if (meta.schema.nonEmpty)
          meta.schema.map(f => Row(f.name,
            if (f.isTyped) f.dataType.toLowerCase(Locale.ROOT) else "",
            f.initialDefault.map(d => s"default: $d").orNull))
        else IceRead.table(spark, cat, table).schema.fields.toSeq
          .map(f => Row(f.name, f.dataType.simpleString, null))
      if (!isExtended) return cols
      val info = Seq(
        Row("", "", null),
        Row("# Detailed Table Information", "", null),
        Row("Name", s"$catalogName.$table", null),
        Row("Location", meta.location, null),
        Row("Provider", "graft", null),
        Row("Format version", meta.formatVersion.toString, null),
        Row("Partition spec", meta.partitionSpec.map(p =>
          if (p.isIdentity) p.column else s"${p.transform}(${p.column})")
          .mkString(", "), null),
        Row("Sort order", meta.sortOrder.map(_.toString).mkString(", "), null),
        Row("Current snapshot", meta.currentSnapshotId.fold("")(_.toString), null),
        Row("Properties", meta.properties.toSeq.sorted
          .map { case (k, v) => s"$k=$v" }.mkString(", "), null))
      cols ++ info
    }
  }

  /** `SHOW PARTITIONS cat.t [PARTITION (col=value, ...)]`: one
    * `field=value/field2=value2` line per live partition of the head —
    * Spark's output shape, field names in Iceberg's transform convention
    * (`ts_day`, `id_bucket`), values escaped like path segments.
    * Metadata-only: a driver-side distinct over the manifest's recorded
    * partition values, zero scan jobs at any table size. */
  final case class ShowPartitionsCommand(catalogName: String, table: String,
      filter: Map[String, String], override val output: Seq[Attribute])
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val cat = catalogOrDie(spark, catalogName)
      val meta = cat.loadTable(table)
      require(meta.partitionSpec.nonEmpty,
        s"SHOW PARTITIONS $catalogName.$table: table is not partitioned")
      val specCols = meta.partitionSpec.map(_.column.toLowerCase(java.util.Locale.ROOT))
      filter.keys.foreach(k => require(
        specCols.contains(k.toLowerCase(java.util.Locale.ROOT)),
        s"SHOW PARTITIONS $catalogName.$table: $k is not a partition column " +
          s"(spec: ${meta.partitionSpec.map(_.column).mkString(", ")})"))
      def norm(m: Map[String, String]) =
        m.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
      val want = norm(filter)
      val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName _
      meta.currentSnapshot.map(_.manifest).getOrElse(Nil)
        .filter(_.content == FileContent.Data)
        .map(_.partitionValues).distinct
        .filter(pv => { val n = norm(pv); want.forall { case (k, v) => n.get(k).contains(v) } })
        .map(pv => meta.partitionSpec.flatMap(p => pv.get(p.column).map(v =>
          s"${IcebergExport.partFieldName(p)}=${esc(v)}")).mkString("/"))
        .filter(_.nonEmpty).distinct.sorted
        .map(Row(_))
    }
  }

  /** `SHOW CREATE TABLE cat.t`: reconstructs runnable CREATE DDL from
    * table metadata — schema with NOT NULL, PARTITIONED BY in transform
    * syntax, TBLPROPERTIES incl. format-version. */
  final case class ShowCreateCommand(catalogName: String, table: String,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val meta = catalogOrDie(spark, catalogName).loadTable(table)
      if (Views.isView(meta))
        return Seq(Row(s"CREATE VIEW $catalogName.$table AS\n" +
          meta.properties(Views.SqlKey)))
      require(meta.isTyped,
        s"SHOW CREATE TABLE $catalogName.$table: untyped legacy table has no DDL form")
      val cols = meta.schema.map { f =>
        val nn = if (f.nullable) "" else " NOT NULL"
        val dflt = f.initialDefault.map(d => s" DEFAULT $d").getOrElse("")
        s"  ${f.name} ${f.dataType}$nn$dflt"
      }.mkString(",\n")
      def transformSql(p: PartitionField): String =
        if (p.isIdentity) p.column
        else (p.bucketN, p.truncateW) match {
          case (Some(n), _) => s"bucket($n, ${p.column})"
          case (_, Some(w)) => s"truncate($w, ${p.column})"
          case _ => s"${p.transform}s(${p.column})" // year/month/day/hour -> days() form
        }
      val part =
        if (meta.partitionSpec.isEmpty) ""
        else meta.partitionSpec.map(transformSql).mkString("\nPARTITIONED BY (", ", ", ")")
      // reserved engine state (graft.* identity/stats, ndv.sketch.*
      // provenance) stays OUT of the emitted DDL: replaying it would
      // forge the old table's identity into the new one — and the
      // CREATE door refuses reserved keys, so emitting them would make
      // this DDL non-runnable
      val props = (meta.properties.filterNot { case (k, _) =>
          k.startsWith("graft.") || k.startsWith("ndv.sketch.") } +
          ("format-version" -> meta.formatVersion.toString))
        .toSeq.sorted.map { case (k, v) => s"'$k' = '${v.replace("'", "''")}'" }
        .mkString("\nTBLPROPERTIES (\n  ", ",\n  ", ")")
      Seq(Row(s"CREATE TABLE $catalogName.$table (\n$cols)$part$props"))
    }
  }

  /** `SHOW TBLPROPERTIES cat.t [('key')]` over the metadata properties
    * map (format-version included, like DESCRIBE EXTENDED). */
  final case class ShowPropertiesCommand(catalogName: String, table: String,
      propertyKey: Option[String], override val output: Seq[Attribute])
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val meta = catalogOrDie(spark, catalogName).loadTable(table)
      val props = meta.properties + ("format-version" -> meta.formatVersion.toString)
      propertyKey match {
        case Some(k) => Seq(Row(k, props.getOrElse(k,
          s"Table ${catalogName}.$table does not have property: $k")))
        case None => props.toSeq.sorted.map { case (k, v) => Row(k, v) }
      }
    }
  }

  /** `ANALYZE TABLE cat.t COMPUTE STATISTICS [NOSCAN]` -> persisted
    * `stats.*` table properties. NOSCAN records only the row count
    * (answered from the manifest when the table is deleteless); the full
    * form runs [[graft.compaction.Maintenance.analyzeTable]]. */
  final case class AnalyzeCommand(catalogName: String, table: String,
      noScan: Boolean) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val cat = catalogOrDie(spark, catalogName)
      if (noScan) {
        val meta = cat.loadTable(table)
        val snap = meta.currentSnapshotId.getOrElse(
          throw new IllegalStateException(s"table $table has no snapshot"))
        val rows = IceRead.tableAt(spark, cat, table, snap).count()
        SchemaEvolution.updateProperties(cat, table, Map(
          "stats.rows" -> rows.toString, "stats.snapshot-id" -> snap.toString))
      } else graft.compaction.Maintenance.analyzeTable(spark, cat, table)
      Seq.empty
    }
  }

  /** `ANALYZE TABLE cat.t COMPUTE STATISTICS FOR [ALL] COLUMNS ...`. */
  final case class AnalyzeColumnsCommand(catalogName: String, table: String,
      cols: Seq[String]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val cat = catalogOrDie(spark, catalogName)
      val resolved = cols.map(c =>
        resolveColumn(spark, c, columnsOf(spark, cat, table),
          s"ANALYZE TABLE $catalogName.$table"))
      graft.compaction.Maintenance.analyzeTable(spark, cat, table, resolved)
      Seq.empty
    }
  }

  /** SQL `CALL cat.system.<proc>(...)` maintenance procedures, named
    * after Iceberg's public Spark procedures so operational runbooks
    * port: `rewrite_data_files`, `rewrite_position_delete_files`,
    * `expire_snapshots`, `remove_orphan_files`, `rollback_to_snapshot`.
    * First positional argument (or `table =>`) is always the table name;
    * remaining arguments are named. Each returns the same shape of
    * result row Iceberg's procedure of that name does. */
  final case class ProcedureCommand(catalogName: String, proc: String,
      args: Seq[(Option[String], Any)]) extends LeafRunnableCommand {

    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType}

    override val output: Seq[Attribute] = proc match {
      case "rewrite_data_files" | "rewrite_position_delete_files" => Seq(
        AttributeReference("rewritten_files_count", IntegerType)(),
        AttributeReference("added_files_count", IntegerType)(),
        AttributeReference("rewritten_bytes_count", LongType)(),
        AttributeReference("added_bytes_count", LongType)())
      case "expire_snapshots" => Seq(
        AttributeReference("expired_snapshots_count", LongType)(),
        AttributeReference("remaining_snapshots_count", LongType)())
      case "remove_orphan_files" => Seq(
        AttributeReference("orphan_file_location", StringType)())
      case "rollback_to_snapshot" | "set_current_snapshot" => Seq(
        AttributeReference("previous_snapshot_id", LongType)(),
        AttributeReference("current_snapshot_id", LongType)())
      case "cherrypick_snapshot" => Seq(
        AttributeReference("source_snapshot_id", LongType)(),
        AttributeReference("current_snapshot_id", LongType)())
      case "fast_forward" => Seq(
        AttributeReference("branch_updated", StringType)(),
        AttributeReference("previous_ref", LongType)(),
        AttributeReference("updated_ref", LongType)())
      case "attach_iceberg" | "attach_iceberg_rest" => Seq(
        AttributeReference("table_name", StringType)(),
        AttributeReference("snapshot_id", LongType)(),
        AttributeReference("data_files", LongType)())
      case "attach_iceberg_view" | "attach_iceberg_rest_view" => Seq(
        AttributeReference("view_name", StringType)(),
        AttributeReference("current_version_id", LongType)(),
        AttributeReference("versions", LongType)())
      case "refresh_iceberg_rest" => Seq(
        AttributeReference("table_name", StringType)(),
        AttributeReference("refreshed", BooleanType)(),
        AttributeReference("snapshot_id", LongType)(),
        AttributeReference("added_snapshots", LongType)())
      case "create_changelog_view" => Seq(
        AttributeReference("changelog_view", StringType)())
      case other => throw new IllegalArgumentException(
        s"unknown procedure $catalogName.system.$other (supported: " +
          "rewrite_data_files, rewrite_position_delete_files, expire_snapshots, " +
          "remove_orphan_files, rollback_to_snapshot, cherrypick_snapshot, " +
          "set_current_snapshot, fast_forward, attach_iceberg, attach_iceberg_rest, " +
          "attach_iceberg_view, attach_iceberg_rest_view, refresh_iceberg_rest, " +
          "create_changelog_view)")
    }

    private def named(name: String): Option[Any] =
      args.collectFirst { case (Some(`name`), v) => v }
    private def tableArg: String =
      named("table").orElse(args.collectFirst { case (None, v) => v })
        .map(_.toString).getOrElse(throw new IllegalArgumentException(
          s"$proc: pass the table name as the first argument or table => '...'"))
    private def longArg(name: String): Option[Long] =
      named(name).map {
        case n: Number => n.longValue()
        case other => throw new IllegalArgumentException(s"$name must be numeric, got $other")
      }

    override def run(spark: SparkSession): Seq[Row] = {
      val cat = catalogOrDie(spark, catalogName)
      val table = tableArg
      proc match {
        case "rewrite_data_files" =>
          val compaction = new graft.compaction.Compaction(cat, table, spark,
            targetFileSizeBytes = longArg("target_file_size_bytes")
              .getOrElse(graft.selection.Defaults.TargetFileSize))
          val res = compaction.compact()
          val in = res.stats.map(_.inputFiles).sum
          val inB = res.stats.map(_.inputBytes).sum
          val outB = res.stats.map(_.outputBytes).sum
          Seq(Row(in, res.addedFiles.length, inB, outB))
        case "rewrite_position_delete_files" =>
          def posDeletes(m: TableMetadata) = m.currentSnapshot.toSeq
            .flatMap(_.manifest).filter(f =>
              f.content == FileContent.PositionDeletes && !f.isDeletionVector)
          val before = posDeletes(cat.loadTable(table))
          val after = posDeletes(
            graft.compaction.Maintenance.rewritePositionDeletes(spark, cat, table))
          val rewritten = before.map(_.path).toSet -- after.map(_.path).toSet
          val added = after.map(_.path).toSet -- before.map(_.path).toSet
          Seq(Row(rewritten.size, added.size,
            before.filter(f => rewritten(f.path)).map(_.length).sum,
            after.filter(f => added(f.path)).map(_.length).sum))
        case "expire_snapshots" =>
          val before = cat.loadTable(table).snapshots.length
          val afterMeta = (longArg("older_than"), longArg("retain_last")) match {
            case (Some(ts), retain) => graft.compaction.Maintenance
              .expireSnapshotsOlderThan(cat, table, ts, retain.map(_.toInt).getOrElse(1))
            case (None, Some(keep)) => graft.compaction.Maintenance
              .expireSnapshots(cat, table, keep.toInt)
            case (None, None) => throw new IllegalArgumentException(
              "expire_snapshots: pass older_than => <epoch-ms> and/or retain_last => <n>")
          }
          Seq(Row((before - afterMeta.snapshots.length).toLong,
            afterMeta.snapshots.length.toLong))
        case "remove_orphan_files" =>
          val grace = longArg("older_than")
            .getOrElse(graft.compaction.Maintenance.DefaultOrphanGraceMs)
          val orphans = graft.compaction.Maintenance.orphanFiles(cat, table, grace)
          graft.compaction.Maintenance.deleteOrphans(cat, table, orphans, grace)
          orphans.sorted.map(Row(_))
        case "rollback_to_snapshot" =>
          val snapshotId = positionalLong("snapshot_id")
          val prev = cat.loadTable(table).currentSnapshotId.getOrElse(-1L)
          val after = IceWrite.rollbackTo(cat, table, snapshotId)
          Seq(Row(prev, after.currentSnapshotId.getOrElse(-1L)))

        // ---- write-audit-publish procedures (Iceberg's names, so WAP
        // runbooks port): stage with spark.wap.id (or on a branch), audit
        // the unpublished state, publish with one of these ----
        case "cherrypick_snapshot" =>
          val snapshotId = positionalLong("snapshot_id")
          val after = IceWrite.cherrypickSnapshot(cat, table, snapshotId)
          Seq(Row(snapshotId, after.currentSnapshotId.getOrElse(-1L)))

        case "set_current_snapshot" =>
          val snapshotId = positionalLong("snapshot_id")
          val (prev, cur) = IceWrite.setCurrentSnapshot(cat, table, snapshotId)
          Seq(Row(prev.getOrElse(-1L), cur))

        case "fast_forward" =>
          val pos = args.collect { case (None, v) => v }.drop(1).map(_.toString)
          val branch = named("branch").map(_.toString)
            .orElse(pos.headOption).getOrElse(throw new IllegalArgumentException(
              "fast_forward: pass (table, branch, to)"))
          val to = named("to").map(_.toString)
            .orElse(pos.drop(1).headOption).getOrElse(throw new IllegalArgumentException(
              "fast_forward: pass (table, branch, to)"))
          val (prev, head) = IceWrite.fastForward(cat, table, branch, to)
          Seq(Row(branch, prev.getOrElse(-1L), head))

        // ---- onboarding procedures: register FOREIGN Iceberg tables
        // (metadata-only; data stays in place) ----
        case "attach_iceberg" => // (table, metadata_json_path)
          val path = named("metadata_location").map(_.toString)
            .orElse(args.collect { case (None, v) => v }.drop(1).headOption.map(_.toString))
            .getOrElse(throw new IllegalArgumentException(
              "attach_iceberg: pass (table, metadata_json_path)"))
          val m = IcebergImport.importIcebergMetadata(cat, table, path)
          Seq(Row(table, m.currentSnapshotId.getOrElse(-1L),
            m.currentSnapshot.map(_.manifest.count(_.content == FileContent.Data).toLong)
              .getOrElse(0L)))
        case "attach_iceberg_rest" => // (table, uri, namespace, source_table)
          val pos = args.collect { case (None, v) => v }.drop(1).map(_.toString)
          def argOf(n: String, i: Int) = named(n).map(_.toString)
            .orElse(pos.drop(i).headOption).getOrElse(throw new IllegalArgumentException(
              "attach_iceberg_rest: pass (table, uri, namespace, source_table " +
                "[, token => '...'])"))
          val m = IcebergRestImport.importTable(cat, table,
            uri = argOf("uri", 0),
            namespace = argOf("namespace", 1).split('.').toSeq,
            table = argOf("source_table", 2),
            authToken = named("token").map(_.toString))
          Seq(Row(table, m.currentSnapshotId.getOrElse(-1L),
            m.currentSnapshot.map(_.manifest.count(_.content == FileContent.Data).toLong)
              .getOrElse(0L)))
        case "attach_iceberg_view" => // (view, view_metadata_json_path)
          val path = named("metadata_location").map(_.toString)
            .orElse(args.collect { case (None, v) => v }.drop(1).headOption.map(_.toString))
            .getOrElse(throw new IllegalArgumentException(
              "attach_iceberg_view: pass (view, view_metadata_json_path)"))
          val m = IcebergImport.importIcebergViewMetadata(cat, table, path)
          Seq(Row(table, m.properties(Views.CurrentVersionKey).toLong,
            Views.versions(m).size.toLong))
        case "attach_iceberg_rest_view" => // (view, uri, namespace, source_view)
          val pos = args.collect { case (None, v) => v }.drop(1).map(_.toString)
          def argOf(n: String, i: Int) = named(n).map(_.toString)
            .orElse(pos.drop(i).headOption).getOrElse(throw new IllegalArgumentException(
              "attach_iceberg_rest_view: pass (view, uri, namespace, source_view " +
                "[, token => '...'])"))
          val m = IcebergRestImport.importView(cat, table,
            uri = argOf("uri", 0),
            namespace = argOf("namespace", 1).split('.').toSeq,
            view = argOf("source_view", 2),
            authToken = named("token").map(_.toString))
          Seq(Row(table, m.properties(Views.CurrentVersionKey).toLong,
            Views.versions(m).size.toLong))
        case "refresh_iceberg_rest" => // (table [, token => '...'])
          // re-sync a REST-attached table with its source (provenance in
          // attach.* properties); a fresh source is a no-op probe
          val r = IcebergRestImport.refreshTable(cat, table,
            authToken = named("token").map(_.toString))
          Seq(Row(table, r.refreshed, r.snapshotId.getOrElse(-1L),
            r.addedSnapshots.toLong))

        // Iceberg's create_changelog_view: registers the changelog of
        // (start-snapshot, current] as a queryable temp view — SQL-only
        // CDC consumption (Changelog.changesBetween does the work;
        // compaction frames emit nothing, as ever)
        case "create_changelog_view" =>
          val meta = cat.loadTable(table)
          val endId = meta.currentSnapshotId.getOrElse(
            throw new IllegalStateException(s"table $table has no snapshot"))
          val startId = longArg("start_snapshot_id").getOrElse(0L)
          val viewName = named("changelog_view").map(_.toString)
            .getOrElse(s"${table}_changes")
          // the changelog frame may be built on a field-id-scoped session
          // CLONE; re-bind its analyzed plan to the CALLING session or the
          // temp view registers in the clone's catalog and vanishes
          val changes = Changelog.changesBetween(spark, cat, table, startId, endId)
          ColumnBridge.ofRows(spark, changes.queryExecution.analyzed)
            .createOrReplaceTempView(viewName)
          Seq(Row(viewName))
      }
    }

    /** snapshot-id argument: named `snapshot_id =>` or second positional. */
    private def positionalLong(name: String): Long =
      longArg(name)
        .orElse(args.collect { case (None, v) => v }.drop(1).headOption.map {
          case n: Number => n.longValue()
          case other => throw new IllegalArgumentException(
            s"$name must be numeric, got $other")
        })
        .getOrElse(throw new IllegalArgumentException(s"$proc: pass $name"))
  }

  /** Spark's `SHOW ... LIKE` pattern semantics (StringUtils
    * .filterPattern): `|`-separated alternatives, `*` the only wildcard,
    * every OTHER character matching literally — so a pattern containing
    * regex metacharacters (`(`, `+`, ...) matches names that contain
    * them instead of throwing PatternSyntaxException. Case-insensitive. */
  private[meta] def showLikePattern(p: String): java.util.regex.Pattern = {
    val rx = p.trim.split("\\|", -1).map { alt =>
      alt.split("\\*", -1).map(seg =>
        if (seg.isEmpty) "" else java.util.regex.Pattern.quote(seg)).mkString(".*")
    }.mkString("|")
    java.util.regex.Pattern.compile(rx, java.util.regex.Pattern.CASE_INSENSITIVE)
  }

  /** `SHOW TABLES IN cat [LIKE 'pat']` -> `Catalog.listTables`, emitted
    * with Spark's own SHOW TABLES output schema. */
  final case class ShowTablesCommand(catalogName: String,
      pattern: Option[String], override val output: Seq[Attribute])
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val cat = catalogOrDie(spark, catalogName)
      val re = pattern.map(showLikePattern)
      cat.listTables.sorted
        .filter(t => re.forall(_.matcher(t).matches()))
        .map(t => Row(catalogName, t, false))
    }
  }

  /** `SHOW VIEWS IN cat [LIKE 'pat']` -> the view-marked catalog entries
    * ([[Views.isView]]), with Spark's SHOW VIEWS output schema. */
  final case class ShowViewsCommand(catalogName: String,
      pattern: Option[String], override val output: Seq[Attribute])
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val cat = catalogOrDie(spark, catalogName)
      val re = pattern.map(showLikePattern)
      cat.listTables.sorted
        .filter(v => Views.isView(cat.loadTable(v)))
        .filter(v => re.forall(_.matcher(v).matches()))
        .map(v => Row(catalogName, v, false))
    }
  }
}
