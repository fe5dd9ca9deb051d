package graft.exec

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.meta.FileEntry

/** Manifest-backed [[FileIndex]]: the seam through which Catalyst's pushed
  * data filters reach MANIFEST-level file skipping.
  *
  * Spark's `FileSourceScanExec` hands every pushed-down predicate to
  * `location.listFiles(partitionFilters, dataFilters)` at plan time — the
  * same hook Delta Lake's TahoeFileIndex and Iceberg's DSv2 scan use.
  * Backing the engine's parquet relations with this index (instead of
  * `spark.read.parquet(paths)`, whose InMemoryFileIndex keeps every file)
  * makes ANY filter — SQL front door, Scala API, filters composed inside
  * MOR/COW/changelog plans — prune files before a single task is launched,
  * using metadata the manifest already carries:
  *
  *  - zone maps ([[FileEntry.columnStats]] min/max): numeric columns in
  *    footer encoding (ints/longs/floats/doubles literal, DATE days,
  *    TIMESTAMP micros, int-backed DECIMAL unscaled) and STRING columns
  *    as bound strings in parquet's unsigned-byte order (comparisons,
  *    In, and LIKE-prefix/StartsWith prune on them);
  *  - per-column null counts ([[FileEntry.nullCounts]]) for
  *    IsNull/IsNotNull;
  *  - identity-partition constants: for a file written under an identity
  *    transform, the partition value IS the column value for every row, so
  *    any deterministic conjunct referencing only such columns is
  *    evaluated EXACTLY.
  *
  * Everything is conservative: a file is dropped only when NO row in it
  * can satisfy the filters; unparsable/missing stats keep the file. The
  * filter still runs post-scan, so pruning mistakes in the "keep"
  * direction cost nothing but I/O. At 100 TB this is the difference
  * between opening 10^6 parquet footers and opening the few hundred whose
  * zone ranges overlap the predicate.
  *
  * Reference context: the reference engine always enumerates the full
  * task list per file group (core/src/compaction/mod.rs:734-761) — scan
  * pruning is left to its embedded DataFusion per-file row-group stats.
  * This index adds the manifest layer above it, per the Iceberg spec's
  * intent for manifest `lower_bounds`/`upper_bounds`.
  */
final class GraftFileIndex(
    entries: Seq[FileEntry],
    schema: StructType,
    /** the table's CURRENT partition spec: identity fields give exact
      * per-file constants, bucket fields prune equality predicates via
      * the transform, both only for `specId == 0` files (historical/
      * imported specs may bind other transforms to the same name). */
    spec: Seq[graft.meta.PartitionField] = Nil,
    /** PARTITION-SCHEMA mode ([[GraftScan.partitionGroups]]): identity
      * partition columns served as real Spark partition columns — values
      * decoded once from the manifest, files grouped per tuple. Spark then
      * does its own static partition pruning, runs DYNAMIC partition
      * pruning on joins against these columns, and never reads their
      * bytes from parquet. None = flat mode (all columns in dataSchema). */
    partitioned: Option[(Seq[StructField], Seq[(InternalRow, Seq[FileEntry])])] = None,
    /** column names whose manifest statistics are RETIRED (renamed-away /
      * dropped names that a later addColumn may reuse for a different
      * field — [[graft.meta.TableMetadata.statsRetiredNames]]): zone maps,
      * null counts, and metadata aggregates must not consult them. */
    statsRetired: Set[String] = Set.empty,
    /** false = aggregates over this scan must never be answered from
      * manifest statistics ([[MetadataOnlyCount]] skips it). Validation
      * counts set this: comparing manifest recordCounts against output
      * counts would make the rows-preserved invariant circular. */
    val metadataAggregates: Boolean = true
) extends FileIndex {

  /** last listFiles outcome, for specs/plan audits: (total, kept). */
  @volatile var lastPrune: (Int, Int) = (entries.size, entries.size)

  private val identityCols: Set[String] = spec.filter(_.isIdentity).map(_.column).toSet
  // bucket (equality-only) AND truncate (order-preserving, range-capable)
  // transform fields — both prune through the same mayMatch seam
  private val bucketFields: Seq[graft.meta.PartitionField] =
    spec.filter(p => p.isBucket || p.isTruncate)

  /** Manifest row count of the indexed files (footer record counts
    * collected at write) — the metadata-only `count(*)` answer for a
    * deleteless scan. */
  def totalRecords: Long = totalRecordsOf(entries)

  /** [[totalRecords]] over a subset (one partition group). */
  def totalRecordsOf(es: Seq[FileEntry]): Long = es.map(_.recordCount).sum

  /** Metadata-only `count(col)`: record count minus null count, answerable
    * only when EVERY file states the column's null count. */
  def countNonNull(col: String): Option[Long] = countNonNullOf(entries, col)

  def countNonNullOf(es: Seq[FileEntry], col: String): Option[Long] = {
    if (statsRetired.contains(col)) return None
    val per = es.map(e => e.nullCounts.get(col).map(n => e.recordCount - n))
    if (per.forall(_.isDefined)) Some(per.flatten.sum) else None
  }

  /** Entries grouped by their EXACT identity-partition tuple for `cols` —
    * the seam for partition-grouped metadata aggregates ("rows per day").
    * Answerable only when every column is an identity field of the
    * CURRENT spec with a directory-exact type, no name is retired, and
    * every file is current-spec with every value present (a marked file's
    * values may belong to another spec's domain). Keys are INTERNAL
    * values ([[ZonePrune.constLit]] decode). None = not answerable. */
  def identityGroups(cols: Seq[String],
      dts: Seq[org.apache.spark.sql.types.DataType],
      zone: String): Option[Seq[(Seq[Any], Seq[FileEntry])]] = {
    if (cols.isEmpty || cols.length != dts.length) return None
    if (!cols.forall(identityCols.contains)) return None
    if (!dts.forall(ZonePrune.dirExactType)) return None
    if (cols.exists(statsRetired.contains)) return None
    if (!entries.forall(e => e.specId == 0 && cols.forall(e.partitionValues.contains)))
      return None
    val decoded = entries.map { e =>
      val key = cols.zip(dts).map { case (c, dt) =>
        ZonePrune.constLit(e.partitionValues(c), dt, zone) match {
          case Some(l) => l.value
          case None => return None
        }
      }
      (key, e)
    }
    Some(decoded.groupBy(_._1).toSeq.map { case (k, es) => (k, es.map(_._2)) })
  }

  /** Metadata-only `min/max(col)` folded from per-file zone maps, as the
    * column's INTERNAL value (or null when every row is null). None = not
    * answerable: a file lacking stats without being provably all-null, an
    * unparsable bound, or a type whose footer encoding does not
    * reconstruct exactly (floats: NaN poisons footer ordering). */
  def boundOf(col: String, dt: org.apache.spark.sql.types.DataType,
      isMin: Boolean): Option[Any] = boundOfEntries(entries, col, dt, isMin)

  def boundOfEntries(es: Seq[FileEntry], col: String,
      dt: org.apache.spark.sql.types.DataType, isMin: Boolean): Option[Any] = {
    if (statsRetired.contains(col)) return None
    import org.apache.spark.sql.types._
    val reconstruct: BigDecimal => Option[Any] = dt match {
      case ByteType => v => Some(v.toByteExact)
      case ShortType => v => Some(v.toShortExact)
      case IntegerType | DateType => v => Some(v.toIntExact)
      case LongType | TimestampType | TimestampNTZType => v => Some(v.toLongExact)
      case d: DecimalType if d.precision <= 18 =>
        // footer stats hold the UNSCALED value
        v => v.toBigIntExact.map(bi => Decimal(BigDecimal(bi, d.scale), d.precision, d.scale))
      case _ => _ => None
    }
    val per: Seq[Option[Option[BigDecimal]]] = es.map { e =>
      e.columnStats.get(col) match {
        case Some((mn, mx)) =>
          try Some(Some(BigDecimal(if (isMin) mn else mx)))
          catch { case _: NumberFormatException => None }
        case None =>
          // no zone map: fine only if the file provably holds no values
          if (e.recordCount == 0L || e.nullCounts.get(col).contains(e.recordCount))
            Some(None)
          else None
      }
    }
    if (per.exists(_.isEmpty)) return None
    val values = per.flatten.flatten
    if (values.isEmpty) Some(null) // min/max over all-null column is null
    else {
      val bound = if (isMin) values.min else values.max
      // toXxxExact throw on any non-exact reconstruction: not answerable
      try reconstruct(bound) catch { case _: ArithmeticException => None }
    }
  }

  /** true when identity partition columns are served as Spark partition
    * columns (DPP-capable). */
  def partitionMode: Boolean = partitioned.isDefined

  override def rootPaths: Seq[Path] =
    entries.map(e => new Path(e.path).getParent).distinct

  override def partitionSchema: StructType =
    StructType(partitioned.map(_._1).getOrElse(Nil))

  override def sizeInBytes: Long = entries.map(_.length).sum

  override def inputFiles: Array[String] = entries.map(_.path).toArray

  override def refresh(): Unit = ()

  private def status(e: FileEntry): FileStatus =
    new FileStatus(e.length, false, 1, 128L * 1024 * 1024, 0L, new Path(e.path))

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val zone = SQLConf.get.sessionLocalTimeZone
    def zoneKept(es: Seq[FileEntry], filters: Seq[Expression]): Seq[FileEntry] =
      if (filters.isEmpty) es
      else es.filter(e => filters.forall(f => ZonePrune.mayMatch(f, e, schema, identityCols, zone, bucketFields, statsRetired)))
    val dirs = partitioned match {
      case None =>
        // flat mode: every filter (Spark saw no partition columns, so all
        // arrive as dataFilters) checks zone maps + identity constants
        val kept = zoneKept(entries, partitionFilters ++ dataFilters)
        Seq(PartitionDirectory(InternalRow.empty, kept.map(status).toArray))
      case Some((pFields, groups)) =>
        // partition filters evaluate EXACTLY against the decoded tuples
        // (the standard FileIndex contract — same as InMemoryFileIndex)
        val keptGroups =
          if (partitionFilters.isEmpty) groups
          else {
            val bound = partitionFilters.reduce(And).transform {
              case a: AttributeReference =>
                val i = pFields.indexWhere(_.name == a.name)
                if (i >= 0) BoundReference(i, pFields(i).dataType, nullable = true) else a
            }
            groups.filter { case (row, _) =>
              // eval errors / unbound refs keep the partition (conservative)
              try bound.eval(row) == true catch { case _: Exception => true }
            }
          }
        keptGroups.map { case (row, es) =>
          PartitionDirectory(row, zoneKept(es, dataFilters).map(status).toArray)
        }.filter(_.files.nonEmpty)
    }
    lastPrune = (entries.size, dirs.map(_.files.size).sum)
    dirs
  }
}

object GraftScan {
  /** Parquet relation over manifest entries with [[GraftFileIndex]] file
    * skipping. Drop-in for `spark.read.schema(schema).parquet(paths)` —
    * same vectorized parquet source — but the file listing consults zone
    * maps instead of keeping everything. `byFieldId` resolves columns by
    * parquet field id instead of name.
    *
    * The frame belongs to `spark`. The parquet source reads its settings
    * (field-id resolution, filter pushdown) from the conf of the
    * relation's own session at scan planning; per-read options are
    * ignored for them. So when a setting must differ from `spark`'s, only
    * the relation gets a clone of `spark` that carries it: `spark` is
    * never mutated, and the frame is analyzed and planned by `spark`
    * itself, whose Catalyst state is already warm (a fresh session's
    * first query costs tens of milliseconds more). */
  def relation(spark: SparkSession, files: Seq[FileEntry], schema: StructType,
      spec: Seq[graft.meta.PartitionField] = Nil,
      statsRetired: Set[String] = Set.empty,
      metadataAggregates: Boolean = true,
      byFieldId: Boolean = false): DataFrame = {
    // file-source schemas are ALWAYS nullable (DataFrameReader.schema does
    // the same): a parquet file may hold nulls regardless of what the
    // table schema declares, and a non-nullable read schema makes the
    // vectorized reader fabricate zeros and lets the optimizer fold
    // isnotnull(c) to true
    val readSchema = asNullable(schema)
    // parquet's row-group/page filter pushdown matches columns BY NAME
    // while projection matches BY FIELD ID: when a retired name is REUSED
    // by the current schema, a pushed predicate would evaluate against
    // the OLD physical column of historical files and silently drop row
    // groups whose projected (new-field) values match. Disable pushdown
    // for such relations — the Filter node above the scan still applies
    // exactly; only row-group skipping inside those files is lost.
    val scanConf: Map[String, String] =
      (if (byFieldId) FieldIdRead else Map.empty[String, String]) ++
      (if (statsRetired.intersect(schema.fieldNames.toSet).isEmpty) Map.empty[String, String]
       else Map("spark.sql.parquet.filterPushdown" -> "false"))
    val session = sessionWith(spark, scanConf)
    val zone = session.sessionState.conf.sessionLocalTimeZone
    val identityCols = spec.filter(_.isIdentity).map(_.column).toSet
    val (idx, partSchema, dataSchema) = partitionGroups(files, readSchema, identityCols, zone) match {
      case Some((pFields, groups)) =>
        // partition-schema mode: identity partition columns become real
        // Spark partition columns (values from the manifest, appended by
        // the scan, never read from parquet) -> Spark-native static
        // pruning AND dynamic partition pruning on joins
        val ds = StructType(readSchema.fields.filterNot(f => pFields.exists(_.name == f.name)))
        (new GraftFileIndex(files, readSchema, spec, Some((pFields, groups)), statsRetired,
          metadataAggregates), StructType(pFields), ds)
      case None =>
        (new GraftFileIndex(files, readSchema, spec, None, statsRetired, metadataAggregates),
          new StructType(), readSchema)
    }
    val rel = HadoopFsRelation(idx, partSchema, dataSchema, None,
      new ParquetFileFormat(), Map.empty)(session)
    // NOTE in partition mode the relation's column ORDER differs (Spark
    // appends partition columns last); every consumer goes through
    // readDataWith and projects by NAME, and cross-branch unions are
    // unionByName — no positional access exists on the raw relation
    org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(spark, LogicalRelation(rel))
  }

  /** Partition-column types whose directory-string round trip is exact —
    * the gate for serving a column from manifest values instead of
    * parquet bytes, AND for const-evaluating predicates over identity
    * partition values ([[ZonePrune.dirExactType]]). Floats/doubles
    * (formatting) and timestamps (zone rendering) stay in the data path. */
  private def safePartitionType(dt: org.apache.spark.sql.types.DataType): Boolean =
    ZonePrune.dirExactType(dt)

  /** The partition-schema mode plan: Some((fields, groups)) when EVERY
    * identity partition column has a safe type and EVERY file is
    * current-spec with a decodable value for each — else None (flat mode,
    * zone maps + const-eval still prune). Values decode ONCE per distinct
    * tuple. */
  private[exec] def partitionGroups(files: Seq[FileEntry], schema: StructType,
      identityCols: Set[String], zone: String
  ): Option[(Seq[StructField], Seq[(InternalRow, Seq[FileEntry])])] = {
    if (identityCols.isEmpty || files.isEmpty) return None
    val fields = schema.fields.filter(f => identityCols.contains(f.name)).toSeq
    if (fields.size != identityCols.size) return None // identity col absent from schema
    if (!fields.forall(f => safePartitionType(f.dataType))) return None
    if (!files.forall(e => e.specId == 0 && fields.forall(f => e.partitionValues.contains(f.name))))
      return None
    val grouped = files.groupBy(e => fields.map(f => e.partitionValues(f.name))).toSeq
      .sortBy(_._1.mkString("\u0000")) // deterministic listing order
    val rows = grouped.map { case (strs, es) =>
      val vals = strs.zip(fields).map { case (s, f) =>
        ZonePrune.constLit(s, f.dataType, zone).map(_.value)
      }
      if (vals.exists(_.isEmpty)) return None // undecodable value: flat mode
      (InternalRow.fromSeq(vals.map(_.get)), es)
    }
    // partition columns are appended by the scan, so mark them nullable
    // like any file-source column (values themselves are never null here)
    Some((fields.map(_.copy(nullable = true)), rows))
  }

  /** `spark` itself when `conf` is empty, else a clone of it that carries
    * `conf`: `spark` is never mutated. */
  private[exec] def sessionWith(spark: SparkSession, conf: Map[String, String]): SparkSession =
    if (conf.isEmpty) spark
    else {
      val s2 = org.apache.spark.sql.graftbridge.ColumnBridge.cloneSession(spark)
      conf.foreach { case (k, v) => s2.conf.set(k, v) }
      s2
    }

  /** The setting that makes a parquet scan resolve columns by field id. */
  private[exec] val FieldIdRead: Map[String, String] = Map("spark.sql.parquet.fieldId.read.enabled" -> "true")

  /** Recursively nullable copy (StructType.asNullable is private[spark]);
    * field metadata — parquet field ids, defaults — is preserved. */
  private[exec] def asNullable(st: StructType): StructType =
    StructType(st.fields.map(f => f.copy(dataType = nullableType(f.dataType), nullable = true)))
  private def nullableType(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
    dt match {
      case s: StructType => asNullable(s)
      case a: ArrayType => a.copy(elementType = nullableType(a.elementType), containsNull = true)
      case m: MapType => m.copy(valueType = nullableType(m.valueType), valueContainsNull = true)
      case other => other
    }

  /** (files listed, files kept) summed over every [[GraftFileIndex]] scan
    * in the frame's EXECUTED plan — observability for file skipping (plan
    * audits, specs, in-query pruning proofs). Call after an action; AQE
    * stage wrappers are traversed. */
  def pruneStats(df: DataFrame): (Int, Int) = {
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[GraftFileIndex] =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.relation.location.isInstanceOf[GraftFileIndex] =>
          Seq(s.relation.location.asInstanceOf[GraftFileIndex])
      }.flatten ++ p.subqueries.flatMap(scans)
    val idx = scans(df.queryExecution.executedPlan).distinct
    (idx.map(_.lastPrune._1).sum, idx.map(_.lastPrune._2).sum)
  }
}

/** Metadata-only aggregates: a global ungrouped COUNT / MIN / MAX over a
  * deleteless graft scan is already recorded in the manifest — answer it
  * there instead of launching a scan job (Iceberg/Delta answer snapshot
  * counts the same way; min/max additionally fold the per-file zone
  * maps). At 10^6 files the scan alternative opens a million footers to
  * re-derive numbers the manifest holds.
  *
  * Safety comes from the plan SHAPE plus per-column stats checks:
  *  - the rewrite fires only when the aggregate sits over
  *    cardinality-preserving nodes (Project with alias-only or pass-through
  *    columns is guaranteed by matching attributes back to the relation;
  *    recursion covers SubqueryAlias and Union) directly on
  *    [[GraftFileIndex]] relations. Any delete application (anti joins,
  *    DV filters), row filter, limit, or sample is a different node and
  *    blocks the match — MOR tables with live deletes always scan;
  *  - `count(*)` needs only record counts; `count(col)` needs a null
  *    count on EVERY file; `min/max(col)` need a zone map on every file
  *    that is not provably all-null, and only for types whose footer
  *    encoding reconstructs exactly (int family, date, timestamp,
  *    short decimal — floats excluded: NaN poisons footer ordering).
  * Injected via [[graft.functions.GraftExtensions]]. */
object MetadataOnlyCount extends org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical._
  import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min}
  import org.apache.spark.sql.execution.datasources.LogicalRelationWithTable

  /** Leaf scans under cardinality-preserving nodes; None = shape not safe.
    * Attribute lineage: Project may rename via Alias(attr), so column
    * answers resolve through the projection by exprId when needed — here
    * we only allow aggregates over attributes that map straight to
    * relation output NAMES (Project(attr or Alias(attr)) chains). */
  private def leafIndexes(p: LogicalPlan): Option[Seq[GraftFileIndex]] = p match {
    case Project(exprs, child) if exprs.forall {
      case _: AttributeReference => true
      case Alias(_: AttributeReference, _) => true
      case _ => false
    } => leafIndexes(child)
    // a Project computing new expressions still preserves cardinality, so
    // count(*) stays answerable; column aggs bail via resolveColumn below
    case Project(_, child) => leafIndexes(child)
    case SubqueryAlias(_, child) => leafIndexes(child)
    case u: Union if u.children.nonEmpty =>
      u.children.foldLeft(Option(Seq.empty[GraftFileIndex])) {
        case (acc, c) => for { xs <- acc; ys <- leafIndexes(c) } yield xs ++ ys
      }
    case LogicalRelationWithTable(rel: HadoopFsRelation, _) => rel.location match {
      case idx: GraftFileIndex if idx.metadataAggregates => Some(Seq(idx))
      case _ => None
    }
    case _ => None
  }

  /** The relation-level column NAME an aggregated attribute denotes, or
    * None when any projection in between computes/renames it (renames are
    * resolvable in principle; conservative is fine here). */
  private def passesThrough(p: LogicalPlan, a: AttributeReference): Boolean = p match {
    case Project(exprs, child) => exprs.exists {
      case ar: AttributeReference => ar.exprId == a.exprId && ar.name == a.name
      case _ => false
    } && passesThrough(child, a)
    case SubqueryAlias(_, child) => passesThrough(child, a)
    case u: Union => // union output attrs are positional merges: bail on column aggs
      false
    case LogicalRelationWithTable(_, _) => p.output.exists(o => o.exprId == a.exprId)
    case _ => false
  }

  private sealed trait Answer
  private case class Const(v: Any) extends Answer
  private case object NotAnswerable extends Answer

  private def answer(e: Expression, child: LogicalPlan,
      idxs: Seq[GraftFileIndex]): Answer = e match {
    case Alias(inner, _) => answer(inner, child, idxs)
    case AggregateExpression(Count(Seq(Literal(v, _))), Complete, false, None, _) if v != null =>
      Const(idxs.map(_.totalRecords).sum)
    case AggregateExpression(Count(Seq(a: AttributeReference)), Complete, false, None, _)
        if passesThrough(child, a) =>
      idxs.head.countNonNull(a.name) match { // single relation (Union bails above)
        case Some(n) => Const(n)
        case None => NotAnswerable
      }
    case AggregateExpression(Min(a: AttributeReference), Complete, false, None, _)
        if passesThrough(child, a) =>
      idxs.head.boundOf(a.name, a.dataType, isMin = true)
        .map(Const(_)).getOrElse(NotAnswerable)
    case AggregateExpression(Max(a: AttributeReference), Complete, false, None, _)
        if passesThrough(child, a) =>
      idxs.head.boundOf(a.name, a.dataType, isMin = false)
        .map(Const(_)).getOrElse(NotAnswerable)
    case _ => NotAnswerable
  }

  /** Per-group answer: grouping attributes answer with the group key;
    * count(*)/count(col)/min/max fold over the group's entries. Min/max
    * and count of a GROUPING column short-circuit to the key (every row
    * of the group holds exactly that non-null value — identity partition
    * values are never null by write-path contract). */
  private def answerGrouped(e: Expression, child: LogicalPlan,
      idx: GraftFileIndex, es: Seq[FileEntry],
      keyOf: Map[org.apache.spark.sql.catalyst.expressions.ExprId, Any]): Answer = e match {
    case Alias(inner, _) => answerGrouped(inner, child, idx, es, keyOf)
    case a: AttributeReference if keyOf.contains(a.exprId) => Const(keyOf(a.exprId))
    case AggregateExpression(Count(Seq(Literal(v, _))), Complete, false, None, _) if v != null =>
      Const(idx.totalRecordsOf(es))
    case AggregateExpression(Count(Seq(a: AttributeReference)), Complete, false, None, _)
        if keyOf.contains(a.exprId) =>
      Const(idx.totalRecordsOf(es))
    case AggregateExpression(Count(Seq(a: AttributeReference)), Complete, false, None, _)
        if passesThrough(child, a) =>
      idx.countNonNullOf(es, a.name).map(Const(_)).getOrElse(NotAnswerable)
    case AggregateExpression(Min(a: AttributeReference), Complete, false, None, _)
        if keyOf.contains(a.exprId) =>
      Const(keyOf(a.exprId))
    case AggregateExpression(Max(a: AttributeReference), Complete, false, None, _)
        if keyOf.contains(a.exprId) =>
      Const(keyOf(a.exprId))
    case AggregateExpression(Min(a: AttributeReference), Complete, false, None, _)
        if passesThrough(child, a) =>
      idx.boundOfEntries(es, a.name, a.dataType, isMin = true)
        .map(Const(_)).getOrElse(NotAnswerable)
    case AggregateExpression(Max(a: AttributeReference), Complete, false, None, _)
        if passesThrough(child, a) =>
      idx.boundOfEntries(es, a.name, a.dataType, isMin = false)
        .map(Const(_)).getOrElse(NotAnswerable)
    case _ => NotAnswerable
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case a @ Aggregate(Nil, aggExprs, child, _) if aggExprs.nonEmpty =>
      leafIndexes(child) match {
        case Some(idxs) if idxs.nonEmpty =>
          val answers = aggExprs.map(e => answer(e, child, idxs))
          if (answers.forall(_.isInstanceOf[Const]))
            LocalRelation(a.output,
              Seq(InternalRow.fromSeq(answers.map(_.asInstanceOf[Const].v))))
          else a
        case _ => a
      }

    // PARTITION-GROUPED metadata aggregates: `count(*)/count(col)/min/max
    // GROUP BY <identity partition cols>` over a single deleteless graft
    // scan — the "rows per day" ops query — folds per partition tuple
    // from the manifest, zero scan jobs. Single relation only (Union
    // merges attrs positionally); groups whose files hold zero records
    // are omitted (SQL emits a group only when >=1 row exists).
    case a @ Aggregate(groupExprs, aggExprs, child, _)
        if groupExprs.nonEmpty && aggExprs.nonEmpty =>
      val single = leafIndexes(child) match {
        case Some(Seq(idx)) => Some(idx)
        case _ => None
      }
      val groupAttrs: Option[Seq[AttributeReference]] =
        if (groupExprs.forall(g => g.isInstanceOf[AttributeReference] &&
            passesThrough(child, g.asInstanceOf[AttributeReference])))
          Some(groupExprs.map(_.asInstanceOf[AttributeReference]))
        else None
      (single, groupAttrs) match {
        case (Some(idx), Some(gs)) =>
          val zone = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
          idx.identityGroups(gs.map(_.name), gs.map(_.dataType), zone) match {
            case None => a
            case Some(groups) =>
              val rows = groups
                .filter { case (_, es) => idx.totalRecordsOf(es) > 0L }
                .map { case (key, es) =>
                  val keyOf = gs.map(_.exprId).zip(key).toMap
                  aggExprs.map(e => answerGrouped(e, child, idx, es, keyOf))
                }
              if (rows.forall(_.forall(_.isInstanceOf[Const])))
                LocalRelation(a.output,
                  rows.map(r => InternalRow.fromSeq(r.map(_.asInstanceOf[Const].v))))
              else a
          }
        case _ => a
      }
  }
}

/** Conservative per-file predicate analysis for [[GraftFileIndex]]. */
object ZonePrune {

  /** True when file `f` MAY contain a row satisfying `e` (false = provably
    * none — safe to skip the file). `bucketFields` are the current spec's
    * bucket transforms: equality predicates on their source columns prune
    * by recomputing the transform on the literal. */
  def mayMatch(e: Expression, f: FileEntry, schema: StructType,
      identityCols: Set[String], sessionZone: String,
      bucketFields: Seq[graft.meta.PartitionField] = Nil,
      statsRetired: Set[String] = Set.empty): Boolean = {
    // exact arm first: a deterministic predicate over identity-partition
    // constants evaluates to one answer for EVERY row of the file —
    // handles arbitrary shapes (LIKE, startsWith, functions) that zone
    // logic can't
    constEval(e, f, schema, identityCols, sessionZone) match {
      case Some(b) => b
      case None => structural(e, f, schema, identityCols, sessionZone, bucketFields, statsRetired)
    }
  }

  private def structural(e: Expression, f: FileEntry, schema: StructType,
      identityCols: Set[String], zone: String,
      bucketFields: Seq[graft.meta.PartitionField],
      retired: Set[String]): Boolean = e match {
    case And(l, r) =>
      mayMatch(l, f, schema, identityCols, zone, bucketFields, retired) &&
        mayMatch(r, f, schema, identityCols, zone, bucketFields, retired)
    case Or(l, r) =>
      mayMatch(l, f, schema, identityCols, zone, bucketFields, retired) ||
        mayMatch(r, f, schema, identityCols, zone, bucketFields, retired)

    case IsNull(a: AttributeReference) =>
      // no-nulls file can't satisfy IS NULL; missing/retired count keeps
      retired.contains(a.name) || f.nullCounts.get(a.name).forall(_ > 0L)
    case IsNotNull(a: AttributeReference) =>
      // all-null column (count == rows) can't satisfy IS NOT NULL
      retired.contains(a.name) ||
        !(f.recordCount > 0L && f.nullCounts.get(a.name).contains(f.recordCount))

    case cmp: BinaryComparison => (cmp.left, cmp.right) match {
      case (a: AttributeReference, l: Literal) =>
        (retired.contains(a.name) || zoneCompare(cmp, a, l, f, flipped = false)) &&
          bucketCompare(cmp, a, l, f, bucketFields) &&
          truncCompare(cmp, a, l, f, bucketFields, flipped = false)
      case (l: Literal, a: AttributeReference) =>
        (retired.contains(a.name) || zoneCompare(cmp, a, l, f, flipped = true)) &&
          bucketCompare(cmp, a, l, f, bucketFields) &&
          truncCompare(cmp, a, l, f, bucketFields, flipped = true)
      case _ => true
    }

    // prefix predicates (LIKE 'p%'): strings with prefix p form the byte
    // interval [p, increment(p)) — prune when the string zone map misses it
    case StartsWith(a: AttributeReference, Literal(p: UTF8String, StringType)) if p != null =>
      ((if (retired.contains(a.name)) None else stringZone(f, a.name)) match {
        case Some((lo, hi)) =>
          hi.compareTo(p) >= 0 && incrementBytes(p).forall(up => lo.compareTo(up) < 0)
        case None => true
      }) && truncPrefixMatch(a.name, p, f, bucketFields)

    case In(a: AttributeReference, elems) if elems.forall(_.isInstanceOf[Literal]) =>
      elems.isEmpty || elems.exists { e =>
        val l = e.asInstanceOf[Literal]
        val eq = EqualTo(a, l)
        (retired.contains(a.name) || zoneCompare(eq, a, l, f, flipped = false)) &&
          bucketCompare(eq, a, l, f, bucketFields) &&
          truncCompare(eq, a, l, f, bucketFields, flipped = false)
      }
    case InSet(a: AttributeReference, hset) =>
      hset.isEmpty || hset.exists { v =>
        val l = Literal(v, a.dataType)
        val eq = EqualTo(a, l)
        (retired.contains(a.name) || zoneCompare(eq, a, l, f, flipped = false)) &&
          bucketCompare(eq, a, l, f, bucketFields) &&
          truncCompare(eq, a, l, f, bucketFields, flipped = false)
      }

    case _ => true // unknown shape: keep
  }

  /** Zone-map check for one comparison `a <op> lit` (or flipped). True =
    * may match. Conservative at every unknown: missing stats, unparsable
    * stats, non-numeric-representable literals all keep the file. */
  private def zoneCompare(cmp: BinaryComparison, a: AttributeReference, l: Literal,
      f: FileEntry, flipped: Boolean): Boolean = {
    if (l.value == null) cmp match {
      // `a <=> null` matches exactly the null rows
      case _: EqualNullSafe => f.nullCounts.get(a.name).forall(_ > 0L)
      // any other comparison with null is null for every row -> filtered
      case _ => false
    } else if (a.dataType == StringType) (stringZone(f, a.name), l.value) match {
      // string zone maps: parquet UTF8 statistics order == UTF8String's
      // unsigned-byte comparison, so bounds compare directly; bounds may
      // be writer-truncated yet stay VALID (lower <= all, upper >= all),
      // which one-sided pruning tolerates
      case (Some((lo, hi)), v: UTF8String) =>
        def le(x: UTF8String, y: UTF8String) = x.compareTo(y) <= 0
        def lt(x: UTF8String, y: UTF8String) = x.compareTo(y) < 0
        cmp match {
          case _: EqualTo | _: EqualNullSafe => le(lo, v) && le(v, hi)
          case _: GreaterThan => if (flipped) lt(lo, v) else lt(v, hi)
          case _: GreaterThanOrEqual => if (flipped) le(lo, v) else le(v, hi)
          case _: LessThan => if (flipped) lt(v, hi) else lt(lo, v)
          case _: LessThanOrEqual => if (flipped) le(v, hi) else le(lo, v)
          case _ => true
        }
      case _ => true
    } else zoneOf(f, a.name) match {
      case None => true
      case Some((lo, hi)) =>
        litValue(l, a.dataType) match {
          case None => true
          case Some(v) => cmp match {
            case _: EqualTo | _: EqualNullSafe => lo <= v && v <= hi
            case _: GreaterThan => if (flipped) v > lo else hi > v // a > v / v > a
            case _: GreaterThanOrEqual => if (flipped) v >= lo else hi >= v
            case _: LessThan => if (flipped) v < hi else lo < v
            case _: LessThanOrEqual => if (flipped) v <= hi else lo <= v
            case _ => true
          }
        }
    }
  }

  /** Bucket-transform pruning: for an EQUALITY on a bucket-partitioned
    * source column, recompute the transform on the literal with the SAME
    * expression the writer used ([[graft.functions.IcebergBucket]] /
    * Spark murmur3 pmod) and keep the file only when its stored bucket
    * ordinal matches. Zone maps are useless on bucketed columns (every
    * bucket spans the full value range) — this is the point-lookup path
    * on bucketed tables. Non-equality comparisons, historical-spec files,
    * eval failures: keep. */
  private def bucketCompare(cmp: BinaryComparison, a: AttributeReference, l: Literal,
      f: FileEntry, bucketFields: Seq[graft.meta.PartitionField]): Boolean = {
    val isEq = cmp.isInstanceOf[EqualTo] || cmp.isInstanceOf[EqualNullSafe]
    if (!isEq || l.value == null || f.specId != 0 || bucketFields.isEmpty) return true
    bucketFields.find(_.column == a.name) match {
      case None => true
      case Some(p) => f.partitionValues.get(p.column) match {
        case None => true
        case Some(stored) =>
          val expr: Option[Expression] =
            p.bucketN.map(n => graft.functions.IcebergBucket(l, n))
              .orElse(p.sparkBucketN.map(n =>
                Pmod(new Murmur3Hash(Seq(l)), Literal(n))))
          try expr.flatMap(e => Option(e.eval(InternalRow.empty))) match {
            case Some(b) => stored == b.toString
            case None => true
          } catch { case _: Exception => true }
      }
    }
  }

  /** Truncate-transform pruning: a truncate[W] partition value T is an
    * ORDER-PRESERVING summary of the file's rows for the source column —
    * every row value lies in the interval [T, T + W·ulp) for numerics,
    * in the byte-prefix interval of T for full-width strings, or equals
    * T exactly for strings shorter than W code points. Unlike bucket
    * ordinals this supports RANGE comparisons, not just equality.
    * Historical-spec files, unparsable values, nulls, unsupported
    * types: keep. */
  private def truncCompare(cmp: BinaryComparison, a: AttributeReference, l: Literal,
      f: FileEntry, fields: Seq[graft.meta.PartitionField], flipped: Boolean): Boolean = {
    if (l.value == null || f.specId != 0 || fields.isEmpty) return true
    fields.find(p => p.isTruncate && p.column == a.name) match {
      case None => true
      case Some(p) =>
        val w = p.truncateW.get
        f.partitionValues.get(p.column) match {
          case None => true
          case Some(stored) =>
            // normalize (cmp, flipped) to the attribute-relative relation
            sealed trait Rel
            object EQ extends Rel; object AGT extends Rel; object AGE extends Rel
            object ALT extends Rel; object ALE extends Rel
            val rel: Rel = cmp match {
              case _: EqualTo | _: EqualNullSafe => EQ
              case _: GreaterThan => if (flipped) ALT else AGT
              case _: GreaterThanOrEqual => if (flipped) ALE else AGE
              case _: LessThan => if (flipped) AGT else ALT
              case _: LessThanOrEqual => if (flipped) AGE else ALE
              case _ => return true
            }
            a.dataType match {
              case StringType => l.value match {
                case v: UTF8String =>
                  val t = UTF8String.fromString(stored)
                  if (t.numChars < w) {
                    // short value truncates to itself: the file's rows for
                    // this column are EXACTLY t
                    rel match {
                      case EQ => t.compareTo(v) == 0
                      case AGT => t.compareTo(v) > 0
                      case AGE => t.compareTo(v) >= 0
                      case ALT => t.compareTo(v) < 0
                      case ALE => t.compareTo(v) <= 0
                    }
                  } else {
                    // full-width prefix: rows lie in [t, incrementBytes(t));
                    // the set has min t (attained) and no maximum
                    def belowSup = incrementBytes(t).forall(up => v.compareTo(up) < 0)
                    rel match {
                      case EQ => t.compareTo(v) <= 0 && belowSup
                      case AGT | AGE => belowSup
                      case ALT => t.compareTo(v) < 0
                      case ALE => t.compareTo(v) <= 0
                    }
                  }
                case _ => true
              }
              case _: ByteType | _: ShortType | _: IntegerType | _: LongType | _: DecimalType =>
                val litNum: Option[BigDecimal] = (l.value, a.dataType) match {
                  case (n: java.lang.Number, _: DecimalType) => None // mismatched shapes: keep
                  case (n: java.lang.Number, _) => Some(BigDecimal(n.longValue()))
                  case (d: org.apache.spark.sql.types.Decimal, _: DecimalType) =>
                    Some(BigDecimal(d.toJavaBigDecimal))
                  case _ => None
                }
                (litNum, scala.util.Try(BigDecimal(stored)).toOption) match {
                  case (Some(v), Some(lo)) =>
                    // rows lie in [lo, lo + (w-1)·ulp] where ulp = 10^-scale
                    // of the stored literal (truncate floors the UNSCALED
                    // value by w, so the interval is w unscaled steps wide)
                    val hi = lo + BigDecimal(BigInt(w.toLong - 1), lo.scale)
                    rel match {
                      case EQ => lo <= v && v <= hi
                      case AGT => hi > v
                      case AGE => hi >= v
                      case ALT => lo < v
                      case ALE => lo <= v
                    }
                  case _ => true
                }
              case _ => true
            }
        }
    }
  }

  /** StartsWith against a string truncate[W] partition value: the file's
    * rows share the stored prefix T, so `a LIKE 'p%'` can only match when
    * the shorter of (p, T) is a byte-prefix of the longer (exact-set
    * files — T shorter than W — require T to start with p). */
  private def truncPrefixMatch(colName: String, p: UTF8String, f: FileEntry,
      fields: Seq[graft.meta.PartitionField]): Boolean = {
    if (f.specId != 0 || fields.isEmpty) return true
    fields.find(pf => pf.isTruncate && pf.column == colName) match {
      case None => true
      case Some(pf) => f.partitionValues.get(pf.column) match {
        case None => true
        case Some(stored) =>
          val t = UTF8String.fromString(stored)
          if (t.numChars < pf.truncateW.get) t.startsWith(p) // exact-set file
          else if (p.numBytes <= t.numBytes) t.startsWith(p)
          else p.startsWith(t)
      }
    }
  }

  /** String zone map of `col` as UTF8Strings (binary-ordered like the
    * recorded parquet statistics); None when absent. */
  private def stringZone(f: FileEntry, col: String): Option[(UTF8String, UTF8String)] =
    f.columnStats.get(col).map { case (mn, mx) =>
      (UTF8String.fromString(mn), UTF8String.fromString(mx))
    }

  /** Smallest byte string strictly greater than every string with prefix
    * `p`: increment the last non-0xFF byte and truncate; None when p is
    * all 0xFF (no upper bound exists). */
  private[exec] def incrementBytes(p: UTF8String): Option[UTF8String] = {
    val bytes = p.getBytes.clone()
    var i = bytes.length - 1
    while (i >= 0 && bytes(i) == 0xFF.toByte) i -= 1
    if (i < 0) None
    else {
      bytes(i) = (bytes(i) + 1).toByte
      Some(UTF8String.fromBytes(bytes.take(i + 1)))
    }
  }

  private def zoneOf(f: FileEntry, name: String): Option[(BigDecimal, BigDecimal)] =
    f.columnStats.get(name).flatMap { case (mn, mx) =>
      try Some((BigDecimal(mn), BigDecimal(mx)))
      catch { case _: NumberFormatException => None }
    }

  /** The literal as a BigDecimal comparable against footer zone maps in
    * their recorded representation (days/micros/unscaled). None = not
    * representable (NaN, strings, ...) -> keep. */
  private def litValue(l: Literal, attrDt: DataType): Option[BigDecimal] = (l.value, attrDt) match {
    case (v: java.lang.Number, dt) => dt match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType =>
        Some(BigDecimal(v.longValue()))
      case _: FloatType =>
        val d = v.floatValue(); if (d.isNaN) None else Some(BigDecimal(d.toString))
      case _: DoubleType =>
        val d = v.doubleValue(); if (d.isNaN) None else Some(BigDecimal(d.toString))
      // DATE is Int days, TIMESTAMP/_NTZ Long micros — exactly the footer encoding
      case _: DateType | _: TimestampType | _: TimestampNTZType =>
        Some(BigDecimal(v.longValue()))
      case _ => None
    }
    case (d: org.apache.spark.sql.types.Decimal, dt: DecimalType) if dt.precision <= 18 =>
      val s = dt.scale
      // int32/int64-backed parquet decimals put the UNSCALED value in
      // footer stats; align the literal to the column scale
      try Some(BigDecimal(d.toJavaBigDecimal.setScale(s).unscaledValue()))
      catch { case _: ArithmeticException => None } // literal needs more scale: inexact, keep
    case _ => None
  }

  /** Types whose partition-directory string round trip is EXACT in any
    * session: strings verbatim, integers canonical, dates zone-free.
    * Floats (formatting) and timestamps (the dir string renders in the
    * WRITER's session zone; a reader in another zone would decode a
    * shifted instant and prune wrongly) are NOT exact — excluded from
    * both const-evaluation and partition-schema mode. */
  private[exec] def dirExactType(dt: DataType): Boolean = dt match {
    case StringType | ByteType | ShortType | IntegerType | LongType | DateType | BooleanType => true
    case _ => false
  }

  /** Exact evaluation over identity-partition constants: if every
    * reference of `e` is a constant column for this file, substitute and
    * evaluate. Some(false) = no row matches; None = not decidable here. */
  private def constEval(e: Expression, f: FileEntry, schema: StructType,
      identityCols: Set[String], zone: String): Option[Boolean] = {
    if (!e.deterministic || f.specId != 0 || identityCols.isEmpty) return None
    val refs = e.references.toSeq.map(_.name)
    if (refs.isEmpty || !refs.forall(n => identityCols.contains(n) && f.partitionValues.contains(n)))
      return None
    val consts: Map[String, Literal] = refs.distinct.flatMap { n =>
      schema.fields.find(_.name == n).filter(fd => dirExactType(fd.dataType)).flatMap(fd =>
        constLit(f.partitionValues(n), fd.dataType, zone).map(n -> _))
    }.toMap
    if (!refs.forall(consts.contains)) return None
    val bound = e.transform { case a: AttributeReference if consts.contains(a.name) => consts(a.name) }
    try bound.eval(InternalRow.empty) match {
      case null => Some(false) // null predicate -> row filtered, for every row
      case b: java.lang.Boolean => Some(b.booleanValue())
      case _ => None
    } catch { case _: Exception => None }
  }

  /** Partition-directory string -> typed literal via TRY cast (null on
    * any parse failure -> undecidable). Memoized: tables have few distinct
    * partition values but 10^6s of files, and a Cast construction +
    * evaluation per (file x conjunct) at plan time is pure waste. The memo
    * is cleared past a bound so runaway-cardinality strings can't grow it
    * unboundedly. */
  private val constLitMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, DataType, String), Option[Literal]]()
  private[exec] def constLit(value: String, dt: DataType, zone: String): Option[Literal] = {
    if (constLitMemo.size > 65536) constLitMemo.clear()
    constLitMemo.computeIfAbsent((value, dt, zone),
      _ => constLitUncached(value, dt, zone))
  }

  private def constLitUncached(value: String, dt: DataType, zone: String): Option[Literal] = dt match {
    case StringType => Some(Literal(UTF8String.fromString(value), StringType))
    case _ =>
      try {
        val v = Cast(Literal(UTF8String.fromString(value), StringType), dt, Some(zone),
          EvalMode.TRY).eval(InternalRow.empty)
        if (v == null) None else Some(Literal(v, dt))
      } catch { case _: Exception => None }
  }
}
