package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.compaction.Maintenance
import graft.meta._
import graft.selection._

/** Seeded synthetic tables with the column names and types of the sf0.1
  * `lineitem` and `events` tables. Every column is a hash of the
  * row id, the seed and a salt, so one seed always gives the same rows and
  * a fixture is built in a handful of Spark jobs. A salt other than 0
  * changes the value columns of a row but never its key. */
final class Gen(seed: Long) {
  def h(salt: Int, k: Int): Column = xxhash64(col("id"), lit(seed), lit(salt), lit(k))
  private def pick(c: Column, m: Long): Column = pmod(c, lit(m))
  private def oneOf(c: Column, vs: String*): Column =
    element_at(array(vs.map(lit): _*), (pick(c, vs.size.toLong) + 1).cast("int"))
  private val day0 = 694224000L // 1992-01-01

  def lineitem(ids: DataFrame, orders: Long, salt: Int): DataFrame = ids.select(
    // a bijection on order numbers, so consecutive ids land in far-apart orders
    ((col("id") / 4).cast("long") * 7919L + seed).mod(lit(orders)).as("l_orderkey"),
    pick(h(0, 1), 20000).as("l_partkey"),
    pick(h(0, 2), 1000).as("l_suppkey"),
    (col("id").mod(4) + 1).cast("int").as("l_linenumber"),
    (pick(h(salt, 3), 50) + 1).cast("double").as("l_quantity"),
    (pick(h(salt, 4), 10000000) / 100.0).as("l_extendedprice"),
    (pick(h(salt, 5), 11) / 100.0).as("l_discount"),
    (pick(h(salt, 6), 9) / 100.0).as("l_tax"),
    oneOf(h(salt, 7), "A", "N", "R").as("l_returnflag"),
    oneOf(h(salt, 8), "O", "F").as("l_linestatus"),
    timestamp_seconds(lit(day0) + pick(h(0, 9), 2557) * 86400L).as("l_shipdate"))

  def events(ids: DataFrame, salt: Int): DataFrame = ids.select(
    col("id").as("event_id"),
    timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L + pick(h(0, 1), 1000000))
      .as("ts"),
    pick(h(0, 2), 5000).as("user_id"),
    oneOf(h(salt, 3), "view", "click", "purchase", "error", "share").as("event_type"),
    (pick(h(salt, 4), 100000) / 100.0).as("value"),
    concat(lit("{\"k\": "), pick(h(salt, 5), 100).cast("string"), lit("}")).as("props"))

  /** `n` distinct ids below `bound`, drawn from the seed and `stream`. */
  def sampleIds(stream: Long, n: Int, bound: Long): Seq[Long] = {
    val r = new scala.util.Random(seed * 1000003L + stream)
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (out.size < n) out += (r.nextLong() & Long.MaxValue) % bound
    out.toSeq
  }

  /** A one-partition frame of the given ids, so an upsert writes few files. */
  def idFrame(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.toDF("id").coalesce(1)
  }
}

/** One workload: a seeded fixture and the calls a timed cycle makes on it.
  * Every cycle restores the fixture snapshot first, so every cycle sees
  * identical input. */
trait Workload {
  def name: String
  def table: String
  def keys: Seq[String]
  def config: PlanningConfig
  def targetFileSizeBytes: Long = Defaults.TargetFileSize
  def build(spark: SparkSession, catalog: Catalog): Unit
  /** The upsert of every cycle; the same rows in every cycle. */
  def upsertBatch(spark: SparkSession): DataFrame
  /** Sizes for the record: rows, data files, bytes after the fixture build. */
  def describe(catalog: Catalog): Map[String, Long] = {
    val snap = catalog.loadTable(table).currentSnapshot.get
    val data = snap.manifest.filter(_.content == FileContent.Data)
    Map("rows_data_files" -> data.map(_.recordCount).sum,
      "data_files" -> data.size.toLong,
      "delete_files" -> (snap.manifest.size - data.size).toLong,
      "data_bytes" -> data.map(_.length).sum,
      "delete_bytes" -> snap.manifest.filterNot(_.content == FileContent.Data).map(_.length).sum)
  }
}

object Workloads {
  def apply(name: String, seed: Long): Workload = name match {
    case "mor_rewrite" => new MorRewrite(new Gen(seed))
    case "small_files" => new SmallFiles(new Gen(seed))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Rows per upsert batch. */
  val BatchRows = 300
}

/** Per-byte work: a large sort-ordered table with position deletes in every
  * file and equality deletes on the order key, fully rewritten. */
final class MorRewrite(gen: Gen) extends Workload {
  val name = "mor_rewrite"
  val table = "lineitem"
  val keys = Seq("l_orderkey", "l_linenumber")
  val rows = 160000L
  val files = 32
  private val orders = rows / 4
  override val targetFileSizeBytes: Long = 512L << 20
  val config: PlanningConfig =
    FullCompactionConfig(PlanningParams(targetFileSizeBytes = targetFileSizeBytes))

  def build(spark: SparkSession, catalog: Catalog): Unit = {
    IceWrite.create(spark, catalog, table,
      gen.lineitem(spark.range(0, rows, 1, files).toDF("id"), orders, 0),
      sortOrder = Seq(SortField("l_orderkey")))
    val dataFiles = catalog.loadTable(table).currentSnapshot.get.manifest
    // about 1% of each file's positions, drawn per file from the seed
    val positions = dataFiles.zipWithIndex.flatMap { case (f, i) =>
      gen.sampleIds(10000L + i, math.max(1, (f.recordCount / 100).toInt), f.recordCount)
        .map(p => (f.path, p))
    }
    import spark.implicits._
    IceWrite.appendPositionDeletes(spark, catalog, table,
      positions.toDF("file_path", "pos").coalesce(1))
    // about 0.2% of the orders lose every line
    IceWrite.appendEqualityDeletes(spark, catalog, table,
      spark.range(0, orders, 1, 1).filter(pmod(gen.h(0, 10), lit(500L)) === 0)
        .select(col("id").as("l_orderkey")),
      Seq("l_orderkey"))
  }

  def upsertBatch(spark: SparkSession): DataFrame =
    gen.lineitem(gen.idFrame(spark, gen.sampleIds(0, Workloads.BatchRows, rows)), orders, 1)
}

/** Per-file and per-plan work: a bucketed event table ingested as many
  * small appends, compacted partition by partition. */
final class SmallFiles(gen: Gen) extends Workload {
  val name = "small_files"
  val table = "events"
  val keys = Seq("event_id")
  val rows = 50000L
  val buckets = 4
  val appends = 2
  val tasksPerAppend = 16
  val config: PlanningConfig = SmallFilesConfig()

  def build(spark: SparkSession, catalog: Catalog): Unit = {
    val per = rows / appends
    (0 until appends).foreach { a =>
      val df = gen.events(spark.range(a * per, (a + 1) * per, 1, tasksPerAppend).toDF("id"), 0)
      if (a == 0) IceWrite.create(spark, catalog, table, df,
        partitionSpec = Seq(PartitionField("user_id", s"bucket[$buckets]")))
      else IceWrite.append(spark, catalog, table, df)
    }
  }

  def upsertBatch(spark: SparkSession): DataFrame =
    gen.events(gen.idFrame(spark, gen.sampleIds(0, Workloads.BatchRows, rows)), 1)

  /** The rows the table holds after a cycle, computed without the engine:
    * the generated rows with the upsert batch applied by plain DataFrame
    * operations. */
  def expected(spark: SparkSession): DataFrame = {
    val batch = upsertBatch(spark)
    gen.events(spark.range(0, rows).toDF("id"), 0)
      .join(batch.select(keys.map(col): _*), keys, "left_anti").unionByName(batch)
  }
}

object Restore {
  /** Points main back at the tagged fixture snapshot, then drops every
    * other snapshot, so the next cycle starts from the same table. */
  def toFixture(catalog: Catalog, table: String, fixture: Long): Unit = {
    IceWrite.setCurrentSnapshot(catalog, table, fixture)
    trim(catalog, table)
  }

  /** Keeps only the current and tagged snapshots, so metadata stays the
    * same size however many cycles run. Files that only dropped snapshots
    * referenced stay on disk: no timed call lists the data directory. */
  def trim(catalog: Catalog, table: String): Unit =
    Maintenance.expireSnapshots(catalog, table, keepLast = 1)
}
