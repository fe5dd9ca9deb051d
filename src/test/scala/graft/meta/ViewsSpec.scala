package graft.meta

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Catalog VIEWS ([[Views]]): front-door DDL, versioned replace, late
  * binding, DML refusals, plan substitution (pruning flows through), and
  * the Iceberg view-spec v1 interop loop (export/import + REST
  * serve/attach). */
class ViewsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private def freshCatalog(name: String): Catalog = {
    val c = LocalCatalog(Files.createTempDirectory(s"views-$name").toString)
    GraftSql.register(name, c)
    c
  }

  test("CREATE OR REPLACE VIEW retries a commit that lost the race") {
    val cat = freshCatalog("vrace")
    IceWrite.create(spark, cat, "t", (1L to 4L).map(i => (i, s"n$i")).toDF("id", "name"))
    spark.sql("CREATE VIEW vrace.v AS SELECT id FROM vrace.t")
    // a concurrent property edit on the view takes the version the
    // replace loaded; the replace must land on top of it, once
    val racing = new RacingCatalog(cat)(_ =>
      SchemaEvolution.updateProperties(cat, "v", Map("owner" -> "ops")))
    Views.create(spark, racing, "v", "SELECT id, name FROM vrace.t", orReplace = true)
    val v = cat.loadTable("v")
    assert(v.properties(Views.CurrentVersionKey) == "2")
    assert(Views.versions(v).map(_._1) == Seq(1, 2))
    assert(v.properties.get("owner").contains("ops"))
    assert(v.schema.map(_.name) == Seq("id", "name"))
    assert(racing.commits.get == 2)
  }

  test("create, read, replace versions, late binding, drop") {
    val cat = freshCatalog("vw")
    IceWrite.create(spark, cat, "t",
      (1L to 20L).map(i => (i, s"n$i")).toDF("id", "name"))

    spark.sql("CREATE VIEW vw.evens AS SELECT id, name FROM vw.t WHERE id % 2 = 0")
    assert(spark.sql("SELECT count(*) AS c FROM vw.evens").head.getLong(0) == 10L)
    // the entry is view-marked with the PINNED schema recorded
    val v1 = cat.loadTable("evens")
    assert(Views.isView(v1) && v1.schema.map(_.name) == Seq("id", "name"))
    assert(v1.properties(Views.CurrentVersionKey) == "1")

    // plain CREATE over an existing view refuses; OR REPLACE re-versions
    val dup = intercept[Exception](
      spark.sql("CREATE VIEW vw.evens AS SELECT id FROM vw.t"))
    assert(dup.getMessage.contains("already exists"), dup.getMessage)
    spark.sql("CREATE OR REPLACE VIEW vw.evens AS SELECT id FROM vw.t WHERE id % 2 = 1")
    val v2 = cat.loadTable("evens")
    assert(v2.properties(Views.CurrentVersionKey) == "2" &&
      Views.versions(v2).map(_._1) == Seq(1, 2) &&
      v2.schema.map(_.name) == Seq("id"))
    assert(spark.sql("SELECT count(*) AS c FROM vw.evens").head.getLong(0) == 10L)

    // LATE binding: a base-table commit is visible through the view
    IceWrite.append(spark, cat, "t", Seq((21L, "n21")).toDF("id", "name"))
    assert(spark.sql("SELECT count(*) AS c FROM vw.evens").head.getLong(0) == 11L)

    // views COMPOSE (a view over a view)
    spark.sql("CREATE VIEW vw.evens_top AS SELECT max(id) AS m FROM vw.evens")
    assert(spark.sql("SELECT m FROM vw.evens_top").head.getLong(0) == 21L)

    // DML against views refuses loudly instead of writing nothing
    val ins = intercept[Exception](
      spark.sql("INSERT INTO vw.evens VALUES (99)"))
    assert(ins.getMessage.contains("VIEW"), ins.getMessage)
    val del = intercept[Exception](
      spark.sql("DELETE FROM vw.evens WHERE id = 1"))
    assert(del.getMessage.contains("VIEW"), del.getMessage)
    val drt = intercept[Exception](spark.sql("DROP TABLE vw.evens"))
    assert(drt.getMessage.contains("DROP VIEW"), drt.getMessage)
    // metadata suffixes address tables, not views
    val suf = intercept[Exception](
      spark.sql("SELECT * FROM vw.evens.snapshots"))
    assert(suf.getMessage.contains("view"), suf.getMessage)

    // SHOW CREATE renders the view form
    val ddl = spark.sql("SHOW CREATE TABLE vw.evens").head.getString(0)
    assert(ddl.startsWith("CREATE VIEW vw.evens AS") && ddl.contains("id % 2 = 1"))

    // SHOW VIEWS lists exactly the view entries (tables excluded)
    val shown = spark.sql("SHOW VIEWS IN vw").collect()
      .map(r => r.getString(1)).toSet
    assert(shown == Set("evens", "evens_top"), shown)
    assert(spark.sql("SHOW VIEWS IN vw LIKE 'evens'").count() == 1L)

    // CREATE TABLE cannot silently replace a view either
    val ct = intercept[Exception](
      spark.sql("CREATE TABLE vw.evens (x BIGINT)"))
    assert(ct.getMessage.contains("already exists"), ct.getMessage)

    // DROP VIEW refuses tables, drops views, honors IF EXISTS
    val dt = intercept[Exception](spark.sql("DROP VIEW vw.t"))
    assert(dt.getMessage.contains("TABLE"), dt.getMessage)
    spark.sql("DROP VIEW vw.evens_top")
    spark.sql("DROP VIEW vw.evens")
    assert(!cat.tableExists("evens"))
    val dm = intercept[Exception](spark.sql("DROP VIEW vw.evens"))
    assert(dm.getMessage.contains("does not exist"), dm.getMessage)
    spark.sql("DROP VIEW IF EXISTS vw.evens") // no-op, no throw
    GraftSql.unregister("vw")
  }

  test("recursive view definitions refuse at read with a cycle message") {
    val cat = freshCatalog("vrec")
    IceWrite.create(spark, cat, "t", Seq((1L, "a")).toDF("id", "name"))
    spark.sql("CREATE VIEW vrec.a AS SELECT id FROM vrec.t")
    spark.sql("CREATE VIEW vrec.b AS SELECT id FROM vrec.a")
    // re-point a at b: a -> b -> a is now a cycle
    spark.sql("CREATE OR REPLACE VIEW vrec.a AS SELECT id FROM vrec.b")
    val e = intercept[Exception](spark.sql("SELECT * FROM vrec.a").collect())
    assert(e.getMessage.contains("recursive"), e.getMessage)
    // ...and the guard UNWINDS: a non-cyclic read afterwards still works
    spark.sql("CREATE OR REPLACE VIEW vrec.a AS SELECT id FROM vrec.t")
    assert(spark.sql("SELECT * FROM vrec.a").count() == 1L)
    GraftSql.unregister("vrec")
  }

  test("file pruning flows through a view (plan substitution, not a copy)") {
    val cat = freshCatalog("vprune")
    val base = spark.read.parquet(s"$sf/supplier.parquet")
      .select(col("s_suppkey"), col("s_name"))
    val cut = base.agg(max(col("s_suppkey"))).head.getLong(0) / 2
    IceWrite.create(spark, cat, "sup", base.filter(col("s_suppkey") <= cut))
    IceWrite.append(spark, cat, "sup", base.filter(col("s_suppkey") > cut))
    spark.sql("CREATE VIEW vprune.v AS SELECT * FROM vprune.sup")
    val probe = spark.sql(s"SELECT * FROM vprune.v WHERE s_suppkey <= $cut")
    probe.collect()
    val (total, kept) = graft.exec.GraftScan.pruneStats(probe)
    assert(total >= 2 && kept < total,
      s"a filter through the view must prune files: kept $kept of $total")
    GraftSql.unregister("vprune")
  }

  test("foreign dialects, temp-view refusal, missing-schema refusal") {
    import org.json4s.jackson.JsonMethods
    val cat = freshCatalog("vdx")
    IceWrite.create(spark, cat, "base", Seq((1L, 2L), (3L, 4L)).toDF("k", "v"))

    // a FOREIGN view whose representations are all trino-dialect AND
    // outside the mechanically-translatable subset (TRY has no Spark
    // equivalent): the import succeeds (metadata is dialect-agnostic),
    // the READ refuses by dialect name — feeding foreign syntax raw to
    // Spark's parser could return silently wrong rows
    val foreign =
      """{"view-uuid": "aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee",
        |  "format-version": 1, "current-version-id": 4,
        |  "schemas": [{"type": "struct", "schema-id": 0, "fields": [
        |    {"id": 1, "name": "k", "required": false, "type": "long"}]}],
        |  "versions": [
        |    {"version-id": 2, "timestamp-ms": 100, "schema-id": 0,
        |     "representations": [{"type": "sql",
        |       "sql": "SELECT \"k\" FROM t", "dialect": "trino"}],
        |     "default-namespace": ["wh"]},
        |    {"version-id": 4, "timestamp-ms": 200, "schema-id": 0,
        |     "representations": [{"type": "sql",
        |       "sql": "SELECT TRY(\"k\" / 0) FROM t", "dialect": "trino"}],
        |     "default-namespace": ["wh"]}]}""".stripMargin
    IcebergImport.importIcebergViewMetadataJson(cat, "vf", JsonMethods.parse(foreign))
    val imported = cat.loadTable("vf")
    assert(Views.versions(imported).map(_._1) == Seq(2, 4), "sparse ids kept verbatim")
    val e = intercept[Exception](spark.sql("SELECT * FROM vdx.vf").collect())
    assert(e.getMessage.contains("trino"), e.getMessage)

    // CREATE OR REPLACE with Spark SQL: the head works, and a re-export
    // labels each version with ITS OWN dialect (trino history, spark head)
    spark.sql("CREATE OR REPLACE VIEW vdx.vf AS SELECT k FROM vdx.base")
    assert(spark.sql("SELECT * FROM vdx.vf").count() == 2L)
    val rex = JsonMethods.parse(MetaIO.readString(
      IcebergExport.exportIcebergViewMetadata(cat, "vf")))
    import org.json4s._
    val dialects = (rex \ "versions") match {
      case JArray(vs) => vs.map(v =>
        (v \ "version-id").values.toString ->
          ((v \ "representations") (0) \ "dialect").values.toString).toMap
      case _ => fail("no versions")
    }
    assert(dialects == Map("2" -> "trino", "4" -> "trino", "5" -> "spark"), dialects)

    // definitions referencing session TEMPORARY views refuse at create
    Seq((9L, 9L)).toDF("k", "v").createOrReplaceTempView("vdx_tmp")
    val tmp = intercept[Exception](
      spark.sql("CREATE VIEW vdx.overtmp AS SELECT k FROM vdx_tmp"))
    assert(tmp.getMessage.contains("TEMPORARY"), tmp.getMessage)
    assert(!cat.tableExists("overtmp"))
    // ...but the same name as a CTE alias shadows the temp view: allowed
    spark.sql("CREATE VIEW vdx.overcte AS " +
      "WITH vdx_tmp AS (SELECT k FROM vdx.base) SELECT k FROM vdx_tmp")
    assert(spark.sql("SELECT * FROM vdx.overcte").count() == 2L)

    // a document whose current version references a MISSING schema
    // refuses at IMPORT, not with a confusing 400 at a later serve
    val badSchema = foreign.replace(
      "\"schemas\": [{\"type\": \"struct\", \"schema-id\": 0",
      "\"schemas\": [{\"type\": \"struct\", \"schema-id\": 7")
    val bs = intercept[RuntimeException](
      IcebergImport.importIcebergViewMetadataJson(cat, "vbad",
        JsonMethods.parse(badSchema)))
    assert(bs.getMessage.contains("schema"), bs.getMessage)
    assert(!cat.tableExists("vbad"))
    GraftSql.unregister("vdx")
  }

  test("view-spec round-trip property fuzz: random histories survive import -> export -> import") {
    import org.json4s._
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val rnd = new scala.util.Random(1234)
    val cat = LocalCatalog(Files.createTempDirectory("views-fuzz").toString)
    val types = Seq("long", "string", "int", "double", "boolean", "date")
    for (case_ <- 1 to 30) {
      // random SPARSE ascending version ids, mixed dialects, random sqls
      var id = 0
      val versionIds = (1 to (1 + rnd.nextInt(5))).map { _ =>
        id += 1 + rnd.nextInt(4); id
      }
      val curId = versionIds(rnd.nextInt(versionIds.size))
      val dialects = versionIds.map(_ =>
        Seq("spark", "trino", "hive")(rnd.nextInt(3)))
      val nFields = 1 + rnd.nextInt(4)
      val fieldsJ = (1 to nFields).map(i =>
        (("id" -> i) ~ ("name" -> s"c$i") ~ ("required" -> rnd.nextBoolean()) ~
          ("type" -> types(rnd.nextInt(types.size)))): JValue)
      val doc: JValue =
        ("view-uuid" -> java.util.UUID.nameUUIDFromBytes(
          s"fuzz-$case_".getBytes).toString) ~
          ("format-version" -> 1) ~
          ("current-version-id" -> curId) ~
          ("schemas" -> List(("type" -> "struct") ~ ("schema-id" -> 0) ~
            ("fields" -> fieldsJ.toList))) ~
          ("versions" -> versionIds.zip(dialects).map { case (v, d) =>
            (("version-id" -> v) ~
              ("timestamp-ms" -> (1700000000000L + rnd.nextInt(1000000))) ~
              ("schema-id" -> 0) ~
              ("representations" -> List(
                ("type" -> "sql") ~
                  ("sql" -> s"SELECT c1 FROM t_$case_ WHERE c1 > $v") ~
                  ("dialect" -> d))) ~
              ("default-namespace" -> List("wh"))): JValue
          }.toList) ~
          ("properties" -> (("owner" -> s"team$case_"): JValue))
      val name = s"vfz$case_"
      val first = IcebergImport.importIcebergViewMetadataJson(cat, name, doc)
      val path = IcebergExport.exportIcebergViewMetadata(cat, name)
      val cat2 = LocalCatalog(Files.createTempDirectory("views-fuzz2").toString)
      val second = IcebergImport.importIcebergViewMetadata(cat2, name, path)
      // versions (sparse ids, sql, timestamps), per-version dialects,
      // current pointer, identity, schema and foreign properties all
      // survive the full loop
      assert(Views.versions(second) == Views.versions(first), s"case $case_")
      versionIds.zip(dialects).foreach { case (v, d) =>
        assert(second.properties.get(Views.versionDialectKey(v)).contains(d),
          s"case $case_ version $v dialect")
      }
      assert(second.properties(Views.CurrentVersionKey) == curId.toString)
      assert(second.stableUuid == first.stableUuid, s"case $case_ uuid")
      assert(second.schema == first.schema, s"case $case_ schema")
      assert(second.properties.get("owner").contains(s"team$case_"))
      // the re-exported doc labels every version with ITS OWN dialect
      val rex = JsonMethods.parse(MetaIO.readString(path))
      (rex \ "versions") match {
        case JArray(vs) => vs.foreach { v =>
          val vid = (v \ "version-id").values.toString.toInt
          val want = dialects(versionIds.indexOf(vid))
          assert(((v \ "representations") (0) \ "dialect") == JString(want),
            s"case $case_ re-export dialect of version $vid")
        }
        case _ => fail(s"case $case_: no versions in re-export")
      }
    }
  }

  test("Iceberg view spec v1: export -> import round-trips versions, uuid, schema") {
    val cat = freshCatalog("vx")
    IceWrite.create(spark, cat, "base",
      (1L to 9L).map(i => (i, i * 10L)).toDF("k", "v"))
    spark.sql("CREATE VIEW vx.agg AS SELECT k % 3 AS g, sum(v) AS s FROM vx.base GROUP BY k % 3")
    spark.sql("CREATE OR REPLACE VIEW vx.agg AS " +
      "SELECT k % 2 AS g, sum(v) AS s FROM vx.base GROUP BY k % 2")
    val src = cat.loadTable("agg")

    val path = IcebergExport.exportIcebergViewMetadata(cat, "agg")
    val dst = LocalCatalog(Files.createTempDirectory("views-dst").toString)
    val back = IcebergImport.importIcebergViewMetadata(dst, "agg2", path)
    assert(Views.isView(back))
    assert(Views.versions(back).map(_._1) == Seq(1, 2))
    assert(back.properties(Views.CurrentVersionKey) == "2")
    assert(back.properties(Views.SqlKey).contains("k % 2"))
    assert(back.properties(Views.DialectKey) == "spark")
    // the spec's immutable view identity carries over
    assert(back.stableUuid == src.stableUuid)
    assert(back.schema.map(_.name) == Seq("g", "s"))
    // table references resolve BY NAME on the reading engine: vx is
    // registered, so the imported view reads the same base
    GraftSql.register("vdst", dst)
    val a = spark.sql("SELECT * FROM vdst.agg2").collect().toSeq.sortBy(_.getLong(0))
    val b = spark.sql("SELECT * FROM vx.agg").collect().toSeq.sortBy(_.getLong(0))
    assert(a == b)
    GraftSql.unregister("vdst"); GraftSql.unregister("vx")
  }

  test("CREATE VIEW IF NOT EXISTS + column alias lists get graft semantics") {
    val cat = freshCatalog("vine")
    IceWrite.create(spark, cat, "t", Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))

    // IF NOT EXISTS: creates when absent, no-ops (keeps the original
    // definition) when the name is taken — not a foreign-catalog error
    spark.sql("CREATE VIEW IF NOT EXISTS vine.a AS SELECT k FROM vine.t")
    assert(spark.sql("SELECT * FROM vine.a").count() == 2L)
    spark.sql("CREATE VIEW IF NOT EXISTS vine.a AS SELECT k FROM vine.t WHERE k = 1")
    assert(spark.sql("SELECT * FROM vine.a").count() == 2L,
      "IF NOT EXISTS over an existing view must keep the original definition")
    assert(cat.loadTable("a").properties(Views.CurrentVersionKey) == "1")

    // both clauses together refuse with a clear graft message
    val both = intercept[Exception](spark.sql(
      "CREATE OR REPLACE VIEW IF NOT EXISTS vine.a AS SELECT k FROM vine.t"))
    assert(both.getMessage.contains("cannot specify both"), both.getMessage)

    // column-alias list renames the query's outputs (no-space form too)
    spark.sql("CREATE VIEW vine.ren (key, `val`) AS SELECT k, v FROM vine.t")
    assert(cat.loadTable("ren").schema.map(_.name) == Seq("key", "val"))
    assert(spark.sql("SELECT key, val FROM vine.ren WHERE key = 2").head.getLong(1) == 20L)
    spark.sql("CREATE VIEW vine.ren2(a,b) AS SELECT k, v FROM vine.t")
    assert(cat.loadTable("ren2").schema.map(_.name) == Seq("a", "b"))

    // an alias-count mismatch fails AT CREATE, and nothing is persisted
    val mism = intercept[Exception](spark.sql(
      "CREATE VIEW vine.bad (x, y, z) AS SELECT k FROM vine.t"))
    assert(!cat.tableExists("bad"), mism.getMessage)
    // COMMENT clauses in the list refuse by name instead of mis-parsing
    val cmt = intercept[Exception](spark.sql(
      "CREATE VIEW vine.bad2 (x COMMENT 'c') AS SELECT k FROM vine.t"))
    assert(cmt.getMessage.contains("column"), cmt.getMessage)
    GraftSql.unregister("vine")
  }

  test("temp-view refusal is CTE-scope-aware, cycles report consistently") {
    val cat = freshCatalog("vsc")
    import spark.implicits._
    IceWrite.create(spark, cat, "t", Seq((1L, 2L)).toDF("k", "v"))
    Seq((9L, 9L)).toDF("k", "v").createOrReplaceTempView("vsc_tmp")

    // a CTE named like the temp view excuses references INSIDE its WITH
    // subtree only — the same name in an UNRELATED subquery still refers
    // to the temp view and must refuse
    val esc = intercept[Exception](spark.sql(
      "CREATE VIEW vsc.leak AS SELECT * FROM " +
        "(WITH vsc_tmp AS (SELECT k FROM vsc.t) SELECT k FROM vsc_tmp) a " +
        "JOIN (SELECT k FROM vsc_tmp) b ON a.k = b.k"))
    assert(esc.getMessage.contains("TEMPORARY"), esc.getMessage)
    assert(!cat.tableExists("leak"))
    // ...while the in-scope shadowing form still creates fine
    spark.sql("CREATE VIEW vsc.ok AS " +
      "WITH vsc_tmp AS (SELECT k FROM vsc.t) SELECT k FROM vsc_tmp")
    assert(spark.sql("SELECT * FROM vsc.ok").count() == 1L)

    // a cyclic view referenced TWICE in one query reports the cycle and
    // leaves the guard clean — the next (repaired) read works
    spark.sql("CREATE VIEW vsc.c1 AS SELECT k FROM vsc.t")
    spark.sql("CREATE VIEW vsc.c2 AS SELECT k FROM vsc.c1")
    spark.sql("CREATE OR REPLACE VIEW vsc.c1 AS SELECT k FROM vsc.c2")
    val e1 = intercept[Exception](spark.sql(
      "SELECT * FROM vsc.c1 UNION ALL SELECT * FROM vsc.c1").collect())
    assert(e1.getMessage.contains("recursive"), e1.getMessage)
    val e2 = intercept[Exception](spark.sql(
      "SELECT * FROM vsc.c1 UNION ALL SELECT * FROM vsc.c1").collect())
    assert(e2.getMessage.contains("recursive"), e2.getMessage)
    spark.sql("CREATE OR REPLACE VIEW vsc.c1 AS SELECT k FROM vsc.t")
    assert(spark.sql("SELECT * FROM vsc.c1 UNION ALL SELECT * FROM vsc.c1")
      .count() == 2L)
    GraftSql.unregister("vsc")
  }

  test("trino-dialect views inside the safe subset translate and read; traps refuse") {
    import org.json4s.jackson.JsonMethods
    val cat = freshCatalog("vtr")
    IceWrite.create(spark, cat, "base",
      (1L to 12L).map(i => (i, i % 3, s"s$i")).toDF("k", "g", "s"))

    def viewDoc(name: String, sql: String, dialect: String = "trino"): Unit =
      IcebergImport.importIcebergViewMetadataJson(cat, name, JsonMethods.parse(
        s"""{"view-uuid": "00000000-0000-0000-0000-0000000$name",
           |  "format-version": 1, "current-version-id": 1,
           |  "schemas": [{"type": "struct", "schema-id": 0, "fields": [
           |    {"id": 1, "name": "k", "required": false, "type": "long"}]}],
           |  "versions": [{"version-id": 1, "timestamp-ms": 1, "schema-id": 0,
           |    "representations": [{"type": "sql",
           |      "sql": ${org.json4s.jackson.JsonMethods.compact(
                  org.json4s.jackson.JsonMethods.render(org.json4s.JString(sql)))},
           |      "dialect": "$dialect"}],
           |    "default-namespace": ["wh"]}]}""".stripMargin))

    // the SAFE subset: quoted identifiers, ||, whitelisted functions,
    // aggregates, CASE — rows must equal the identical native definition
    viewDoc("tv1",
      """SELECT "g", count(*) AS "cnt", sum("k") AS total,
        |       concat(upper('x'), '-') || cast(max("k") AS varchar) AS tag,
        |       CASE WHEN avg("k") > 5 THEN 'hi' ELSE 'lo' END AS band
        |FROM vtr.base WHERE "k" BETWEEN 2 AND 11 GROUP BY "g"""".stripMargin)
    spark.sql("CREATE VIEW vtr.nat AS " +
      "SELECT g, count(*) AS cnt, sum(k) AS total, " +
      "concat(upper('x'), '-') || cast(max(k) AS string) AS tag, " +
      "CASE WHEN avg(k) > 5 THEN 'hi' ELSE 'lo' END AS band " +
      "FROM vtr.base WHERE k BETWEEN 2 AND 11 GROUP BY g")
    val a = spark.sql("SELECT * FROM vtr.tv1").collect().toSeq.sortBy(_.toString)
    val b = spark.sql("SELECT * FROM vtr.nat").collect().toSeq.sortBy(_.toString)
    assert(a == b, s"translated trino view diverged:\n$a\n$b")
    // renamed same-semantics functions map over
    viewDoc("tv2", """SELECT strpos("s", 's') AS p, starts_with("s", 's') AS w
      |FROM vtr.base WHERE "k" = 3""".stripMargin)
    val r = spark.sql("SELECT * FROM vtr.tv2").head
    assert(r.getInt(0) == 1 && r.getBoolean(1))

    // hive dialect: double quotes are STRING literals, not identifiers
    viewDoc("hv1", """SELECT count(*) AS c FROM vtr.base WHERE s <> "never"""",
      dialect = "hive")
    assert(spark.sql("SELECT * FROM vtr.hv1").head.getLong(0) == 12L)

    // silent-wrong TRAPS refuse by name: split (regex vs literal),
    // date_add (different argument shapes), array subscripts (1- vs
    // 0-based), higher-order lambdas
    for (bad <- Seq(
        """SELECT split("s", ',') FROM vtr.base""",
        """SELECT date_add('day', 1, current_date) FROM vtr.base""",
        """SELECT "arr"[1] FROM vtr.base""",
        """SELECT transform("arr", x -> x + 1) FROM vtr.base""",
        // from_unixtime returns STRING in Spark, timestamp in Trino —
        // the silently-different-frame trap the whitelist must block
        """SELECT from_unixtime("k") FROM vtr.base""",
        """SELECT date_trunc('month', current_date) FROM vtr.base""")) {
      val n = s"bad${bad.hashCode.abs % 1000}"
      viewDoc(n, bad)
      val e = intercept[Exception](spark.sql(s"SELECT * FROM vtr.$n").collect())
      assert(e.getMessage.contains("trino"), s"$bad => ${e.getMessage}")
    }
    GraftSql.unregister("vtr")
  }

  test("SHOW TABLES/VIEWS LIKE: '|' alternation and literal metacharacters") {
    val cat = freshCatalog("vsl")
    IceWrite.create(spark, cat, "t1", Seq((1L, 1L)).toDF("k", "v"))
    spark.sql("CREATE VIEW vsl.v1 AS SELECT k FROM vsl.t1")
    spark.sql("CREATE VIEW vsl.v2 AS SELECT v FROM vsl.t1")
    spark.sql("CREATE VIEW vsl.other AS SELECT k FROM vsl.t1")

    assert(spark.sql("SHOW VIEWS IN vsl LIKE 'v1|v2'").collect()
      .map(_.getString(1)).toSet == Set("v1", "v2"))
    assert(spark.sql("SHOW VIEWS IN vsl LIKE 'v*'").collect()
      .map(_.getString(1)).toSet == Set("v1", "v2"))
    // a regex metacharacter matches LITERALLY instead of throwing
    assert(spark.sql("SHOW VIEWS IN vsl LIKE 'v(1)'").count() == 0L)
    assert(spark.sql("SHOW TABLES IN vsl LIKE 't1|zzz'").collect()
      .map(_.getString(1)).toSet == Set("t1"))
    assert(spark.sql("SHOW TABLES IN vsl LIKE 't+'").count() == 0L,
      "'+' is a literal, not a regex quantifier")
    GraftSql.unregister("vsl")
  }
}
