package graft.examples

import org.apache.spark.sql.functions._

import graft.meta.LocalCatalog
import graft.selection.{FullCompactionConfig, PlanningParams}
import graft.compaction.Compaction
import graft.testkit.FileGenerator
import graft.util.{Profile, Sessions}

/** ONE measured sf1 datapoint for the heavy dedup/index/compaction lines
  * (the round-10 verdict's item 5): every scale claim above sf0.1 was
  * by-construction; this runner tests the cap invariants and the
  * commit-I/O bands at another magnitude, the same move as the r6 skew
  * 10x grow. Run idle-box, record into BASELINE.md:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.examples.Sf1Anchor"
  *
  * The sf1 inputs derive from the driver's sf0.1 parquet (TESTDATA.md
  * forbids inventing data) by 10x replica explosion:
  *
  *  - DEDUP corpus: each replica is the plain corpus under a replica-
  *    rotated substitution cipher, so shingles/grams NEVER match across
  *    replicas while per-replica near-dup structure is exactly sf0.1's
  *    — pair counts must land ~10x the sf0.1 lines (a checkable
  *    scaling law, recorded in the output). The corpus then gets the
  *    oracle harness's seeding
  *    (half the docs re-appended with " extra", a third duplicated) so
  *    positives exist by construction, as in the timed sf0.1 lines.
  *  - SKEW corpus: one third of the 10x corpus replaced by shared
  *    boilerplate — a ~167k-doc LSH mega-bucket, 10x the bench's
  *    planted bucket, which uncapped would be ~1.4e10 candidate pairs
  *    per band.
  *  - TEXT-INDEX corpus: plain 10x replication (distinct doc ids, same
  *    text) — postings stretch 10x, the write-amp and `term IN`
  *    file-skip paths carry the load.
  *  - LINEITEM: 10x with shifted order keys (~6M rows), fragmented into
  *    the same 8-file + pos/eq-delete MOR fixture Bench compacts.
  *
  * Prints ONE JSON line (metric=sf1_anchor) with per-line seconds, pair
  * counts, and the load stamps BASELINE.md's adjudication protocol
  * keys on. */
object Sf1Anchor {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.cpus
    val spark = Sessions.local(cpus)
    val loadStart = Profile.loadavg()

    // a swallowed failure must NOT read as a fast line: errors record
    // into the JSON (and fail the process) so adjudication can never
    // mistake a crashed line's near-zero seconds for a speedup
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val detail = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def timed(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      try { f; results(name) = (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        results(name) = (System.nanoTime() - t0) / 1e9
        errors(name) = Option(e.getMessage).getOrElse(e.toString).take(200)
      }
    }
    // free each line's own checkpoint blocks WITHOUT dropping the
    // fixture corpora later lines still read (the Bench keep-set trick)
    var keepIds = Set.empty[Int]
    def markFixtures(): Unit =
      keepIds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def releaseAll(): Unit =
      spark.sparkContext.getPersistentRDDs.foreach { case (id, r) =>
        if (!keepIds.contains(id)) r.unpersist(false)
      }


    // ---- fixtures (untimed) ----
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val nBase = base.count()
    val reps = 10
    // per-replica SUBSTITUTION CIPHER: each replica's alphabet rotates
    // by its index, so replicas share NO words (shingles and character
    // grams never collide across replicas) while word lengths, gram
    // counts, and winnow/minhash structure stay EXACTLY the plain
    // corpus's per replica. (A first fixture attempt tagged every word
    // with "_rep" — that lengthened words by 2 chars over this corpus's
    // ~30-word vocabulary and pushed every k=12 winnow gram bucket over
    // the 64-doc cap at 10x volume: d13 recall went to literal zero.
    // The cap did its documented job; the fixture was distorting gram
    // selectivity. Recorded in BASELINE.md as the sf1 finding.)
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val tagged = (0 until reps).map { r =>
      val rot = alpha.drop(r) + alpha.take(r)
      base.select((col("doc_id") + lit(r.toLong * nBase * 10)).as("doc_id"),
        translate(col("text"), alpha, rot).as("text"))
    }.reduce(_ unionAll _)
      .repartition(cpus * 2)
      .localCheckpoint(true)
    val nTagged = tagged.count()
    detail("docs") = nTagged
    // the oracle harness's seeding at 10x volume (OpsQueries.corpus)
    val seeded = tagged
      .unionAll(tagged.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(col("text"), lit(" extra")).as("text")))
      .unionAll(tagged.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"), col("text")))
      .repartition(cpus * 2)
      .localCheckpoint(true)
    detail("seeded_docs") = seeded.count()
    markFixtures()

    // ---- d2: MinHash+LSH near-dup pairs (vs sf0.1 d2_minhash_pairs) ----
    timed("d2_sf1") {
      detail("d2_pairs") = graft.ops.Dedup.minHashNearDupPairs(seeded,
        "doc_id", "text", n = 3, k = 16, rowsPerBand = 4,
        threshold = 0.5, maxBucketSize = 100).count()
    }
    releaseAll()

    // ---- d13: winnowing fingerprint pairs (vs d13_winnow_pairs) ----
    timed("d13_sf1") {
      detail("d13_pairs") = graft.ops.Dedup.winnowNearDupPairs(seeded,
        "doc_id", "text", k = 12, minOverlapPpm = 500000L,
        maxBucketSize = 64).count()
    }
    releaseAll()

    // ---- d13 under the SCALED cap policy (the round-11 anchor lesson
    // as code, [[Dedup.scaledWinnowCap]]): the cap expresses a document-
    // frequency threshold, so at 10x docs it is 64 -> 640 and the
    // medium-hot organic grams the fixed cap would drop keep flowing.
    // On this selectivity-preserving cipher corpus both caps must be
    // non-degenerate; the scaled one may only find MORE pairs. ----
    timed("d13_scaledcap_sf1") {
      detail("d13_scaled_pairs") = graft.ops.Dedup.winnowNearDupPairs(seeded,
        "doc_id", "text", k = 12, minOverlapPpm = 500000L,
        maxBucketSize = graft.ops.Dedup.scaledWinnowCap(
          detail("seeded_docs"), detail("seeded_docs") / reps, 64)).count()
    }
    releaseAll()

    // ---- i2: incremental cross-run MinHash index, two batches ----
    timed("i2_sf1") {
      val catalog = new LocalCatalog(
        java.nio.file.Files.createTempDirectory("sf1-i2-wh").toString)
      val b0 = tagged.filter(col("doc_id") % 3 =!= 0)
      val b1 = tagged.filter(col("doc_id") % 3 === 0)
        .unionAll(tagged.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 5 === 0)
          .select((col("doc_id") + 30000000L).as("doc_id"),
            concat(col("text"), lit(" extra")).as("text")))
      val out0 = graft.ops.Dedup.incrementalMinHash(spark, catalog, "sf1_idx",
        b0, "doc_id", "text", 0L)
      val out1 = graft.ops.Dedup.incrementalMinHash(spark, catalog, "sf1_idx",
        b1, "doc_id", "text", 1L)
      detail("i2_rows") = out0.count() + out1.count()
    }
    releaseAll()

    // ---- skew_i2: the planted mega-bucket at 10x (≈167k-doc bucket) ----
    val boiler = ("Licensed under the Apache License Version 2.0 you may not use " +
      "this file except in compliance with the License you may obtain a copy " +
      "of the License at http example com licenses and limitations ") * 3
    val planted = tagged.withColumn("text",
      when(col("doc_id") % 3 === 0, lit(boiler)).otherwise(col("text")))
      .repartition(cpus * 2)
      .localCheckpoint(true)
    markFixtures()
    detail("planted_bucket") = planted.filter(col("doc_id") % 3 === 0).count()
    timed("skew_i2_sf1") {
      val catalog = new LocalCatalog(
        java.nio.file.Files.createTempDirectory("sf1-skew-wh").toString)
      val b0 = planted.filter(col("doc_id") % 2 === 0)
      val b1 = planted.filter(col("doc_id") % 2 =!= 0)
      val out0 = graft.ops.Dedup.incrementalMinHash(spark, catalog, "sf1_skew_idx",
        b0, "doc_id", "text", 0L)
      val out1 = graft.ops.Dedup.incrementalMinHash(spark, catalog, "sf1_skew_idx",
        b1, "doc_id", "text", 1L)
      detail("skew_i2_rows") = out0.count() + out1.count()
    }
    planted.unpersist()
    releaseAll()

    // ---- b2: persisted inverted index build + append + BM25 serve ----
    val plain = base.crossJoin(spark.range(reps).toDF("rep"))
      .select((col("doc_id") + col("rep") * nBase * 10).as("doc_id"), col("text"))
      .repartition(cpus * 2)
      .localCheckpoint(true)
    markFixtures()
    timed("b2_sf1") {
      val catalog = LocalCatalog(
        java.nio.file.Files.createTempDirectory("sf1-ti-wh").toString)
      graft.ops.TextIndex.build(spark, catalog, "sf1_ti",
        plain.filter(col("doc_id") % 3 =!= 0), "doc_id", "text")
      graft.ops.TextIndex.append(spark, catalog, "sf1_ti",
        plain.filter(col("doc_id") % 3 === 0), "doc_id", "text")
      detail("b2_hits") = graft.ops.TextIndex.searchBm25(spark, catalog, "sf1_ti",
        Seq("stream", "join", "batch"), k = 12).count()
    }
    plain.unpersist()
    releaseAll()
    tagged.unpersist(); seeded.unpersist()

    // ---- compaction_mor at ~6M lineitem rows (fixture untimed: testkit
    // cost, not engine cost — only plan -> rewrite -> commit -> validate
    // is on the clock, exactly like Bench) ----
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val nLi = li.count()
    val li10 = li.crossJoin(spark.range(reps).toDF("rep"))
      .select((col("l_orderkey") + col("rep") * 10000000L).as("l_orderkey") +:
        li.columns.filter(_ != "l_orderkey").map(col): _*)
    val wh = java.nio.file.Files.createTempDirectory("sf1-bench-wh")
    val catalog = new LocalCatalog(wh.toString)
    FileGenerator.writeTable(spark, catalog, "sf1_li", li10,
      FileGenerator.Config(dataFileCount = 8, posDeleteRowsPerFile = 100,
        eqDeleteRowsPerFile = 100, equalityIds = Seq("l_orderkey"),
        orderCol = "l_orderkey"))
    detail("lineitem_rows") = nLi * reps
    val before = catalog.loadTable("sf1_li").currentSnapshot.get.manifest
    detail("compaction_input_bytes") = before.map(_.length).sum
    timed("compaction_mor_sf1") {
      val c = new Compaction(catalog, "sf1_li", spark,
        config = FullCompactionConfig(PlanningParams(
          targetFileSizeBytes = 512L * 1024 * 1024,
          maxInputParallelism = 4 * cpus,
          maxOutputParallelism = cpus)),
        enableValidate = true)
      val res = c.compact()
      require(res.addedFiles.nonEmpty, "compaction produced no files")
      detail("compaction_output_bytes") = res.addedFiles.map(_.length).sum
    }

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val ds = detail.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val load = s""""load":{"start":$loadStart,"end":${Profile.loadavg()}}"""
    val errJson =
      if (errors.isEmpty) ""
      else errors.map { case (k, v) =>
        "\"" + k + "\":\"" + v.replace("\\", " ").replace("\"", "'")
          .replace("\n", " ") + "\""
      }.mkString(",\"errors\":{", ",", "}")
    println(s"""{"metric":"sf1_anchor","value":${results.values.sum},"unit":"sec","queries":$qs,"detail":$ds$errJson,$load,"sf":"$sfDir x10"}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
