package graft.examples

import org.apache.spark.sql.functions._

import graft.functions.UnicodeFunctions
import graft.meta.{ChangeFeed, Changelog, IceRead, IceWrite, LocalCatalog}
import graft.ops.{Dedup, Mixture, Packing, Quality, Sampling, Similarity, Sketch, TextAnalysis}
import graft.sources.Warc

/** End-to-end training-data curation pipeline over the synthetic corpus —
  * the composition story: ingest documents into the table format,
  * NFC-normalize, score and filter by quality and repetition, scrub PII,
  * gate on the Gopher document rules, excise corpus-wide duplicated
  * substrings, drop exact and near duplicates, plan the source mixture,
  * split train/val/test deterministically, write the curated corpus back
  * as a table, patch it with a conditional MERGE, subscribe to its
  * changelog, pack the train split into fixed-token chunks, and stand up
  * an ANN index over the embeddings. Every stage is an operator this
  * library ships; run with
  * {{{ sbt "runMain graft.examples.PipelineDemo" }}}.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.util.Sessions.local()
    val sf = "/root/testdata/sf0.001"
    val catalog = LocalCatalog(
      java.nio.file.Files.createTempDirectory("pipeline-wh").toString)

    import spark.implicits._

    // 1. ingest the raw corpus as a governed table
    val raw = spark.read.parquet(s"$sf/documents.parquet")
    IceWrite.create(spark, catalog, "docs_raw", raw)
    println(s"INGESTED rows=${IceRead.table(spark, catalog, "docs_raw").count()}")

    // 1a. one-pass corpus sketches: distinct-token scale (HLL) and the
    //     doc-length distribution (quantile histogram) — the numbers that
    //     size every downstream decision, at fixed state however large
    //     the corpus
    val toks = raw.select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val hllEst = Sketch.hllCountDistinct(toks, "tok")
    val lenHist = Sketch.quantileHistogram(raw, "n_chars", 0.0, 2000.0, 256)
    val p5090 = Sketch.quantileEstimate(lenHist, Seq(500000L, 900000L), 0.0, 2000.0, 256)
      .collect().map(r => s"p${r.getLong(0) / 10000}<=${r.getLong(2) / 1000000}").mkString(" ")
    println(s"SKETCH distinct_tokens~$hllEst len_chars $p5090")

    // 1b. day-2 crawl lands: dedup it against EVERYTHING already
    //     ingested via the persisted fingerprint index (replay-stable),
    //     not just against itself
    Dedup.incrementalExact(spark, catalog, "docs_fp_index",
      raw.select(col("doc_id"), col("text")), "doc_id", "text", batchId = 0L).count()
    val day2 = raw.limit(40).select((col("doc_id") + 500000).as("doc_id"), col("text"))
      .unionAll(Seq((900001L, "a genuinely new document about graft pipelines"))
        .toDF("doc_id", "text"))
    val novel = Dedup.incrementalExact(spark, catalog, "docs_fp_index",
      day2, "doc_id", "text", batchId = 1L)
    println(s"INCREMENTAL day2=${day2.count()} novel=${novel.count()}")

    // 2. Unicode canonicalization, quality + repetition scoring, and PII
    //    scrub (pure per-row expressions, no shuffle anywhere in this
    //    stage; NFC first so every downstream byte hash sees canonical
    //    code points)
    val repetition = TextAnalysis.repetitionMetrics(
      IceRead.table(spark, catalog, "docs_raw"))
    val scored = IceRead.table(spark, catalog, "docs_raw")
      .withColumn("text", UnicodeFunctions.nfc(col("text")))
      .join(repetition, Seq("doc_id"))
      .withColumn("quality", TextAnalysis.qualityScore(col("text"), col("n_chars")))
      .withColumn("lang", TextAnalysis.langId(col("text")))
      .withColumn("text", TextAnalysis.redactPii(col("text")))
    val kept = scored.filter(col("quality") >= 0.5 && col("dup_word_frac") <= 0.9)
    println(s"QUALITY kept=${kept.count()} of=${scored.count()}")

    // 2a. Gopher document rules (relaxed word-count floor for the short
    //     synthetic docs) — the published heuristic gate
    val gopherKeep = Quality.gopherRules(kept, minWords = 20)
      .filter(col("keep")).select(col("doc_id"))
    val gated = kept.join(gopherKeep, Seq("doc_id"), "left_semi")
    println(s"GOPHER kept=${gated.count()}")

    // 2b. duplicated-substring excision: corpus-wide repeated 8-token
    //     windows are cut from every document before any hashing. From
    //     here on `text` is the canonical token stream (lowercased,
    //     whitespace-collapsed) — the form every downstream hash sees
    val excised = Dedup.exciseDuplicatedNgrams(gated, "doc_id", "text")
      .select(col("id").as("doc_id"), col("clean_text").as("text"))
      .join(gated.drop("text"), Seq("doc_id"))
    println(s"EXCISED docs=${excised.count()}")

    // 3. exact dedup (hash-agg on fingerprints) -> keeper ids
    val keepers = Dedup.exact(excised, "doc_id", "text").select(col("keeper_id").as("doc_id"))
    val exactDeduped = excised.join(keepers, Seq("doc_id"), "left_semi")
    println(s"EXACT-DEDUP kept=${exactDeduped.count()}")

    // 4. near-dup removal: MinHash+LSH pairs -> connected components ->
    //    keep each cluster's BEST member by quality score (real pipelines
    //    keep the best duplicate, not the lowest id)
    val pairs = Dedup.minHashNearDupPairs(exactDeduped, "doc_id", "text", threshold = 0.5)
    val curated = Dedup.keepBestPerCluster(exactDeduped, "doc_id", "quality",
      Dedup.clusterPairsStar(pairs))
    println(s"NEAR-DEDUP kept=${curated.count()} (best-quality keeper per cluster)")

    // 4a. mixture plan: how hard to sample each source to hit the target
    //     recipe, from measured token counts (ppm-exact)
    val mix = Mixture.domainMixturePlan(curated, "source",
      TextAnalysis.tokenCount(col("text")),
      weightsPpm = Map("src0" -> 200000L), defaultPpm = 45000L)
    val capped = mix.agg(sum(col("take_tokens"))).head().getLong(0)
    println(s"MIXTURE domains=${mix.count()} planned_tokens=$capped")

    // 5. deterministic split, then the curated corpus is itself a governed
    //    table (time travel, compaction, GC, tags all apply)
    val split = Sampling.assignSplit(curated, "doc_id")
    IceWrite.create(spark, catalog, "docs_curated",
      split.select("doc_id", "text", "lang", "quality", "split"))
    IceWrite.createTag(catalog, "docs_curated", "v1",
      catalog.loadTable("docs_curated").currentSnapshotId.get)
    val bySplit = IceRead.table(spark, catalog, "docs_curated")
      .groupBy("split").count().collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
    println(s"CURATED table rows=${IceRead.table(spark, catalog, "docs_curated").count()} ($bySplit) tagged=v1")

    // 5a'. ANALYZE: sketch-backed column statistics persisted as table
    //      properties — what later cost-based decisions read, no scan
    val stats = graft.compaction.Maintenance.analyzeTable(
      spark, catalog, "docs_curated", Seq("lang", "quality"))
    println(s"ANALYZE rows=${stats("stats.rows")} lang_ndv=${stats("stats.lang.ndv")} " +
      s"quality_max=${stats("stats.quality.max")}")

    // 5a. governance patch via conditional MERGE: a review flags one
    //     document for removal and rescores another — one atomic snapshot
    val reviewed = Seq((0L, "remove"), (1L, "rescore")).toDF("doc_id", "action")
    val patch = IceRead.table(spark, catalog, "docs_curated")
      .join(reviewed, Seq("doc_id"))
    IceWrite.merge(spark, catalog, "docs_curated", patch,
      keys = Seq("doc_id"),
      matchedDeleteWhen = col("s.action") === "remove",
      matchedUpdateWhen = col("s.action") === "rescore",
      updateSet = Map("quality" -> (col("t.quality") * 0.5)),
      insertWhen = lit(false)) // review patches never create documents
    println(s"MERGED rows=${IceRead.table(spark, catalog, "docs_curated").count()}")

    // 5b. a downstream consumer tails the curated table's changelog
    val ck = java.nio.file.Files.createTempDirectory("pipeline-ck").resolve("ck")
    val feed = new ChangeFeed(spark, catalog, "docs_curated", ck.toString)
    feed.poll((frame, snap) => println(
      s"CHANGEFEED snapshot=${snap.snapshotId} " +
        s"inserts=${frame.filter(col(Changelog.ChangeTypeCol) === "insert").count()}"))

    // 5c. export prep: pack the train split into 512-token chunks
    val train = IceRead.table(spark, catalog, "docs_curated")
      .filter(col("split") === "train")
      .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"))
    val packed = Packing.packChunks(train, "doc_id", "n_toks", chunkTokens = 512)
    val nChunks = packed.agg(max(col("last_chunk"))).head().getLong(0) + 1
    println(s"PACKED docs=${packed.count()} chunks=$nChunks")

    // 5d. the training order itself: round-robin interleave across
    //     languages (no global window), then deterministic shards on disk
    //     — rerunning this export yields byte-identical training order
    val ordered = Mixture.roundRobinInterleave(
      IceRead.table(spark, catalog, "docs_curated").filter(col("split") === "train")
        .select(col("doc_id"), col("lang")), "doc_id", "lang")
    val firstRound = ordered.orderBy(col("position")).limit(3)
      .collect().map(r => s"${r.getString(1)}:${r.getLong(0)}").mkString(" ")
    val shardDir = java.nio.file.Files.createTempDirectory("pipeline-shards").toString
    Sampling.writeShards(ordered.select("doc_id", "position"), "doc_id", 4, shardDir)
    println(s"EXPORT order_head=[$firstRound] shards=4 at $shardDir")

    // 5e. sparse retrieval over the curated table: persisted inverted
    //     index (postings term-clustered for IN-pushdown file skipping),
    //     BM25 served without ever reading document text
    graft.ops.TextIndex.build(spark, catalog, "docs_bm25",
      IceRead.table(spark, catalog, "docs_curated"), "doc_id", "text")
    val hits = graft.ops.TextIndex.searchBm25(spark, catalog, "docs_bm25",
      Seq("spark", "window", "merge"), k = 3)
      .collect().map(r => s"${r.getLong(0)}@${r.getLong(2)}").mkString(",")
    println(s"BM25 top3=[$hits] (served from the index alone)")

    // 5f. tokenizer training on the curated corpus: distributed BPE —
    //     vocabulary-bounded merge rounds, one corpus pass total
    val merges = graft.ops.Bpe.train(
      IceRead.table(spark, catalog, "docs_curated"), "text", nMerges = 6)
    println(s"BPE merges=" + merges.map { case (l, r) => s"$l+$r" }.mkString(" "))

    // 6. ANN over the embeddings: IVF cells + a probe query
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
    val centroids = embs.filter(col("vec_id") % 50 === 0)
    val probe = embs.filter(col("vec_id") === 1)
    val nn = Similarity.ivfTopK(embs.select("vec_id", "embedding"), "vec_id", "embedding",
      probe.select("vec_id", "embedding"), k = 3, centroids, "vec_id", "embedding")
    println(s"ANN probe=1 neighbors=" +
      nn.collect().map(r => s"${r.getAs[Long]("neighbor_id")}@${r.getAs[Double]("sim")}").mkString(","))

    // 6a. semantic dedup over the embedding space (SemDeDup), then PQ
    //     codes for the survivors — the compressed serving index
    val semKept = Similarity.semanticDedup(embs, "vec_id", "embedding",
      centroids, "vec_id", "embedding", tau = 0.99)
    val codes = Similarity.pqEncode(
      embs.join(semKept.select("vec_id"), Seq("vec_id"), "left_semi"),
      "vec_id", "embedding", embs.filter(col("vec_id") < 16), "vec_id", "embedding", m = 4)
    println(s"SEMDEDUP kept=${semKept.count()} PQ codes=${codes.count()} x4 bytes")

    // 6b. the persisted form: build the IVF+PQ index ONCE as catalog
    //     tables, grow it with an append, serve from integer codes
    graft.ops.AnnIndex.build(spark, catalog, "emb_idx",
      embs.filter(col("vec_id") < 400), "vec_id", "embedding", nCells = 8, m = 4)
    graft.ops.AnnIndex.append(spark, catalog, "emb_idx",
      embs.filter(col("vec_id") >= 400), "vec_id", "embedding")
    val served = graft.ops.AnnIndex.search(spark, catalog, "emb_idx",
      probe.select("vec_id", "embedding"), "vec_id", "embedding", k = 3, nprobe = 2)
    println(s"ANN-INDEX served=" + served.collect()
      .map(r => s"${r.getLong(1)}#${r.getLong(2)}").mkString(","))

    // 7. the web-crawl front door: WARC archives -> records -> raw
    //    HTML -> text, canonical-URL frontier dedup (one fetch key per
    //    page spelling), then the cross-run near-dup index absorbs a
    //    re-crawl
    val pages = raw.limit(200).select(col("doc_id"),
      concat(lit("<html><body><p>"), col("text"),
        lit("</p><!-- footer --><br>fin</body></html>")).as("html"))
    // the corpus as it actually arrives: 4 gzipped WARC archives
    val warcEnc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("file_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("payload",
          org.apache.spark.sql.types.BinaryType))))
    val archives = pages
      .groupBy(expr("doc_id div 50").as("file_id"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("html")))).as("recs"))
      .mapPartitions { rows =>
        rows.map { r =>
          val recs = r.getSeq[org.apache.spark.sql.Row](1).map { rr =>
            (s"http://crawl/doc/${rr.getLong(0)}", "text/html",
              rr.getString(1).getBytes("UTF-8"))
          }
          org.apache.spark.sql.Row(r.getLong(0), Warc.gzip(Warc.warcBytes(recs)))
        }
      }(warcEnc)
    val records = Warc.parse(spark, archives)
      .select(regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
          .cast("long").as("doc_id"),
        col("body").cast("string").as("html"))
    println(s"WARC archives=${archives.count()} records=${records.count()}")
    val crawl = records.select(col("doc_id"), col("html"),
      concat(lit("HTTP://Site"), (col("doc_id") % 40).cast("string"),
        lit(".COM:80/page/"), (col("doc_id") % 40).cast("string"),
        lit("?utm_source=crawl&id="), (col("doc_id") % 40).cast("string")).as("url"))
    val extracted = crawl.select(col("doc_id"),
      TextAnalysis.stripHtml(col("html")).as("text"),
      TextAnalysis.canonicalizeUrl(col("url")).as("canon_url"))
    val frontier = extracted.withColumn("__rk",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("canon_url"))
            .orderBy(col("doc_id"))))
      .filter(col("__rk") === 1).drop("__rk")
    println(s"CRAWL pages=${crawl.count()} frontier=${frontier.count()} (URL-level dedup)")
    val day1 = Dedup.incrementalMinHash(spark, catalog, "crawl_idx",
      frontier.select(col("doc_id"), col("text")), "doc_id", "text", batchId = 0L)
    val recrawl = Dedup.incrementalMinHash(spark, catalog, "crawl_idx",
      frontier.select((col("doc_id") + 1000).as("doc_id"), col("text")),
      "doc_id", "text", batchId = 1L)
    println(s"RECRAWL day1=${day1.count()} day2_novel=${recrawl.count()} (near-dup index)")

    // 8. round-3 additions, end to end:
    // 8a. a partner drops a parquet directory: register it with ZERO
    //     rewrite (footer stats only), then tombstone inside it
    val extDir = java.nio.file.Files.createTempDirectory("pipeline-ext").toString + "/drop"
    raw.limit(30).select(col("doc_id"), col("lang")).write.parquet(extDir)
    IceWrite.importParquetTable(spark, catalog, "partner_drop", extDir)
    IceWrite.deleteWhere(spark, catalog, "partner_drop", col("doc_id") % 7 === 0)
    println(s"IMPORTED rows=${IceRead.table(spark, catalog, "partner_drop").count()} " +
      s"files_rewritten=0 (add_files)")

    // 8b. domain blocklist on the crawl + fuzzy-join decontamination
    //     against a reference set (e.g. a benchmark's test split)
    val cleanCrawl = extracted.filter(
      !TextAnalysis.blockedByDomain(col("canon_url"), Seq("tracker.example")))
    val refSet = frontier.limit(3)
      .select((col("doc_id") + 9000).as("ref_id"), col("text"))
    val contaminated = Dedup.minHashJoin(cleanCrawl, refSet,
      "doc_id", "text", "ref_id", "text", threshold = 0.8)
    println(s"DECONTAM crawl=${cleanCrawl.count()} flagged=${contaminated.count()} " +
      "(fuzzy join vs reference set)")

    // 8c. multimodal gates: silence/clipping on audio, frame-overlap
    //     near-dup on video
    val wavs = Seq(
      (1L, graft.ops.Multimodal.wavBytes(8000, 1, Array.fill[Short](8000)(0))),
      (2L, graft.ops.Multimodal.wavBytes(8000, 1, Array.fill[Short](8000)(16384)))
    ).toDF("media_id", "payload")
    val sig = graft.ops.Multimodal.audioSignalStats(spark, wavs)
      .filter(col("silence_e6") < 900000)
    def demoFrame(p: Int) = graft.ops.Multimodal.grayBmpBytes(9, 8,
      (x, y) => if (x <= (y + p) % 8) 0 else 255)
    val vids = Seq(
      (1L, graft.ops.Multimodal.aviBytes(9, 8, 40000, Seq(0, 1, 2).map(demoFrame))),
      (2L, graft.ops.Multimodal.aviBytes(9, 8, 40000, Seq(1, 2, 3).map(demoFrame)))
    ).toDF("media_id", "payload")
    val vidPairs = graft.ops.Multimodal.videoNearDupPairs(spark, vids,
      minOverlapPpm = 500000L)
    println(s"MULTIMODAL audio_kept=${sig.count()} video_neardup_pairs=${vidPairs.count()}")

    // 8d. retention: date-partitioned events, expire one day METADATA-ONLY
    val events = (1L to 60L).map(i => (i, s"2026-01-0${i % 3 + 1}", i)).toDF("id", "ds", "v")
    IceWrite.create(spark, catalog, "events_part", events,
      partitionSpec = Seq(graft.meta.PartitionField("ds")))
    IceWrite.dropPartitions(catalog, "events_part", Map("ds" -> "2026-01-01"))
    println(s"RETENTION days_left=${IceRead.table(spark, catalog, "events_part")
      .select("ds").distinct().count()} (partition drop, zero data moved)")
    println(s"CATALOG tables=${catalog.listTables.size}")

    spark.stop()
  }
}
