package graft.ops

import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.JobScope

/** Deduplication operators for training-data pipelines, exact through
  * approximate, each designed around its 100 TB shuffle profile:
  *
  *  - exact: one hash-aggregate on a fingerprint (map-side combine, one
  *    shuffle keyed by digest — never by raw text);
  *  - MinHash+LSH: shingle explode -> per-doc signature aggregate (one
  *    shuffle on doc id) -> band bucket self-join (one shuffle on tiny
  *    band hashes) -> candidate verify. Bucket-size cap bounds the
  *    quadratic pair blowup on hot buckets (skew guard);
  *  - SimHash: per-doc bit-majority aggregate, same single-shuffle shape;
  *  - n-gram Jaccard: the exact (quadratic-in-candidates) baseline —
  *    at scale it is only ever run AFTER LSH candidate generation;
  *  - embedding near-dup: see [[Similarity]] for the LSH-bucketed scale
  *    path; the brute pair scan here is the correctness baseline.
  *
  * All hashing is md5-based so results are reproducible across engines
  * (and checkable against a SQL oracle).
  */
object Dedup {

  /** distinct character n-gram shingles per id: (id, gram) — `transform`
    * with an index lambda over `sequence`, then explode + distinct. */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 4): DataFrame =
    Spread(df).select(col(idCol).as("id"),
        explode(expr(
          s"transform(sequence(1, greatest(length($textCol) - ${n - 2}, 1)), i -> substring($textCol, i, $n))"
        )).as("gram"))
      .distinct()

  /** Per-row distinct char-n-gram SETS as sorted xxhash64 arrays:
    * (id, gset) — zero shuffle (pure per-row expression), the
    * representation every exact char-gram join consumes (codegen'd
    * sorted-merge tests on the broadcast arms; explode-for-ranking plus
    * set verification on the prefix arms). */
  def charGramSets(df: DataFrame, idCol: String, textCol: String, n: Int = 4): DataFrame =
    // fused native loop ([[graft.functions.CharNgramHashSet]]): the SQL
    // transform form it replaces was O(len^2) per row — substring(t, i, n)
    // re-scans from the string head for every window
    Spread(df).select(col(idCol).as("id"),
      graft.functions.ShingleFunctions.char_ngram_hash_set(col(textCol), n).as("gset"))

  /** distinct word n-gram shingles per id: the standard MinHash document
    * representation — ~5x fewer shingles than char 4-grams on prose, which
    * directly divides the signature stage's md5 bill. */
  def wordShingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    Spread(df).select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col("id"),
        explode(graft.functions.ShingleFunctions.word_ngrams(col("__toks"), n)).as("gram"))
      .distinct()

  /** Exact dedup: group rows by content fingerprint, keep the minimum id.
    * Returns (fingerprint, keeper_id, n_dups). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_dups"))

  /** Cross-RUN exact dedup against a persisted fingerprint index — the
    * shape an ingest pipeline actually needs: each arriving batch is
    * deduplicated against EVERYTHING ever ingested, not just itself.
    *
    * The index table holds (fingerprint, keeper_id, batch_id =
    * first-seen batch). Per batch: collapse within-batch duplicates
    * (lowest id wins, one digest-keyed aggregate), anti-join the index
    * to find never-seen content, commit those fingerprints atomically
    * (upsert keyed by fingerprint), and return the batch's novel keeper
    * rows — full columns.
    *
    * Replay-STABLE, not merely replay-tolerant: the emitted set is read
    * back from the index as "fingerprints whose first-seen batch is THIS
    * batch", so re-running a batch after a downstream failure re-emits
    * exactly the same rows (a naive "emit the anti-join" replays as
    * empty, silently dropping the batch). The batch's keepers are
    * materialized ONCE (localCheckpoint) before anything else: the
    * commit and the emission both read the checkpointed rows, so the
    * batch source is scanned a single time (a re-read source — limit,
    * sample, a moving stream — cannot diverge between what was committed
    * and what is emitted) and the commit never races the plan that
    * feeds it.
    *
    * Scale shape: one fingerprint aggregate + keeper self-join over the
    * micro-batch (batch-sized, the only place full rows shuffle), then
    * an anti join and a semi join against the index keyed by fingerprint
    * (sort-merge at scale — both sides hash-cluster on the digest; the
    * index side never carries text). The commit payload is the novel
    * keys only.
    *
    * Concurrency contract: one writer per index (the foreachBatch
    * serialization guarantee). Concurrent batches racing the same novel
    * fingerprint would both pass the anti join and the CAS retry would
    * let the later one overwrite first-seen attribution. */
  def incrementalExact(spark: org.apache.spark.sql.SparkSession,
      catalog: graft.meta.Catalog, indexTable: String,
      batch: DataFrame, idCol: String, textCol: String, batchId: Long): DataFrame = {
    require(!batch.columns.contains("fingerprint"),
      "incrementalExact: the batch must not already have a 'fingerprint' column")
    val fp = batch.withColumn("fingerprint", TextAnalysis.fingerprint(col(textCol)))
    val keepers = fp.join(
      fp.groupBy(col("fingerprint")).agg(min(col(idCol)).as(idCol)),
      Seq("fingerprint", idCol), "left_semi")
      .localCheckpoint(true)
    val exists = catalog.tableExists(indexTable)
    val fresh = {
      val k = keepers.select(col("fingerprint"), col(idCol).as("keeper_id"),
        lit(batchId).as("batch_id"))
      if (!exists) k
      else k.join(graft.meta.IceRead.table(spark, catalog, indexTable)
        .select(col("fingerprint")), Seq("fingerprint"), "left_anti")
      // materialized too (cheap: novel keys only) — isEmpty + the commit
      // would otherwise each re-run the index anti-join scan
    }.localCheckpoint(true)
    // REBALANCE the commit payload (see incrementalMinHash): one file per
    // pipeline partition per batch would tax every later index read
    if (!exists)
      graft.meta.IceWrite.create(spark, catalog, indexTable, fresh.hint("rebalance"))
    else if (!fresh.isEmpty)
      graft.meta.IceWrite.upsert(spark, catalog, indexTable, fresh.hint("rebalance"),
        keys = Seq("fingerprint"))
    val mine = graft.meta.IceRead.table(spark, catalog, indexTable)
      .filter(col("batch_id") === batchId).select(col("fingerprint"))
    keepers.join(mine, Seq("fingerprint"), "left_semi").drop("fingerprint")
  }

  /** Cross-RUN near-dup dedup against a persisted LSH band index — the
    * continuous-crawl shape of [[minHashNearDupPairs]]: each arriving
    * batch is near-dup-deduplicated against every batch ever ingested,
    * not just itself.
    *
    * The index table persists, per surviving doc: (id, batch_id =
    * first-seen batch, bands = the k/rowsPerBand LSH band hashes,
    * gset = the sorted xxhash64 shingle set). Per batch:
    *
    *  1. one [[minHashSignatureSets]] projection (shuffle-free) gives
    *     every batch doc its signature, band hashes, and verify set;
    *  2. WITHIN-batch: LSH bucket join -> size-gated exact-Jaccard
    *     verify -> connected components; each cluster keeps its min id;
    *  3. CROSS-run: batch band rows join the index's exploded band rows
    *     on (band, bh) — at scale a sort-merge keyed by band hash, the
    *     index side never carries text — and candidates are verified
    *     exactly against the stored gsets; any keeper matching history
    *     is dropped;
    *  4. survivors' (id, batch_id, bands, gset) upsert into the index
    *     atomically (CAS; keyed by id);
    *  5. the emitted rows are read BACK from the index as "ids first
    *     seen in THIS batch", joined to the batch for full columns.
    *
    * Replay-STABLE like [[incrementalExact]], with one extra guard: the
    * cross-run check excludes index rows whose batch_id IS this batch —
    * a replayed batch would otherwise match its own previous commit and
    * emit nothing, silently dropping the batch downstream.
    *
    * Null/empty text never matches anything (null gset fails every
    * Jaccard test) — such rows always survive as unique, matching the
    * batch pipeline's contract.
    *
    * Concurrency contract: one writer per index (the foreachBatch
    * serialization guarantee), same as [[incrementalExact]]. */
  def incrementalMinHash(spark: org.apache.spark.sql.SparkSession,
      catalog: graft.meta.Catalog, indexTable: String,
      batch: DataFrame, idCol: String, textCol: String, batchId: Long,
      n: Int = 3, k: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5, maxBucketSize: Int = 100,
      maxBroadcastCandidates: Long = MaxBroadcastCandidates): DataFrame = {
    // the batch source is scanned ONCE (the incrementalExact invariant):
    // the commit derives from this materialization and the emission joins
    // back to it, so a re-read source (limit, sample, a moving stream)
    // cannot diverge between what was committed and what is emitted
    val b = batch.localCheckpoint(true)
    // the cross-run arm's hot-bucket histogram reads ONLY the index table
    // — nothing the within-batch pipeline produces — so its collect
    // runs concurrently with that pipeline (guide §2.6: independent jobs
    // back-fill the executor slots each in-flight stage's tail frees).
    // Single-writer contract: nothing commits to the index between here
    // and the sequential point, so the prefetch sees the same snapshot
    // the sequential form would. Its outcome is a value, thrown where the
    // histogram is used; a within-batch failure cancels its jobs instead.
    val exists = catalog.tableExists(indexTable)
    val survivors = JobScope.run(spark.sparkContext) { scope =>
      val idxHotPrefetch =
        if (!exists) None
        else Some {
          val idx = graft.meta.IceRead.table(spark, catalog, indexTable)
            .filter(col("batch_id") =!= batchId)
          val idxBandRows = idx.select(col("id").as("old_id"),
            posexplode(col("bands")).as(Seq("band", "bh")))
          (idx, idxBandRows, scope.fork(scope.pool(1))(
            Try(hotBucketKeyRows(idxBandRows, Seq("band", "bh"), maxBucketSize))))
        }
      val keepers0 = withinBatchKeepers(spark, b, idCol, textCol, n, k, rowsPerBand,
        threshold, maxBucketSize, maxBroadcastCandidates)
      // cross-run: keeper bands vs the index's bands (REPLAY guard: this
      // batch's own prior commit must not match itself)
      if (!exists) keepers0
      else {
        // keepers feed THREE joins in the cross-run arm (band candidates,
        // the gset verify, the final anti join): materialize once —
        // DataFrame subtrees get no common-subexpression reuse, so the
        // lazy form recomputes the dedup anti-join per consumer. The
        // first-batch path keeps the lazy form (single consumer).
        val keepers = keepers0.localCheckpoint(true)
        // the index side gets the SAME hot-bucket cap as the within-batch
        // bucket join: one boilerplate band hash can accumulate O(index)
        // rows across batches, and an uncapped join would pay O(index)
        // candidates per keeper in that bucket — per batch, forever,
        // growing with the index. Over-cap buckets are dropped whole
        // (the lshCandidatePairs recall trade, same knob + skew-immune
        // [[dropHotBuckets]] form). The histogram collect was prefetched
        // above, concurrent with the whole within-batch pipeline; a
        // failure surfaces here exactly as the sequential form's would.
        val (idx, idxBandRows, idxHot) = idxHotPrefetch.get
        val (idxHotRows, idxHotHist) = idxHot.join().get
        val idxBands = dropHotKeyRows(idxBandRows, Seq("band", "bh"),
          idxHotRows, idxHotHist)
        val keeperBands = keepers.select(col("id"),
          posexplode(col("bands")).as(Seq("band", "bh")))
        val cand = keeperBands.join(idxBands, Seq("band", "bh"))
          .select(col("id"), col("old_id")).distinct()
        val matched = cand
          .join(keepers.select(col("id"), col("gset").as("__g1")), Seq("id"))
          .join(idx.select(col("id").as("old_id"), col("gset").as("__g2")), Seq("old_id"))
          .filter(graft.functions.SetFunctions.jaccard_ge(col("__g1"), col("__g2"), threshold))
          .select(col("id"))
        keepers.join(matched, Seq("id"), "left_anti")
      }
    }
    val fresh0 = survivors
      .select(col("id"), lit(batchId).as("batch_id"), col("bands"), col("gset"))
    if (!exists) {
      // REBALANCE the commit payload: fresh carries the batch's survivor
      // rows across however many partitions the dedup pipeline ran on —
      // written as-is that is one tiny file PER PARTITION per batch
      // (every later index read opens all of them; every commit pays the
      // per-file protocol round trips). AQE sizes the output instead.
      graft.meta.IceWrite.create(spark, catalog, indexTable,
        fresh0.localCheckpoint(true).hint("rebalance")): Unit
    } else {
      // survivors are first-seen ids in the common case — a plain APPEND
      // commits them without the upsert's equality-delete sidecar, which
      // every later read of the index would anti-join against, per batch,
      // forever. The id-collision flag (a replayed or id-reusing batch
      // falls back to the idempotent MOR upsert exactly as before) rides
      // the checkpoint materialization as a left-join marker, and ONE
      // aggregate over the checkpointed blocks then answers BOTH commit
      // gates — the r11 form paid a separate `fresh.isEmpty` job plus a
      // semi-join probe with its own index scan, per micro-batch,
      // forever. The index side dedups its id column first: the index is
      // id-keyed by contract, but a duplicate id must degrade to the
      // same upsert the semi-join chose, never to duplicated fresh rows.
      val idxIds = graft.meta.IceRead.table(spark, catalog, indexTable)
        .select(col("id")).distinct().withColumn("__dup", lit(1))
      val fresh = fresh0.join(idxIds, Seq("id"), "left").localCheckpoint(true)
      val st = fresh.agg(count(lit(1)).as("__n"),
        sum(when(col("__dup").isNotNull, 1L).otherwise(0L)).as("__ndup")).head
      val (nFresh, nDup) = (st.getLong(0),
        if (st.isNullAt(1)) 0L else st.getLong(1))
      if (nFresh > 0) {
        val freshOut = fresh.drop("__dup").hint("rebalance")
        if (nDup > 0)
          graft.meta.IceWrite.upsert(spark, catalog, indexTable, freshOut, keys = Seq("id"))
        else
          graft.meta.IceWrite.append(spark, catalog, indexTable, freshOut)
      }
    }
    val mine = graft.meta.IceRead.table(spark, catalog, indexTable)
      .filter(col("batch_id") === batchId)
      .select(col("id").as(idCol))
    b.join(mine, Seq(idCol), "left_semi")
  }

  /** The within-batch arm of [[incrementalMinHash]] over the materialized
    * batch `b`: the (id, bands, gset) rows that are not dominated by a
    * smaller id in their verified near-dup component. */
  private def withinBatchKeepers(spark: org.apache.spark.sql.SparkSession, b: DataFrame,
      idCol: String, textCol: String, n: Int, k: Int, rowsPerBand: Int,
      threshold: Double, maxBucketSize: Int, maxBroadcastCandidates: Long): DataFrame = {
    val sigSets = minHashSignatureSets(b, idCol, textCol, n, k)
    // (id, bands, gset), materialized once: feeds the bucket join, both
    // verify stages, and the commit payload. Band hashes share
    // [[bandHashExprs]] with the batch pipeline — same scheme, forever.
    val docs = sigSets.select(col("id"),
        array(bandHashExprs(k, rowsPerBand): _*).as("bands"), col("gset"))
      .localCheckpoint(true)
    val bandRows = docs.select(col("id"),
      posexplode(col("bands")).as(Seq("band", "bh")))

    // within-batch: bucket histogram -> capped bucket join -> gated
    // verify -> components -> min id. ONE aggregation powers BOTH the
    // hot-bucket cap and the broadcast gate: the sum of C(n,2) over
    // under-cap buckets bounds the candidate count from above, so the
    // candidate set is never materialized just to count it (the
    // pre-round-10 pairs.count() was a full extra materialization per
    // batch, forever).
    // histogram stays LAZY: one codegen'd aggregate answers both gates
    // (hot-key count for the anti-join strategy, C(n,2) bound for the
    // verify broadcast) — the r11 form paid a checkpoint job for the
    // histogram blocks plus the gates job, per micro-batch, forever.
    // Organic corpora have ZERO over-cap buckets, so the common case is
    // now one job and NO anti join in the plan at all; when hot keys
    // exist they are collected (the gate just proved the set is
    // broadcast-bounded — the same rows a broadcast build would ship,
    // recomputed over the checkpointed docs blocks) and anti-joined as
    // a local relation. A collect_list fold of the keys into the gates
    // aggregate was tried and measured WORSE: it forces the whole gates
    // aggregate off whole-stage codegen into ObjectHashAggregate, taxing
    // every batch to save a job only skewed batches pay.
    val bandCounts = bandRows.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("__n"))
    val gates = bandCounts.agg(
      sum(when(col("__n") > maxBucketSize, 1L).otherwise(0L)).as("__hot"),
      sum(when(col("__n") <= maxBucketSize,
        (col("__n") * (col("__n") - lit(1)) / lit(2)).cast("long"))).as("__b")).head
    val nHot = if (gates.isNullAt(0)) 0L else gates.getLong(0)
    val hot = bandCounts.filter(col("__n") > maxBucketSize)
      .select(col("band"), col("bh"))
    val sized =
      if (nHot == 0L) bandRows.select(col("id"), col("band"), col("bh"))
      else if (nHot <= MaxBroadcastHotKeys) {
        val hotLocal = spark.createDataFrame(
          java.util.Arrays.asList(hot.collect(): _*),
          org.apache.spark.sql.types.StructType(
            Seq(bandRows.schema("band"), bandRows.schema("bh"))))
        bandRows.join(broadcast(hotLocal), Seq("band", "bh"), "left_anti")
          .select(col("id"), col("band"), col("bh"))
      } else bandRows.join(hot, Seq("band", "bh"), "left_anti")
        .select(col("id"), col("band"), col("bh"))
    val pairBound = if (gates.isNullAt(1)) 0L else gates.getLong(1)
    // distinct() stays: a pair surfaces from up to k/rowsPerBand bands,
    // and every duplicate would drag the WIDE gset arrays through the
    // verify join once more — the dedup exchange on two id columns is
    // far cheaper than 4x the verify volume
    val pairs = sized.select(col("band"), col("bh"), col("id").as("id1"))
      .join(sized.select(col("band"), col("bh"), col("id").as("id2")),
        Seq("band", "bh"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
    val sets = docs.select(col("id"), col("gset"))
    val broadcastable = pairBound <= maxBroadcastCandidates
    val dupPairs =
      if (broadcastable) verifyJaccardSets(pairs, sets, threshold)
      else verifyJaccardSetsShuffled(pairs, sets, threshold)
    // components of the verified near-dup graph. The broadcast-gated path
    // ships the candidate pairs through the driver ANYWAY (a broadcast
    // build IS a driver collect), so for numeric ids the components run
    // there too: a union-find over <= maxBroadcastCandidates edges
    // replaces ~20 scheduler round trips of iterative star rounds — per
    // micro-batch, forever. Over-gate volumes and non-numeric id types
    // (where a driver ordering could diverge from Spark's) keep the
    // distributed star CC; both produce the identical dominated set
    // (every id except its component's minimum).
    val numericIds = docs.schema("id").dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    val dominated: DataFrame =
      if (broadcastable && numericIds)
        // bounded by the gate (<= maxBroadcastCandidates ids): broadcast
        broadcast(driverDominatedIds(spark, dupPairs, docs.schema("id")))
      else clusterPairsStar(dupPairs)
        .filter(col("cluster_id") =!= col("id")).select(col("id"))
    docs.join(dominated, Seq("id"), "left_anti")
  }

  /** Driver-side dominated-id computation for a BROADCAST-GATED verified
    * pair set: union-find with min-as-root (numeric natural ordering ==
    * Spark's ordering for numeric types), returning every id that is NOT
    * its component's minimum — exactly [[clusterPairsStar]]'s
    * `cluster_id =!= id` set, without the per-round scheduler trips. The
    * caller guarantees the pair count is broadcast-bounded, so the
    * collect is the same data volume a broadcast build would ship. */
  /** Union-find with min-as-root over collected edge rows (numeric
    * natural ordering == Spark's ordering for numeric types). Returns the
    * parent map and a resolver — the shared core of the broadcast-gated
    * driver-CC arms ([[driverDominatedIds]], [[clusterPairs]],
    * [[clusterPairsStar]]). Callers guarantee the edge count is
    * broadcast-bounded, so the collect is the same data volume a
    * broadcast build would ship. */
  private def driverUnionFind(edges: Array[org.apache.spark.sql.Row])
      : (java.util.HashMap[Any, Any], Any => Any) = {
    def num(a: Any): Double = a.asInstanceOf[Number].doubleValue()
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      // exact comparisons for the integral types (doubleValue would lose
      // precision past 2^53); everything else numeric compares as double
      case (x: java.lang.Long, y: java.lang.Long) => x < y
      case (x: java.lang.Integer, y: java.lang.Integer) => x < y
      case (x: java.lang.Short, y: java.lang.Short) => x < y
      case (x: java.lang.Byte, y: java.lang.Byte) => x < y
      case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) < 0
      // Double.compare, not <: Spark's ordering (and its min/least) places
      // NaN GREATEST, while `NaN < x` is always false — a plain < would
      // let a NaN float/double id become a component root and diverge
      // from the distributed arm's labels
      case _ => java.lang.Double.compare(num(a), num(b)) < 0
    }
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.getOrDefault(c, c) != c) {
        val n = parent.get(c); parent.put(c, r); c = n
      }
      r
    }
    edges.foreach { row =>
      val (a, b) = (find(row.get(0)), find(row.get(1)))
      if (a != b) {
        // min becomes the root, so the final root IS the component min
        if (lt(a, b)) parent.put(b, a) else parent.put(a, b)
      }
      // seed singletons so iteration below sees every touched id
      parent.putIfAbsent(row.get(0), find(row.get(0)))
      parent.putIfAbsent(row.get(1), find(row.get(1)))
    }
    (parent, find)
  }

  private def driverDominatedIds(spark: org.apache.spark.sql.SparkSession,
      dupPairs: DataFrame,
      idField: org.apache.spark.sql.types.StructField): DataFrame = {
    val (parent, find) = driverUnionFind(dupPairs.select(col("id1"), col("id2")).collect())
    import scala.jdk.CollectionConverters._
    val dominated: Seq[org.apache.spark.sql.Row] = parent.keySet.asScala.toSeq
      .filter(k => find(k) != k)
      .map(org.apache.spark.sql.Row(_))
    spark.createDataFrame(dominated.asJava,
      org.apache.spark.sql.types.StructType(Seq(idField.copy(name = "id"))))
  }

  /** Driver-side (id, cluster_id = component min) labels for a
    * broadcast-bounded edge set — the output contract of both CC
    * implementations, computed in one collect. */
  private def driverClusterLabels(spark: org.apache.spark.sql.SparkSession,
      edges: DataFrame,
      idField: org.apache.spark.sql.types.StructField): DataFrame = {
    val (parent, find) = driverUnionFind(edges.collect())
    import scala.jdk.CollectionConverters._
    val labels: Seq[org.apache.spark.sql.Row] = parent.keySet.asScala.toSeq
      .map(k => org.apache.spark.sql.Row(k, find(k)))
    spark.createDataFrame(labels.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        idField.copy(name = "id"), idField.copy(name = "cluster_id"))))
  }

  /** True when the pair relation's id type lets the driver arms order ids
    * exactly as Spark would. */
  private def numericIdType(pairs: DataFrame): Boolean =
    pairs.schema("id1").dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]

  /** foreachBatch sink producing a continuously-DEDUPED table: each
    * micro-batch is deduplicated against the persisted index (exact
    * fingerprints by default; MinHash near-dup with `nearDup = true`)
    * and only first-seen content lands in `outTable`:
    * {{{
    * docs.writeStream
    *   .foreachBatch(Dedup.dedupSink(catalog, "dedup_idx", "docs_clean",
    *     "doc_id", "text"))
    *   .option("checkpointLocation", ck).start()
    * }}}
    *
    * Replay-idempotent end to end: the incremental dedup re-emits the
    * SAME survivor rows for a replayed epoch (first-seen attribution is
    * read back from the index), and the output write is an id-keyed
    * upsert, so a replayed batch converges instead of double-appending.
    * Both tables are created on first batch. One stream per index/out
    * pair (the foreachBatch serialization guarantee). */
  def dedupSink(catalog: graft.meta.Catalog, indexTable: String, outTable: String,
      idCol: String, textCol: String, nearDup: Boolean = false,
      threshold: Double = 0.5): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        val survivors =
          (if (nearDup)
            incrementalMinHash(spark, catalog, indexTable, batch, idCol, textCol,
              batchId, threshold = threshold)
          else incrementalExact(spark, catalog, indexTable, batch, idCol, textCol, batchId))
            .localCheckpoint(true)
        if (!survivors.isEmpty) {
          val out = survivors.hint("rebalance") // AQE-sized output files
          if (!catalog.tableExists(outTable))
            graft.meta.IceWrite.create(spark, catalog, outTable, out): Unit
          else graft.meta.IceWrite.upsert(spark, catalog, outTable, out,
            keys = Seq(idCol)): Unit
        }
      }

  /** MinHash signature: k min-hashes over the distinct shingle set. md5 is
    * the hash family, but each digest is split into four independent
    * 8-hex-char lanes, so k=16 costs 4 md5 calls per shingle instead of 16
    * (md5 dominates the signature stage). Signature values are hex strings
    * (string min is deterministic everywhere). One explode + one
    * aggregate with map-side partial min. */
  def minHashSignatures(grams: DataFrame, k: Int = 16): DataFrame = {
    require(k % 4 == 0, "k must be a multiple of 4 (4 lanes per md5)")
    val seeds = k / 4
    // direct per-row md5 (measured faster than hashing the distinct
    // vocabulary + joining back: the extra exchange and string copying of
    // a vocab join cost more than the md5 calls it saves, at least up to
    // vocabularies ~ corpus scale here)
    val hashed = (0 until seeds).foldLeft(grams) { (df, s) =>
      df.withColumn(s"__h$s", md5(concat(lit(s"$s:"), col("gram"))))
    }
    val aggs = (0 until k).map { j =>
      min(substring(col(s"__h${j / 4}"), (j % 4) * 8 + 1, 8)).as(s"mh$j")
    }
    hashed.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: k/rowsPerBand bands, band hash = md5 of the band's
    * concatenated minhashes. One posexplode pass — a union of per-band
    * selects would recompute the upstream signature aggregate once per
    * band. Returns (id, band, bh). */
  /** The band-hash expressions (band b = md5 of its rowsPerBand
    * concatenated minhash lanes) — THE banding scheme, shared by the
    * batch pipeline ([[lshBands]]) and the persisted index
    * ([[incrementalMinHash]]) so the two can never drift apart and stop
    * matching each other's history. */
  private[ops] def bandHashExprs(k: Int, rowsPerBand: Int): Seq[Column] =
    (0 until k / rowsPerBand).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(j => col(s"mh$j"))
      md5(concat(cols: _*))
    }

  def lshBands(sig: DataFrame, k: Int = 16, rowsPerBand: Int = 4): DataFrame =
    sig.select(col("id"),
      posexplode(array(bandHashExprs(k, rowsPerBand): _*)).as(Seq("band", "bh")))

  /** Drop every row belonging to an over-cap hot bucket — the skew-IMMUNE
    * form of the LSH bucket cap. A `count().over(Window.partitionBy(keys))`
    * cap first shuffles every row of a mega-hot key (a license header
    * shared by 10^8 docs) into ONE window task and only then filters —
    * materializing exactly the skew the cap exists to remove. Here the
    * over-cap key list comes from a grouped count (partial aggregation
    * absorbs the hot key map-side, so no task ever sees more than its
    * slice), and that list is small — at most |rows|/cap keys — so a
    * broadcast ANTI join drops hot rows map-side, before any shuffle
    * could concentrate them (past [[MaxBroadcastHotKeys]] the anti join
    * falls back to a shuffle: a corpus whose boilerplate makes MOST
    * buckets slightly over-cap can push |rows|/cap to millions of keys).
    * Used by every *cap* site; the *tagging* windows (where every row
    * genuinely needs its count, e.g. [[dropBoilerplateLines]]) keep the
    * window form. */
  private[ops] def dropHotBuckets(df: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    val (hotRows, histogram) = hotBucketKeyRows(df, keys, cap)
    dropHotKeyRows(df, keys, hotRows, histogram)
  }

  /** The collect half of [[dropHotBuckets]]: ONE bounded collect replaces
    * the r11 checkpoint + count probe (two driver actions per call, plus
    * pinned blocks and a broadcast-build job at execution) — the over-cap
    * key list is what a broadcast would ship to the driver anyway, so
    * fetch it directly. The LIMIT keeps the transfer bounded: seeing
    * MaxBroadcastHotKeys + 1 rows proves the list is over-gate without
    * materializing the rest. Split from the apply half so a caller whose
    * input does not depend on its other in-flight work can run this
    * collect CONCURRENTLY with that work (guide §2.6 — the next job's
    * tasks back-fill executors freed by the current job's tail);
    * [[incrementalMinHash]] prefetches the index-side histogram this way. */
  private[ops] def hotBucketKeyRows(df: DataFrame, keys: Seq[String], cap: Int)
      : (Array[org.apache.spark.sql.Row], DataFrame) = {
    val histogram = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > cap)
      .select(keys.map(col): _*)
    (histogram.limit(MaxBroadcastHotKeys.toInt + 1).collect(), histogram)
  }

  /** The apply half of [[dropHotBuckets]] over an already-collected hot-key
    * list (and the lazy histogram frame for the over-gate fallback). */
  private[ops] def dropHotKeyRows(df: DataFrame, keys: Seq[String],
      hotRows: Array[org.apache.spark.sql.Row], histogram: DataFrame): DataFrame = {
    if (hotRows.isEmpty) df // no over-cap bucket: nothing to drop, no join at all
    else if (hotRows.length <= MaxBroadcastHotKeys) {
      // local relation: the anti join broadcasts in-driver rows, no
      // distributed build side, no checkpoint blocks to pin
      val keySchema = org.apache.spark.sql.types.StructType(keys.map(df.schema(_)))
      val hotLocal = df.sparkSession.createDataFrame(
        java.util.Arrays.asList(hotRows: _*), keySchema)
      // re-project: a using-column join moves the key columns first, and a
      // positional consumer (union, exceptAll) downstream would mis-zip
      df.join(broadcast(hotLocal), keys, "left_anti").select(df.columns.map(col): _*)
    } else {
      // pathological over-gate corpus (most buckets slightly over-cap can
      // push |rows|/cap past a million keys): recompute the histogram
      // distributed and shuffle the anti join, exactly the r11 fallback
      df.join(histogram, keys, "left_anti").select(df.columns.map(col): _*)
    }
  }

  /** Over-cap key lists above this many keys fall back to a shuffled anti
    * join instead of a broadcast (see [[dropHotBuckets]]). */
  val MaxBroadcastHotKeys: Long = 1L << 20

  /** Candidate pairs from shared LSH buckets, with a bucket-size cap: a
    * bucket holding b ids yields b^2/2 pairs, so one hot bucket (all-equal
    * boilerplate docs) can dominate the job — cap drops those buckets for
    * the exact-verify stage to handle separately. Returns (id1, id2). */
  def lshCandidatePairs(bands: DataFrame, maxBucketSize: Int = 100): DataFrame = {
    val sized = dropHotBuckets(bands, Seq("band", "bh"), maxBucketSize)
    val a = sized.select(col("band"), col("bh"), col("id").as("id1"))
    val b = sized.select(col("band"), col("bh"), col("id").as("id2"))
    a.join(b, Seq("band", "bh"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
  }

  /** MinHash signature AND verify set in ONE per-row projection — the
    * explode-free formulation of [[minHashSignatures]] over
    * [[wordShingles]] plus [[wordShingleSets]], computed from a single
    * tokenize pass:
    *
    *  - `mh0..mh{k-1}`: per lane j, `array_min` over the row's DISTINCT
    *    gram array of the j-th 8-hex-char md5 lane. The min of a set
    *    equals the min over any array holding exactly that set, so the
    *    signature values are bit-identical to the exploded formulation
    *    (and the DuckDB oracle, which still uses the relational form);
    *  - `gset`: the sorted xxhash64 array [[verifyJaccardSets]] consumes.
    *
    * What this deletes from the plan at scale: the shingle explode
    * (|grams| rows through the runtime), the `distinct` exchange on raw
    * gram STRINGS (the widest shuffle of the old pipeline), the
    * signature groupBy exchange, and the second tokenize pass for the
    * verify sets. Everything before LSH banding is now a narrow
    * projection — zero shuffles, whole-stage codegen'd. */
  def minHashSignatureSets(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 16): DataFrame = {
    require(k % 4 == 0, "k must be a multiple of 4 (4 lanes per md5)")
    val seeds = k / 4
    // the signature+set projection is the corpus's heaviest per-row work
    // (tokenize + per-gram md5 lanes + xxhash64 set) — spread it over the
    // cluster instead of the scan's row-group parallelism (guide §2)
    val toked = Spread(df).select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("__toks"))
    // shingle windows, lane minima, and the hashed verify set are all
    // fused native loops ([[graft.functions.WordNgrams]],
    // [[graft.functions.MinHashLanes]], [[graft.functions.XxHash64SortedSet]])
    // — the interpreted transform()/slice()/concat_ws()/xxhash64() lambda
    // chains they replace paid per-window lambda frames and intermediate
    // arrays on every row of the corpus (the signature stage's bill after
    // md5 itself)
    val base = toked.select(col("id"),
      graft.functions.ShingleFunctions.word_ngrams(col("__toks"), n).as("__grams"))
    val withLanes = base.withColumn("__lanes",
      graft.functions.MinHashFunctions.min_hash_lanes(col("__grams"), seeds))
    val mhCols = (0 until k).map { j =>
      element_at(col("__lanes"), j + 1).as(s"mh$j")
    }
    val gset = graft.functions.ShingleFunctions.xxhash64_sorted_set(col("__grams")).as("gset")
    withLanes.select(col("id") +: gset +: mhCols: _*)
  }

  /** Per-row word-shingle SETS as sorted xxhash64 arrays — the zero-
    * shuffle representation [[graft.functions.SortedJaccardGe]] consumes.
    * Same distinct-shingle semantics as [[wordShingles]], but no explode
    * and no distinct exchange. */
  def wordShingleSets(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    Spread(df).select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col("id"), graft.functions.ShingleFunctions.xxhash64_sorted_set(
        graft.functions.ShingleFunctions.word_ngrams(col("__toks"), n)).as("gset"))

  /** Exact Jaccard verification against per-row shingle sets: candidates
    * are BROADCAST (they are tiny after LSH), so verification costs two
    * streaming passes over the corpus with the codegen'd sorted-merge
    * test — no shuffle of the gram relation at all. [[verifyJaccard]]
    * by contrast re-shuffles every (id, gram) row twice to count common
    * grams; at 100 TB that is two full-corpus exchanges for a handful of
    * candidate pairs. */
  /** Shared candidate-verify join shape: resolve each pair's two per-row
    * sets and keep pairs passing `test` — broadcast form (pairs broadcast,
    * corpus streamed twice, zero set-relation shuffles) or shuffled form
    * (id-keyed joins, size-safe at any candidate volume). Every LSH
    * verify stage (Jaccard or containment) goes through here so the join
    * shape has one owner. */
  private def verifySets(pairs: DataFrame, sets: DataFrame,
      test: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
      broadcastPairs: Boolean): DataFrame = {
    val resolved = if (broadcastPairs) {
      val withA = sets.select(col("id").as("id1"), col("gset").as("__g1"))
        .join(broadcast(pairs), Seq("id1"))
      sets.select(col("id").as("id2"), col("gset").as("__g2"))
        .join(broadcast(withA), Seq("id2"))
    } else {
      pairs
        .join(sets.select(col("id").as("id1"), col("gset").as("__g1")), Seq("id1"))
        .join(sets.select(col("id").as("id2"), col("gset").as("__g2")), Seq("id2"))
    }
    resolved
      .filter(test(col("__g1"), col("__g2")))
      .select(col("id1"), col("id2"))
  }

  def verifyJaccardSets(pairs: DataFrame, sets: DataFrame, threshold: Double): DataFrame =
    verifySets(pairs, sets,
      graft.functions.SetFunctions.jaccard_ge(_, _, threshold), broadcastPairs = true)

  /** Shuffle-based twin of [[verifyJaccardSets]]: the same two joins
    * against the per-row shingle sets, but keyed shuffles instead of
    * broadcasts. The per-bucket cap in [[lshCandidatePairs]] bounds pairs
    * per bucket, not globally — a high-duplication corpus (the normal case
    * for web crawl) yields O(corpus) candidates, and broadcasting those
    * would OOM the driver. This path shuffles pairs + sets by id: strictly
    * more data movement, but size-safe at any candidate volume. */
  def verifyJaccardSetsShuffled(pairs: DataFrame, sets: DataFrame, threshold: Double): DataFrame =
    verifySets(pairs, sets,
      graft.functions.SetFunctions.jaccard_ge(_, _, threshold), broadcastPairs = false)

  /** Broadcast gate for the candidate-verify stage, in pairs. A pair is two
    * ids (~tens of bytes hashed-relation-side), so 1M pairs is a few tens
    * of MB — comparable to [[graft.exec.Mor.BroadcastDeleteBytesMax]]. */
  val MaxBroadcastCandidates: Long = 1L << 20

  /** Full MinHash+LSH near-dup pipeline over word shingles:
    * per-row signature+set projection -> band -> bucket join -> gated
    * verify. The entire pre-banding pipeline is shuffle-free
    * ([[minHashSignatureSets]]); the only exchanges left are the tiny
    * (id, band, bh) bucket join and whatever the gated verify picks.
    *
    * The signature+set frame is materialized once (eager localCheckpoint,
    * not cache(): lineage truncated and blocks released by the context
    * cleaner when the result is dropped) and feeds BOTH the banding and
    * the verify join, so the corpus is tokenized and hashed exactly once.
    * The candidate set is also materialized and counted, then
    * verification picks the broadcast path under `maxBroadcastCandidates`
    * and the shuffled path above it — the same size-gated-broadcast
    * pattern as [[graft.exec.Mor.dataFrame]]. The count is free: the
    * blocks back both the count and the verify join. */
  def minHashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5, maxBucketSize: Int = 100,
      maxBroadcastCandidates: Long = MaxBroadcastCandidates): DataFrame = {
    val sigSets = minHashSignatureSets(df, idCol, textCol, n, k).localCheckpoint(true)
    val pairs = lshCandidatePairs(lshBands(sigSets, k, rowsPerBand), maxBucketSize)
      .localCheckpoint(true)
    val sets = sigSets.select(col("id"), col("gset"))
    if (pairs.count() <= maxBroadcastCandidates) verifyJaccardSets(pairs, sets, threshold)
    else verifyJaccardSetsShuffled(pairs, sets, threshold)
  }

  /** Directed containment over LSH candidates — [[containmentPairs]]'
    * scale path: same shuffle-free signatures, banding, and hot-bucket
    * cap as [[minHashNearDupPairs]]; every undirected candidate is tested
    * in BOTH orientations with the codegen'd containment measure over the
    * word-shingle sets, behind the same broadcast-vs-shuffle candidate
    * gate. Returns directed (contained, container) rows.
    *
    * Recall caveat (by construction, documented): minhash banding
    * surfaces pairs whose JACCARD is high — mutual near-dups with
    * asymmetric edits. A tiny quote inside a huge document has near-zero
    * Jaccard and will not bucket; route those through the prefix-filter
    * machinery ([[ngramJaccardPairsPrefix]]'s ordering) if they matter. */
  def minHashContainmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.9, maxBucketSize: Int = 100,
      maxBroadcastCandidates: Long = MaxBroadcastCandidates): DataFrame = {
    val sigSets = minHashSignatureSets(df, idCol, textCol, n, k).localCheckpoint(true)
    val und = lshCandidatePairs(lshBands(sigSets, k, rowsPerBand), maxBucketSize)
      .localCheckpoint(true)
    val directed = und.unionAll(und.select(col("id2").as("id1"), col("id1").as("id2")))
    val sets = sigSets.select(col("id"), col("gset"))
    verifySets(directed, sets,
      graft.functions.SetFunctions.containment_ge(_, _, threshold),
      broadcastPairs = und.count() * 2 <= maxBroadcastCandidates)
  }

  /** Partial-overlap near-dup pairs from winnowed fingerprints — the
    * quote/plagiarism/template detector at corpus scale: two documents
    * link when the winnow fingerprints they share cover `minOverlapPpm`
    * of the SMALLER document's fingerprint set (containment, so an
    * excerpt inside a long doc still links). The winnowing guarantee
    * makes this sensitive to any shared run >= k + w - 1 chars, at
    * ~2/(w+1) of the gram volume — the thinning is what makes the join
    * affordable where raw-gram joins are not.
    *
    * Shuffle profile ([[Multimodal.videoNearDupPairs]]' skeleton): the
    * fingerprint projection is per-row, the equi-join keys on the 16-hex
    * fingerprint (one exchange of (hash, id) rows), and the hot-hash cap
    * drops fingerprints shared by more than `maxBucketSize` docs
    * (license headers, boilerplate banners — the usual knob). Returns
    * (id1, id2, overlap_ppm), id1 < id2, integer floor division. */
  def winnowNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 5, minOverlapPpm: Long = 500000L,
      maxBucketSize: Int = 1000): DataFrame = {
    // fingerprinting is compute-heavy per ROW (m hashes + the selection
    // loop) while the input is byte-light — winnowFingerprints spreads
    // itself (grow-only [[Spread]]), so no unconditional repartition here
    // that would SHRINK an already-wide corpus at scale.
    val fp = TextAnalysis.winnowFingerprints(df, idCol, textCol, k, w)
      .select(col("id"), explode(col("fp_hashes")).as("h"))
      .localCheckpoint(true)
    val sizes = fp.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val capped = dropHotBuckets(fp, Seq("h"), maxBucketSize)
    val shared = capped.select(col("id").as("id1"), col("h"))
      .join(capped.select(col("id").as("id2"), col("h")), Seq("h"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("__shared"))
    shared
      .join(sizes.select(col("id").as("id1"), col("n").as("__n1")), Seq("id1"))
      .join(sizes.select(col("id").as("id2"), col("n").as("__n2")), Seq("id2"))
      .withColumn("overlap_ppm",
        expr("1000000L * __shared div least(__n1, __n2)"))
      .filter(col("overlap_ppm") >= minOverlapPpm)
      .select(col("id1"), col("id2"), col("overlap_ppm"))
  }

  /** Corpus-size-scaled bucket cap for winnow-fingerprint pair joins —
    * the round-11 sf1 anchor's finding made POLICY. Winnow gram buckets
    * are CORPUS-FREQUENCY driven: a gram carried by a fixed fraction f
    * of documents populates a bucket of f * corpusDocs rows, so a cap
    * tuned at `baseDocs` silently drops ever-more-common (still organic)
    * grams as the corpus grows — in the anchor's distorted-fixture case
    * all the way to zero recall at 10x volume. Scaling the cap linearly
    * with the corpus keeps the DOCUMENT-FREQUENCY threshold the cap
    * actually expresses (drop grams shared by more than baseCap/baseDocs
    * of the corpus) constant at every scale. Identity at the tuned size
    * and below (never returns less than `baseCap`, so the oracle-pinned
    * sf0.01/sf0.1 parameters are reproduced exactly); ceil division so
    * the threshold fraction never tightens on the way up. LSH band
    * buckets (capped per signature, not per corpus) deliberately do NOT
    * scale this way. */
  def scaledWinnowCap(corpusDocs: Long, baseDocs: Long, baseCap: Int): Int = {
    require(baseDocs > 0 && baseCap > 0 && corpusDocs >= 0,
      s"need baseDocs > 0, baseCap > 0, corpusDocs >= 0; " +
        s"got corpusDocs=$corpusDocs baseDocs=$baseDocs baseCap=$baseCap")
    if (corpusDocs <= baseDocs) baseCap
    else {
      // BigInt: baseCap * corpusDocs overflows Long near the saturation
      // point, and a driver-side once-per-query computation can afford
      // exact arithmetic
      val scaled = (BigInt(baseCap) * corpusDocs + baseDocs - 1) / baseDocs
      if (scaled > Int.MaxValue) Int.MaxValue else scaled.toInt
    }
  }

  /** CAP-PRESSURE report for [[winnowNearDupPairs]] — the "no silent
    * caps" instrument the round-11 sf1 anchor motivated: winnow gram
    * buckets are CORPUS-FREQUENCY driven (unlike LSH band buckets,
    * which cap per signature), so growing the corpus or shortening the
    * effective gram span pushes buckets over `maxBucketSize` and recall
    * degrades — in the anchor's distorted-fixture case to literal ZERO
    * pairs, silently. One aggregation answers "how close is this
    * (corpus, k, cap) to the cliff": total distinct gram buckets, how
    * many exceed the cap, and the ppm of fingerprint OCCURRENCES that
    * the cap drops (the recall mass at risk). `dropped_occurrence_ppm`
    * near 1e6 means the pair stage sees almost nothing — raise `k`
    * (longer, more selective grams) or the cap before trusting the
    * pair output. */
  def winnowCapReport(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 5, maxBucketSize: Int = 1000): DataFrame = {
    val fp = TextAnalysis.winnowFingerprints(df, idCol, textCol, k, w)
      .select(col("id"), explode(col("fp_hashes")).as("h"))
    fp.groupBy(col("h")).agg(count(lit(1)).as("__n"))
      .agg(
        count(lit(1)).as("buckets"),
        sum(when(col("__n") > maxBucketSize, 1L).otherwise(0L)).as("over_cap_buckets"),
        sum(col("__n")).as("occurrences"),
        sum(when(col("__n") > maxBucketSize, col("__n")).otherwise(0L))
          .as("dropped_occurrences"))
      .withColumn("dropped_occurrence_ppm",
        expr("1000000L * dropped_occurrences div greatest(occurrences, 1L)"))
  }

  /** Cross-TABLE fuzzy join (record linkage): (left_id, right_id) pairs
    * whose texts reach `threshold` word-shingle Jaccard — matching a
    * crawl corpus against a reference set (a benchmark's test split, an
    * allow/deny list, a licensed-content registry) without ever comparing
    * the tables quadratically. The [[minHashNearDupPairs]] machinery
    * applied across two relations: each side gets the shuffle-free
    * signature+set projection, band rows from the SAME banding scheme
    * meet in a keyed equi-join on (band, bh) — never a self-join, never a
    * cross product — and candidates verify exactly against both shingle
    * sets (size-gated broadcast vs shuffle, the [[MaxBroadcastCandidates]]
    * gate). The hot-bucket cap applies PER SIDE, bounding one boilerplate
    * bucket at cap^2 candidates. Linking 1e9 docs to a 1e6-row reference
    * costs one signature pass over each side plus a keyed join of their
    * band rows. Id spaces may overlap freely — sides never mix. */
  def minHashJoin(left: DataFrame, right: DataFrame,
      leftIdCol: String, leftTextCol: String,
      rightIdCol: String, rightTextCol: String,
      n: Int = 3, k: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5, maxBucketSize: Int = 100,
      maxBroadcastCandidates: Long = MaxBroadcastCandidates): DataFrame = {
    val sigL = minHashSignatureSets(left, leftIdCol, leftTextCol, n, k).localCheckpoint(true)
    val sigR = minHashSignatureSets(right, rightIdCol, rightTextCol, n, k).localCheckpoint(true)
    def capped(sig: DataFrame): DataFrame =
      dropHotBuckets(lshBands(sig, k, rowsPerBand), Seq("band", "bh"), maxBucketSize)
    val pairs = capped(sigL).select(col("band"), col("bh"), col("id").as("left_id"))
      .join(capped(sigR).select(col("band"), col("bh"), col("id").as("right_id")),
        Seq("band", "bh"))
      .select(col("left_id"), col("right_id")).distinct()
      .localCheckpoint(true)
    val setsL = sigL.select(col("id").as("left_id"), col("gset").as("__g1"))
    val setsR = sigR.select(col("id").as("right_id"), col("gset").as("__g2"))
    val resolved =
      if (pairs.count() <= maxBroadcastCandidates)
        setsR.join(broadcast(setsL.join(broadcast(pairs), Seq("left_id"))), Seq("right_id"))
      else pairs.join(setsL, Seq("left_id")).join(setsR, Seq("right_id"))
    resolved
      .filter(graft.functions.SetFunctions.jaccard_ge(col("__g1"), col("__g2"), threshold))
      .select(col("left_id"), col("right_id"))
  }

  /** Exact n-gram Jaccard over ALL co-shingled pairs: the direct
    * formulation — one self-join on grams + count. Quadratic in posting-
    * list length, so bound the corpus or use [[minHashNearDupPairs]] at
    * scale. On corpora with small, dense vocabularies (every gram common)
    * this beats [[ngramJaccardPairsPrefix]], which pays the frequency-
    * ranking overhead without being able to prune anything. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 4, threshold: Double = 0.6): DataFrame = {
    val grams = shingles(df, idCol, textCol, n)
    val sizes = grams.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val g1 = grams.select(col("id").as("id1"), col("gram"))
    val g2 = grams.select(col("id").as("id2"), col("gram"))
    // count common grams straight off the join output — materializing
    // candidate pairs and re-joining against the gram sets (the verify
    // path) costs |candidates| x |grams| and measured ~3x slower here
    val common = g1.join(g2, Seq("gram")).filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("c"))
    common
      .join(sizes.withColumnRenamed("id", "id1").withColumnRenamed("n", "n1"), Seq("id1"))
      .join(sizes.withColumnRenamed("id", "id2").withColumnRenamed("n", "n2"), Seq("id2"))
      .filter(col("c").cast("double") / (col("n1") + col("n2") - col("c")) >= threshold)
      .select(col("id1"), col("id2"))
  }

  /** Exact n-gram Jaccard over a BOUNDED slice, broadcast formulation:
    * each document's distinct gram set becomes a per-row SORTED array of
    * xxhash64 gram hashes (no shuffle at all — set construction is a
    * per-row expression), one side is broadcast, and the entire Jaccard
    * test runs INSIDE the nested-loop join condition as the codegen'd
    * sorted-merge [[graft.functions.SortedJaccardGe]]. Identical output
    * to [[ngramJaccardPairs]] (hashes are engine-internal; the emitted
    * pairs are the same id pairs).
    *
    * Why this wins for the baseline: the gram self-join shuffles
    * |postings|^2 intermediate rows per gram (hundreds of millions on a
    * 2k-doc slice of full documents) through two exchanges; and a
    * post-join `size(array_intersect(...))` filter materializes both gram
    * arrays into every candidate row (gigabytes of row copying). Here the
    * only data movement is one small broadcast, failing pairs never
    * produce a joined row, and the per-pair cost is a primitive merge
    * loop. Still quadratic by construction — only ever for slices that
    * fit a broadcast (the scale path remains [[minHashNearDupPairs]]). */
  def ngramJaccardPairsBroadcast(df: DataFrame, idCol: String, textCol: String,
      n: Int = 4, threshold: Double = 0.6): DataFrame = {
    val sets = charGramSets(df, idCol, textCol, n).withColumnRenamed("gset", "grams")
    val a = sets.select(col("id").as("id1"), col("grams").as("g1"))
    val b = sets.select(col("id").as("id2"), col("grams").as("g2"))
    b.join(broadcast(a), col("id1") < col("id2") &&
        graft.functions.SetFunctions.jaccard_ge(col("g1"), col("g2"), threshold))
      .select(col("id1"), col("id2"))
  }

  /** Directed containment pairs: (contained, container) where the left
    * document's distinct char-n-gram set is >= `threshold` covered by the
    * right's — Broder's containment measure. Catches the asymmetric
    * duplication Jaccard is blind to: a short quote/excerpt/boilerplate
    * block living inside a much longer document scores containment ~1.0
    * while its Jaccard stays near |A|/|B| (invisible at any usable
    * threshold).
    *
    * Same broadcast-NLJ shape as [[ngramJaccardPairsBroadcast]]: per-row
    * sorted xxhash64 gram sets (no shuffle), one side broadcast, and the
    * whole containment test codegen'd inside the join condition
    * ([[graft.functions.SortedContainmentGe]]) so failing pairs never
    * materialize a row. Quadratic by construction — a bounded-slice
    * baseline; the scale path is LSH candidates
    * ([[minHashNearDupPairs]]) verified with `containment_ge` instead of
    * `jaccard_ge`. Both directions of a mutual near-dup are emitted (the
    * pair is DIRECTED; callers wanting undirected dedup keep id1 < id2). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 4, threshold: Double = 0.9): DataFrame = {
    val sets = charGramSets(df, idCol, textCol, n).withColumnRenamed("gset", "grams")
    val a = sets.select(col("id").as("id1"), col("grams").as("g1"))
    val b = sets.select(col("id").as("id2"), col("grams").as("g2"))
    b.join(broadcast(a), col("id1") =!= col("id2") &&
        graft.functions.SetFunctions.containment_ge(col("g1"), col("g2"), threshold))
      .select(col("id1"), col("id2"))
  }

  /** Exact n-gram Jaccard pairs with a PPJoin-style prefix filter.
    *
    * Exactness argument: order every document's gram set by a global total
    * order (document frequency asc, gram asc). Two sets with
    * Jaccard >= t must share at least one gram within each other's first
    * `|A| - ceil(t*|A|) + 1` grams under that order (prefix-filter
    * principle), so generating candidates ONLY from prefix grams loses no
    * qualifying pair; candidates are then verified with the full sets.
    * On Zipfian natural text the prefix is dominated by RARE grams, which
    * kills the quadratic blowup of joining on ubiquitous grams; on dense
    * small-vocabulary corpora it cannot prune and the broadcast arm wins
    * the constant factor ([[ngramJaccardPairsExact]] dispatches).
    *
    * Everything downstream of the per-row set projection moves 8-byte
    * gram HASHES, never gram strings: ranking explodes the hashed sets
    * (narrow shuffles), and verification is the same gated
    * set-resolution join every LSH verify stage uses — candidate pairs
    * broadcast when small, id-keyed shuffles when not, the codegen'd
    * sorted-merge test either way. A gram-relation re-join here
    * (O(pairs x doc grams) through an aggregate) measured ~15x slower. */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
      n: Int = 4, threshold: Double = 0.6,
      maxBroadcastCandidates: Long = MaxBroadcastCandidates): DataFrame = {
    // localCheckpoint not cache(): see minHashNearDupPairs
    val sets = charGramSets(df, idCol, textCol, n).localCheckpoint(false)
    val grams = sets.select(col("id"), size(col("gset")).as("n"),
      explode(col("gset")).as("g"))
    // global frequency order: df asc, hash asc (total, deterministic)
    val freq = grams.groupBy(col("g")).agg(count(lit(1)).as("gdf"))
    val prefix = grams.join(freq, Seq("g"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("gdf").asc, col("g").asc)))
      .filter(col("rank") <= col("n") - ceil(col("n") * threshold) + 1)
      .select(col("id"), col("g"))
    val cand = prefix.select(col("id").as("id1"), col("g"))
      .join(prefix.select(col("id").as("id2"), col("g")), Seq("g"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct().localCheckpoint(false)
    if (cand.count() <= maxBroadcastCandidates) verifyJaccardSets(cand, sets, threshold)
    else verifyJaccardSetsShuffled(cand, sets, threshold)
  }

  /** Exact containment pairs with the prefix filter — the scalable exact
    * arm of [[containmentPairs]] (same directed output: (contained,
    * container) with |A cap B| / |A| >= threshold).
    *
    * Exactness argument: fix the same global total order as
    * [[ngramJaccardPairsPrefix]] (document frequency asc, gram asc) and
    * let o = ceil(t*|A|) be the overlap the contained side A must reach.
    * If the container B shares NONE of A's first |A| - o + 1 grams, the
    * intersection lives inside A's remaining o - 1 grams, so
    * |A cap B| <= o - 1 < t*|A| — generating candidates only from the
    * contained side's prefix loses no qualifying pair. The container
    * side contributes its FULL gram list, but each candidate is born on
    * one of A's rarest grams, whose posting lists are short on Zipfian
    * text — the same pruning that makes the Jaccard prefix join scale;
    * the same dense-vocabulary caveat applies (nothing to prune when
    * every gram is ubiquitous — that is the broadcast arm's regime).
    * Candidates are verified exactly against the full gram sets. */
  def containmentPairsPrefix(df: DataFrame, idCol: String, textCol: String,
      n: Int = 4, threshold: Double = 0.9,
      maxBroadcastCandidates: Long = MaxBroadcastCandidates): DataFrame = {
    // localCheckpoint not cache(): see minHashNearDupPairs
    val sets = charGramSets(df, idCol, textCol, n).localCheckpoint(false)
    val grams = sets.select(col("id"), size(col("gset")).as("n"),
      explode(col("gset")).as("g"))
    val freq = grams.groupBy(col("g")).agg(count(lit(1)).as("gdf"))
    val prefix = grams.join(freq, Seq("g"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("gdf").asc, col("g").asc)))
      .filter(col("rank") <= col("n") - ceil(col("n") * threshold) + 1)
      .select(col("id"), col("g"))
    // contained side contributes its prefix, the container its FULL list
    val cand = prefix.select(col("id").as("id1"), col("g"))
      .join(grams.select(col("id").as("id2"), col("g")), Seq("g"))
      .filter(col("id1") =!= col("id2"))
      .select(col("id1"), col("id2")).distinct().localCheckpoint(false)
    // exact directed verification on the full sets, codegen'd
    verifySets(cand, sets,
      graft.functions.SetFunctions.containment_ge(_, _, threshold),
      broadcastPairs = cand.count() <= maxBroadcastCandidates)
  }

  /** Byte budget under which the exact-join dispatchers pick the
    * broadcast nested-loop arm: the hashed gram sets of the whole corpus
    * must fit one broadcast (same 64 MiB line as
    * [[graft.exec.Mor.BroadcastDeleteBytesMax]]). */
  val ExactJoinBroadcastBytesMax: Long = 64L * 1024 * 1024

  /** Estimated size in bytes of the per-row hashed gram sets a broadcast
    * arm would ship: rows x (avg distinct grams x 8B hash + array/row
    * overhead). Row count is exact (column-pruned count job); average
    * text length comes from a bounded LIMIT sample, so the estimate
    * costs O(1) data no matter the corpus size. An estimate is all the
    * dispatch needs — both arms are exact, the choice only moves the
    * constant factor. */
  private[ops] def estimatedGramSetBytes(df: DataFrame, textCol: String,
      sampleRows: Int = 10000): Long = {
    val rows = df.count()
    if (rows == 0L) return 0L
    val avgLen = df.select(length(col(textCol)).cast("double").as("__l"))
      .limit(sampleRows)
      .agg(coalesce(avg(col("__l")), lit(0.0))).head.getDouble(0)
    (rows * (avgLen * 8.0 + 64.0)).toLong
  }

  /** Exact n-gram Jaccard pairs, arm chosen by corpus size: the
    * broadcast nested-loop formulation when the hashed gram sets fit
    * [[ExactJoinBroadcastBytesMax]] (zero shuffles, wins on bounded
    * slices and dense vocabularies), the PPJoin-style prefix filter
    * otherwise (no broadcast anywhere — the arm that survives an
    * unbounded corpus). Both arms emit identical pairs; dispatch only
    * picks the constant factor, so callers stop choosing between
    * "baseline" and "scale path" by hand. */
  def ngramJaccardPairsExact(df: DataFrame, idCol: String, textCol: String,
      n: Int = 4, threshold: Double = 0.6,
      broadcastBytesMax: Long = ExactJoinBroadcastBytesMax): DataFrame =
    if (estimatedGramSetBytes(df, textCol) <= broadcastBytesMax)
      ngramJaccardPairsBroadcast(df, idCol, textCol, n, threshold)
    else ngramJaccardPairsPrefix(df, idCol, textCol, n, threshold)

  /** Exact containment pairs, arm chosen by corpus size — the
    * containment twin of [[ngramJaccardPairsExact]]: broadcast NLJ under
    * the byte budget, prefix filter above it. Identical directed output
    * either way. */
  def containmentPairsExact(df: DataFrame, idCol: String, textCol: String,
      n: Int = 4, threshold: Double = 0.9,
      broadcastBytesMax: Long = ExactJoinBroadcastBytesMax): DataFrame =
    if (estimatedGramSetBytes(df, textCol) <= broadcastBytesMax)
      containmentPairs(df, idCol, textCol, n, threshold)
    else containmentPairsPrefix(df, idCol, textCol, n, threshold)

  /** Connected components over near-dup pairs: groups transitively linked
    * documents into clusters labeled by their minimum id — the step that
    * turns pairwise similarity into dedup groups (pick `min(id)` as the
    * keeper per cluster).
    *
    * Min-label propagation iterated to a checked fixpoint: each round is
    * one join + one min-aggregate (two shuffles), rounds needed = cluster
    * diameter. Near-dup clusters are shallow in practice; the driver-side
    * convergence check costs one count per round and guarantees the result
    * equals the true transitive closure (what a recursive-CTE oracle
    * computes). At web scale swap in [[clusterPairsStar]] (large-star/
    * small-star — same API, O(log^2 n) rounds instead of diameter).
    * Returns (id, cluster_id); singletons (ids in no pair) are not
    * emitted. */
  def clusterPairs(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // every round eagerly localCheckpoints: the plan tree is cut at each
    // iteration (otherwise the lineage doubles per round and the PLAN
    // itself becomes the bottleneck past ~15 rounds), the blocks replace
    // cache() so nothing lingers in the CacheManager after the caller
    // drops the result, and the materialized labels serve both the
    // convergence check and the next round without recomputation
    val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .unionAll(pairs.select(col("id2").as("src"), col("id1").as("dst")))
      .distinct().localCheckpoint(true)
    // broadcast-gated driver arm: a bounded edge set resolves in ONE
    // collect (the volume a broadcast build would ship to the driver
    // anyway) instead of diameter-many join+aggregate rounds of scheduler
    // trips; the actual materialized edge count is a tighter gate than
    // any candidate-stage estimate. Non-numeric ids and over-gate volumes
    // keep the distributed propagation below — identical labels either
    // way (min-of-component; self-pairs label themselves).
    if (numericIdType(pairs) && edges.count() <= MaxBroadcastCandidates) {
      val out = driverClusterLabels(pairs.sparkSession, edges, pairs.schema("id1"))
      graft.util.Blocks.release(edges)
      return out
    }
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val nbr = edges.join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .select(col("src").as("id"), col("label"))
      val next = labels.unionAll(nbr).groupBy(col("id")).agg(min(col("label")).as("label"))
        .localCheckpoint(true)
      converged = next.join(labels.withColumnRenamed("label", "old"), Seq("id"))
        .filter(col("label") =!= col("old")).isEmpty
      // next is materialized (eager checkpoint) and the convergence check
      // above was the last reader of the old labels — release their blocks
      // so a deep propagation doesn't pin O(rounds x labels)
      graft.util.Blocks.release(labels)
      labels = next
      iter += 1
    }
    require(converged, s"clusterPairs did not converge in $maxIter rounds")
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Connected components by alternating large-star / small-star rounds —
    * the web-scale swap-in for [[clusterPairs]] (same API, same output).
    * Public algorithm: Kiveris et al., "Connected Components in MapReduce
    * and Beyond" (SoCC'14). Where min-label propagation needs one round
    * per unit of cluster DIAMETER, star rounds square away path length —
    * O(log^2 n) rounds on any graph — so a 10^6-node chain converges in
    * ~20 rounds instead of 10^6.
    *
    * Each round is two grouped min-aggregates + joins over the edge set
    * (no adjacency lists are ever collected — hub nodes stay relational),
    * with the same per-round eager localCheckpoint lineage cut as
    * [[clusterPairs]]. Returns (id, cluster_id), cluster labeled by its
    * minimum id; ids appearing in no pair are not emitted. */
  def clusterPairsStar(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    // canonical (big, small) orientation, materialized ONCE — feeds the
    // driver gate and whichever arm wins; self-loops handled at the end
    val edges = canonicalEdges(pairs)
    val edgeCount = edges.count()
    // broadcast-gated driver arm (see [[clusterPairs]]): one bounded
    // collect replaces the O(log^2 n) star rounds' scheduler trips; the
    // distributed rounds remain for over-gate volumes, non-numeric ids,
    // and [[clusterPairsStarWithRounds]] (the spec hook stays purely
    // distributed).
    val labels =
      if (numericIdType(pairs) && edgeCount <= MaxBroadcastCandidates) {
        val out = driverClusterLabels(pairs.sparkSession, edges, pairs.schema("id1"))
        graft.util.Blocks.release(edges)
        out
      } else starRounds(edges, edgeCount, maxIter)._1
    withSelfOnly(pairs, labels)
  }

  private def canonicalEdges(pairs: DataFrame): DataFrame = pairs
    .select(greatest(col("id1"), col("id2")).as("u"), least(col("id1"), col("id2")).as("v"))
    .filter(col("u") =!= col("v")).distinct().localCheckpoint(true)

  /** contract parity with [[clusterPairs]]: an id appearing only as a
    * self-pair still labels itself. */
  private def withSelfOnly(pairs: DataFrame, labels: DataFrame): DataFrame = {
    val selfOnly = pairs.filter(col("id1") === col("id2"))
      .select(col("id1").as("id")).distinct()
      .join(labels, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster_id"))
    labels.unionAll(selfOnly)
  }

  /** [[clusterPairsStar]] plus the number of rounds it took — the spec
    * hook proving star rounds beat diameter-bound propagation; always
    * runs the distributed rounds. */
  def clusterPairsStarWithRounds(pairs: DataFrame, maxIter: Int = 50): (DataFrame, Int) = {
    val edges = canonicalEdges(pairs)
    val (labels, rounds) = starRounds(edges, edges.count(), maxIter)
    (withSelfOnly(pairs, labels), rounds)
  }

  /** The alternating large-star/small-star fixpoint over a materialized
    * canonical edge set. Returns min-id labels for every id in `edges`. */
  private def starRounds(edges0: DataFrame, edgeCount0: Long, maxIter: Int)
      : (DataFrame, Int) = {
    var edges = edges0
    var edgeCount = edgeCount0
    var rounds = 0
    var done = false
    while (!done && rounds < maxIter) {
      // LARGE-STAR: per node u over ALL its neighbors, attach every
      // strictly larger neighbor v to m = min(N(u) + {u})
      val nbrs = edges.unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      val minsL = nbrs.groupBy(col("u"))
        .agg(min(col("v")).as("__mv"))
        .select(col("u"), least(col("__mv"), col("u")).as("m"))
      val large = nbrs.join(minsL, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")) // m <= u < v keeps (big, small)
        .distinct()
      // SMALL-STAR: in (big, small) orientation every neighbor of u here
      // is smaller, so m = min(N(u)); attach u and all other small
      // neighbors to m
      val minsS = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val attach = large.join(minsS, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      val next = attach.unionAll(minsS.select(col("u"), col("m").as("v")))
        .distinct().localCheckpoint(true)
      // fixpoint check at HALF the jobs of the naive two-way exceptAll:
      // both frames are distinct sets, so equal cardinality plus one-way
      // containment IS equality; the old set's count is carried from the
      // previous round instead of recomputed
      val nextCount = next.count()
      done = nextCount == edgeCount && next.exceptAll(edges).isEmpty
      // the fixpoint check was the last reader of the old edge set —
      // release its blocks before the next round (Blocks.release: the
      // same hygiene as kCore's peel loop)
      graft.util.Blocks.release(edges)
      edges = next
      edgeCount = nextCount
      rounds += 1
    }
    require(done, s"clusterPairsStar did not converge in $maxIter rounds")
    // at the fixpoint the edge set IS the star forest (node -> component min)
    val labels = edges.select(col("u").as("id"), col("v").as("cluster_id"))
      .unionAll(edges.select(col("v").as("id"), col("v").as("cluster_id")))
      .distinct()
    (labels, rounds)
  }

  /** Quality-biased keeper selection over dedup clusters: keep ONE
    * document per cluster — the one with the highest score (ties break on
    * lowest id) — plus every unclustered document. Real dedup pipelines
    * keep the *best* member of a near-dup group (longest, highest
    * quality), not the lowest id; this is the step that turns
    * [[clusterPairs]]/[[clusterPairsStar]] labels into the surviving
    * corpus.
    *
    * `clusters` is (id, cluster_id) from either CC implementation;
    * `scoreCol` is any orderable column of `docs` (token count, a Gopher
    * quality score, ...). Null scores rank below every non-null score.
    *
    * Shuffle profile: one id-keyed join of the cluster labels against the
    * doc scores (the labels relation holds only docs in >= 1 pair, a
    * small fraction of the corpus under realistic duplication), one
    * rank window partitioned by cluster (parallel, state bounded by
    * cluster size), and one anti join of the corpus against the loser
    * set. Nothing is broadcast unconditionally — the loser relation's
    * size is corpus-dependent, so the anti join is left to AQE/size
    * estimation. Returns the surviving `docs` rows unchanged. */
  def keepBestPerCluster(docs: DataFrame, idCol: String, scoreCol: String,
      clusters: DataFrame): DataFrame = {
    // defensive distinct: a duplicated (id, cluster_id) label — e.g. a
    // unionAll of incremental CC runs — would give the KEEPER's second
    // copy rank 2 and anti-join the best doc away
    val scored = clusters.select(col("id"), col("cluster_id")).distinct().join(
      docs.select(col(idCol).as("id"), col(scoreCol).as("__score")), Seq("id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("__score").desc_nulls_last, col("id").asc)
    val losers = scored.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") > 1).select(col("id"))
    docs.join(losers, docs(idCol) === losers("id"), "left_anti")
  }

  /** Line-level (paragraph-level) dedup, CCNet-style: count every exact
    * line across the WHOLE corpus, drop from each document the lines that
    * appear at least `minCount` times, and reassemble the survivors in
    * their original order. This removes the boilerplate exact-document
    * dedup can't touch — navigation bars, cookie banners, license headers
    * repeated across millions of otherwise-distinct pages.
    *
    * Returns (id, kept_lines, dropped_lines, clean_text).
    *
    * Shuffle profile at 100 TB: exactly two exchanges of the exploded
    * lines relation. (1) line frequency via a COUNT WINDOW partitioned by
    * a fixed-width md5 of the line — one shuffle keyed by 32-hex-char
    * digests (never by raw line bytes) that both counts and tags each
    * line in place, where the aggregate-then-join-back form would shuffle
    * the same relation on the same key twice; (2) the per-document
    * reassembly aggregate keyed by doc id. Nothing is broadcast: the
    * frequent-line set's size is corpus-dependent (bounded only by
    * lines/minCount), which is precisely the ungated-broadcast trap. A
    * pathologically hot line (the empty line, a bare '-') makes one big
    * window partition; the window only counts and Spark's external window
    * buffer spills it, the same exposure a join-back would have. */
  def dropBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
      minCount: Int = 3, sep: String = "\n"): DataFrame = {
    require(minCount >= 2, "minCount < 2 would drop every line")
    val lines = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))).as(Seq("pos", "line")))
      .withColumn("lh", md5(col("line")))
    val tagged = lines.withColumn("n", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("lh"))))
    tagged.groupBy(col("id")).agg(
      sum(when(col("n") < minCount, 1L).otherwise(0L)).as("kept_lines"),
      sum(when(col("n") >= minCount, 1L).otherwise(0L)).as("dropped_lines"),
      concat_ws(sep, expr(
        s"transform(array_sort(collect_list(CASE WHEN n < $minCount THEN struct(pos, line) END)), x -> x.line)"
      )).as("clean_text"))
  }

  /** Exact duplicated-substring statistics (the "deduplicate training
    * data" window rule): every token position opens an `n`-token window;
    * a window duplicated `minCount`+ times corpus-wide (ACROSS documents
    * or repeated within one) marks its position as duplicated. Reports
    * per-document window totals and the duplicated fraction — the signal
    * a pipeline cuts on (or feeds to span excision).
    *
    * Shuffle profile: windows are md5-hashed per-row (no gram strings
    * cross the wire), then ONE exchange keyed by the window hash both
    * counts and tags every occurrence (count window — an agg + join-back
    * would pay the same exchange twice), one per-doc aggregate over the
    * duplicated windows only, and an id-keyed join whose right side holds
    * just the docs that HAVE duplicates (total window counts are computed
    * per-row, so the join never carries corpus-cardinality stats).
    * Boilerplate heavy-hitter hashes skew the window partition; the rows
    * are (id, hash) pairs only, and the d2-style salted two-phase count
    * is the swap-in if a corpus needs it.
    *
    * Returns (id, n_grams, dup_grams, dup_frac); documents shorter than
    * `n` tokens report 0/0/0.0.
    */
  def duplicatedNgramStats(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minCount: Int = 2): DataFrame = {
    val (base, tagged) = taggedWindows(df, idCol, textCol, n, minCount)
    // n_grams is derivable per-row (size - n + 1) — only the DUPLICATED
    // window counts need the aggregate, so the join-back side holds just
    // the docs that actually have duplicates, not the whole corpus
    val dups = tagged.filter(col("cnt") >= minCount)
      .groupBy(col("id")).agg(count(lit(1)).as("dup_grams"))
    base.select(col("id"),
        greatest(size(col("__toks")) - (n - 1), lit(0)).cast("long").as("n_grams"))
      .join(dups, Seq("id"), "left")
      .select(col("id"), col("n_grams"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"))
      .withColumn("dup_frac", when(col("n_grams") === 0, lit(0.0))
        .otherwise(round(col("dup_grams") / col("n_grams").cast("double"), 6)))
  }

  /** Shared window stage for [[duplicatedNgramStats]] /
    * [[exciseDuplicatedNgrams]]: per-position `n`-token window md5s
    * (0-based `pos`), corpus-wide occurrence counts via one count-window
    * exchange. Returns (base(id, __toks), tagged(id, pos, gh, cnt)). */
  private def taggedWindows(df: DataFrame, idCol: String, textCol: String,
      n: Int, minCount: Int): (DataFrame, DataFrame) = {
    require(n >= 2, s"window must be at least 2 tokens, got $n")
    require(minCount >= 2, "minCount < 2 would flag every window")
    val base = df.select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("__toks"))
    val grams = base.select(col("id"), posexplode(expr(
      s"""CASE WHEN size(__toks) < $n THEN array()
         |ELSE transform(sequence(1, size(__toks) - ${n - 1}),
         |       i -> md5(concat_ws(' ', slice(__toks, i, $n))))
         |END""".stripMargin)).as(Seq("pos", "gh")))
    val tagged = grams.withColumn("cnt", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("gh"))))
    (base, tagged)
  }

  /** Span EXCISION for the duplicated-window rule: every token covered by
    * a window duplicated `minCount`+ times corpus-wide is removed, and
    * the document reassembled from the survivors in order — the actual
    * cut (not just the statistic) the published substring-dedup pipeline
    * applies.
    *
    * Same shuffle profile as [[duplicatedNgramStats]] plus the id-keyed
    * join carrying each doc's (usually short) duplicated-position list;
    * the coverage test is a per-row `exists` over that list, so no
    * token-level rows ever shuffle.
    *
    * Returns (id, n_tokens, n_kept, clean_text). `clean_text` is the
    * surviving NORMALIZED token stream (lowercased, whitespace-collapsed
    * — the same canonical form every hash in this pipeline sees), so
    * even a doc losing no tokens gets canonicalized text. Documents
    * shorter than `n` tokens lose no tokens. */
  def exciseDuplicatedNgrams(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minCount: Int = 2): DataFrame = {
    val (base, tagged) = taggedWindows(df, idCol, textCol, n, minCount)
    val dupPos = tagged.filter(col("cnt") >= minCount)
      .groupBy(col("id")).agg(collect_list(col("pos")).as("__dups"))
    base.join(dupPos, Seq("id"), "left")
      .withColumn("__dups", coalesce(col("__dups"), expr("CAST(array() AS array<int>)")))
      // token i (0-based) dies if any duplicated window [d, d+n-1] covers it
      .withColumn("__kept", expr(
        s"filter(__toks, (t, i) -> NOT exists(__dups, d -> i >= d AND i <= d + ${n - 1}))"))
      .select(col("id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        size(col("__kept")).cast("long").as("n_kept"),
        concat_ws(" ", col("__kept")).as("clean_text"))
  }

  /** SimHash fingerprint: 32 dimensions, one per md5 hex nibble of each
    * token; bit i is the sign of the token-count majority on that nibble's
    * high bit. Returns (id, simhash-bitstring). Single aggregate pass. */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = Spread(df).select(col(idCol).as("id"),
      explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .withColumn("h", md5(col("tok")))
    val bitAggs = (1 to 32).map { i =>
      sum(when(substring(col("h"), i, 1) >= "8", 1).otherwise(-1)).as(s"s$i")
    }
    val sums = toks.groupBy(col("id")).agg(bitAggs.head, bitAggs.tail: _*)
    val bits = (1 to 32).map(i => when(col(s"s$i") >= 0, "1").otherwise("0"))
    sums.select(col("id"), concat(bits: _*).as("simhash"))
  }
}
