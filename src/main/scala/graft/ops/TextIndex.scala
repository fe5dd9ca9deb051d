package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.{Catalog, IceRead, IceWrite}
import graft.util.JobScope

/** Sparse (lexical) retrieval over document corpora: BM25 scoring and a
  * persisted inverted index — the text-side dual of [[AnnIndex]]'s dense
  * build-once/serve-many stack. A training-data pipeline uses this for
  * targeted corpus slicing ("every document about X"), contamination
  * hunting beyond exact n-gram hits, and quality-biased retrieval mixes.
  *
  * Scoring is the BM25 term-saturation formula with the idf expressed as
  * an EXACT rational instead of its logarithm (the same documented trade
  * as [[TextAnalysis.tfIdfTopTerms]]: `ln` is not correctly rounded and a
  * one-ulp drift can flip near-tied ranks across engines, while integer
  * floor division is bit-identical everywhere — docs/ORACLE.md). With
  * k1 = 6/5 and b = 3/4 (the standard 1.2 / 0.75 as exact rationals),
  * avgdl = T/N (total tokens over doc count):
  *
  *   tf_e6    = 1e6 * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
  *            = (22_000_000 * tf * T) div (10*tf*T + 3*T + 9*dl*N)
  *   idf_e6   = 1e6 * (N - df + 1/2) / (df + 1/2)
  *            = (1_000_000 * (2*(N - df) + 1)) div (2*df + 1)
  *   score_e6 = sum over matched terms of (tf_e6 * idf_e6) div 1e6
  *
  * Every step is integer arithmetic (DECIMAL(38,0) intermediates — the
  * products reach ~1e26 on a 100 TB corpus, past int64 but far inside 38
  * digits); the idf rational preserves BM25's monotone df tradeoff
  * per-term, and docs rank by the same "rare terms dominate, tf
  * saturates" shape. Ties break on doc id.
  */
object TextIndex {

  /** tf_e6: BM25 term-frequency saturation in micro units (see object
    * doc). Expects columns tf, dl, n_docs, total_tokens.
    *
    * `div`, NOT `floor(a / b)`: Spark resolves decimal `/` to a scale-6
    * result rounded HALF_UP, so a quotient whose fractional part lands
    * in [0.9999995, 1) floors to q+1 while DuckDB's truncating `//`
    * gives q — a once-in-~2e6-divisions hash mismatch. IntegralDivide
    * truncates decimals exactly (docs/ORACLE.md rule). */
  private val TfE6 =
    """((CAST(22000000 AS DECIMAL(38,0)) * tf * total_tokens) div
      | (CAST(10 AS DECIMAL(38,0)) * tf * total_tokens
      |  + CAST(3 AS DECIMAL(38,0)) * total_tokens
      |  + CAST(9 AS DECIMAL(38,0)) * dl * n_docs))""".stripMargin

  /** idf_e6: rational idf in micro units, capped at 1e12 (rarity ratio
    * 1e6). Without `ln`'s compression a one-in-a-trillion term's idf
    * would reach ~1e18 and overflow the int64 doc-score sum; past the
    * cap, rarer terms all score as "maximally rare" (the same saturation
    * Lucene applies to degenerate idf). With the cap, a per-term score is
    * at most 2.2e6 * 1e12 / 1e6 = 2.2e12 — the whole pipeline stays
    * inside int64 for any query under ~4M terms. Expects df, n_docs. */
  private val IdfE6 =
    """least((CAST(1000000 AS DECIMAL(38,0)) * (2 * (n_docs - df) + 1)) div
      |      (CAST(2 AS DECIMAL(38,0)) * df + 1),
      |      CAST(1000000000000 AS BIGINT))""".stripMargin

  /** (id, dl, __hits) projection: per-row token count and the tokens that
    * match the query, from ONE tokens() evaluation. Null text yields
    * dl = 0 and no hits (the doc still counts toward N and avgdl — a
    * corpus statistic that silently shrank when rows went null would bias
    * every score). */
  private def hitsProjection(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame =
    df.select(col(idCol).as("id"),
      coalesce(TextAnalysis.tokenCount(col(textCol)).cast("long"), lit(0L)).as("dl"),
      coalesce(filter(TextAnalysis.tokens(col(textCol)),
        t => t.isInCollection(terms)), lit(Array.empty[String])).as("__hits"))

  /** Per-(doc, term) tf rows restricted to the query terms, dl carried
    * through the aggregate (constant per doc, so max == the value — no
    * second corpus join). The explode happens AFTER the per-row term
    * filter, so the shuffled relation holds only query-term occurrences,
    * not the corpus token stream. */
  private def tfOfHits(base: DataFrame): DataFrame =
    base.select(col("id"), col("dl"), explode(col("__hits")).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))

  /** Score tf rows against corpus stats and return the top-k docs.
    * dfreq/stats are bounded (|terms| rows / 1 row) — broadcast.
    * `requireHits` > 0 keeps only docs matching at least that many
    * distinct terms (AND-mode when it equals the query size). */
  private def scoreAndRank(tf: DataFrame, stats: DataFrame, k: Int,
      requireHits: Int = 0): DataFrame = {
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("__score", expr(s"($TfE6) * ($IdfE6) div 1000000"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hits"), sum(col("__score")).as("score_e6"))
    (if (requireHits > 0) scored.filter(col("n_hits") >= requireHits) else scored)
      .orderBy(col("score_e6").desc, col("id").asc)
      .limit(k)
  }

  /** BM25 top-k retrieval directly over a corpus DataFrame (no index):
    * one corpus pass builds the per-row (dl, matched-tokens) projection;
    * the only shuffled rows are query-term occurrences. The global top-k
    * is TakeOrderedAndProject — per-partition heaps, never a global sort.
    * Returns (id, n_hits, score_e6), best first; docs matching no term
    * are not returned. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int, requireAll: Boolean = false): DataFrame = {
    val terms = normTerms(queryTerms, "bm25TopK")
    // the narrow (id, dl, hits) projection is materialized ONCE
    // (localCheckpoint): stats and tf both derive from it, and without
    // the cut each would re-run the full tokenization scan — twice the
    // dominant cost. ~16 bytes/doc of checkpoint storage buys away a
    // whole corpus re-read. Spread first: tokenization is the per-row
    // hot loop and must not run at the scan's row-group parallelism.
    val base = hitsProjection(Spread(df), idCol, textCol, terms).localCheckpoint(true)
    val stats = base.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens"))
    scoreAndRank(tfOfHits(base), stats, k, if (requireAll) terms.size else 0)
  }

  /** lowercase, dedup, and validate query terms: an empty string is not
    * a term (tokens("") is [""], so it would "match" empty documents). */
  private def normTerms(queryTerms: Seq[String], what: String): Seq[String] = {
    val terms = queryTerms.map(_.toLowerCase).distinct
    require(terms.nonEmpty, s"$what needs at least one query term")
    require(terms.forall(_.nonEmpty), s"$what: empty-string query terms are invalid")
    terms
  }

  def postingsTable(name: String): String = s"${name}__postings"
  def docsTable(name: String): String = s"${name}__docs"

  /** Build the persisted inverted index: `name__postings` (term, doc_id,
    * tf, dl) — one row per distinct (term, doc) with dl denormalized onto
    * the posting so a search never joins back to the doc table — and
    * `name__docs` (doc_id, dl), from which N and total tokens derive at
    * serve time (derived, not stored: a stored counter would drift from
    * the data under replayed appends; the docs table is two longs per doc
    * and aggregates map-side).
    *
    * Postings are written repartitioned BY TERM and sorted (term, doc_id)
    * within partitions, so each parquet file covers a narrow term range
    * and a search's `term IN (...)` pushdown skips whole files on footer
    * stats — at corpus scale a query touches the few files holding its
    * terms, not the index. */
  def build(spark: SparkSession, catalog: Catalog, name: String,
      corpus: DataFrame, idCol: String, textCol: String): Unit = {
    require(!catalog.tableExists(postingsTable(name)) &&
      !catalog.tableExists(docsTable(name)),
      s"text index '$name' already exists — drop its tables to rebuild")
    // both passes tokenize every row — spread once so neither runs at
    // the scan's row-group parallelism
    val c = Spread(corpus)
    // the docs frame is 16 B/row off a wide tokenize stage — REBALANCE
    // before the write so AQE sizes the output files (1 file for a small
    // corpus instead of one tiny file per tokenize partition; advisory-
    // sized files at scale). Postings keep their own term clustering.
    // The two creates write DIFFERENT tables from the same source frame
    // — independent commits, so they run concurrently (guide §2.6: the
    // postings build's stages back-fill the docs write's commit wait).
    // Crash recovery is unchanged in kind: a failed build can leave
    // either table behind, and rebuild requires dropping whatever
    // exists — exactly the sequential form's wedge-and-drop contract.
    // A failing side cancels the other's jobs, and build throws only
    // after both have ended.
    JobScope.both(spark.sparkContext)(
      IceWrite.create(spark, catalog, docsTable(name),
        docRows(c, idCol, textCol).hint("rebalance")),
      IceWrite.create(spark, catalog, postingsTable(name), postingRows(c, idCol, textCol))): Unit
  }

  /** Add documents to the index: postings upsert keyed (term, doc_id),
    * doc rows keyed doc_id — a replayed append commits identical rows
    * and converges. Each table is created independently if missing, so a
    * crash between the two commits leaves a state the NEXT append
    * completes rather than a wedge. Meant for NEW doc ids; re-indexing a
    * CHANGED document must delete its old rows first (an upsert cannot
    * retract postings for terms the new text no longer contains).
    *
    * The two upserts run side by side. If one fails, the other's Spark
    * jobs are cancelled and append throws only after it has ended: the
    * first failure propagates, a later one rides along as suppressed.
    * Partial-commit window: the postings upsert can land while the docs
    * upsert fails, which leaves postings whose doc_id has no docs row
    * (N and avgdl then undercount those documents). Replaying the batch
    * repairs it. */
  def append(spark: SparkSession, catalog: Catalog, name: String,
      corpus: DataFrame, idCol: String, textCol: String): Unit = {
    val c = Spread(corpus)
    val docs = docRows(c, idCol, textCol).localCheckpoint(true)
    if (!docs.isEmpty) {
      // different tables, independent CAS chains: the docs upsert's
      // commit I/O overlaps the postings tokenize+upsert (guide §2.6)
      JobScope.both(spark.sparkContext)(
        createOrUpsert(spark, catalog, docsTable(name), docs.hint("rebalance"), Seq("doc_id")),
        createOrUpsert(spark, catalog, postingsTable(name),
          postingRows(c, idCol, textCol), Seq("term", "doc_id")))
      // per-append upserts accumulate small postings files + eq-delete
      // files, and b2-style serve performance rides on term-range file
      // skipping over FEW, well-sorted files — fold the fragments back
      // whenever the auto planner's thresholds say so (below-threshold
      // tables are a metadata-only no-op). A maintenance failure must
      // not fail the append: the rows are committed; retry next append.
      maintainIndexTables(spark, catalog,
        Seq(postingsTable(name), docsTable(name)), "TextIndex.append")
    }
  }

  private[ops] def maintainIndexTables(spark: SparkSession, catalog: Catalog,
      tables: Seq[String], site: String): Unit =
    tables.foreach { t =>
      try graft.compaction.Maintenance.autoCompact(spark, catalog, t): Unit
      catch {
        case e: Exception => System.err.println(
          s"[$site] auto-compaction of $t failed (append committed, will retry): ${e.getMessage}")
      }
    }

  private def createOrUpsert(spark: SparkSession, catalog: Catalog,
      table: String, df: DataFrame, keys: Seq[String]): Unit =
    if (!catalog.tableExists(table)) IceWrite.create(spark, catalog, table, df): Unit
    else IceWrite.upsert(spark, catalog, table, df, keys): Unit

  private def docRows(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    corpus.select(col(idCol).as("doc_id"),
      coalesce(TextAnalysis.tokenCount(col(textCol)).cast("long"), lit(0L)).as("dl"))

  /** Postings carry POSITIONS (1-based token offsets, sorted) alongside
    * tf — the standard positional-index layout: phrase queries resolve
    * from the index alone, and the array's size is exactly tf (no new
    * asymptotics, ~8 bytes per corpus token).
    *
    * Every position of a (term, doc) posting lives in the SAME corpus
    * row, so the grouping is computed per row by the native
    * [[graft.functions.TermPostings]] expression instead of pushing the
    * whole token stream through a posexplode + collect_list aggregation
    * exchange — the row set is identical (same filter, tf, sorted
    * positions; see the expression's exactness contract), and the only
    * shuffle left in the build is the term-range repartition the file
    * layout needs. */
  private def postingRows(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    corpus.select(col(idCol).as("doc_id"),
      coalesce(TextAnalysis.tokenCount(col(textCol)).cast("long"), lit(0L)).as("dl"),
      explode(graft.functions.PostingsFunctions.term_postings(
        TextAnalysis.tokens(col(textCol)))).as("__p"))
      .select(col("__p.term").as("term"), col("doc_id"),
        col("__p.tf").as("tf"), col("dl"), col("__p.positions").as("positions"))
      .repartition(col("term"))
      .sortWithinPartitions(col("term"), col("doc_id"))

  /** Exact PHRASE search from the positional index alone: documents
    * containing the query terms at consecutive positions, ranked by
    * occurrence count (ties -> lowest id). The classic positional-
    * postings algorithm: restrict the postings scan to the phrase's
    * terms (`term IN` pushdown — the same file skipping as BM25), fold
    * each candidate doc's per-term position lists into one row, and
    * count the start positions whose arithmetic chain p, p+1, ..,
    * p+n-1 threads every term's list. Document text is never read;
    * per-doc state is bounded by the phrase terms' tf sum.
    *
    * A single-term "phrase" degenerates to term occurrence count.
    * Repeated terms ("batch batch") work — the chain indexes the SAME
    * position list twice, offset by one. Returns (id, n_matches), best
    * first, docs with no full-phrase match excluded. */
  def searchPhrase(spark: SparkSession, catalog: Catalog, name: String,
      phrase: Seq[String], k: Int): DataFrame = {
    val terms = phrase.map(_.toLowerCase)
    require(terms.nonEmpty, "searchPhrase needs at least one term")
    require(terms.forall(_.nonEmpty), "searchPhrase: empty-string terms are invalid")
    val post = IceRead.table(spark, catalog, postingsTable(name))
      .filter(col("term").isInCollection(terms.distinct))
      .select(col("doc_id").as("id"), col("term"), col("positions"))
    // one row per candidate doc: term -> positions map (bounded by the
    // phrase's distinct terms); docs missing any term drop at the map
    // lookup (null positions -> null chain test -> filtered)
    val byDoc = post.groupBy(col("id"))
      .agg(map_from_entries(collect_list(struct(col("term"), col("positions"))))
        .as("__pm"))
    // the chain test, built at plan time from the phrase: for each start
    // p in positions(t1), every later term tk must contain p + (k-1)
    val chain = terms.zipWithIndex.tail.foldLeft(
      col("__pm").getItem(terms.head)) { case (acc, (t, offset)) =>
        filter(acc, p => array_contains(col("__pm").getItem(t), p + offset))
      }
    byDoc.withColumn("__matches", chain)
      .withColumn("n_matches", size(col("__matches")).cast("long"))
      .filter(col("n_matches") > 0)
      .select(col("id"), col("n_matches"))
      .orderBy(col("n_matches").desc, col("id").asc)
      .limit(k)
  }

  /** Streaming maintenance for the inverted index: a foreachBatch sink
    * that indexes each micro-batch as it lands, so the index serves
    * while the corpus grows — the retrieval-side sibling of
    * [[Dedup.dedupSink]].
    *
    * {{{
    * docs.writeStream
    *   .foreachBatch(TextIndex.indexSink(catalog, "docs_idx", "doc_id", "text"))
    *   .option("checkpointLocation", ck).start()
    * }}}
    *
    * Replay-safe because [[append]] is an upsert keyed (term, doc_id) /
    * doc_id: a replayed micro-batch commits identical rows and the
    * served scores do not change. Tables are created on the first
    * non-empty batch (per table — a crash mid-create heals on the next
    * batch); one stream per index (the foreachBatch serialization
    * guarantee orders the upserts). */
  def indexSink(catalog: Catalog, name: String,
      idCol: String, textCol: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty)
        append(batch.sparkSession, catalog, name, batch, idCol, textCol)

  /** Serve BM25 top-k from the persisted index alone — document text is
    * never read. The postings scan carries a `term IN (...)` pushdown
    * (file skipping via the build-time term clustering); stats come from
    * one map-side-combinable aggregate over the (doc_id, dl) table.
    * Returns (id, n_hits, score_e6), best first. */
  def searchBm25(spark: SparkSession, catalog: Catalog, name: String,
      queryTerms: Seq[String], k: Int, requireAll: Boolean = false): DataFrame = {
    val terms = normTerms(queryTerms, "searchBm25")
    val post = IceRead.table(spark, catalog, postingsTable(name))
      .filter(col("term").isInCollection(terms))
      .select(col("doc_id").as("id"), col("term"), col("tf"), col("dl"))
    val stats = IceRead.table(spark, catalog, docsTable(name))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens"))
    scoreAndRank(post, stats, k, if (requireAll) terms.size else 0)
  }
}
