package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.{Catalog, IceRead, IceWrite, SchemaEvolution}
import graft.util.JobScope

/** Persisted IVF+PQ approximate-nearest-neighbor index over catalog
  * tables — build once, serve many: the full-width embedding corpus is
  * read exactly once at build time, and every search afterwards touches
  * only the broadcast centroids and the integer code table.
  *
  * Layout for index `name`:
  *
  *  - `name__centroids` (cell_id BIGINT, vec ARRAY<DOUBLE>): the trained
  *    IVF cell centroids, which double as the PQ codebook (sliced per
  *    subspace — the same declared simplification as the s6/s7 oracle
  *    queries). Always small (nCells rows): broadcast at serve time.
  *  - `name__codes` (vec_id, cell_id, code_0..code_{m-1}): one row per
  *    corpus vector — its IVF cell and its m PQ subspace codes. This is
  *    the ONLY per-vector state a search reads; the full-width floats
  *    can live in cold storage. Table properties `ann.m` /
  *    `ann.ncells` pin the build geometry so serve/append never have to
  *    be told (or can silently disagree with) the build.
  *
  * Everything is deterministic: seeds are the nCells smallest md5 draws
  * ([[Sampling.fixedSample]]), training is [[Similarity.kmeansUpdate]]'s
  * integer micro-space Lloyd step, assignment/encode are the
  * integer-exact argmins — same corpus in, bit-identical index out, on
  * any partitioning.
  *
  * Scale shape: build = trainIters Lloyd steps (each one broadcast
  * argmax + one (cell, dim) aggregate) + one assignment + one encode
  * pass, none of which shuffle the corpus; the codes table is m longs
  * per vector. Search = broadcast-probe the centroids, semi-restrict
  * the code table by probed cell (cell_id-keyed join — at 10^9 vectors
  * this is the read the cell partitioning exists for), then
  * candidate-restricted ADC ([[Similarity.pqSearchCandidates]]).
  * Append = assign + encode the new vectors against the FROZEN
  * centroids and upsert by vec_id — the index serves while it grows,
  * and a replayed append commits the identical rows. */
object AnnIndex {

  def centroidsTable(name: String): String = s"${name}__centroids"
  def codesTable(name: String): String = s"${name}__codes"

  private val MProp = "ann.m"
  private val NCellsProp = "ann.ncells"
  private val DimProp = "ann.dim"

  /** (cell_id, dim, mean_micro, ...) rows from [[Similarity.kmeansUpdate]]
    * reassembled into (cell_id, vec ARRAY<DOUBLE>) — dims ordered, micro
    * units scaled back. Bounded input: |cells| * dim rows. */
  def centroidsFromUpdate(upd: DataFrame): DataFrame =
    upd.groupBy(col("cell_id"))
      .agg(array_sort(collect_list(struct(col("dim"), col("mean_micro")))).as("__s"))
      .select(col("cell_id"),
        expr("transform(__s, e -> cast(e.mean_micro as double) / 1e6)").as("vec"))

  /** Deterministic k-means++-free seeding: the nCells corpus vectors with
    * the smallest md5 draws, cell ids 0..n-1 in draw order. The rank
    * window is global but runs over the ALREADY-SAMPLED nCells rows —
    * bounded by construction. Null/empty vectors are never seeds. */
  private def seedCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int): DataFrame = {
    val sample = Sampling.fixedSample(
      corpus.filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
        .select(col(idCol), col(vecCol)), idCol, nCells, seed = "annseed")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(Sampling.hashDraw(col(idCol), "annseed").asc, col(idCol).asc)
    sample.select((row_number().over(w) - 1).cast("long").as("cell_id"),
      transform(col(vecCol), x => x.cast("double")).as("vec"))
  }

  /** Train and persist the index. Fails if either index table exists
    * (drop first — an index is rebuilt, never mutated in place).
    * `trainIters` Lloyd steps refine the deterministic seeds; cells that
    * lose every member during training drop out (standard k-means empty-
    * cell behavior), so the final cell count may be below nCells. */
  def build(spark: SparkSession, catalog: Catalog, name: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16, m: Int = 4, trainIters: Int = 3): Unit = {
    require(nCells >= 1 && m >= 1 && trainIters >= 0,
      s"need nCells/m >= 1 and trainIters >= 0, got $nCells/$m/$trainIters")
    require(!catalog.tableExists(centroidsTable(name)) &&
      !catalog.tableExists(codesTable(name)),
      s"ann index '$name' already exists — drop its tables to rebuild")
    var cents = seedCentroids(corpus, idCol, vecCol, nCells).localCheckpoint(true)
    for (_ <- 0 until trainIters) {
      val upd = Similarity.kmeansUpdate(corpus, idCol, vecCol, cents, "cell_id", "vec")
      cents = centroidsFromUpdate(upd).localCheckpoint(true)
    }
    // the centroids-table write and the codes computation both read the
    // CHECKPOINTED cents frame and nothing of each other — the write's
    // commit I/O overlaps the assign+encode stages (guide §2.6). The
    // failure window is the sequential form's: a crash can leave the
    // centroids table without codes either way. A failing encode cancels
    // the write's jobs and waits for it, so when build throws the
    // centroids table is either created or not, and stays that way.
    val (_, codes) = JobScope.both(spark.sparkContext)(
      IceWrite.create(spark, catalog, centroidsTable(name), cents),
      assignAndEncode(corpus, idCol, vecCol, cents, m).localCheckpoint(true))
    IceWrite.create(spark, catalog, codesTable(name), codes)
    val dim = cents.select(size(col("vec"))).take(1)
      .headOption.map(_.getInt(0))
      .getOrElse(throw new IllegalArgumentException(
        s"ann index '$name': corpus has no non-null vectors to seed from"))
    SchemaEvolution.updateProperties(catalog, codesTable(name),
      Map(MProp -> m.toString, NCellsProp -> nCells.toString, DimProp -> dim.toString))
  }

  /** Cell assignment + PQ encode against one centroid frame, joined to
    * (vec_id, cell_id, code_0..code_{m-1}).
    *
    * Deliberately NOT Spread: measured (graft.util.Profile, s8) — the
    * single-task build stages here are not compute-bound (nCells cosines
    * over fixed-width vectors are microseconds per row), and because the
    * cells⋈codes join evaluates `vectors` in BOTH subtrees, a Spread
    * exchange is paid twice and cost s8 ~1.3 s warm (3.99 -> 5.3 s). The
    * same measure-and-revert call as Multimodal.imageDHashes. */
  private def assignAndEncode(vectors: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, m: Int): DataFrame = {
    val cells = Similarity.ivfCells(vectors, idCol, vecCol, cents, "cell_id", "vec")
    val codes = Similarity.pqEncode(vectors, idCol, vecCol, cents, "cell_id", "vec", m)
    cells.join(codes, Seq("vec_id"))
  }

  private def storedProp(catalog: Catalog, name: String, prop: String): Int = {
    val props = catalog.loadTable(codesTable(name)).properties
    props.getOrElse(prop, throw new IllegalStateException(
      s"ann index '$name' has no $prop property — not built by AnnIndex.build?")).toInt
  }

  /** A dimension that disagrees with the build would otherwise fail
    * SILENTLY (null cosines still probe, the encode/search guards then
    * drop every row — an empty result indistinguishable from "no
    * neighbors"). Make it loud instead. */
  private def requireDim(catalog: Catalog, name: String,
      vectors: DataFrame, vecCol: String, what: String): Unit = {
    val dim = storedProp(catalog, name, DimProp)
    vectors.filter(col(vecCol).isNotNull).select(size(col(vecCol))).take(1)
      .headOption.foreach { r =>
        require(r.getInt(0) == dim,
          s"ann index '$name' is $dim-dimensional; $what vectors are ${r.getInt(0)}-dim")
      }
  }

  /** Add vectors to an existing index: assign + encode against the FROZEN
    * centroids, upsert by vec_id (re-appending a vector replaces its
    * codes; a replayed append commits identical rows). Frozen centroids
    * mean cell balance can drift as the corpus grows — rebuild when it
    * does; searches stay correct either way, recall follows the
    * centroids' fit. */
  def append(spark: SparkSession, catalog: Catalog, name: String,
      vectors: DataFrame, idCol: String, vecCol: String): Unit = {
    val m = storedProp(catalog, name, MProp)
    requireDim(catalog, name, vectors, vecCol, "appended")
    val cents = IceRead.table(spark, catalog, centroidsTable(name))
    val fresh = assignAndEncode(vectors, idCol, vecCol, cents, m).localCheckpoint(true)
    if (!fresh.isEmpty) {
      IceWrite.upsert(spark, catalog, codesTable(name), fresh, keys = Seq("vec_id"))
      // same continuous fold-back as TextIndex.append: per-append code
      // upserts fragment the codes table; cell-restricted serve scans
      // want few files. No-op until the auto planner's thresholds trip.
      TextIndex.maintainIndexTables(spark, catalog,
        Seq(codesTable(name)), "AnnIndex.append")
    }
  }

  /** Serve top-k neighbors for each query from the persisted index:
    * probe the `nprobe` nearest cells per query (broadcast centroids),
    * restrict the code table to probed cells, rank by ADC over integer
    * codes. Corpus floats are never read. A query already in the index
    * never returns itself. Returns (query_id, neighbor_id, rank,
    * adc_e6). */
  def search(spark: SparkSession, catalog: Catalog, name: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, nprobe: Int = 1): DataFrame = {
    val m = storedProp(catalog, name, MProp)
    requireDim(catalog, name, queries, qVecCol, "query")
    val cents = IceRead.table(spark, catalog, centroidsTable(name))
    val probes = Similarity.ivfProbeCells(queries, qIdCol, qVecCol,
      cents, "cell_id", "vec", nprobe)
      .select(col("vec_id").as("query_id"), col("cell_id"))
    val codes = IceRead.table(spark, catalog, codesTable(name))
    val codeCols: Seq[Column] = (0 until m).map(j => col(s"code_$j"))
    val cand = codes.join(probes, Seq("cell_id"))
      .select(col("query_id") +: col("vec_id").as("neighbor_id") +: codeCols: _*)
    Similarity.pqSearchCandidates(queries, qIdCol, qVecCol, cand,
      cents, "cell_id", "vec", m, k)
  }
}
