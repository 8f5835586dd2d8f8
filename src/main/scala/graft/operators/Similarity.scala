package graft.operators

import graft.{OracleSql, Q, QueryModule}
import graft.functions.Vectors._
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (ArrayType(FloatType),
  * dim 64) — beyond-reference extension (SURVEY.md §7 M5).
  *
  * Scale design:
  *  - squared norms are computed ONCE per row before any pairwise join
  *    (O(n·dim)), so a pair costs one dot product, not three;
  *  - q31 brute-force kNN broadcasts the (tiny) query set against the full
  *    corpus — O(n·k) work, no shuffle of the corpus, the right baseline
  *    even at 100 TB when k is small;
  *  - q32 is the scale path: sign-LSH bucketing (hyperplanes = coordinate
  *    axes of the leading dims) turns all-pairs search into an equi-join on
  *    the bucket key — shuffle-partitioned by bucket, each bucket searched
  *    locally; more planes/multi-probe trade recall for cost;
  *  - q36 embedding-cosine near-dup does threshold pairing; at scale it
  *    composes the q32 blocking with the q36 predicate.
  */
object Similarity extends QueryModule {

  /** vec_id, embedding, precomputed squared norm. */
  private def base(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.fanOut(Tables.embeddings(s, d), "vec_id")
      .select(col("vec_id"), col("embedding"),
        sqNormD(col("embedding")).as("sq"))

  /** Sign-LSH bucket id for band `band`: 8 planes (dims 8·band+1 ..
    * 8·band+8) → 256 buckets. Band 0 is q32's single-band key; q36 uses
    * all 8 bands so every dimension contributes to some band.
    */
  private def bandBucket(band: Int): org.apache.spark.sql.Column =
    (0 until 8).map { i =>
      when(element_at(col("embedding"), band * 8 + i + 1) >= 0, lit(1 << i))
        .otherwise(lit(0))
    }.reduce(_ + _)

  private def bucketCol: org.apache.spark.sql.Column = bandBucket(0)

  /** q31 — brute-force cosine top-5 for query vectors vec_id < 5.
    * Ranking keys round the raw cosine to 9 dp first: Spark's left-fold
    * aggregate and DuckDB's list kernel can differ at ulp level, and a raw
    * double rank would let near-ties order differently per engine.
    */
  val knnBrute: Q = (s, d) => {
    val corpus = base(s, d)
    val queries = corpus.filter(col("vec_id") < 5).select(
      col("vec_id").as("query_id"),
      col("embedding").as("q_emb"),
      col("sq").as("q_sq"))
    val sim = cosineWithNorms(
      dotD(col("q_emb"), col("embedding")), col("q_sq"), col("sq"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim9").desc, col("vec_id"))
    corpus.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("sim9", round(sim, 9))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rn"),
        round(col("sim9"), 4).as("sim"))
      .orderBy("query_id", "rn")
  }

  /** q32 — LSH-bucketed approximate NN: nearest in-bucket neighbor per
    * vector. The self-join is an equi-join on the bucket key (shuffle
    * hash / sort-merge by bucket), never an n² cross join.
    */
  val lshAnn: Q = (s, d) => {
    val b = base(s, d).withColumn("bucket", bucketCol)
    val l = b.alias("l")
    val r = b.alias("r")
    val sim = cosineWithNorms(
      dotD(col("l.embedding"), col("r.embedding")), col("l.sq"), col("r.sq"))
    val w = Window.partitionBy(col("l.vec_id"))
      .orderBy(col("sim9").desc, col("r.vec_id"))
    l.join(r,
        col("l.bucket") === col("r.bucket") && col("l.vec_id") =!= col("r.vec_id"))
      .withColumn("sim9", round(sim, 9))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l.vec_id").as("vec_id"), col("r.vec_id").as("neighbor_id"),
        round(col("sim9"), 4).as("sim"), col("l.bucket").cast("int").as("bucket"))
      .orderBy("vec_id")
  }

  /** q36 — embedding-cosine near-dup pairs (threshold 0.4), LSH-blocked:
    * the scale path, not an all-pairs join. Each vector has 8 (band,
    * bucket) keys — band b hashes dims 8b+1..8b+8 by sign, so every
    * dimension contributes to exactly one band — candidates come from the
    * banded pair join ([[graft.functions.Hashing.bandJoin]]), then are
    * verified against the exact cosine threshold.
    *
    * Candidate volume is ~3% of all pairs (8 bands × 2⁻⁸ random collision
    * rate), linear in corpus size for a fixed density. Recall at a 0.40
    * threshold on this corpus (true pairs sit at 0.40–0.51, barely above
    * random) is partial by construction — sign-LSH recall rises steeply
    * with similarity, so planted high-sim duplicates are caught while
    * borderline pairs need more bands; the band count is the explicit
    * recall/cost knob. The DuckDB oracle runs the identical blocked
    * algorithm, so the check is exact.
    */
  val embedNearDup: Q = (s, d) =>
    bandedScoredPairs(s, d)
      .filter(col("sim9") >= 0.4)
      .select(col("v1").as("vec_id_1"), col("v2").as("vec_id_2"),
        round(col("sim9"), 4).as("sim"))
      .orderBy("vec_id_1", "vec_id_2")

  /** Each vector's 8 sign-LSH band rows ([[graft.functions.Hashing.bandRows]],
    * key = [[bandBucket]]). */
  private def bandRows(b: DataFrame): DataFrame =
    graft.functions.Hashing.bandRows(b, (0 until 8).map(bandBucket), "vec_id")

  /** q36's blocked candidates, scored: every pair (v1 < v2) that shares a
    * (band, bucket) key, once ([[graft.functions.Hashing.bandJoin]]) —
    * with its cosine rounded to 9 dp as `sim9` (q36 and the q189
    * kNN-graph build both rank on it). */
  private def bandedScoredPairs(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val b = base(s, d)
    val cand = graft.functions.Hashing.bandSelfJoin(bandRows(b), "vec_id")
      .select(col("l.vec_id").as("v1"), col("r.vec_id").as("v2"))
    val e1 = b.select(col("vec_id").as("v1"),
      col("embedding").as("emb1"), col("sq").as("sq1"))
    val e2 = b.select(col("vec_id").as("v2"),
      col("embedding").as("emb2"), col("sq").as("sq2"))
    val sim = cosineWithNorms(dotD(col("emb1"), col("emb2")), col("sq1"), col("sq2"))
    // hash-probe the verify joins (same lesson as Dedup.verifiedPairs,
    // BENCH_SF1.md): the embedding table is corpus-sized — broadcast dies
    // at scale, and sort-merge would sort the candidate mass twice; the
    // SHJ build side is one id-partitioned embedding slice.
    cand.join(e1.hint("shuffle_hash"), "v1").join(e2.hint("shuffle_hash"), "v2")
      .withColumn("sim9", round(sim, 9))
  }

  /** q189 — MUTUAL k-NN GRAPH construction: the ANN-graph build step
    * (HNSW/NN-Descent seeding, UMAP's first stage, graph-based dedup
    * community detection) — every vector's top-5 candidates from the q36
    * banded-LSH blocks, kept only where BOTH endpoints rank each other
    * (mutual edges are the standard noise filter: a hub that "likes"
    * everyone is kept only by nodes that like it back). Output is the
    * mutual-degree histogram — the graph-quality gauge an index builder
    * reads (mass at 0 = lost nodes → add bands; mass at 5 = saturated).
    *
    * Scale: candidates come from the (band, bucket) equi-join (linear in
    * corpus for fixed density — q36's argument), each pair scored ONCE
    * (undirected) then viewed twice for ranking; the rank window compiles
    * to WindowGroupLimit so each map partition forwards ≤ 5 rows per
    * node; the mutuality join runs on the ≤ 5·n kNN edge list, never on
    * candidates; verify joins are shuffle-hash (broadcast dies at 100 TB,
    * sort-merge would sort the candidate mass twice).
    */
  /** The staged mutual-kNN edge list (canonical u < v), memoized per
    * input dir: the degree audit
    * (q189) and the graph-ANN search (q246) read the SAME staged graph —
    * exactly the artifact split a serving deployment runs, where the
    * index BUILD is offline and searches only load the edge list. */
  private val knnGraphCache = new graft.Scratch.PerDir[String]

  /** The kNN-graph BUILD dataflow (candidate join → scoring → top-5
    * rank → mutuality join), exposed separately from the staged artifact
    * so PlanSpec can pin the offline build's plan shape (WindowGroupLimit
    * for the rank, equi-only joins) independently of the post-stage read
    * plans q189/q246 execute. */
  private[graft] def knnGraphBuild(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val scored = bandedScoredPairs(s, d).select("v1", "v2", "sim9")
    val directed = scored
      .select(col("v1").as("src"), col("v2").as("dst"), col("sim9"))
      .unionByName(scored
        .select(col("v2").as("src"), col("v1").as("dst"), col("sim9")))
    val w = Window.partitionBy("src").orderBy(col("sim9").desc, col("dst"))
    val knn = directed.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5).select("src", "dst")
    knn.alias("f").join(knn.alias("g"),
        col("f.src") === col("g.dst") && col("f.dst") === col("g.src") &&
          col("f.src") < col("f.dst"))
      .select(col("f.src").as("u"), col("f.dst").as("v"))
  }

  private def knnGraphDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    knnGraphCache(d)(graft.Scratch.write("graft_knn_graph", knnGraphBuild(s, d)))

  val knnGraph: Q = (s, d) => {
    val b = base(s, d)
    val mutual = graft.Scratch.read(s, knnGraphDir(s, d))
    val deg = mutual.select(col("u").as("node"))
      .unionByName(mutual.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    b.select(col("vec_id").as("node")).join(deg, Seq("node"), "left")
      .select(coalesce(col("deg"), lit(0L)).as("mutual_degree"))
      .groupBy("mutual_degree").agg(count(lit(1)).as("n_nodes"))
      .orderBy("mutual_degree")
  }

  /** The deterministic head-of-corpus pivot table: the first 64 vectors by
    * vec_id as (pivot_id, p_emb, p_sq). */
  private def headPivots(corpus: DataFrame): DataFrame =
    corpus.filter(col("vec_id") < 64).select(
      col("vec_id").as("pivot_id"), col("embedding").as("p_emb"),
      col("sq").as("p_sq"))

  /** The IVF cell assignment every index here shares: each (vec_id,
    * embedding, sq) row of `batch` ranked against the broadcast `pivots`
    * by rounded cosine (`psim9` desc, pivot_id), kept for its `probes`
    * nearest cells as (vec_id, embedding, sq, cell_id, arn). arn = 1 is
    * the home cell; `probes` = 1 keeps only it (filtered `arn = 1`). It is
    * O(n·C) map-side work against a broadcast pivot table; the corpus
    * home cells are staged once per input dir ([[homeCellsDir]]).
    */
  private[graft] def cellRanks(batch: DataFrame, pivots: DataFrame,
      probes: Int): DataFrame = {
    val psim = cosineWithNorms(
      dotD(col("embedding"), col("p_emb")), col("sq"), col("p_sq"))
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("psim9").desc, col("pivot_id"))
    batch.crossJoin(broadcast(pivots))
      .withColumn("psim9", round(psim, 9))
      .withColumn("arn", row_number().over(wAssign))
      .filter(if (probes == 1) col("arn") === 1 else col("arn") <= probes)
      .select(col("vec_id"), col("embedding"), col("sq"),
        col("pivot_id").as("cell_id"), col("arn"))
  }

  /** [[cellRanks]] for `probes` = 1 without the rank: (vec_id, embedding,
    * sq, cell_id), one row per vector. */
  private def homeCells(batch: DataFrame, pivots: DataFrame): DataFrame =
    cellRanks(batch, pivots, 1)
      .select(col("vec_id"), col("embedding"), col("sq"), col("cell_id"))

  /** IVF core, pivot-source-agnostic: `pivots` is any (pivot_id, p_emb,
    * p_sq) table — the deterministic head-of-corpus pivots q47 uses, or
    * k-means centroids from graft.ml (SimilaritySpec exercises that swap)
    * — and the plan shape is identical either way: broadcast O(n·C)
    * assignment, equi-join on cell_id, per-query top-1 with
    * WindowGroupLimit pushdown. `probes` is the multi-probe width on the
    * query side; the corpus side stays home-cell-only so a pair can never
    * surface twice. Skew posture: more pivots shrink worst-case Σ|cell|²
    * join volume; probing recovers the recall that harder partitioning
    * costs. The reported cell_id is the probed cell where the winning
    * neighbor lives.
    */
  def ivfIndex(corpus: org.apache.spark.sql.DataFrame,
      pivots: org.apache.spark.sql.DataFrame,
      probes: Int,
      queryIds: Option[org.apache.spark.sql.DataFrame] = None): org.apache.spark.sql.DataFrame =
    cellNeighbours(corpus, pivots, probes, queryIds, "rn")
      .filter(col("rn") === 1)
      .select(col("l.vec_id").as("vec_id"),
        col("l.cell_id").cast("int").as("cell_id"),
        col("r.vec_id").as("neighbor_id"), round(col("sim9"), 4).as("sim"))
      .orderBy("vec_id")

  /** The IVF probe behind [[ivfIndex]] and [[ivfProbeTopK]]: every query
    * vector's probed cells (l) joined to the corpus vectors homed in them
    * (r), each candidate with its rounded cosine `sim9` and its rank
    * (named `rank`) by (sim9 desc, r.vec_id) per query vector. */
  private def cellNeighbours(corpus: DataFrame, pivots: DataFrame,
      probes: Int, queryIds: Option[DataFrame], rank: String): DataFrame = {
    val assigned = cellRanks(corpus, pivots, probes)
    // An optional query-side restriction (q72's audit sample) must land
    // HERE, below the ranking window: no optimizer rule pushes a join
    // through a Window, so a semi-join placed on the RESULT would rank
    // the whole corpus first and discard it — the restriction has to
    // prune the neighbor join itself. The corpus side stays whole (it is
    // the searched index either way).
    val l = queryIds.fold(assigned) { q =>
      assigned.join(broadcast(q.select(col("q_id"))),
        col("vec_id") === col("q_id"), "left_semi")
    }.alias("l")
    val r = assigned.filter(col("arn") === 1).alias("r")
    val sim = cosineWithNorms(
      dotD(col("l.embedding"), col("r.embedding")), col("l.sq"), col("r.sq"))
    val w = Window.partitionBy(col("l.vec_id"))
      .orderBy(col("sim9").desc, col("r.vec_id"))
    l.join(r,
        col("l.cell_id") === col("r.cell_id") && col("l.vec_id") =!= col("r.vec_id"))
      .withColumn("sim9", round(sim, 9))
      .withColumn(rank, row_number().over(w))
  }

  /** q259's dense leg — [[ivfIndex]]'s probe generalized to TOP-K for an
    * external query set: the identical assignment (64 head-of-corpus
    * pivots, top-2 multi-probe query side, home-cell-only corpus side so
    * a pair can surface at most once) and the identical rounded-cosine
    * ranking, cut at rank ≤ k per query instead of the top-1 neighbor.
    * Returns (q_id, doc_id, rank_dense) — the rank list RRF fusion
    * consumes (it needs RANKS, not scores, so the sim column stays
    * internal). */
  private[graft] def ivfProbeTopK(s: org.apache.spark.sql.SparkSession,
      d: String, queryIds: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame = {
    val corpus = base(s, d)
    cellNeighbours(corpus, headPivots(corpus), 2, Some(queryIds), "rank_dense")
      .filter(col("rank_dense") <= k)
      .select(col("l.vec_id").as("q_id"), col("r.vec_id").as("doc_id"),
        col("rank_dense"))
  }

  /** q47 — IVF-style approximate NN (the second scale path besides q32's
    * sign-LSH) through [[ivfIndex]]: 64 coarse cells, top-2 multi-probe.
    * Pivots are the first 64 vectors by vec_id — deterministic, so the
    * whole index is DuckDB-reproducible.
    */
  val ivfAnn: Q = (s, d) => {
    val corpus = base(s, d)
    ivfIndex(corpus, headPivots(corpus), probes = 2)
  }

  /** Micro-nat log of the q215 cell count: round(10⁶·ln 64). */
  private val ln64Micro = 4158883L

  /** q215 — IVF index COVERAGE audit: the health gauge of the q47/q72
    * partitioned-ANN family — an inverted-file index is only as good as
    * its cell balance (a hot cell degrades probes to brute force, empty
    * cells waste probe budget, and a skewed occupancy histogram is the
    * signal to re-train pivots). One read of the staged home-cell
    * assignment ([[homeCellsDir]], the O(n·C) map-side rank against the
    * broadcast pivot table ivfIndex runs, built once per input dir), then
    * everything reduces to the 64-row occupancy histogram:
    * vector count, occupied/empty cells, min/max occupancy, occupancy
    * ENTROPY in integer micro-nats (q94's per-term rounding — ln(64)
    * would be the uniform ideal) and the balance ratio entropy/ln(64) in
    * ppm. All divisions positive and final.
    */
  val ivfCoverage: Q = (s, d) => {
    val home = graft.Scratch.read(s, homeCellsDir(s, d))
      .select(col("vec_id"), col("cell_id"))
    val occ = home.groupBy("cell_id").agg(count(lit(1)).as("c"))
    // the unpartitioned window runs over the 64-row histogram, never the
    // corpus — cell-bounded by construction
    occ.withColumn("n", sum("c").over(Window.partitionBy()))
      .agg(max("n").as("nv"), count(lit(1)).as("n_occupied"),
        max("c").as("max_cell"), min("c").as("min_cell"),
        sum(col("c") * expr(
          "CAST(round(ln(CAST(n AS DOUBLE) / c) * 1000000) AS BIGINT)"))
          .as("esum"))
      .select(col("nv").as("n_vectors"), lit(64L).as("n_cells"),
        (lit(64L) - col("n_occupied")).as("n_empty"),
        col("max_cell"), col("min_cell"),
        expr("esum div nv").as("entropy_micro"),
        expr(s"(esum div nv) * 1000000 div $ln64Micro").as("balance_ppm"))
  }

  /** q63 — symmetric int8 scalar quantization of the embedding column (the
    * standard vector-index compression: 4× smaller than float32, dot
    * products stay SIMD-able): per-vector scale = max|x|/127, qᵢ =
    * round(xᵢ/scale). Pure higher-order-function expressions — stateless
    * map-side projection, no shuffle, no UDF — with summary columns
    * (sum/min/max of the quantized ints, L1 reconstruction error) instead
    * of the raw int array so the compare is engine-exact. Math is forced
    * to double BEFORE any arithmetic (float32 division would round
    * differently per engine) and both engines round half-away-from-zero.
    */
  val embedQuantize: Q = (s, d) => {
    val v = transform(col("embedding"), x => x.cast("double"))
    Tables.embeddings(s, d)
      .withColumn("v", v)
      .withColumn("max_abs", array_max(transform(col("v"), x => abs(x))))
      .withColumn("scale", col("max_abs") / 127)
      .withColumn("q", transform(col("v"), x => round(x / col("scale")).cast("int")))
      // l1_err must be computed BEFORE the select that aliases
      // round(scale, 9) to the same name "scale": Spark's lateral column
      // alias resolution would otherwise bind col("scale") inside the
      // zip_with to the ROUNDED alias defined earlier in that select list,
      // shifting every error term by q·Δscale.
      .withColumn("l1_err",
        round(aggregate(zip_with(col("v"), col("q"),
          (x, qi) => abs(x - qi * col("scale"))), lit(0.0d), (acc, e) => acc + e), 6))
      .select(
        col("vec_id"),
        size(col("v")).as("n_dims"),
        round(col("scale"), 9).as("scale"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max"),
        col("l1_err"))
      .orderBy("vec_id")
  }

  /** Audit sample size — FIXED, not a corpus fraction: the brute side is
    * O(sampleN·n), linear in corpus size no matter how big n gets (a
    * `vec_id % 10` predicate would make it O(n²/10) — quadratic at scale).
    */
  private[graft] val recallSampleN = 500

  /** q72 — recall audit of the IVF index: a fixed-count deterministic
    * sample's IVF top-1 similarity compared against its brute-force top-1
    * (a hit = the index found a neighbor at least as similar, at 4 dp).
    * Index-quality evaluation is itself a pipeline operator: you re-run it
    * after every re-pivot/re-quantization. The sample is the first
    * [[recallSampleN]] vec_ids ranked by md5(vec_id) — a pseudo-random
    * pick both engines compute identically, selected by one linear
    * top-k scan (TakeOrderedAndProject) and broadcast everywhere it is
    * used. The whole audit (IVF side + brute side + hit comparison) is
    * deterministic SQL, so it carries a full DuckDB oracle like every
    * other query here.
    */
  val annRecall: Q = (s, d) => {
    val corpus = base(s, d)
    val (sampleIds, sample) = recallSample(corpus)
    // sample restriction threaded INTO the index below its ranking window
    // (see ivfIndex) — a semi-join on ivfAnn's output would rank the whole
    // corpus first
    val ivf = ivfIndex(corpus, headPivots(corpus), probes = 2,
        queryIds = Some(sampleIds))
      .select(col("vec_id").as("q_id"), col("sim").as("ivf_sim"))
    recallReport(corpus, sample, ivf, "ivf_sim")
  }

  /** The q72/q246 audit sample: the first [[recallSampleN]] vec_ids by
    * md5(vec_id) as `q_id`, and those vectors as (q_id, q_emb, q_sq). */
  private def recallSample(corpus: DataFrame): (DataFrame, DataFrame) = {
    val sampleIds = corpus
      .select(col("vec_id"), md5(col("vec_id").cast("string")).as("rk"))
      .orderBy(col("rk"), col("vec_id")).limit(recallSampleN)
      .select(col("vec_id").as("q_id"))
    (sampleIds, corpus.join(broadcast(sampleIds), col("vec_id") === col("q_id"))
      .select(col("q_id"), col("embedding").as("q_emb"), col("sq").as("q_sq")))
  }

  /** The q72/q246 recall row: `found` holds each sampled query's top-1
    * similarity at 4 dp in column `foundSim`; a hit is one at least as
    * similar as the query's brute-force top-1 over `corpus`. */
  private def recallReport(corpus: DataFrame, sample: DataFrame,
      found: DataFrame, foundSim: String): DataFrame = {
    val sim = cosineWithNorms(
      dotD(col("q_emb"), col("embedding")), col("q_sq"), col("sq"))
    val brute = corpus.join(broadcast(sample), col("vec_id") =!= col("q_id"))
      .groupBy("q_id").agg(max(round(sim, 9)).as("bsim9"))
    found.join(brute, "q_id")
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col(foundSim) >= round(col("bsim9"), 4), 1L).otherwise(0L))
          .as("n_hits"))
      .select(col("n_eval"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_eval"), 4).as("recall"))
  }

  /** q274 prefix ladder: the power-of-two truncations an MRL-trained
    * embedding exposes, plus the full width (whose recall must be
    * exactly 1.0 — an in-band self-check of the audit itself). */
  private[graft] val mrlDims = Seq(8, 16, 32, 64)

  /** q274 — MATRYOSHKA TRUNCATION AUDIT: MRL-style embeddings let a
    * serving tier keep only the first D′ of 64 dimensions (4–8× less
    * memory and bandwidth); this measures what that knob costs — for
    * each prefix width, the q72-style recall of prefix-ranked top-1
    * against full-width brute-force ground truth (a hit = the neighbor
    * the PREFIX chose is, at full width, at least as similar as the true
    * top-1 at 4 dp — q72's hit rule, so ties never depend on argmax id).
    * The decision table for the memory/recall trade, re-run after every
    * re-embed. Same fixed md5-ranked [[recallSampleN]] sample as
    * q72/q246 (audit cost is sample×corpus — constant per corpus scan).
    * Measured on the synthetic fixtures: 0.008/0.024/0.116/1.0 at
    * 8/16/32/64 dims (sf0.1) — random embeddings spread information
    * uniformly, so truncation is maximally destructive; an MRL-trained
    * model front-loads it, and THIS measurement is how you check yours
    * did.
    * ONE broadcast join computes all four prefix similarities per pair
    * (explode over the ladder), one WindowGroupLimit per (query, width)
    * picks winners, and the 64-wide leg doubles as the ground-truth
    * ranking. All ranking keys round to 9 dp first (the q31 ulp
    * discipline).
    */
  val matryoshkaAudit: Q = (s, d) => {
    val corpus = base(s, d).select(col("vec_id"), col("embedding"))
    val sampleIds = corpus
      .select(col("vec_id"), md5(col("vec_id").cast("string")).as("rk"))
      .orderBy(col("rk"), col("vec_id")).limit(recallSampleN)
      .select(col("vec_id").as("q_id"))
    val sample = corpus.join(broadcast(sampleIds), col("vec_id") === col("q_id"))
      .select(col("q_id"), col("embedding").as("q_emb"))
    def psim(dp: Int) = {
      val a = slice(col("q_emb"), 1, dp)
      val b = slice(col("embedding"), 1, dp)
      round(cosineWithNorms(dotD(a, b), sqNormD(a), sqNormD(b)), 9)
    }
    val joined = corpus.join(broadcast(sample), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), psim(64).as("fsim9"),
        explode(array(mrlDims.map(dp =>
          struct(lit(dp).as("dims"), psim(dp).as("psim9"))): _*)).as("x"))
      .select(col("q_id"), col("vec_id"), col("fsim9"),
        col("x.dims").as("dims"), col("x.psim9").as("psim9"))
    val w = Window.partitionBy("q_id", "dims")
      .orderBy(col("psim9").desc, col("vec_id"))
    val chosen = joined.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select("q_id", "dims", "fsim9")
    val brute = chosen.filter(col("dims") === 64)
      .select(col("q_id"), col("fsim9").as("bsim9"))
    chosen.join(brute, "q_id")
      .groupBy(col("dims").as("prefix_dims"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(round(col("fsim9"), 4) >= round(col("bsim9"), 4), 1L)
          .otherwise(0L)).as("n_hits"))
      .select(col("prefix_dims"), col("n_eval"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_eval"), 4).as("recall"))
      .orderBy("prefix_dims")
  }

  /** q246 beam-search knobs: E fixed entry floor (vec_id < E), beam
    * width B, H expansion hops. Entry is ROUTED: a query's initial
    * candidates are the corpus vectors sharing any of its 8 sign-LSH
    * (band, bucket) keys — expected 8·n/256 = n/32 per query, EXACTLY
    * q47's probes=2 budget (2·n/64) — plus the fixed floor for queries
    * whose buckets are empty; the hops then add a CONSTANT
    * H·B·(deg+1) ≈ 370 graph-walk scorings independent of corpus size.
    * So the q246-vs-q72 comparison is at equal bucket-probe budget, and
    * the walk overhead SHRINKS relatively as the corpus grows — the
    * graph-ANN value proposition, measured: recall 0.34 vs IVF's 0.20
    * at sf0.1 (0.43 vs 0.31 at sf0.01), with the entry-only beam at
    * ~0.19 — the descent, not the routing, finds most neighbors. */
  private[graft] val beamEntries = 8
  private[graft] val beamWidth = 16
  private[graft] val beamHops = 4

  /** q246 — GRAPH-ANN SEARCH over the staged mutual-kNN graph: the
    * HNSW/NSW-family serving shape — beam descent over neighbor links
    * from hash-routed entry points, industry-default for online ANN —
    * run as a recall audit against brute-force ground truth, exactly as
    * q72 audits IVF. Completes the ANN family: build (q189) → SEARCH
    * (this) → audit.
    *
    * Determinism is the design: entries are the query's own LSH-bucket
    * mates (the q36 blocking keys — no hierarchy, no randomness) plus a
    * fixed vec_id < [[beamEntries]] floor; each hop expands the CURRENT
    * beam's mutual neighbors, candidates dedup, and the next beam is
    * the top [[beamWidth]] by (sim9 desc, vec_id) — a fixed
    * [[beamHops]]-round recursion both engines replay identically (the
    * q106/q148 parity discipline; serving systems fix the hop budget
    * too — it IS the latency SLO). The query node itself is excluded
    * throughout (a held-out-query search, q31's convention).
    *
    * Scale shape: the routed-entry join is the q36 (band, bucket)
    * equi-join with the query side broadcast; each hop is ONE equi-join
    * against the staged edge list (node-keyed) + ONE shuffle-hash
    * embedding attach + ONE WindowGroupLimit rank — never corpus×corpus.
    * Output: q72's audit shape (n_eval / n_hits / recall at 4 dp), a
    * hit = the graph search found a neighbor at least as similar as
    * brute-force top-1; SimilaritySpec pins recall ≥ the IVF audit's.
    */
  val graphAnnRecall: Q = (s, d) => {
    val corpus = base(s, d)
    val (sampleIds, sample) = recallSample(corpus)
    val mutual = graft.Scratch.read(s, knnGraphDir(s, d))
    val ed = mutual.select(col("u"), col("v"))
      .unionByName(mutual.select(col("v").as("u"), col("u").as("v")))
    val qsim = cosineWithNorms(
      dotD(col("q_emb"), col("embedding")), col("q_sq"), col("sq"))
    // (q_id, node) → + sim9: corpus embeddings attach by node id
    // (shuffle-hash — the corpus side is index-scale), queries broadcast
    def score(cand: org.apache.spark.sql.DataFrame) = cand
      .join(corpus.withColumnRenamed("vec_id", "node").hint("shuffle_hash"),
        "node")
      .join(broadcast(sample), "q_id")
      .select(col("q_id"), col("node"), round(qsim, 9).as("sim9"))
    val w = Window.partitionBy("q_id").orderBy(col("sim9").desc, col("node"))
    val bandedC = bandRows(corpus)
    val qb = bandedC.join(broadcast(sampleIds), col("vec_id") === col("q_id"))
      .select(col("q_id"), col("band"), col("key"))
    val routed = bandedC.alias("cb").join(broadcast(qb).alias("qq"),
        col("cb.band") === col("qq.band") &&
          col("cb.key") === col("qq.key") &&
          col("cb.vec_id") =!= col("qq.q_id"))
      .select(col("qq.q_id").as("q_id"), col("cb.vec_id").as("node"))
    val floor = sampleIds.crossJoin(
        broadcast(corpus.filter(col("vec_id") < beamEntries)
          .select(col("vec_id").as("node"))))
      .filter(col("node") =!= col("q_id"))
    // Each hop references the previous beam TWICE (expand + carry-over),
    // so an unstaged recursion doubles the live subtree per hop — 2⁴
    // copies of the entry-scoring stage by hop 4 (only partially rescued
    // by exchange reuse; the window+rank above every copy re-executes).
    // Stage the ≤ recallSampleN·beamWidth-row beam per hop instead (the
    // q106/q250 loop lineage discipline): each hop is then one join +
    // one score + one rank over a parquet leaf, linear in hops.
    def topBeam(cand: DataFrame) = score(cand)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= beamWidth).select("q_id", "node", "sim9")
    val (beamDir, _) = graft.Scratch.iterate(s, "graft_annr_b",
        topBeam(routed.unionByName(floor).distinct()),
        graft.Scratch.Depth(beamHops)) { (_, beam) =>
      val nbrs = beam.join(ed, beam("node") === ed("u"))
        .select(col("q_id"), col("v").as("node"))
        .filter(col("node") =!= col("q_id"))
      topBeam(beam.select("q_id", "node").unionByName(nbrs).distinct())
    }
    val beam = graft.Scratch.read(s, beamDir)
    val top1 = beam.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("q_id"), round(col("sim9"), 4).as("graph_sim"))
    recallReport(corpus, sample, top1, "graph_sim")
  }

  private val projDims = 8
  private val srcDims = 64 // the fixture embedding dimensionality

  /** ±1 Johnson–Lindenstrauss sign matrix, derived from md5 parity of
    * "j:i" — a deterministic constant both the Spark plan and the DuckDB
    * oracle embed as literals, so neither engine hashes anything at run
    * time (the matrix is row-independent data, not per-row compute).
    */
  private[graft] val signMatrix: Seq[Seq[Int]] =
    (0 until projDims).map { j =>
      (0 until srcDims).map(i => graft.functions.Hashing.md5Sign(s"$j:$i"))
    }

  /** q95 — random-projection (JL) sketch: each embedding compressed
    * 64 → 8 dims by a fixed ±1 sign matrix. The standard cheap
    * dimensionality reduction before clustering / coarse ANN at corpus
    * scale — distances are preserved in expectation while the shuffle
    * payload shrinks 8×. Pure stateless projection: one zip_with product
    * + left-fold sum per output dim, codegen'd end to end, no shuffle at
    * all. Cross-engine exactness: both engines fold the products
    * left-to-right over the same literal signs in double precision, so
    * the sums are bit-identical before the 6 dp display rounding.
    */
  val randomProjection: Q = (s, d) => {
    val v = transform(col("embedding"), x => x.cast("double"))
    val outs = (0 until projDims).map { j =>
      val signs = array(signMatrix(j).map(s0 => lit(s0.toDouble)): _*)
      round(aggregate(zip_with(v, signs, (x, sg) => x * sg),
        lit(0.0d), (acc, e) => acc + e), 6).as(s"r$j")
    }
    Tables.embeddings(s, d)
      .select(col("vec_id") +: outs: _*)
      .orderBy("vec_id")
  }

  private val pqSubvecs = 8  // 64 dims → 8 subvectors of 8 dims
  private val pqCodebook = 16 // centroids per subvector

  /** q96 — product-quantization (PQ) encoding: each embedding split into
    * 8 subvectors, each subvector assigned to its nearest of 16 per-slot
    * centroids — the codebook compression under IVF-PQ indexes (8 bytes
    * per vector instead of 256). Centroids here are the first 16 corpus
    * vectors' subvectors (deterministic, so the whole encoding is
    * DuckDB-reproducible; production swaps in k-means codebooks via the
    * same join, exactly like ivfIndex's pivot swap). Plan shape: one
    * broadcast of the 128-row codebook, one equi-join on the subvector
    * slot, one per-(vector, slot) top-1 window with WindowGroupLimit
    * pushdown — linear in corpus size, no shuffle of the embeddings.
    * Distances fold left-to-right in double in both engines (q95's
    * discipline), ranked at 9 dp with the centroid id as tiebreak.
    */
  val pqCodes: Q = (s, d) => {
    val v = transform(col("embedding"), x => x.cast("double"))
    val subs = (0 until pqSubvecs).map { sv =>
      struct(lit(sv).as("s"), slice(v, sv * (srcDims / pqSubvecs) + 1,
        srcDims / pqSubvecs).as("sv"))
    }
    val sub = Tables.embeddings(s, d)
      .select(col("vec_id"), explode(array(subs: _*)).as("ss"))
      .select(col("vec_id"), col("ss.s").as("s"), col("ss.sv").as("sv"))
    val cents = sub.filter(col("vec_id") < pqCodebook)
      .select(col("vec_id").as("c_id"), col("s"), col("sv").as("cv"))
    val d9 = round(aggregate(
      zip_with(col("sv"), col("cv"), (x, y) => (x - y) * (x - y)),
      lit(0.0d), (acc, e) => acc + e), 9)
    val w = Window.partitionBy("vec_id", "s").orderBy(col("d9"), col("c_id"))
    sub.join(broadcast(cents), "s")
      .withColumn("d9", d9)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("s").cast("int").as("subv"),
        col("c_id").cast("int").as("code"), round(col("d9"), 6).as("err"))
      .orderBy("vec_id", "subv")
  }

  private val semanticTau = 0.4

  /** q101 — semantic (embedding-space) dedup: the cluster-then-compare
    * discipline SemDeDup-style pipelines run at corpus scale. Every vector
    * is assigned to its nearest coarse cell (the same deterministic
    * 64-pivot assignment as q47 — at scale, k-means centroids swap in via
    * [[ivfIndex]]'s pivot-agnostic contract), pairs are compared only
    * WITHIN a cell (equi-join on cell_id — Σ|cell|² work, never n²), and a
    * vector is dropped when a smaller-id cell-mate sits above the cosine
    * threshold. Greedy min-id semantics: the surviving representative is
    * the smallest id among a vector's above-threshold cell-mates (q59's
    * connected components is the transitive alternative when chains
    * matter). Verdict-per-row output, like q37: downstream mix building
    * filters on `kept`.
    */
  val semanticDedup: Q = (s, d) => {
    val assigned = graft.Scratch.read(s, homeCellsDir(s, d))
    val l = assigned.alias("l")
    val r = assigned.alias("r")
    val sim = cosineWithNorms(
      dotD(col("l.embedding"), col("r.embedding")), col("l.sq"), col("r.sq"))
    // ONE left-outer pair join carries the whole verdict: the threshold
    // sits in the join condition so unmatched vectors survive as kept
    // rows. Both sides read the staged home-cell assignment
    // ([[homeCellsDir]]), so the O(n·C) broadcast cross runs once per
    // input dir, not once per side. Hash-probe, not sort-merge: same
    // lesson as q36's verify joins.
    r.join(l.hint("shuffle_hash"),
        col("l.cell_id") === col("r.cell_id") &&
          col("l.vec_id") < col("r.vec_id") &&
          round(sim, 9) >= semanticTau,
        "left")
      .groupBy(col("r.vec_id").as("vec_id"), col("r.cell_id").as("cell_id"))
      .agg(min(col("l.vec_id")).as("rep_id"))
      .select(col("vec_id"), col("cell_id").cast("int").as("cell_id"),
        col("rep_id").isNull.as("kept"),
        coalesce(col("rep_id"), col("vec_id")).as("rep_id"))
      .orderBy("vec_id")
  }

  /** Delta-batch membership for the incremental embedding dedup — the
    * q114 convention (every 10th id plays the incoming batch) lifted to
    * the vector table. */
  private def isDeltaVec = col("vec_id") % 10 === 7

  /** Corpus-side IVF index for q235 — pivots + HOME-cell assignments of
    * the NON-delta vectors, memoized per input dir (the q114 corpusIndex
    * shape on the embedding side): the index is
    * built when the corpus is ingested; each delta batch only PROBES it.
    * Pivots are the corpus vectors with vec_id < 64 (deterministic,
    * DuckDB-reproducible — k-means centroids swap in via ivfIndex's
    * pivot-agnostic contract at scale).
    */
  private val embIndexCache = new graft.Scratch.PerDir[(String, String)]

  private def embCorpusIndex(s: org.apache.spark.sql.SparkSession, d: String) = {
    val (pivDir, homeDir) = embIndexCache(d) {
      val corpus = base(s, d).filter(!isDeltaVec)
      val pp = graft.Scratch.write("graft_ivf_pivots", headPivots(corpus))
      (pp, graft.Scratch.write("graft_ivf_cells",
        homeCells(corpus, graft.Scratch.read(s, pp))))
    }
    (graft.Scratch.read(s, pivDir), graft.Scratch.read(s, homeDir))
  }

  /** q235's core, probe-width-parametrized so SimilaritySpec can pin the
    * exactness law: with probes ≥ the pivot count every (delta, corpus)
    * pair shares a probed cell, so the verdicts must equal the brute-force
    * delta×corpus threshold scan — the cell blocking loses only what the
    * probe budget says it may.
    */
  private[graft] def deltaSemanticVerdicts(s: org.apache.spark.sql.SparkSession,
      d: String, probes: Int): org.apache.spark.sql.DataFrame = {
    val (pivots, home) = embCorpusIndex(s, d)
    semanticProbeVerdicts(base(s, d).filter(isDeltaVec), pivots, home, probes)
  }

  /** The probe core over ANY (vec_id, embedding, sq) batch — q235 feeds
    * the static delta slice, q249 feeds each streaming micro-batch: ONE
    * shared body is what makes batch/stream parity structural rather
    * than asserted. */
  private def semanticProbeVerdicts(batch: org.apache.spark.sql.DataFrame,
      pivots: org.apache.spark.sql.DataFrame,
      home: org.apache.spark.sql.DataFrame,
      probes: Int): org.apache.spark.sql.DataFrame = {
    val probed = cellRanks(batch, pivots, probes)
    val l = probed.alias("l")
    val r = home.alias("r")
    val sim = cosineWithNorms(
      dotD(col("l.embedding"), col("r.embedding")), col("l.sq"), col("r.sq"))
    // corpus side is home-cell-only, so a (delta, corpus) pair can match
    // in exactly ONE cell (the corpus vector's home) — counts need no
    // dedup across probes. shuffle_hash: the staged index is corpus-scale.
    val matches = l.join(r.hint("shuffle_hash"),
        col("l.cell_id") === col("r.cell_id") && round(sim, 9) >= semanticTau)
      .groupBy(col("l.vec_id").as("vec_id"))
      .agg(count(lit(1)).as("n_dup"), min(col("r.vec_id")).as("dup_of"))
    probed.filter(col("arn") === 1).select(col("vec_id"), col("cell_id"))
      .join(matches, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell_id").cast("int").as("cell_id"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        (coalesce(col("n_dup"), lit(0L)) === 0).as("is_new"))
      .orderBy("vec_id")
  }

  /** q235 — INCREMENTAL semantic dedup: q114's delta-vs-corpus shape
    * lifted to q101's SemDeDup. q101 re-assigns and re-compares the whole
    * corpus every run; the production shape at 100 TB stages the IVF
    * index ONCE (centroids + home-cell assignments, the artifact kept
    * between ingest runs) and each incoming batch assigns only its own
    * vectors, probes its top-2 home cells, and emits per-vector verdicts —
    * O(batch + collisions), never O(corpus). Verdict per delta vector:
    * home cell, verified above-threshold corpus mates, the least matching
    * corpus id (`dup_of`, −1 when none — "drop the incoming copy, keep
    * the ingested one"), and the is_new admission bit.
    */
  val deltaSemDedup: Q = (s, d) => deltaSemanticVerdicts(s, d, probes = 2)

  /** q254 — SEMANTIC DECONTAMINATION: q74/q240 flag train docs whose
    * n-grams/fingerprints collide with a benchmark; this flags train
    * vectors whose EMBEDDINGS sit above the similarity threshold of any
    * eval/benchmark vector — the paraphrase-leakage check the lexical
    * decontaminators structurally miss (a reworded eval question shares
    * no 8-gram but sits in the same embedding cell). Direction is the
    * REVERSE of q235: the verdicts land on the CORPUS side (train docs
    * to drop before training), not the incoming batch.
    *
    * Mechanics: the held-out slice plays the benchmark; queries assign
    * against the broadcast STAGED pivots and probe their top-2 cells
    * into the STAGED home-cell index ([[embCorpusIndex]] — the same
    * artifact q235/q249 probe, built once per session), and matches
    * aggregate BY TRAIN VECTOR (count of eval hits, least hitting eval
    * id). Cost is O(eval · probes + collisions), never train × eval —
    * the only decontamination shape that survives a 100 TB train corpus
    * against a growing benchmark suite. A train vector's home cell is
    * unique, so a (train, eval) pair can match in exactly ONE cell —
    * counts need no cross-probe dedup (the q235 argument, reversed).
    * Output: the per-cell compliance report — train mass, contaminated
    * count, contaminated id checksum, total eval hits — O(cells) rows,
    * the summary a data-governance review reads before a training run.
    */
  val semanticDecontam: Q = (s, d) => {
    val (pivots, home) = embCorpusIndex(s, d)
    val probed = cellRanks(base(s, d).filter(isDeltaVec), pivots, 2)
      .select(col("vec_id"), col("embedding"), col("sq"), col("cell_id"))
    val l = probed.alias("l")
    val r = home.alias("r")
    val sim = cosineWithNorms(
      dotD(col("l.embedding"), col("r.embedding")), col("l.sq"), col("r.sq"))
    val flagged = l.join(r.hint("shuffle_hash"),
        col("l.cell_id") === col("r.cell_id") && round(sim, 9) >= semanticTau)
      .groupBy(col("r.vec_id").as("train_id"), col("r.cell_id").as("cell_id"))
      .agg(count(lit(1)).as("n_eval_hits"))
    home.select(col("vec_id").as("train_id"), col("cell_id"))
      .join(flagged.select(col("train_id"), col("n_eval_hits")),
        Seq("train_id"), "left")
      .groupBy(col("cell_id").cast("int").as("cell_id"))
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("n_eval_hits").isNotNull, 1L).otherwise(0L))
          .as("n_contaminated"),
        coalesce(sum(when(col("n_eval_hits").isNotNull, col("train_id"))),
          lit(0L)).as("contaminated_checksum"),
        coalesce(sum(col("n_eval_hits")), lit(0L)).as("n_eval_hits_total"))
      .orderBy("cell_id")
  }

  /** q249 — STREAMING semantic dedup: q244's ingest-time gate lifted to
    * the EMBEDDING side — q235's delta-vs-staged-IVF probe run as a
    * Structured Streaming job. Vectors arrive as a stream (file source;
    * Kafka at scale); every micro-batch computes its own norms, assigns
    * its own vectors against the broadcast staged pivots, probes its
    * top-2 cells against the staged home-cell index, and writes
    * per-vector verdicts through foreachBatch to batch-id-keyed
    * OVERWRITE paths (q244's idempotent-replay discipline). Zero
    * streaming state: a vector's verdict depends only on (vector,
    * staged index), never on other delta vectors — so the result is
    * micro-batch-boundary-independent, the per-batch body IS q235's
    * probe core ([[semanticProbeVerdicts]] — one shared function, so
    * batch/stream parity is structural), and the query shares q235's
    * DuckDB oracle verbatim: parity with the batch twin IS the check
    * (the q39/q162/q244 streaming-family discipline).
    */
  val streamSemDedup: Q = (s, d) => {
    val (pivots, home) = embCorpusIndex(s, d)
    val schema = Tables.embeddings(s, d).schema
    val delta = s.readStream.schema(schema).parquet(s"$d/embeddings.*")
      .filter(isDeltaVec)
    graft.streaming.StreamingJobs.sinkBatches(
        graft.Scratch.dir("graft_stream_semdedup"), delta) { batch =>
      semanticProbeVerdicts(batch.select(col("vec_id"), col("embedding"),
        sqNormD(col("embedding")).as("sq")), pivots, home, probes = 2)
    }._1.orderBy("vec_id")
  }

  /** q241 — IVF CENTROID DRIFT audit: does the delta batch still look
    * like the index? q235 keeps the staged pivots fixed between ingest
    * runs — correct until the incoming distribution moves, at which
    * point probes degrade silently (q215 gauges occupancy HEALTH; this
    * gauges DIRECTION). Per cell: the exact corpus centroid (q153's
    * integer-ppm discipline — one posexplode to (cell, dim) frames, sums
    * then one rounded division) against the delta batch's centroid in
    * the same cell, reduced to an L1 shift in ppm, plus the occupancy
    * growth ratio. Cells seen by only one side carry NULL shift — a
    * brand-new hot cell IS the drift signal. Output ≤ |cells| rows; the
    * corpus side reads the staged home-cell leaf, the delta side pays
    * one batch-sized assignment — the q235 cost model, unchanged.
    */
  val ivfDrift: Q = (s, d) => {
    val (pivots, home) = embCorpusIndex(s, d)
    val deltaHome = cellRanks(base(s, d).filter(isDeltaVec), pivots, 1)
      .select(col("vec_id"), col("embedding"), col("cell_id"))
    def cellStats(df: org.apache.spark.sql.DataFrame) = df
      .select(col("cell_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("cell_id"), col("dim"),
        expr("CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)").as("q"))
      .groupBy("cell_id", "dim")
      .agg(count(lit(1)).as("n"), sum("q").as("sq"))
      .select(col("cell_id"), col("dim"), col("n"),
        expr("CAST(round(CAST(sq AS DOUBLE) / n) AS BIGINT)").as("c_ppm"))
    val cs = cellStats(home.select("cell_id", "embedding"))
      .select(col("cell_id"), col("dim"), col("n").as("n_c"),
        col("c_ppm").as("ccp"))
    val ds = cellStats(deltaHome.select("cell_id", "embedding"))
      .select(col("cell_id"), col("dim"), col("n").as("n_d"),
        col("c_ppm").as("dcp"))
    cs.join(ds, Seq("cell_id", "dim"), "full_outer")
      .groupBy("cell_id")
      .agg(max("n_c").as("mnc"), max("n_d").as("mnd"),
        sum(abs(col("ccp") - col("dcp"))).as("l1"))
      .select(col("cell_id").cast("int").as("cell_id"),
        coalesce(col("mnc"), lit(0L)).as("n_corpus"),
        coalesce(col("mnd"), lit(0L)).as("n_delta"),
        expr("""CASE WHEN mnc IS NULL OR mnd IS NULL THEN NULL
          | ELSE l1 END""".stripMargin.replace("\n", " "))
          .as("shift_l1_ppm"),
        expr("""CASE WHEN mnc IS NULL OR mnc = 0 THEN NULL
          | ELSE coalesce(mnd, 0) * 1000000 div mnc END"""
          .stripMargin.replace("\n", " ")).as("growth_ppm"))
      .orderBy("cell_id")
  }

  /** q243 — TRANSITIVE semantic CLUSTERS: connected components over the
    * q101 edge set (in-cell cosine ≥ τ pairs) — the embedding-space
    * analogue of q59, and the family's last missing stage: q101's greedy
    * min-id verdict is not cluster-stable when A~B~C but A≁C (the
    * "cluster then keep one" decision needs the closure, exactly the
    * q37-vs-q59 distinction on the text side). Edges come from the SAME
    * cell-blocked pair join q101 runs (Σ|cell|², never n²); the closure
    * is the generalized min-label loop the text family shares
    * (Dedup.ccMinLabels — a Scratch.iterate state loop over the staged
    * edge list, every round a parquet leaf). Output one
    * row per vector: cluster id (= component minimum), size, canonical
    * bit. The oracle recomputes the fixpoint by recursive reachability —
    * the strongest cross-check for an iterative loop.
    */
  val semanticClusters: Q = (s, d) => {
    val corpus = base(s, d)
    val assigned = graft.Scratch.read(s, homeCellsDir(s, d))
    val l = assigned.alias("l")
    val r = assigned.alias("r")
    val sim = cosineWithNorms(
      dotD(col("l.embedding"), col("r.embedding")), col("l.sq"), col("r.sq"))
    val edges = l.join(r.hint("shuffle_hash"),
        col("l.cell_id") === col("r.cell_id") &&
          col("l.vec_id") < col("r.vec_id") && round(sim, 9) >= semanticTau)
      .select(col("l.vec_id").as("d1"), col("r.vec_id").as("d2"))
    // the loop stages the edges once before its first round, so every
    // round scans a parquet leaf, not the assignment/window subtree
    val nodes = corpus.select(col("vec_id").as("doc_id"))
    val labels = graft.Scratch.read(s, Dedup.ccMinLabels(s, nodes, edges))
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("doc_id").as("vec_id"), col("label").as("cluster_id"),
        col("cluster_size"), (col("doc_id") === col("label")).as("is_canonical"))
      .orderBy("vec_id")
  }

  /** q153 — exact per-label centroids + inertia over the embedding
    * column: the cluster-quality summary (k-means' E-step cost under the
    * LABEL assignment) computed exactly, no iterative fit. The shape a
    * training pipeline runs to audit class balance and embedding drift
    * per data source.
    *
    * Plan: one posexplode fan-out to (label, dim) cells — map-side
    * combine collapses 100 TB of vectors to labels×dims partial sums
    * before the one shuffle — then a broadcast of the labels×dims
    * centroid table back onto the exploded stream for the inertia
    * aggregate (label-keyed, same combine discipline). Nothing holds a
    * per-vector state; both aggregates are associative integer sums.
    *
    * Determinism: micro-integerization end to end (q94's pattern lifted
    * to vectors) — each float widens exactly to double, rounds once to
    * integer ppm, and every cross-row reduction after that is an exact
    * integer sum; the only doubles are the per-cell mean (one divide +
    * half-away round, identical in both engines) and nothing else.
    * Squared residuals stay in BIGINT: |q| ≤ ~2^21 ppm, dims=64, so the
    * per-label sum is bounded far under 2^63.
    */
  val labelCentroids: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("label"), col("dim"),
        expr("CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)").as("q"))
    val cent = e.groupBy("label", "dim")
      .agg(count(lit(1)).as("n_vecs"), sum("q").as("sq"))
      .select(col("label"), col("dim"), col("n_vecs"),
        expr("CAST(round(CAST(sq AS DOUBLE) / n_vecs) AS BIGINT)")
          .as("centroid_ppm"))
    val inertia = e
      .join(broadcast(cent.select("label", "dim", "centroid_ppm")),
        Seq("label", "dim"))
      .groupBy("label")
      .agg(sum(expr("(q - centroid_ppm) * (q - centroid_ppm)"))
        .as("inertia_pp12"))
    cent.join(inertia, "label")
      .select(col("label"), col("dim"), col("n_vecs"),
        col("centroid_ppm"), col("inertia_pp12"))
      .orderBy("label", "dim")
  }

  /** q263 selection budget: 8 centers — the classic "pick k diverse
    * exemplars" coreset size; the round count, not the corpus, bounds
    * every driver sync below. */
  private[graft] val kcenterK = 8

  /** q263 — GREEDY k-CENTER CORESET (farthest-first traversal,
    * Gonzalez): select k maximally-diverse exemplar embeddings — the
    * diversity-aware subset selection a training pipeline runs to pick
    * representative documents for eval sets, annotation budgets, or
    * seed corpora (2-approximation of the optimal k-center cover).
    * Deterministic start (max squared norm, min vec_id tiebreak), then
    * k−1 rounds of "pick the point farthest from everything chosen".
    *
    * Spark-first mechanics: embeddings micro-integerize ONCE (q153's ppm
    * pattern — dist² is then an exact BIGINT `zip_with`+`aggregate`, no
    * float summation order anywhere) and stage to parquet; the running
    * min-dist table (vec_id, d) RE-STAGES each round — so every round is
    * one vec_id-keyed equi-join of the two staged narrow tables + one
    * `least(d, dist²-to-new-center)` projection against a center LITERAL
    * baked into the expression (64 longs — the center travels in the
    * plan, not a shuffle), plus one 1-row argmax collect (q247's
    * bounded-sync discipline: k=8 rounds, never corpus-sized). Total
    * cost: O(k) scans of an (id, 64-int) table —
    * at 100 TB the table is the embedding column, each scan
    * embarrassingly parallel, and the O(n·k) arithmetic all map-side.
    * Output: the k centers in selection order with the selection-time
    * radius² (monotone non-increasing — the in-band certificate), plus
    * a final row with the covering radius² after all k (the k-center
    * objective value).
    */
  /** One k-center round's min-dist relaxation: a vec_id-keyed equi-join
    * of the two staged narrow tables, the new center a 64-long literal
    * inside the projection. PlanSpec pins this shape (equi-join only,
    * never a nested-loop) — the one plan that runs k−1 times per build. */
  private[graft] def kcenterRoundUpdate(vecs: DataFrame, mind: DataFrame,
      center: Seq[Long]): DataFrame =
    vecs.join(mind, "vec_id")
      .select(col("vec_id"),
        least(col("d"), kcenterDistExpr(center)).as("d"))

  /** Exact integer squared distance from `qv` to a literal center. */
  private def kcenterDistExpr(c: Seq[Long]) =
    expr(s"aggregate(zip_with(qv, array(${c.mkString("L,")}L), (x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), (acc, v) -> acc + v)")

  /** q263/q272 shared artifacts — (staged micro-integerized vector dir,
    * the k chosen centers in selection order with selection-time radius²,
    * the final min-dist dir, the covering radius²) — memoized per input
    * dir: the selection readout
    * (q263) and the coverage audit (q272) consume the same traversal. */
  private val kcenterCache =
    new graft.Scratch.PerDir[(String, Vector[(Long, Seq[Long], Long)], String, Long)]

  private[graft] def kcenterArtifacts(s: org.apache.spark.sql.SparkSession,
      d: String): (String, Vector[(Long, Seq[Long], Long)], String, Long) =
    kcenterCache(d) {
      val tmp = graft.Scratch.write("graft_kcenter_vecs", Tables.embeddings(s, d)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
            .as("qv")))
      val vecs = graft.Scratch.read(s, tmp)
      val seed = vecs
        .select(col("vec_id"), col("qv"),
          expr("aggregate(qv, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)").as("sq"))
        .orderBy(col("sq").desc, col("vec_id")).limit(1)
        .select("vec_id", "qv").collect()(0)
      var chosen = Vector((seed.getLong(0), seed.getSeq[Long](1), -1L))
      val (mindDir, _) = graft.Scratch.iterate(s, "graft_kcenter_d",
          vecs.select(col("vec_id"), kcenterDistExpr(chosen.head._2).as("d")),
          graft.Scratch.Depth(kcenterK - 1)) { (r, mind) =>
        val pick = mind
          .filter(!col("vec_id").isin(chosen.map(_._1): _*))
          .orderBy(col("d").desc, col("vec_id")).limit(1)
          .join(vecs, "vec_id").select("vec_id", "d", "qv").collect()
        require(pick.nonEmpty, s"k-center round $r: corpus exhausted below k=$kcenterK")
        chosen = chosen :+ ((pick(0).getLong(0), pick(0).getSeq[Long](2), pick(0).getLong(1)))
        kcenterRoundUpdate(vecs, mind, chosen.last._2)
      }
      val covering = graft.Scratch.read(s, mindDir).agg(max("d"))
        .collect()(0).getLong(0)
      (tmp, chosen, mindDir, covering)
    }

  val kcenterCoreset: Q = (s, d) => {
    import s.implicits._
    val (_, chosen, _, covering) = kcenterArtifacts(s, d)
    (chosen.zipWithIndex.map { case ((id, _, rad), i) => (i.toLong, id, rad) } :+
      ((kcenterK.toLong, -1L, covering)))
      .toDF("sel_round", "vec_id", "radius2")
      .orderBy("sel_round")
  }

  /** q272 — CORESET COVERAGE AUDIT: the measurement that justifies (or
    * rejects) q263's selection — against the naive "first k by id"
    * baseline every pipeline implicitly uses when it doesn't select,
    * compare the two k-point summaries on the k-center objective
    * (covering radius² — worst-case representation error) and on mean
    * min-dist² (average representation error). The audit twin pattern
    * (q72/q204/q215): a selection operator ships with the measurement
    * that would catch it regressing. Reuses [[kcenterArtifacts]]' staged
    * traversal; both methods' centers ride ONE broadcast 2k-row table
    * into a single corpus scan (min over centers per vector, then a
    * 2-row aggregate) — O(n·2k) map-side arithmetic, no shuffle beyond
    * the method aggregate. Mean is summed over per-row d div 1000
    * (BIGINT headroom to ~10¹⁶ vectors; the DECIMAL swap is documented
    * at the sum). The kcenter row's covering radius must equal q263's
    * in-band covering row — a cross-operator identity the spec pins.
    */
  val kcenterCoverage: Q = (s, d) => {
    import s.implicits._
    val (vecsDir, chosen, _, _) = kcenterArtifacts(s, d)
    val vecs = graft.Scratch.read(s, vecsDir)
    val firstK = vecs.orderBy("vec_id").limit(kcenterK)
      .select(col("vec_id"), col("qv")).collect() // k rows, bounded
    val centers = (chosen.map(c => ("kcenter", c._2)) ++
      firstK.map(r => ("first_k", r.getSeq[Long](1))).toVector)
      .toDF("method", "cqv")
    val md = vecs.crossJoin(broadcast(centers))
      .select(col("method"), col("vec_id"), expr(
        """aggregate(zip_with(qv, cqv, (x, y) -> (x - y) * (x - y)),
          |  CAST(0 AS BIGINT), (acc, v) -> acc + v)""".stripMargin).as("dd"))
      .groupBy("method", "vec_id").agg(min("dd").as("d"))
    md.groupBy("method").agg(count(lit(1)).as("n_vectors"),
        max("d").as("covering_radius2"),
        sum(expr("d div 1000")).as("sk"))
      .select(col("method"), col("n_vectors"), col("covering_radius2"),
        expr("sk div n_vectors").as("mean_dist2_kilo"))
      .orderBy("method")
  }

  /** q286 geometry: 16 md5-ranked anchors; the hard negative is the
    * same-cell rank-[[tripletHardRank]] candidate — deep enough to be
    * "not the positive", close enough to carry gradient (the
    * in-batch-hard-negative depth a contrastive trainer dials). */
  private[graft] val tripletAnchors = 16
  private[graft] val tripletHardRank = 5

  /** q286 — HARD-NEGATIVE TRIPLET MINING: the training-data generator for
    * contrastive embedding fine-tuning (SimCLR/DPR-style) — per anchor,
    * a POSITIVE (its nearest same-cell neighbor: the near-duplicate /
    * same-topic proxy), a HARD negative (the same-cell
    * rank-[[tripletHardRank]] candidate — semantically close but
    * provably not the nearest, where the gradient signal lives), and an
    * EASY negative (an md5-argmin pick from OUTSIDE the anchor's cell —
    * the random-negative baseline every triplet loss also needs).
    * Composes the staged q47 machinery: anchors are md5-ranked (the
    * q257/q259 pick), candidates ride the IVF home-cell equi-join,
    * ranks are one WindowGroupLimit per anchor, and the easy negative is
    * one md5-argmin pass of the broadcast anchor set against the
    * complement cells — never corpus². Sims carry the q47 round-4
    * discipline. Output: one row per anchor with the triplet ids, sims,
    * and the pos−hard margin in ppm — the mining manifest a trainer
    * consumes; rank ordering makes margin ≥ 0 BY CONSTRUCTION, which the
    * spec pins along with cell membership of each leg.
    */
  /** The q47 home-cell assignment STAGED to a parquet leaf (vec_id,
    * embedding, sq, cell_id) — q286 reads it three times (anchors,
    * same-cell candidates, complement), q287, q101 and q243 twice (both
    * sides of a pair join) and q215 once; without staging each consumer
    * re-runs the O(n·64) broadcast assignment cross (observed: 6
    * redundant nested-loop subtrees in q286's plan). Memoized per input
    * dir ([[graft.Scratch.PerDir]]) so all five genuinely read the SAME
    * leaf — one assignment cross per run, not one per consumer query. */
  private val homeCellsCache = new graft.Scratch.PerDir[String]

  private def homeCellsDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    homeCellsCache(d) {
      val corpus = base(s, d)
      graft.Scratch.write("graft_home_cells", homeCells(corpus, headPivots(corpus)))
    }

  val tripletMining: Q = (s, d) => {
    val assigned = graft.Scratch.read(s, homeCellsDir(s, d))
    val anchors = assigned
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(tripletAnchors)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        col("sq").as("a_sq"), col("cell_id").as("a_cell"))
    val sim = cosineWithNorms(
      dotD(col("a_emb"), col("embedding")), col("a_sq"), col("sq"))
    // same-cell candidates: positive = rank 1, hard = rank tripletHardRank
    val wRank = Window.partitionBy("a_id")
      .orderBy(col("sim9").desc, col("vec_id"))
    val ranked = assigned.join(broadcast(anchors),
        col("cell_id") === col("a_cell") && col("vec_id") =!= col("a_id"))
      .withColumn("sim9", round(sim, 9))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") === 1 || col("rn") === tripletHardRank)
    val pos = ranked.filter(col("rn") === 1)
      .select(col("a_id"), col("vec_id").as("pos_id"),
        round(col("sim9"), 4).as("pos_sim"))
    val hard = ranked.filter(col("rn") === tripletHardRank)
      .select(col("a_id"), col("vec_id").as("hard_id"),
        round(col("sim9"), 4).as("hard_sim"))
    // easy negative: md5-argmin over the complement cells — one pass of
    // corpus × broadcast anchors, the derandomized-uniform draw
    val wEasy = Window.partitionBy("a_id").orderBy(col("pick"), col("vec_id"))
    val easy = assigned.join(broadcast(anchors),
        col("cell_id") =!= col("a_cell"))
      .withColumn("pick", md5(concat_ws(":",
        col("a_id").cast("string"), col("vec_id").cast("string"))))
      .withColumn("en", row_number().over(wEasy))
      .filter(col("en") === 1)
      .withColumn("sim9", round(sim, 9))
      .select(col("a_id"), col("vec_id").as("easy_id"),
        round(col("sim9"), 4).as("easy_sim"))
    pos.join(hard, Seq("a_id"), "left")
      .join(easy, Seq("a_id"), "left")
      .select(col("a_id"), col("pos_id"), col("pos_sim"),
        coalesce(col("hard_id"), lit(-1L)).as("hard_id"),
        coalesce(col("hard_sim"), lit(-2.0)).as("hard_sim"),
        coalesce(col("easy_id"), lit(-1L)).as("easy_id"),
        coalesce(col("easy_sim"), lit(-2.0)).as("easy_sim"),
        // sims are exact 1e-4 multiples, so the difference×1e6 is within
        // float noise of an integer — round() before the cast, or the
        // truncation eats an ulp and the engines diverge
        when(col("hard_id").isNull, lit(-1L))
          .otherwise(round((col("pos_sim") - col("hard_sim")) * 1000000)
            .cast("long")).as("margin_ppm"))
      .orderBy("a_id")
  }

  /** q287 sample size: 32 md5-ranked points — silhouette cost is
    * samples × corpus, the classic sampled-silhouette dial. */
  private[graft] val silhouetteSamples = 32

  /** q287 — SAMPLED SILHOUETTE of the IVF clustering: the clustering-
    * QUALITY gate next to q215's coverage and q241's drift — per sampled
    * point, a = mean intra-cell distance, b = the best other cell's mean
    * distance, s = (b−a)/max(a,b); s ≤ 0 flags points the partitioning
    * placed badly (probe-recall risk), and the production loop re-pivots
    * when the sampled mean sags. Exactness: distances are mean SQUARED
    * Euclidean over the q263 micro-quantized integer vectors (the
    * sqeuclidean silhouette variant, stated openly — a sqrt would leave
    * integer arithmetic and the hash gate), so every mean is one BIGINT
    * `div` and s is exact ppm, negative values included. Cells are
    * q47's own home-cell assignment — the audit measures the index the
    * serving path actually probes.
    *
    * Plan: ONE pass of corpus × 32 broadcast samples (zip_with/aggregate
    * native exprs — exact integer per pair), one (sample, cell) hash
    * aggregate, then per-sample argmin over ≤64 cell rows via
    * WindowGroupLimit. Singleton own-cells (nothing but the point
    * itself) report the sklearn convention s = 0 with a = −1 sentinel.
    */
  val silhouetteSampled: Q = (s, d) => {
    val (qvDir, _, _, _) = kcenterArtifacts(s, d)
    val qv = graft.Scratch.read(s, qvDir)
    val cells = graft.Scratch.read(s, homeCellsDir(s, d))
      .select(col("vec_id"), col("cell_id"))
    val pts = qv.join(cells, "vec_id")
    val samples = pts
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(silhouetteSamples)
      .select(col("vec_id").as("s_id"), col("qv").as("s_qv"),
        col("cell_id").as("s_cell"))
    val d2 = expr("""aggregate(zip_with(s_qv, qv, (x, y) -> (x - y) * (x - y)),
      CAST(0 AS BIGINT), (acc, v) -> acc + v)""")
    val perCell = pts.crossJoin(broadcast(samples))
      .filter(col("vec_id") =!= col("s_id"))
      .select(col("s_id"), col("s_cell"), col("cell_id"), d2.as("d2"))
      .groupBy("s_id", "s_cell", "cell_id")
      // DECIMAL-safe: Σd2 per group is bounded by cell size × 2.6e14 —
      // inside BIGINT at fixture scales, but the decimal pass costs
      // nothing and removes the ceiling (DuckDB sums to HUGEINT anyway)
      .agg(expr("CAST(sum(CAST(d2 AS DECIMAL(38,0))) div count(1) AS BIGINT)")
        .as("msd"))
    val own = perCell.filter(col("cell_id") === col("s_cell"))
      .select(col("s_id"), col("msd").as("a_msd"))
    val wBest = Window.partitionBy("s_id").orderBy(col("msd"), col("cell_id"))
    val other = perCell.filter(col("cell_id") =!= col("s_cell"))
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("s_id"), col("cell_id").as("best_other_cell"),
        col("msd").as("b_msd"))
    samples.select(col("s_id"), col("s_cell"))
      .join(own, Seq("s_id"), "left")
      .join(other, Seq("s_id"), "left")
      .select(col("s_id").as("vec_id"),
        col("s_cell").cast("int").as("own_cell"),
        coalesce(col("a_msd"), lit(-1L)).as("a_msd"),
        coalesce(col("best_other_cell"), lit(-1L)).cast("int")
          .as("best_other_cell"),
        coalesce(col("b_msd"), lit(-1L)).as("b_msd"),
        // the both-zero denominator (sample, own cell AND best other cell
        // all exact duplicates) must not hit div-0: Spark nulls silently
        // where DuckDB errors — define s = 0 there, the sklearn edge
        expr("""CASE WHEN a_msd IS NULL OR b_msd IS NULL THEN CAST(0 AS BIGINT)
               WHEN a_msd = 0 AND b_msd = 0 THEN CAST(0 AS BIGINT)
               ELSE (b_msd - a_msd) * 1000000 div
                 (CASE WHEN a_msd > b_msd THEN a_msd ELSE b_msd END) END""")
          .as("silhouette_ppm"))
      .orderBy("vec_id")
  }

  /** q334 candidate-pool size M and pick count k. M bounds every
    * post-retrieval structure (M rows, M·(M−1) pairs); the corpus-scale
    * work is ONLY the relevance top-M. */
  private[graft] val mmrPoolM = 16
  private[graft] val mmrK = 5

  /** q334 — MMR DIVERSIFIED TOP-K (Carbonell & Goldstein, SIGIR 1998,
    * "maximal marginal relevance"): the standard re-ranker between
    * retrieval and a RAG prompt — pure cosine top-k returns five copies
    * of the same paragraph; MMR greedily picks
    * argmax λ·rel(i) − (1−λ)·max_{j∈S} sim(i, j) so each next pick is
    * relevant AND novel against what is already selected. λ = 0.7, the
    * textbook default, as the EXACT rational 7/10: relevance and
    * pairwise cosines are integerized once to nano units off the
    * repo's 9-dp cross-engine rounding (round(sim9·10⁹) recovers the
    * decimal exactly — no float enters the greedy), so every score is
    * the integer 7·rel − 3·maxsim with (score DESC, vec_id ASC) the
    * deterministic tie-break. Probe = vec_id 0's embedding (the q31
    * query convention).
    *
    * Scale shape: the ONLY corpus-scale work is the broadcast-probe
    * relevance scan and its top-[[mmrPoolM]] (TakeOrdered — no global
    * sort materialization); the M-row pool and its M·(M−1) pair matrix
    * are CONSTANT-bounded, collected driver-side (the q298 metadata
    * rule), and the k-step greedy runs on them. The oracle replays the
    * greedy as a recursive CTE with the identical argmax order.
    */
  val mmrSelect: Q = (s, d) => {
    import s.implicits._
    val corpus = base(s, d)
    val probe = corpus.filter(col("vec_id") === 0)
      .select(col("embedding").as("p_emb"), col("sq").as("p_sq"))
    val relCol = round(round(cosineWithNorms(
      dotD(col("embedding"), col("p_emb")), col("sq"), col("p_sq")), 9)
      * 1e9, 0).cast("long")
    val pool = corpus.filter(col("vec_id") > 0)
      .crossJoin(broadcast(probe))
      .withColumn("rel_nano", relCol)
      .orderBy(col("rel_nano").desc, col("vec_id"))
      .limit(mmrPoolM)
      .select(col("vec_id"), col("embedding"), col("sq"), col("rel_nano"))
    val l = pool.alias("l")
    val r = pool.alias("r")
    val simCol = round(round(cosineWithNorms(
      dotD(col("l.embedding"), col("r.embedding")),
      col("l.sq"), col("r.sq")), 9) * 1e9, 0).cast("long")
    val pairs = l.join(broadcast(r), col("l.vec_id") =!= col("r.vec_id"))
      .select(col("l.vec_id").as("a"), col("r.vec_id").as("b"),
        simCol.as("sim_nano"))
    // constant-bounded syncs: ≤ M rows and ≤ M·(M−1) pairs at ANY scale
    val rels = pool.select("vec_id", "rel_nano").collect()
      .map(x => x.getLong(0) -> x.getLong(1))
      .sortBy { case (id, rel) => (-rel, id) }
    val sim = pairs.collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    val remaining = scala.collection.mutable.LinkedHashMap(rels.toIndexedSeq: _*)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Long, Long, Long)]
    while (out.size < mmrK && remaining.nonEmpty) {
      val picked = out.map(_._2)
      val (id, rel, mx, sc) = remaining.iterator.map { case (i, rl) =>
        val m = if (picked.isEmpty) 0L
          else picked.map(p => sim((i, p))).max
        (i, rl, m, 7L * rl - 3L * m)
      }.maxBy { case (i, _, _, s) => (s, -i) }
      remaining.remove(id)
      out += ((out.size + 1, id, rel, mx, sc))
    }
    out.toSeq.toDF("rank", "vec_id", "rel_nano", "max_sim_nano", "mmr_e10")
  }

  /** q343 fixed power-iteration rounds — enough for the fixture spectra
    * and deterministic in BOTH engines regardless of convergence (the
    * recurrence, not a tolerance, defines the output). */
  private[graft] val pcaRounds = 12

  /** The fixture/corpus embedding width shared by the whole PCA family. */
  private[graft] val pcaDims = 64

  /** q343 — PCA TOP COMPONENT VIA POWER ITERATION (Hotelling 1933;
    * von Mises & Pollaczek-Geiringer 1929 for the iteration): the first
    * principal axis of the embedding cloud plus its explained-variance
    * share — the read behind embedding whitening, anisotropy audits
    * ("is the space collapsing to one direction?"), and
    * Matryoshka-style truncation decisions (q274's companion). All
    * EXACT integer fixed point: components integerize ONCE to micro
    * (round(x·10⁶) — the q334 device), the covariance NUMERATOR
    * C = n·Σvv' − (Σv)(Σv)' is exact DECIMAL/HUGEINT, and
    * [[pcaRounds]] rounds of b ← C·b re-scale by MAX-ABS (b'ᵢ =
    * yᵢ·10⁶ div max|y| — sign-safe, division-only, NO per-round sqrt,
    * so no per-round floor-sqrt drift to reason about); the final
    * loadings L2-normalize once via [[graft.operators.Stats.isqrt]]
    * (Σb² ≤ 64·10¹² — tiny), and λ = b'Cb/b'b with the
    * explained-variance share λ·10⁶ div trace(C) cross-multiplied.
    * Start b = all-ones: deterministic, and its projection on the top
    * eigenvector is nonzero for any covariance with a nonnegative
    * dominant loading pattern (the fixture and corpus case; a
    * pathological exactly-orthogonal start would converge to the
    * second axis IDENTICALLY in both engines — the output is defined
    * by the recurrence, not by convergence claims). Headroom: b'Cb
    * rides ~n²·v²·10¹²·64, inside HUGEINT to ~3·10⁶ vectors for the
    * ORACLE; the engine's BigInt driver math is exact at any scale
    * (the q342 convention — the oracle is the binding constraint).
    *
    * Scale: ONE corpus pass — each row flattens to its 64×64 products
    * plus linear/count sentinels, map-side-combined into a ≤ 64²+65-row
    * frame collected driver-side (the q298 metadata rule). O(n·d²) is
    * the inherent covariance cost; d is the knob (real deployments
    * subsample rows first — compose with q341).
    */
  /** The q343/q352 covariance-numerator sync, shared (the no-drift
    * discipline): ONE corpus pass flattening each row to its 64×64
    * products plus linear/count sentinels, map-side-combined and
    * collected as a ≤ 64²+65-row frame (the q298 metadata rule);
    * returns (n, Σv, C = n·Σvv' − (Σv)(Σv)') in exact BigInt. */
  private def embCovSync(s: org.apache.spark.sql.SparkSession, d: String)
      : (BigInt, Array[BigInt], Array[Array[BigInt]]) = {
    val dims = pcaDims
    val rows = Tables.fanOut(Tables.embeddings(s, d), "vec_id")
      .select(expr(
        """transform(embedding,
          |  x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"""
          .stripMargin).as("v"))
      .select(posexplode(expr(
        """concat(
          |  flatten(transform(v, (x, i) -> transform(v, (y, j) ->
          |    struct(i AS i, j AS j, x * y AS p)))),
          |  transform(v, (x, i) -> struct(i AS i, -1 AS j, x AS p)),
          |  array(struct(-1 AS i, -1 AS j, CAST(1 AS BIGINT) AS p)))"""
          .stripMargin)))
      .select(col("col.i"), col("col.j"),
        expr("CAST(col.p AS DECIMAL(38,0))").as("p"))
      .groupBy("i", "j")
      .agg(sum("p").as("sp"))
      .collect() // ≤ 64² + 64 + 1 rows at any corpus scale
      .map(r => (r.getInt(0), r.getInt(1)) ->
        BigInt(r.getDecimal(2).toBigInteger)).toMap
    val n = rows((-1, -1))
    val lin = Array.tabulate(dims)(i => rows.getOrElse((i, -1), BigInt(0)))
    val cov = Array.tabulate(dims, dims)((i, j) =>
      n * rows.getOrElse((i, j), BigInt(0)) - lin(i) * lin(j))
    (n, lin, cov)
  }

  /** The q343/q352 power iteration on a covariance numerator, shared:
    * [[pcaRounds]] max-abs-rescaled rounds from the all-ones start,
    * then (b, loadings, b'Cb, b'b) — every division toward zero. */
  private def powerIterate(cov: Array[Array[BigInt]])
      : (Array[BigInt], Array[Long], BigInt, BigInt) = {
    val dims = pcaDims
    var b = Array.fill(dims)(BigInt(1000000L))
    (1 to pcaRounds).foreach { _ =>
      val y = Array.tabulate(dims)(i =>
        (0 until dims).map(j => cov(i)(j) * b(j)).sum)
      val m = y.map(_.abs).max
      b = if (m == 0) b else y.map(v => v * 1000000L / m)
    }
    val norm = graft.operators.Stats.isqrt(b.map(v => v * v).sum)
    val loadings =
      if (norm == 0) Array.fill(dims)(0L)
      else b.map(v => (v * 1000000L / norm).toLong)
    val bcb = (0 until dims).map(i =>
      (0 until dims).map(j => b(i) * cov(i)(j) * b(j)).sum).sum
    val bb = b.map(v => v * v).sum
    (b, loadings, bcb, bb)
  }

  val pcaPower: Q = (s, d) => {
    import s.implicits._
    val dims = pcaDims
    val (_, _, cov) = embCovSync(s, d)
    val (_, loadings, bcb, bb) = powerIterate(cov)
    val trace = (0 until dims).map(i => cov(i)(i)).sum
    // λ/trace = b'Cb / (b'b · trace) — one cross-multiplied truncation
    val evRatio =
      if (trace <= 0 || bb == 0) -1L
      else (bcb * 1000000L / (bb * trace)).toLong
    loadings.zipWithIndex
      .map { case (l, i) => (i + 1, l, evRatio) }.toSeq
      .toDF("dim", "loading_ppm", "ev_ratio_ppm")
      .orderBy("dim")
  }

  /** q352 component count (the spectrum read an embedding-quality audit
    * wants: anisotropy is top-1, intrinsic-dimension needs the decay). */
  private[graft] val pcaComponents = 3

  /** q352 — MULTI-COMPONENT PCA VIA HOTELLING DEFLATION + EXPLAINED-
    * VARIANCE SPECTRUM (Hotelling 1933, §4 for the deflation): extends
    * q343 from the top axis to components 1..[[pcaComponents]] — the
    * read an embedding-quality audit actually consumes (q343's
    * anisotropy is top-1; whitening and intrinsic-dimension decisions
    * need the λ DECAY). Each component reruns the SHARED
    * [[powerIterate]] on the deflated covariance; deflation is the
    * Hotelling projector in RATIONAL integer form,
    *   C' = C − (λ·u u') div 10¹²,  λ = b'Cb div b'b,  u = ppm loadings
    * (one toward-zero truncation per entry, mirrored entry for entry
    * by the oracle's flat-list transform) — exact when u is the unit
    * eigenvector, and both engines run the identical recurrence so the
    * truncation residue cannot diverge. The λ-first order keeps the
    * oracle's HUGEINT products at λ·u_iu_j ≲ trace·10¹², inside range
    * to ~5·10⁵ vectors (tighter than q343's 3·10⁶ — the deflation is
    * the binding term; the engine's BigInt is exact at any scale, the
    * q342 convention). λ_i/trace(C₁) is the
    * cross-multiplied b'C_ib/(b'b·trace) in ppm against the ORIGINAL
    * trace, so the shares are comparable across components and sum to
    * ≤ 10⁶; cum_ev_ppm accumulates them. Sentinels: a zero-trace or
    * degenerate iterate emits −1 shares (and cum −1 from that point);
    * a non-positive b'Cb stops deflating — C is kept (the q343
    * mx = 0 keep-the-previous philosophy) and later components report
    * what the recurrence yields on it, identically in both engines.
    *
    * Scale: the ONE corpus pass is the shared [[embCovSync]] (q343's —
    * memoization-free but map-side combined, 64²-bounded sync); the
    * three iterations and two deflations are driver-side 64² BigInt
    * work (the q298 metadata rule). O(n·d²) inherent, d the knob.
    */
  val pcaSpectrum: Q = (s, d) => {
    import s.implicits._
    val dims = pcaDims
    val (_, _, cov0) = embCovSync(s, d)
    val trace = (0 until dims).map(i => cov0(i)(i)).sum
    var cov = cov0
    var cum = 0L
    var sentinel = false
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, Long, Long, Long)]
    (1 to pcaComponents).foreach { comp =>
      val (b, loadings, bcb, bb) = powerIterate(cov)
      val ev =
        if (trace <= 0 || bb == 0) -1L
        else (bcb * 1000000L / (bb * trace)).toLong
      if (ev < 0) sentinel = true
      cum = if (sentinel) -1L else cum + ev
      loadings.zipWithIndex.foreach { case (l, i) =>
        out += ((comp, i + 1, l, if (sentinel) -1L else ev, cum))
      }
      if (comp < pcaComponents && bcb > 0) {
        val lam = if (bb == 0) BigInt(0) else bcb / bb
        val prev = cov
        cov = Array.tabulate(dims, dims)((i, j) =>
          prev(i)(j) -
            lam * loadings(i) * loadings(j) / 1000000000000L)
      }
    }
    out.toSeq
      .toDF("component", "dim", "loading_ppm", "ev_ratio_ppm",
        "cum_ev_ppm")
      .orderBy("component", "dim")
  }

  def queries: Map[String, Q] = Map(
    "q343_pca_power" -> pcaPower,
    "q352_pca_spectrum" -> pcaSpectrum,
    "q334_mmr_select" -> mmrSelect,
    "q287_silhouette_sampled" -> silhouetteSampled,
    "q286_triplet_mining" -> tripletMining,
    "q153_label_centroids" -> labelCentroids,
    "q263_kcenter_coreset" -> kcenterCoreset,
    "q272_kcenter_coverage" -> kcenterCoverage,
    "q274_matryoshka_audit" -> matryoshkaAudit,
    "q101_semantic_dedup" -> semanticDedup,
    "q96_pq_codes" -> pqCodes,
    "q95_random_projection" -> randomProjection,
    "q31_knn_brute" -> knnBrute,
    "q63_embed_quantize" -> embedQuantize,
    "q32_lsh_ann" -> lshAnn,
    "q36_embed_neardup" -> embedNearDup,
    "q47_ivf_ann" -> ivfAnn,
    "q215_ivf_coverage" -> ivfCoverage,
    "q72_ann_recall" -> annRecall,
    "q189_knn_graph" -> knnGraph,
    "q246_graph_ann_recall" -> graphAnnRecall,
    "q235_delta_semdedup" -> deltaSemDedup,
    "q249_stream_semdedup" -> streamSemDedup,
    "q241_ivf_drift" -> ivfDrift,
    "q243_semantic_clusters" -> semanticClusters,
    "q254_semantic_decontam" -> semanticDecontam)

  private[graft] val duckCos =
    "list_cosine_similarity(%s.embedding::DOUBLE[], %s.embedding::DOUBLE[])"

  private[graft] def duckBandBucket(band: Int) = (0 until 8).map { i =>
    s"(CASE WHEN embedding[${band * 8 + i + 1}] >= 0 THEN ${1 << i} ELSE 0 END)"
  }.mkString(" + ")

  private val duckBucket = duckBandBucket(0)

  /** The q263 farthest-first CTE chain (e, sq, c0, d0, c1..d{k−1}),
    * shared by the q263 readout and the q272 coverage audit — every CTE
    * MATERIALIZED because the inlined form re-evaluates the chain
    * exponentially. */
  private def kcenterOracleChain: String = {
    def exclusion(n: Int) =
      (0 until n).map(i => s"SELECT vec_id FROM c$i").mkString(" UNION ALL ")
    val rounds = (1 until kcenterK).map { r =>
      s"""c$r AS MATERIALIZED (SELECT vec_id, d FROM d${r - 1}
         |  WHERE vec_id NOT IN (${exclusion(r)})
         |  ORDER BY d DESC, vec_id LIMIT 1),
         |d$r AS MATERIALIZED (SELECT p.vec_id, CAST(LEAST(p.d, nd.d) AS BIGINT) AS d
         |  FROM d${r - 1} p JOIN (
         |    SELECT a.vec_id, SUM((a.q - b.q) * (a.q - b.q)) AS d
         |    FROM e a JOIN e b ON a.dim = b.dim
         |      AND b.vec_id = (SELECT vec_id FROM c$r)
         |    GROUP BY 1) nd ON p.vec_id = nd.vec_id)""".stripMargin
    }.mkString(",\n")
    s"""e AS MATERIALIZED (SELECT vec_id,
       |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
       |    CAST(round(unnest(embedding::DOUBLE[]) * 1000000) AS BIGINT) AS q
       |  FROM embeddings),
       |sq AS (SELECT vec_id, sum(q * q) AS sq FROM e GROUP BY 1),
       |c0 AS MATERIALIZED (SELECT vec_id FROM sq ORDER BY sq DESC, vec_id LIMIT 1),
       |d0 AS MATERIALIZED (SELECT a.vec_id,
       |    CAST(SUM((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS d
       |  FROM e a JOIN e b ON a.dim = b.dim
       |    AND b.vec_id = (SELECT vec_id FROM c0)
       |  GROUP BY 1),
       |$rounds""".stripMargin
  }

  def oracles: Map[String, String] = restOracles ++ Map(
    // the identical micro integerization, the same exact covariance
    // numerator, the same 12 max-abs-rescaled rounds as a recursive CTE
    // over a flat 64²-list (single-scanned — the q334 duckdb rule), the
    // same final corrected floor-sqrt L2 normalization and
    // cross-multiplied λ/trace
    "q343_pca_power" -> {
      // duckdb 1.0 rejects correlation reaching two derived-table levels
      // into a scalar subquery, so the recursive step inlines y and
      // max|y| textually (evaluated a few times per round — 64²-list
      // work, trivial) over a FROM it, cm cross join (the q319 shape)
      val yE = "list_transform(range(1, 65), i -> " +
        "list_sum(list_transform(range(1, 65), j -> " +
        "cm.m[(i - 1) * 64 + j] * it.b[j])))"
      val mxE = s"list_max(list_transform($yE, v -> abs(v)))"
      val bcbE = "list_sum(list_transform(range(1, 65), i -> " +
        "n3.b[i] * list_sum(list_transform(range(1, 65), j -> " +
        "cm.m[(i - 1) * 64 + j] * n3.b[j]))))"
      s"""WITH RECURSIVE ${OracleSql.pcaCovariance},
         |cm AS MATERIALIZED (SELECT list(c ORDER BY i, j) AS m FROM cv),
         |it(step, b) AS (
         |  SELECT 0, list_transform(range(1, 65),
         |    x -> CAST(1000000 AS HUGEINT))
         |  UNION ALL
         |  SELECT it.step + 1,
         |    -- mx = 0 (zero covariance: single-row or all-identical
         |    -- corpus) keeps the PREVIOUS b, exactly the engine's
         |    -- `if (m == 0) b` branch — returning the all-zero y here
         |    -- would collapse the loadings to 0 and diverge cross-engine
         |    CASE WHEN $mxE = 0 THEN it.b
         |      ELSE list_transform($yE, v -> CASE WHEN v >= 0
         |        THEN (v * 1000000) // $mxE
         |        ELSE -(((-v) * 1000000) // $mxE) END) END
         |  FROM it, cm WHERE it.step < $pcaRounds),
         |fb AS (SELECT b FROM it WHERE step = $pcaRounds),
         |n0 AS (SELECT b, list_sum(list_transform(b, v -> v * v)) AS s2
         |  FROM fb),
         |n1 AS (SELECT *, CAST(floor(sqrt(CAST(s2 AS DOUBLE)))
         |    AS HUGEINT) AS r0 FROM n0),
         |n2 AS (SELECT *, r0 + (CASE WHEN (r0 + 1) * (r0 + 1) <= s2
         |    THEN 1 ELSE 0 END) AS r1 FROM n1),
         |n3 AS (SELECT *, r1 - (CASE WHEN r1 * r1 > s2 THEN 1 ELSE 0
         |    END) AS nr FROM n2),
         |lam AS (SELECT n3.b AS b, n3.s2 AS s2, n3.nr AS nr,
         |    $bcbE AS bcb,
         |    (SELECT sum(c) FROM cv WHERE i = j) AS tr
         |  FROM n3, cm),
         |dims AS (SELECT unnest(range(1, 65)) AS dim, b, s2, nr, bcb, tr
         |  FROM lam)
         |SELECT CAST(dim AS INT) AS dim,
         |  CAST(CASE WHEN nr = 0 THEN 0
         |    WHEN b[dim] >= 0 THEN (b[dim] * 1000000) // nr
         |    ELSE -(((-b[dim]) * 1000000) // nr) END AS BIGINT)
         |    AS loading_ppm,
         |  CAST(CASE WHEN tr <= 0 OR s2 = 0 THEN -1
         |    ELSE (bcb * 1000000) // (s2 * tr) END AS BIGINT)
         |    AS ev_ratio_ppm
         |FROM dims ORDER BY dim""".stripMargin
    },
    // the q343 chain replayed per component (suffix-numbered CTE blocks),
    // plus the Hotelling deflation as ONE flat-list transform in the
    // λ-FIRST rational form actually implemented (and engine-mirrored):
    // C' = C − (λ·uu') // 10¹², with λ the Rayleigh quotient and u the
    // ppm-normalized eigenvector — the (Cb)(Cb)' // b'Cb outer-product
    // form was REJECTED for exceeding DuckDB's HUGEINT ceiling (see
    // SURVEY.md). Kept un-deflated when b'Cb ≤ 0; the sentinel chain
    // masks every share after the first negative one, exactly the
    // engine's rule
    "q352_pca_spectrum" -> {
      def yE(c: Int) = s"list_transform(range(1, 65), i -> " +
        s"list_sum(list_transform(range(1, 65), j -> " +
        s"cm$c.m[(i - 1) * 64 + j] * it$c.b[j])))"
      def mxE(c: Int) = s"list_max(list_transform(${yE(c)}, v -> abs(v)))"
      def bcbE(c: Int) = s"list_sum(list_transform(range(1, 65), i -> " +
        s"n3$c.b[i] * list_sum(list_transform(range(1, 65), j -> " +
        s"cm$c.m[(i - 1) * 64 + j] * n3$c.b[j]))))"
      def compBlock(c: Int) =
        s"""it$c(step, b) AS (
           |  SELECT 0, list_transform(range(1, 65),
           |    x -> CAST(1000000 AS HUGEINT))
           |  UNION ALL
           |  SELECT it$c.step + 1,
           |    CASE WHEN ${mxE(c)} = 0 THEN it$c.b
           |      ELSE list_transform(${yE(c)}, v -> CASE WHEN v >= 0
           |        THEN (v * 1000000) // ${mxE(c)}
           |        ELSE -(((-v) * 1000000) // ${mxE(c)}) END) END
           |  FROM it$c, cm$c WHERE it$c.step < $pcaRounds),
           |fb$c AS (SELECT b FROM it$c WHERE step = $pcaRounds),
           |n0$c AS (SELECT b, list_sum(list_transform(b, v -> v * v))
           |    AS s2 FROM fb$c),
           |n1$c AS (SELECT *, CAST(floor(sqrt(CAST(s2 AS DOUBLE)))
           |    AS HUGEINT) AS r0 FROM n0$c),
           |n2$c AS (SELECT *, r0 + (CASE WHEN (r0 + 1) * (r0 + 1) <= s2
           |    THEN 1 ELSE 0 END) AS r1 FROM n1$c),
           |n3$c AS (SELECT *, r1 - (CASE WHEN r1 * r1 > s2 THEN 1 ELSE 0
           |    END) AS nr FROM n2$c),
           |lam$c AS MATERIALIZED (SELECT n3$c.b AS b, n3$c.s2 AS s2,
           |    n3$c.nr AS nr, ${bcbE(c)} AS bcb
           |  FROM n3$c, cm$c),
           |ld$c AS MATERIALIZED (SELECT list_transform(range(1, 65),
           |    i -> CASE WHEN lam$c.nr = 0 THEN CAST(0 AS HUGEINT)
           |      WHEN lam$c.b[i] >= 0
           |        THEN (lam$c.b[i] * 1000000) // lam$c.nr
           |      ELSE -(((-lam$c.b[i]) * 1000000) // lam$c.nr) END) AS u,
           |    CASE WHEN lam$c.s2 = 0 THEN CAST(0 AS HUGEINT)
           |      ELSE lam$c.bcb // lam$c.s2 END AS lam
           |  FROM lam$c)""".stripMargin
      def deflate(c: Int) =
        s"""cm${c + 1} AS MATERIALIZED (SELECT
           |    CASE WHEN lam$c.bcb <= 0 THEN cm$c.m
           |    ELSE list_transform(range(1, ${64 * 64 + 1}), idx ->
           |      cm$c.m[idx] - (ld$c.lam * ld$c.u[(idx - 1) // 64 + 1]
           |        * ld$c.u[(idx - 1) % 64 + 1]) // 1000000000000) END
           |      AS m
           |  FROM cm$c, ld$c, lam$c)""".stripMargin
      def evE(c: Int) =
        s"CASE WHEN (SELECT tr FROM trc) <= 0 OR lam$c.s2 = 0 THEN -1 " +
          s"ELSE (lam$c.bcb * 1000000) // " +
          s"(lam$c.s2 * (SELECT tr FROM trc)) END"
      def compSel(c: Int) =
        s"""SELECT $c AS component, CAST(dd.dim AS INT) AS dim,
           |  CAST(ld$c.u[dd.dim] AS BIGINT) AS loading_ppm,
           |  CAST(CASE WHEN fl.x$c THEN -1 ELSE fl.e$c END AS BIGINT)
           |    AS ev_ratio_ppm,
           |  CAST(CASE WHEN fl.x$c THEN -1
           |    ELSE ${(1 to c).map(i => s"fl.e$i").mkString(" + ")} END
           |    AS BIGINT) AS cum_ev_ppm
           |FROM (SELECT unnest(range(1, 65)) AS dim) dd, ld$c, fl"""
          .stripMargin
      s"""WITH RECURSIVE ${OracleSql.pcaCovariance},
         |cm1 AS MATERIALIZED (SELECT list(c ORDER BY i, j) AS m FROM cv),
         |trc AS MATERIALIZED (SELECT sum(c) AS tr FROM cv WHERE i = j),
         |${compBlock(1)},
         |${deflate(1)},
         |${compBlock(2)},
         |${deflate(2)},
         |${compBlock(3)},
         |evs AS MATERIALIZED (SELECT ${evE(1)} AS e1, ${evE(2)} AS e2,
         |    ${evE(3)} AS e3
         |  FROM lam1, lam2, lam3),
         |fl AS MATERIALIZED (SELECT e1, e2, e3,
         |    e1 < 0 AS x1, (e1 < 0 OR e2 < 0) AS x2,
         |    (e1 < 0 OR e2 < 0 OR e3 < 0) AS x3 FROM evs)
         |${compSel(1)}
         |UNION ALL
         |${compSel(2)}
         |UNION ALL
         |${compSel(3)}
         |ORDER BY component, dim""".stripMargin
    },
    // the identical nano integerization of the 9-dp cosine, the same
    // constant-M pool, and the greedy replayed as a recursive CTE whose
    // per-step argmax uses the same (7·rel − 3·maxsim DESC, vec_id ASC)
    // order — every pick must agree for the hash to match
    "q334_mmr_select" -> {
      val maxsim = "COALESCE((SELECT max(pr.sim) FROM pairs pr " +
        "WHERE pr.a = %s AND list_contains(%s, pr.b)), 0)"
      s"""WITH RECURSIVE pool AS MATERIALIZED (
         |  SELECT c.vec_id, c.embedding,
         |    CAST(round(round(${duckCos.format("c", "p")}, 9) * 1000000000)
         |      AS BIGINT) AS rel
         |  FROM embeddings c,
         |    (SELECT embedding FROM embeddings WHERE vec_id = 0) p
         |  WHERE c.vec_id > 0
         |  ORDER BY rel DESC, c.vec_id LIMIT $mmrPoolM),
         |pairs AS MATERIALIZED (
         |  SELECT a.vec_id AS a, b.vec_id AS b,
         |    CAST(round(round(${duckCos.format("a", "b")}, 9) * 1000000000)
         |      AS BIGINT) AS sim
         |  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
         |it(step, picked) AS (
         |  SELECT 0, CAST([] AS BIGINT[])
         |  UNION ALL
         |  SELECT it.step + 1, list_append(it.picked, (
         |      SELECT p.vec_id FROM pool p
         |      WHERE NOT list_contains(it.picked, p.vec_id)
         |      ORDER BY 7 * p.rel
         |        - 3 * ${maxsim.format("p.vec_id", "it.picked")} DESC,
         |        p.vec_id
         |      LIMIT 1))
         |  FROM it WHERE it.step < $mmrK
         |    AND (SELECT count(*) FROM pool p2
         |      WHERE NOT list_contains(it.picked, p2.vec_id)) > 0),
         |-- `it` must be scanned exactly ONCE: duckdb 1.0 re-evaluates a
         |-- twice-referenced recursive CTE whose recursive term carries
         |-- correlated subqueries, and the re-run stops at the base case
         |-- (max(step) reads 0). Each row carries its own prefix, so the
         |-- single scan suffices.
         |rk AS (SELECT CAST(step AS INT) AS rank, picked[step] AS vec_id,
         |    picked[1:step - 1] AS prefix FROM it WHERE step >= 1)
         |SELECT rk.rank, rk.vec_id, p.rel AS rel_nano,
         |  ${maxsim.format("rk.vec_id", "rk.prefix")} AS max_sim_nano,
         |  7 * p.rel - 3 * ${maxsim.format("rk.vec_id", "rk.prefix")}
         |    AS mmr_e10
         |FROM rk JOIN pool p ON p.vec_id = rk.vec_id
         |ORDER BY rank""".stripMargin
    },
    // the identical micro-quantized integer distances (dim-join form),
    // the identical q47 home-cell assignment and md5 sample, HUGEINT-safe
    // means, and the same 0-sentinel edges; negative silhouettes agree
    // because BIGINT // truncates toward zero in both engines (the q264
    // precedent)
    "q287_silhouette_sampled" -> {
      s"""WITH e AS MATERIALIZED (SELECT vec_id,
         |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
         |    CAST(round(unnest(embedding::DOUBLE[]) * 1000000) AS BIGINT)
         |      AS q
         |  FROM embeddings),
         |cells AS MATERIALIZED (SELECT vec_id, cell_id FROM (
         |    SELECT v.vec_id, p.vec_id AS cell_id,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY round(${duckCos.format("v", "p")}, 9) DESC,
         |          p.vec_id) AS arn
         |    FROM embeddings v CROSS JOIN
         |      (SELECT * FROM embeddings WHERE vec_id < 64) p)
         |  WHERE arn = 1),
         |smp AS MATERIALIZED (SELECT vec_id AS s_id, cell_id AS s_cell
         |  FROM cells ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
         |  LIMIT $silhouetteSamples),
         |dd AS (SELECT a.s_id, a.s_cell, c.cell_id, eb.vec_id,
         |    CAST(sum((ea.q - eb.q) * (ea.q - eb.q)) AS BIGINT) AS d2
         |  FROM smp a JOIN e ea ON ea.vec_id = a.s_id
         |  JOIN e eb ON eb.dim = ea.dim AND eb.vec_id <> a.s_id
         |  JOIN cells c ON c.vec_id = eb.vec_id
         |  GROUP BY 1, 2, 3, 4),
         |pc AS MATERIALIZED (SELECT s_id, s_cell, cell_id,
         |    CAST(sum(CAST(d2 AS HUGEINT)) // count(*) AS BIGINT) AS msd
         |  FROM dd GROUP BY 1, 2, 3),
         |own AS (SELECT s_id, msd AS a_msd FROM pc WHERE cell_id = s_cell),
         |oth AS (SELECT s_id, cell_id AS best_other_cell, msd AS b_msd
         |  FROM (SELECT s_id, cell_id, msd, row_number() OVER (
         |      PARTITION BY s_id ORDER BY msd, cell_id) AS rn
         |    FROM pc WHERE cell_id <> s_cell) WHERE rn = 1)
         |SELECT smp.s_id AS vec_id, CAST(s_cell AS INT) AS own_cell,
         |  coalesce(a_msd, -1) AS a_msd,
         |  CAST(coalesce(best_other_cell, -1) AS INT) AS best_other_cell,
         |  coalesce(b_msd, -1) AS b_msd,
         |  CAST(CASE WHEN a_msd IS NULL OR b_msd IS NULL THEN 0
         |    WHEN a_msd = 0 AND b_msd = 0 THEN 0
         |    ELSE (b_msd - a_msd) * 1000000 //
         |      (CASE WHEN a_msd > b_msd THEN a_msd ELSE b_msd END)
         |  END AS BIGINT) AS silhouette_ppm
         |FROM smp LEFT JOIN own ON smp.s_id = own.s_id
         |LEFT JOIN oth ON smp.s_id = oth.s_id
         |ORDER BY vec_id""".stripMargin
    },
    // the identical q47 home-cell assignment, md5-ranked anchors,
    // same-cell rank cut (positive = 1, hard = 5), md5-argmin easy
    // negative from the complement cells, and the round-before-cast
    // margin; sims all carry the round-9-then-4 discipline
    "q286_triplet_mining" -> {
      val cosAC = "round(list_cosine_similarity(a.a_emb::DOUBLE[], c.embedding::DOUBLE[]), 9)"
      s"""WITH assigned AS (SELECT vec_id, embedding, cell_id FROM (
         |    SELECT v.vec_id, v.embedding, p.vec_id AS cell_id,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY round(${duckCos.format("v", "p")}, 9) DESC,
         |          p.vec_id) AS arn
         |    FROM embeddings v CROSS JOIN
         |      (SELECT * FROM embeddings WHERE vec_id < 64) p)
         |  WHERE arn = 1),
         |anchors AS MATERIALIZED (SELECT vec_id AS a_id,
         |    embedding AS a_emb, cell_id AS a_cell FROM assigned
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
         |  LIMIT $tripletAnchors),
         |ranked AS (SELECT a.a_id, c.vec_id, $cosAC AS sim9,
         |    row_number() OVER (PARTITION BY a.a_id
         |      ORDER BY $cosAC DESC, c.vec_id) AS rn
         |  FROM assigned c JOIN anchors a
         |    ON c.cell_id = a.a_cell AND c.vec_id <> a.a_id),
         |pos AS (SELECT a_id, vec_id AS pos_id, round(sim9, 4) AS pos_sim
         |  FROM ranked WHERE rn = 1),
         |hard AS (SELECT a_id, vec_id AS hard_id, round(sim9, 4) AS hard_sim
         |  FROM ranked WHERE rn = $tripletHardRank),
         |easy AS (SELECT a_id, vec_id AS easy_id, round(sim9, 4) AS easy_sim
         |  FROM (SELECT a.a_id, c.vec_id, $cosAC AS sim9,
         |      row_number() OVER (PARTITION BY a.a_id
         |        ORDER BY md5(CAST(a.a_id AS VARCHAR) || ':' ||
         |          CAST(c.vec_id AS VARCHAR)), c.vec_id) AS en
         |    FROM assigned c JOIN anchors a ON c.cell_id <> a.a_cell)
         |  WHERE en = 1)
         |SELECT p.a_id, pos_id, pos_sim,
         |  coalesce(hard_id, -1) AS hard_id,
         |  coalesce(hard_sim, -2.0) AS hard_sim,
         |  coalesce(easy_id, -1) AS easy_id,
         |  coalesce(easy_sim, -2.0) AS easy_sim,
         |  CASE WHEN hard_id IS NULL THEN CAST(-1 AS BIGINT)
         |    ELSE CAST(round((pos_sim - hard_sim) * 1000000) AS BIGINT)
         |  END AS margin_ppm
         |FROM pos p LEFT JOIN hard ON p.a_id = hard.a_id
         |LEFT JOIN easy ON p.a_id = easy.a_id
         |ORDER BY p.a_id""".stripMargin
    },
    // the identical farthest-first unroll: k−1 argmax CTEs chained by
    // scalar subqueries (the q247 oracle discipline), dist² in exact
    // ppm-integer arithmetic, radius trajectory and final covering
    // radius both re-derived — the hash match certifies every round
    "q263_kcenter_coreset" -> {
      val sel = (1 until kcenterK).map { r =>
        s"UNION ALL SELECT CAST($r AS BIGINT), (SELECT vec_id FROM c$r), (SELECT CAST(d AS BIGINT) FROM c$r)"
      }.mkString("\n")
      s"""WITH $kcenterOracleChain
         |SELECT CAST(0 AS BIGINT) AS sel_round,
         |  (SELECT vec_id FROM c0) AS vec_id, CAST(-1 AS BIGINT) AS radius2
         |$sel
         |UNION ALL SELECT CAST($kcenterK AS BIGINT), CAST(-1 AS BIGINT),
         |  (SELECT CAST(max(d) AS BIGINT) FROM d${kcenterK - 1})
         |ORDER BY sel_round""".stripMargin
    },
    // identical prefix ladder (list[1:d] is 1-based inclusive), identical
    // 9-dp ranking and the q72 4-dp hit rule; the 64-wide leg IS the
    // ground truth, so its recall row must be exactly 1.0
    "q274_matryoshka_audit" -> {
      val dimsList = mrlDims.mkString(", ")
      s"""WITH sample AS MATERIALIZED (
         |  SELECT vec_id AS q_id, embedding FROM embeddings
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $recallSampleN),
         |pairs AS MATERIALIZED (
         |  SELECT s.q_id, e.vec_id, d.dims,
         |    round(${duckCos.format("e", "s")}, 9) AS fsim9,
         |    round(list_cosine_similarity(
         |      (e.embedding[1:d.dims])::DOUBLE[],
         |      (s.embedding[1:d.dims])::DOUBLE[]), 9) AS psim9
         |  FROM sample s
         |  JOIN embeddings e ON e.vec_id <> s.q_id
         |  CROSS JOIN (SELECT unnest([$dimsList]) AS dims) d),
         |chosen AS MATERIALIZED (SELECT q_id, dims, fsim9 FROM (
         |    SELECT q_id, dims, fsim9, row_number() OVER (
         |      PARTITION BY q_id, dims ORDER BY psim9 DESC, vec_id) AS rn
         |    FROM pairs) WHERE rn = 1),
         |brute AS (SELECT q_id, fsim9 AS bsim9 FROM chosen WHERE dims = 64)
         |SELECT CAST(c.dims AS INT) AS prefix_dims, count(*) AS n_eval,
         |  CAST(sum(CASE WHEN round(c.fsim9, 4) >= round(b.bsim9, 4)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  round(CAST(sum(CASE WHEN round(c.fsim9, 4) >= round(b.bsim9, 4)
         |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS recall
         |FROM chosen c JOIN brute b USING (q_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // the shared farthest-first chain, then both methods' min-dist tables
    // reduced by the identical coverage aggregate — the kcenter leg reads
    // the chain's own final d-table, the baseline re-derives from e
    "q272_kcenter_coverage" ->
      s"""WITH $kcenterOracleChain,
         |f8 AS MATERIALIZED (SELECT DISTINCT vec_id FROM e
         |  ORDER BY vec_id LIMIT $kcenterK),
         |bd AS MATERIALIZED (SELECT vec_id, min(dd) AS d FROM (
         |    SELECT a.vec_id, b.vec_id AS c,
         |      SUM((a.q - b.q) * (a.q - b.q)) AS dd
         |    FROM e a JOIN e b ON a.dim = b.dim
         |      AND b.vec_id IN (SELECT vec_id FROM f8)
         |    GROUP BY 1, 2) GROUP BY 1)
         |SELECT 'first_k' AS method, count(*) AS n_vectors,
         |  CAST(max(d) AS BIGINT) AS covering_radius2,
         |  CAST(sum(d // 1000) // count(*) AS BIGINT) AS mean_dist2_kilo
         |FROM bd
         |UNION ALL
         |SELECT 'kcenter', count(*), CAST(max(d) AS BIGINT),
         |  CAST(sum(d // 1000) // count(*) AS BIGINT)
         |FROM d${kcenterK - 1}
         |ORDER BY method""".stripMargin,
    // q101's identical cell-blocked edge set; the fixpoint recomputed by
    // recursive label reachability — any label the iterative loop leaves
    // un-propagated mismatches the closure
    "q243_semantic_clusters" ->
      s"""WITH RECURSIVE ${OracleSql.ivfAssigned},
         |ed AS (SELECT l.vec_id AS d1, r.vec_id AS d2
         |  FROM assigned l JOIN assigned r
         |  ON l.cell_id = r.cell_id AND l.vec_id < r.vec_id
         |  WHERE round(${duckCos.format("l", "r")}, 9) >= $semanticTau),
         |ue AS (SELECT d1 AS src, d2 AS dst FROM ed
         |  UNION ALL SELECT d2 AS src, d1 AS dst FROM ed),
         |reach(id, label) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT ue.dst, reach.label FROM ue JOIN reach ON reach.id = ue.src),
         |final AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id),
         |sizes AS (SELECT cluster_id, count(*) AS cluster_size
         |  FROM final GROUP BY cluster_id)
         |SELECT f.id AS vec_id, f.cluster_id, s.cluster_size,
         |  (f.id = f.cluster_id) AS is_canonical
         |FROM final f JOIN sizes s USING (cluster_id)
         |ORDER BY vec_id""".stripMargin,
    // the same corpus/delta home-cell assignments, q153's ppm centroid
    // rounding, and an engine-identical full-outer cell merge
    "q241_ivf_drift" ->
      s"""WITH ${OracleSql.ivfCorpusCells},
         |dh AS (SELECT vec_id, embedding, cell_id FROM (
         |    SELECT d.vec_id, d.embedding, p.pivot_id AS cell_id,
         |      row_number() OVER (PARTITION BY d.vec_id
         |        ORDER BY round(${duckCos.format("d", "p")}, 9) DESC,
         |          p.pivot_id) AS arn
         |    FROM delta d CROSS JOIN piv p) WHERE arn = 1),
         |ce AS (SELECT cell_id,
         |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
         |    CAST(round(unnest(embedding::DOUBLE[]) * 1000000) AS BIGINT)
         |      AS q FROM ch),
         |cc AS (SELECT cell_id, dim, count(*) AS n,
         |    CAST(round(CAST(sum(q) AS DOUBLE) / count(*)) AS BIGINT) AS c
         |  FROM ce GROUP BY 1, 2),
         |de AS (SELECT cell_id,
         |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
         |    CAST(round(unnest(embedding::DOUBLE[]) * 1000000) AS BIGINT)
         |      AS q FROM dh),
         |dc AS (SELECT cell_id, dim, count(*) AS n,
         |    CAST(round(CAST(sum(q) AS DOUBLE) / count(*)) AS BIGINT) AS c
         |  FROM de GROUP BY 1, 2),
         |j AS (SELECT coalesce(cc.cell_id, dc.cell_id) AS cell_id,
         |    cc.n AS n_c, cc.c AS ccp, dc.n AS n_d, dc.c AS dcp
         |  FROM cc FULL OUTER JOIN dc
         |  ON cc.cell_id = dc.cell_id AND cc.dim = dc.dim)
         |SELECT CAST(cell_id AS INT) AS cell_id,
         |  CAST(coalesce(max(n_c), 0) AS BIGINT) AS n_corpus,
         |  CAST(coalesce(max(n_d), 0) AS BIGINT) AS n_delta,
         |  CASE WHEN max(n_c) IS NULL OR max(n_d) IS NULL THEN NULL
         |    ELSE CAST(sum(abs(ccp - dcp)) AS BIGINT) END AS shift_l1_ppm,
         |  CASE WHEN max(n_c) IS NULL OR max(n_c) = 0 THEN NULL
         |    ELSE CAST(coalesce(max(n_d), 0) * 1000000 // max(n_c) AS BIGINT)
         |    END AS growth_ppm
         |FROM j GROUP BY cell_id ORDER BY cell_id""".stripMargin,
    // the identical staged-index computation inline: corpus home cells,
    // delta top-2 probes, one cell equi-join, the same 9-dp threshold.
    // Shared VERBATIM by the streaming probe q249, whose verdicts are
    // micro-batch-boundary-independent — batch/stream parity IS the
    // check (the q114/q244 pairing, lifted to the embedding side)
    "q235_delta_semdedup" -> deltaSemOracleSql,
    "q249_stream_semdedup" -> deltaSemOracleSql,
    // q235's probe mirror with the aggregation flipped onto the TRAIN
    // side, reduced to the per-cell compliance report
    "q254_semantic_decontam" ->
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 10 <> 7),
         |piv AS (SELECT vec_id AS pivot_id, embedding FROM corpus
         |  WHERE vec_id < 64),
         |ch AS MATERIALIZED (SELECT vec_id, embedding, cell_id FROM (
         |    SELECT c.vec_id, c.embedding, p.pivot_id AS cell_id,
         |      row_number() OVER (PARTITION BY c.vec_id
         |        ORDER BY round(${duckCos.format("c", "p")}, 9) DESC,
         |          p.pivot_id) AS arn
         |    FROM corpus c CROSS JOIN piv p) WHERE arn = 1),
         |delta AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 10 = 7),
         |dp AS (SELECT vec_id, embedding, cell_id FROM (
         |    SELECT d.vec_id, d.embedding, p.pivot_id AS cell_id,
         |      row_number() OVER (PARTITION BY d.vec_id
         |        ORDER BY round(${duckCos.format("d", "p")}, 9) DESC,
         |          p.pivot_id) AS arn
         |    FROM delta d CROSS JOIN piv p) WHERE arn <= 2),
         |m AS (SELECT r.vec_id AS train_id, count(*) AS n_eval_hits
         |  FROM dp l JOIN ch r ON l.cell_id = r.cell_id
         |  WHERE round(${duckCos.format("l", "r")}, 9) >= $semanticTau
         |  GROUP BY 1)
         |SELECT CAST(ch.cell_id AS INT) AS cell_id,
         |  count(*) AS n_train,
         |  CAST(sum(CASE WHEN m.n_eval_hits IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_contaminated,
         |  CAST(COALESCE(sum(CASE WHEN m.n_eval_hits IS NOT NULL
         |    THEN ch.vec_id END), 0) AS BIGINT) AS contaminated_checksum,
         |  CAST(COALESCE(sum(m.n_eval_hits), 0) AS BIGINT)
         |    AS n_eval_hits_total
         |FROM ch LEFT JOIN m ON ch.vec_id = m.train_id
         |GROUP BY 1 ORDER BY 1""".stripMargin)

  private def deltaSemOracleSql: String =
      s"""WITH ${OracleSql.ivfCorpusCells},
         |dp AS (SELECT vec_id, embedding, cell_id, arn FROM (
         |    SELECT d.vec_id, d.embedding, p.pivot_id AS cell_id,
         |      row_number() OVER (PARTITION BY d.vec_id
         |        ORDER BY round(${duckCos.format("d", "p")}, 9) DESC,
         |          p.pivot_id) AS arn
         |    FROM delta d CROSS JOIN piv p) WHERE arn <= 2),
         |m AS (SELECT l.vec_id, count(*) AS n_dup, min(r.vec_id) AS dup_of
         |  FROM dp l JOIN ch r ON l.cell_id = r.cell_id
         |  WHERE round(${duckCos.format("l", "r")}, 9) >= $semanticTau
         |  GROUP BY 1),
         |hc AS (SELECT vec_id, cell_id FROM dp WHERE arn = 1)
         |SELECT hc.vec_id, CAST(hc.cell_id AS INT) AS cell_id,
         |  COALESCE(m.n_dup, 0) AS n_dup, COALESCE(m.dup_of, -1) AS dup_of,
         |  (COALESCE(m.n_dup, 0) = 0) AS is_new
         |FROM hc LEFT JOIN m USING (vec_id) ORDER BY hc.vec_id""".stripMargin

  private def restOracles: Map[String, String] = Map(
    // the identical fixed-depth beam recursion over the same mutual-kNN
    // graph (q189's chain inline), same entry points, same (sim9, id)
    // ranking — then q72's brute/hit arithmetic verbatim
    "q246_graph_ann_recall" -> {
      val banded = OracleSql.lshBandRows
      val hops = (1 to beamHops).map { h =>
        s"""cand$h AS (SELECT DISTINCT q_id, node FROM (
           |    SELECT q_id, node FROM beam${h - 1}
           |    UNION ALL
           |    SELECT b.q_id, ed.v AS node FROM beam${h - 1} b
           |    JOIN ed ON b.node = ed.u WHERE ed.v <> b.q_id)),
           |sc$h AS (SELECT c.q_id, c.node,
           |    round(${duckCos.format("s", "e")}, 9) AS sim9
           |  FROM cand$h c JOIN embeddings e ON c.node = e.vec_id
           |  JOIN sample s ON c.q_id = s.q_id),
           |beam$h AS MATERIALIZED (SELECT q_id, node, sim9 FROM (
           |    SELECT q_id, node, sim9, row_number() OVER (PARTITION BY q_id
           |      ORDER BY sim9 DESC, node) AS rn FROM sc$h)
           |  WHERE rn <= $beamWidth)""".stripMargin
      }.mkString(",\n")
      s"""WITH banded AS MATERIALIZED (
         |  $banded),
         |${OracleSql.knnGraph},
         |mutual AS MATERIALIZED (
         |  SELECT f.src AS u, f.dst AS v FROM knn f JOIN knn g
         |  ON f.src = g.dst AND f.dst = g.src AND f.src < f.dst),
         |ed AS MATERIALIZED (SELECT u, v FROM mutual
         |  UNION ALL SELECT v AS u, u AS v FROM mutual),
         |sample AS MATERIALIZED (
         |  SELECT vec_id AS q_id, embedding FROM embeddings
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $recallSampleN),
         |entries AS (
         |  SELECT DISTINCT s.q_id, cb.vec_id AS node
         |  FROM sample s JOIN banded qb ON qb.vec_id = s.q_id
         |  JOIN banded cb ON cb.band = qb.band AND cb.bucket = qb.bucket
         |    AND cb.vec_id <> s.q_id
         |  UNION
         |  SELECT s.q_id, e.vec_id AS node FROM sample s
         |  JOIN embeddings e ON e.vec_id < $beamEntries
         |    AND e.vec_id <> s.q_id),
         |beam0 AS MATERIALIZED (SELECT q_id, node, sim9 FROM (
         |    SELECT en.q_id, en.node,
         |      round(${duckCos.format("s", "e")}, 9) AS sim9,
         |      row_number() OVER (PARTITION BY en.q_id
         |        ORDER BY round(${duckCos.format("s", "e")}, 9) DESC,
         |          en.node) AS rn
         |    FROM entries en JOIN embeddings e ON en.node = e.vec_id
         |    JOIN sample s ON en.q_id = s.q_id)
         |  WHERE rn <= $beamWidth),
         |$hops,
         |g1 AS (SELECT q_id, round(sim9, 4) AS graph_sim FROM (
         |    SELECT q_id, sim9, row_number() OVER (PARTITION BY q_id
         |      ORDER BY sim9 DESC, node) AS rn FROM beam$beamHops)
         |  WHERE rn = 1),
         |brute AS (
         |  SELECT s.q_id, max(round(${duckCos.format("s", "c")}, 9)) AS bsim9
         |  FROM sample s JOIN embeddings c ON c.vec_id <> s.q_id GROUP BY 1),
         |hits AS (
         |  SELECT count(*) AS n_eval,
         |    CAST(sum(CASE WHEN graph_sim >= round(bsim9, 4) THEN 1 ELSE 0
         |      END) AS BIGINT) AS n_hits
         |  FROM g1 JOIN brute USING (q_id))
         |SELECT n_eval, n_hits,
         |  round(CAST(n_hits AS DOUBLE) / n_eval, 4) AS recall FROM hits""".stripMargin
    },
    "q189_knn_graph" -> {
      val banded = OracleSql.lshBandRows
      s"""WITH banded AS (
         |  $banded),
         |${OracleSql.knnGraph},
         |mutual AS (
         |  SELECT f.src AS u, f.dst AS v FROM knn f JOIN knn g
         |  ON f.src = g.dst AND f.dst = g.src AND f.src < f.dst),
         |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
         |    SELECT u AS node FROM mutual
         |    UNION ALL SELECT v FROM mutual) GROUP BY 1)
         |SELECT COALESCE(deg, 0) AS mutual_degree,
         |  count(*) AS n_nodes
         |FROM embeddings e LEFT JOIN deg ON e.vec_id = deg.node
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q153_label_centroids" ->
      """WITH e AS (SELECT label,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
        |    CAST(round(unnest(embedding::DOUBLE[]) * 1000000) AS BIGINT) AS q
        |  FROM embeddings),
        |c AS (SELECT label, dim, count(*) AS n_vecs, sum(q) AS sq
        |  FROM e GROUP BY 1, 2),
        |cc AS (SELECT label, dim, n_vecs,
        |    CAST(round(CAST(sq AS DOUBLE) / n_vecs) AS BIGINT) AS centroid_ppm
        |  FROM c),
        |i AS (SELECT e.label,
        |    CAST(sum((q - centroid_ppm) * (q - centroid_ppm)) AS BIGINT)
        |      AS inertia_pp12
        |  FROM e JOIN cc ON e.label = cc.label AND e.dim = cc.dim
        |  GROUP BY 1)
        |SELECT cc.label, cc.dim, cc.n_vecs, cc.centroid_ppm, i.inertia_pp12
        |FROM cc JOIN i ON cc.label = i.label
        |ORDER BY cc.label, cc.dim""".stripMargin,
    "q101_semantic_dedup" ->
      s"""WITH ${OracleSql.ivfAssigned},
         |reps AS (
         |  SELECT r.vec_id, min(l.vec_id) AS rep_id
         |  FROM assigned l JOIN assigned r
         |  ON l.cell_id = r.cell_id AND l.vec_id < r.vec_id
         |  WHERE round(${duckCos.format("l", "r")}, 9) >= $semanticTau
         |  GROUP BY 1)
         |SELECT a.vec_id, CAST(a.cell_id AS INT) AS cell_id,
         |  (rep.rep_id IS NULL) AS kept,
         |  COALESCE(rep.rep_id, a.vec_id) AS rep_id
         |FROM assigned a LEFT JOIN reps rep ON a.vec_id = rep.vec_id
         |ORDER BY a.vec_id""".stripMargin,
    "q96_pq_codes" -> {
      val sd = srcDims / pqSubvecs
      s"""WITH sub AS (
         |  SELECT vec_id, s,
         |    list_transform(range(1, ${sd + 1}), i -> embedding[s * $sd + i]::DOUBLE) AS sv
         |  FROM embeddings, (SELECT unnest(range(0, $pqSubvecs)) AS s)),
         |cents AS (SELECT vec_id AS c_id, s, sv AS cv FROM sub WHERE vec_id < $pqCodebook),
         |d AS (SELECT a.vec_id, a.s, c.c_id,
         |  round(list_reduce([CAST(0 AS DOUBLE)] || list_transform(range(1, ${sd + 1}),
         |    i -> (a.sv[i] - c.cv[i]) * (a.sv[i] - c.cv[i])), (acc, x) -> acc + x), 9) AS d9
         |  FROM sub a JOIN cents c USING (s)),
         |r AS (SELECT vec_id, s, c_id, d9,
         |  row_number() OVER (PARTITION BY vec_id, s ORDER BY d9, c_id) AS rn FROM d)
         |SELECT vec_id, CAST(s AS INT) AS subv, CAST(c_id AS INT) AS code,
         |  round(d9, 6) AS err
         |FROM r WHERE rn = 1 ORDER BY vec_id, subv""".stripMargin
    },
    "q95_random_projection" -> {
      val cols = (0 until projDims).map { j =>
        val lst = signMatrix(j).mkString("[", ", ", "]")
        s"""round(list_reduce([CAST(0 AS DOUBLE)] ||
           |    list_transform(range(1, ${srcDims + 1}),
           |      i -> (embedding[i]::DOUBLE) * ($lst)[i]),
           |    (acc, x) -> acc + x), 6) AS r$j""".stripMargin
      }.mkString(",\n  ")
      s"""SELECT vec_id,
         |  $cols
         |FROM embeddings ORDER BY vec_id""".stripMargin
    },
    "q63_embed_quantize" ->
      """WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |  list_max(list_transform(v, x -> abs(x))) / 127 AS scale FROM b),
        |qd AS (SELECT vec_id, v, scale,
        |  list_transform(v, x -> CAST(round(x / scale) AS INT)) AS q FROM s)
        |SELECT vec_id,
        |  CAST(len(v) AS INT) AS n_dims,
        |  round(scale, 9) AS scale,
        |  CAST(list_sum(q) AS BIGINT) AS q_sum,
        |  list_min(q) AS q_min,
        |  list_max(q) AS q_max,
        |  round(list_sum(list_transform(range(1, len(v) + 1),
        |    i -> abs(v[i] - q[i] * scale))), 6) AS l1_err
        |FROM qd ORDER BY vec_id""".stripMargin,
    "q31_knn_brute" ->
      s"""SELECT query_id, neighbor_id, CAST(rn AS INT) AS rn, round(sim9, 4) AS sim
         |FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(${duckCos.format("q", "c")}, 9) AS sim9,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY round(${duckCos.format("q", "c")}, 9) DESC, c.vec_id) AS rn
         |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 5
         |) WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
    "q32_lsh_ann" ->
      s"""WITH b AS (SELECT vec_id, embedding, $duckBucket AS bucket FROM embeddings)
         |SELECT vec_id, neighbor_id, round(sim9, 4) AS sim, CAST(bucket AS INT) AS bucket
         |FROM (
         |  SELECT l.vec_id AS vec_id, r.vec_id AS neighbor_id, l.bucket AS bucket,
         |    round(${duckCos.format("l", "r")}, 9) AS sim9,
         |    row_number() OVER (PARTITION BY l.vec_id
         |      ORDER BY round(${duckCos.format("l", "r")}, 9) DESC, r.vec_id) AS rn
         |  FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id <> r.vec_id
         |) WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "q36_embed_neardup" -> {
      val banded = OracleSql.lshBandRows
      s"""WITH banded AS (
         |  $banded),
         |cand AS (
         |  SELECT DISTINCT cl.vec_id AS v1, cr.vec_id AS v2
         |  FROM banded cl JOIN banded cr
         |  ON cl.band = cr.band AND cl.bucket = cr.bucket AND cl.vec_id < cr.vec_id)
         |SELECT v1 AS vec_id_1, v2 AS vec_id_2,
         |  round(round(${duckCos.format("e1", "e2")}, 9), 4) AS sim
         |FROM cand JOIN embeddings e1 ON v1 = e1.vec_id
         |          JOIN embeddings e2 ON v2 = e2.vec_id
         |WHERE round(${duckCos.format("e1", "e2")}, 9) >= 0.4
         |ORDER BY vec_id_1, vec_id_2""".stripMargin
    },
    "q72_ann_recall" ->
      s"""WITH sample AS (
         |  SELECT vec_id AS q_id FROM embeddings
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $recallSampleN),
         |${OracleSql.ivfAssignedTop2},
         |ivf AS (
         |  SELECT vec_id AS q_id, round(sim9, 4) AS ivf_sim
         |  FROM (
         |    SELECT l.vec_id AS vec_id,
         |      round(${duckCos.format("l", "r")}, 9) AS sim9,
         |      row_number() OVER (PARTITION BY l.vec_id
         |        ORDER BY round(${duckCos.format("l", "r")}, 9) DESC, r.vec_id) AS rn
         |    FROM assigned l JOIN (SELECT * FROM assigned WHERE arn = 1) r
         |    ON l.cell_id = r.cell_id AND l.vec_id <> r.vec_id
         |  ) WHERE rn = 1 AND vec_id IN (SELECT q_id FROM sample)),
         |brute AS (
         |  SELECT q.vec_id AS q_id, max(round(${duckCos.format("q", "c")}, 9)) AS bsim9
         |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id IN (SELECT q_id FROM sample) GROUP BY 1),
         |hits AS (
         |  SELECT count(*) AS n_eval,
         |    CAST(sum(CASE WHEN ivf_sim >= round(bsim9, 4) THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |  FROM ivf JOIN brute USING (q_id))
         |SELECT n_eval, n_hits,
         |  round(CAST(n_hits AS DOUBLE) / n_eval, 4) AS recall FROM hits""".stripMargin,
    // the identical home-cell rank over the same 64 pivots, reduced to
    // the occupancy histogram with per-cell micro-nat entropy terms
    "q215_ivf_coverage" ->
      s"""WITH assigned AS (
         |  SELECT vec_id, cell_id FROM (
         |    SELECT v.vec_id, p.vec_id AS cell_id,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY round(${duckCos.format("v", "p")}, 9) DESC, p.vec_id) AS arn
         |    FROM embeddings v CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 64) p
         |  ) WHERE arn = 1),
         |occ AS (SELECT cell_id, count(*) AS c FROM assigned GROUP BY 1),
         |wn AS (SELECT cell_id, c, CAST(sum(c) OVER () AS BIGINT) AS n FROM occ)
         |SELECT CAST(max(n) AS BIGINT) AS n_vectors,
         |  CAST(64 AS BIGINT) AS n_cells,
         |  CAST(64 - count(*) AS BIGINT) AS n_empty,
         |  CAST(max(c) AS BIGINT) AS max_cell,
         |  CAST(min(c) AS BIGINT) AS min_cell,
         |  CAST(sum(c * CAST(round(ln(CAST(n AS DOUBLE) / c) * 1000000)
         |    AS BIGINT)) // max(n) AS BIGINT) AS entropy_micro,
         |  CAST((sum(c * CAST(round(ln(CAST(n AS DOUBLE) / c) * 1000000)
         |    AS BIGINT)) // max(n)) * 1000000 // 4158883 AS BIGINT)
         |    AS balance_ppm
         |FROM wn""".stripMargin,
    "q47_ivf_ann" ->
      s"""WITH ${OracleSql.ivfAssignedTop2}
         |SELECT vec_id, CAST(cell_id AS INT) AS cell_id, neighbor_id,
         |  round(sim9, 4) AS sim
         |FROM (
         |  SELECT l.vec_id AS vec_id, l.cell_id AS cell_id,
         |    r.vec_id AS neighbor_id,
         |    round(${duckCos.format("l", "r")}, 9) AS sim9,
         |    row_number() OVER (PARTITION BY l.vec_id
         |      ORDER BY round(${duckCos.format("l", "r")}, 9) DESC, r.vec_id) AS rn
         |  FROM assigned l JOIN (SELECT * FROM assigned WHERE arn = 1) r
         |  ON l.cell_id = r.cell_id AND l.vec_id <> r.vec_id
         |) WHERE rn = 1 ORDER BY vec_id""".stripMargin)
}
