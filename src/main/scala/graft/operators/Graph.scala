package graft.operators

import graft.{OracleSql, Q, QueryModule}
import graft.functions.Hashing.{hllBuckets, hllEstimate, hllRanks, hllSmallRange}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Iterative graph analytics beyond q59's connected components (reference
  * scope: the reference has no graph surface; this is part of the
  * beyond-reference large-pipeline slice, SURVEY.md §7 M5 — link-graph
  * ranking is how a training-data pipeline scores page/document importance
  * for sampling weights).
  *
  * PageRank here is the shuffle-only formulation GraphX itself lowers to:
  * per-iteration `edges ⋈ ranks → groupBy(dst).sum`, i.e. one keyed
  * equi-join plus one hash aggregate per iteration — no driver-side graph,
  * no collect. The edge list (with out-degrees attached) is staged to
  * parquet ONCE and re-scanned per iteration, the same lineage discipline
  * as q59's CC loop: without staging, every iteration would recompute the
  * upstream `distinct`, and leaf statistics would be opaque to AQE.
  *
  * All rank arithmetic is 64-bit fixed-point (scale 1e6) with integer
  * `div` — floating-point sums are addition-order-dependent, so a double
  * formulation could never hash-match an oracle; the integer one is exact
  * and engine-independent. Dangling-node mass (sinks contribute nothing)
  * is dropped, the convention of the original PageRank paper's simplest
  * variant, mirrored in the oracle.
  */
object Graph extends QueryModule {

  private val iters = 3
  private val initRank = 1000000L // fixed-point 1.0
  private val partOffset = 10000000L

  /** q106 — 3-iteration PageRank over the order→part bipartite purchase
    * graph (distinct lineitem FK pairs; part nodes offset into their own
    * id space). Emits the top-10 nodes by final rank — a
    * TakeOrderedAndProject, so output stays O(k) no matter the graph size.
    */
  val pageRank: Q = (s, d) => {
    // distinct FK pairs off the shared staged leaf (one DISTINCT per
    // session, not per query); both references below are leaf scans
    val raw = graft.Scratch.read(s, purchasePairsDir(s, d))
      .select(col("o").as("src"), (col("p") + lit(partOffset)).as("dst"))
    val withDeg = raw.join(
      raw.groupBy("src").agg(count(lit(1)).as("out_deg")), "src")
    val edges = graft.Scratch.stage("graft_pr_edges", withDeg)
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val stagedNodes = graft.Scratch.stage("graft_pr_nodes", nodes)

    var ranks = stagedNodes.select(col("node"), lit(initRank).as("pr"))
    for (_ <- 1 to iters) {
      val inbound = edges.join(ranks, edges("src") === ranks("node"))
        .select(col("dst"), expr("pr div out_deg").as("c"))
        .groupBy("dst").agg(sum("c").as("m"))
      ranks = stagedNodes.join(inbound, stagedNodes("node") === inbound("dst"), "left")
        .select(stagedNodes("node"),
          expr("CAST(150000 + (85 * coalesce(m, CAST(0 AS BIGINT))) div 100 AS BIGINT)")
            .as("pr"))
    }
    ranks.orderBy(col("pr").desc, col("node")).limit(10)
  }

  /** q261 — PERSONALIZED PageRank on the bidirectional order↔part
    * purchase graph, seeded at one nation's orders: the Pixie-style
    * bipartite random walk with restart that powers "relevant items for
    * THIS cohort" serving (teleport mass returns only to the seed set, so
    * rank localizes around the seeds' purchase neighborhood instead of
    * measuring global importance — q106 answers "what matters overall",
    * this answers "what matters to nation-3 buyers"). Same shuffle-only
    * mechanics and fixed-point integer arithmetic as q106 (one keyed
    * equi-join + one hash aggregate per round, exact `div`, no floats),
    * with two deltas: edges are DOUBLED into both directions (the walk
    * must come back order→part→order to find sibling orders — on the
    * one-way bipartite DAG all mass would dangle at parts after round 1),
    * and the teleport CASE keys on an `is_seed` flag carried ON the
    * staged node table, so the restart costs nothing per round. Seeds
    * start with all the mass (r0 = initRank on seeds, 0 elsewhere).
    * Emits the top-10 PART-side nodes (parts are never seeds — the read
    * is pure recommendation), TakeOrderedAndProject O(k).
    */
  val pprSeedNation = 3
  val personalizedPageRank: Q = (s, d) => {
    val raw = graft.Scratch.read(s, purchasePairsDir(s, d))
      .select(col("o").as("src"), (col("p") + lit(partOffset)).as("dst"))
    val bi = raw.union(raw.select(col("dst").as("src"), col("src").as("dst")))
    val withDeg = bi.join(
      bi.groupBy("src").agg(count(lit(1)).as("out_deg")), "src")
    val edges = graft.Scratch.stage("graft_ppr_edges", withDeg)
    val seeds = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)
          .filter(col("c_nationkey") === pprSeedNation)
          .select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey").as("node")).distinct()
    val nodes = bi.select(col("src").as("node")).distinct()
      .join(seeds.withColumn("is_seed", lit(1)), Seq("node"), "left")
      .select(col("node"), coalesce(col("is_seed"), lit(0)).as("is_seed"))
    val stagedNodes = graft.Scratch.stage("graft_ppr_nodes", nodes)

    var ranks = stagedNodes.select(col("node"),
      (col("is_seed").cast("long") * lit(initRank)).as("pr"))
    for (_ <- 1 to iters) {
      val inbound = edges.join(ranks, edges("src") === ranks("node"))
        .select(col("dst"), expr("pr div out_deg").as("c"))
        .groupBy("dst").agg(sum("c").as("m"))
      ranks = stagedNodes.join(inbound, stagedNodes("node") === inbound("dst"), "left")
        .select(stagedNodes("node"),
          expr("""CAST(is_seed * 150000
                + (85 * coalesce(m, CAST(0 AS BIGINT))) div 100 AS BIGINT)""")
            .as("pr"))
    }
    ranks.filter(col("node") > partOffset)
      .select((col("node") - partOffset).as("part"), col("pr"))
      .orderBy(col("pr").desc, col("part")).limit(10)
  }

  /** q262 — HITS hubs & authorities (Kleinberg) on the order→part
    * purchase graph: the OTHER eigenvector ranking — PageRank asks
    * "where does a random walk settle", HITS asks the mutually-recursive
    * pair "which parts do the best-curating orders buy (authority), and
    * which orders buy the best parts (hub)" — the source-vs-content split
    * a crawl/curation pipeline scores with. Three rounds of the power
    * iteration, each = TWO keyed equi-join + hash-aggregate passes over
    * the staged edge list (a ← Σ h over in-edges, h ← Σ a over
    * out-edges). Unnormalized HITS grows geometrically (degree^round) and
    * would overflow BIGINT on a high-degree graph, so each half-round
    * renormalizes to ≤ ~1e6 fixed-point by the round's max — computed as
    * a 1-row broadcast (no driver sync) and applied PRODUCT-FREE
    * (`x div (xmax div 1e6)`, never `x * 1e6 div xmax`, whose product
    * term overflows once Σ-scores pass 9e12): every intermediate stays
    * under ~1e16 at ANY degree distribution. All arithmetic exact
    * integer `div`, mirrored `//` in the oracle, so the hash match
    * covers all six half-rounds. Top-10 per side via
    * TakeOrderedAndProject, O(k) output.
    *
    * The power iteration is a [[graft.Scratch.iterate]] state loop over
    * HALF-rounds: round 0 is (o, hr = initRank), odd rounds are (p, ar)
    * and even rounds (o, hr), each built from the renormed previous
    * round. Each half-round references its Σ-aggregate TWICE (renorm
    * numerator + the 1-row max) and the next builds on top, so an
    * unstaged recursion grew 4× per round; staged, both references are
    * leaf scans and the plan is linear in rounds. Round 0 renorms to
    * itself (its max is initRank, so the divisor is 1), and the final two
    * rounds are hr and ar of round [[iters]].
    */
  val hits: Q = (s, d) => {
    // the shared purchase-pair leaf IS the HITS edge list — read it
    // directly instead of re-running the distinct and re-staging a copy
    val edges = graft.Scratch.read(s, purchasePairsDir(s, d))
    // Renorm invariant made LOUD: `x div (xmax div initRank)` is only a
    // renormalization when xmax >= initRank (true today — h0 = initRank
    // and every node has >= 1 edge, so each half-round's max sum can only
    // grow). If an edge-set change ever broke it, Spark's non-ANSI `div`
    // by zero would yield NULL silently while the DuckDB oracle errors —
    // assert_true makes Spark fail as loudly as the oracle, in-plan (no
    // extra per-iteration driver sync).
    def renorm(x: String, xmax: String) = expr(
      s"""CASE WHEN assert_true($xmax >= $initRank,
         |  'q262 HITS renorm invariant broke: max half-round score < initRank')
         |  IS NULL THEN $x div ($xmax div $initRank) END""".stripMargin)
    // (key, raw) renormed to (key, out) by the half-round's 1-row max
    def renormed(half: org.apache.spark.sql.DataFrame, key: String,
        raw: String, out: String) =
      half.crossJoin(broadcast(half.agg(max(raw).as("xmax"))))
        .select(col(key), renorm(raw, "xmax").as(out))
    val (hrDir, arDir) = graft.Scratch.iterate(s, "graft_hits_r",
        edges.select(col("o")).distinct().select(col("o"), lit(initRank).as("hr")),
        graft.Scratch.Depth(2 * iters)) { (r, prev) =>
      if (r % 2 == 1) // a ← Σ h over in-edges
        edges.join(renormed(prev, "o", "hr", "h"), "o")
          .groupBy("p").agg(sum("h").as("ar"))
      else // h ← Σ a over out-edges
        edges.join(renormed(prev, "p", "ar", "a"), "p")
          .groupBy("o").agg(sum("a").as("hr"))
    }
    val hub = renormed(graft.Scratch.read(s, hrDir), "o", "hr", "h")
    val auth = renormed(graft.Scratch.read(s, arDir), "p", "ar", "a")
    auth.orderBy(col("a").desc, col("p")).limit(10)
      .select(lit("authority").as("kind"), col("p").as("node"),
        col("a").as("score"))
      .unionByName(hub.orderBy(col("h").desc, col("o")).limit(10)
        .select(lit("hub").as("kind"), col("o").as("node"),
          col("h").as("score")))
      .orderBy(col("kind"), col("score").desc, col("node"))
  }

  /** q138 — TRIANGLE COUNT + global clustering coefficient over the
    * part-co-purchase graph (parts linked when they appear in the same
    * order — the market-basket graph; ~1.2M canonical edges at sf0.1).
    * Completes the graph trio: connected components (q59/q131) for
    * structure, PageRank (q106) for importance, triangles for cohesion.
    *
    * Scale shape — the MapReduce-classic DEGREE-ORDERED orientation: every
    * edge points from its lower-(degree, id) endpoint to the higher, so
    * out-degrees are bounded O(√m) on any graph (the arboricity argument)
    * where a naive by-id orientation lets one popular hub own its full
    * degree. The count is then the adjacency-intersection form —
    * T = Σ over oriented edges (u→v) of |N⁺(u) ∩ N⁺(v)|, one native
    * sorted-merge walk of two degree-bounded out-lists per EDGE (the same
    * kernel as the dedup verify and q139's posting intersection) — which
    * replaces wedge-pair materialization (41M rows at sf0.1) with 1.2M
    * bounded walks; measured median-of-3 at sf0.1: 7.6s → 3.9s. Wedges for the coefficient come
    * from exact integer degree math, never enumeration. Everything
    * integer, hash-exact: the oracle counts the same triangles by the
    * orientation-free canonical u<v<w join — result invariance between
    * the two formulations is itself part of the check. cc_ppm =
    * (3·T·10⁶) div wedges, exact integer arithmetic in both engines.
    */
  /** The distinct (order, part) purchase-pair leaf, memoized per input
    * dir ([[graft.Scratch.PerDir]]): the bipartite
    * base every graph in this module is built from. Before round 17 each
    * graph query re-ran the lineitem scan + DISTINCT shuffle for itself —
    * q106/q261/q262 directly, and every co-purchase consumer inside its
    * own self-join build; one staged leaf turns those repeated passes into
    * leaf scans (guide §2.4: remove shuffles outright — the distinct is
    * computed once, not once per query). */
  private val pairCache = new graft.Scratch.PerDir[String]

  private[graft] def purchasePairsDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    pairCache(d) {
      graft.Scratch.write("graft_op_pairs", Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct())
    }

  /** The co-purchase pair AGGREGATE — (u < v part pair, m = number of
    * shared orders, m_base = shared orders outside q255's delta slice) —
    * memoized per input dir. This is the module's single most
    * expensive shared build (basket self-join + hash aggregate over every
    * order's item-pair mass), and before round 17 it was rebuilt from
    * scratch by SEVEN independent queries (q148 kcore, q159 gnn-sample,
    * q177 link-predict, q217 item-recs, q255 incremental-cc, q276 k-truss,
    * and the LPA family via lpaEdgesDir): identical rows, seven
    * self-joins. One staged leaf serves them all — the canonical edge set
    * is the m ≥ 1 projection (q138's triArtifacts), the repeat graph is
    * the m ≥ 2 filter, q217 reads m itself, and q255 reads m_base; parquet
    * column pruning makes the extra columns free for consumers that only
    * want (u, v). Carrying m_base here is sound because [[incSliceMod]] /
    * [[incSliceRem]] are JVM constants — the leaf is a pure function of
    * the input dir, the memo key. */
  private val coPairCache = new graft.Scratch.PerDir[String]

  private[graft] def coPairsDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    coPairCache(d) {
      val items = graft.Scratch.read(s, purchasePairsDir(s, d))
      val pm = items.alias("a").join(items.alias("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("u"), col("b.p").as("v"))
        .agg(count(lit(1)).as("m"),
          sum(when(col("a.o") % incSliceMod =!= incSliceRem, 1L)
            .otherwise(0L)).as("m_base"))
      graft.Scratch.write("graft_copairs", pm)
    }

  /** The REPEAT co-purchase edge list (pairs sharing ≥ 2 orders) off the
    * shared leaf — a pruned-column leaf scan plus a cheap filter, replacing
    * the per-query self-join rebuilds. */
  private def repeatEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.Scratch.read(s, coPairsDir(s, d)).filter(col("m") >= 2).select("u", "v")

  /** q138/q265 shared artifacts — (canonical co-purchase edge dir,
    * degree-ORIENTED edge dir) — memoized per input dir: the global
    * transitivity (q138)
    * and the per-node coefficients (q265) are two reads of the SAME
    * oriented adjacency, so the O(m)-wide joins run once. Staged because
    * each leaf is scanned repeatedly (orientation, adjacency build,
    * closure probe) — the PR edge-list lineage discipline. */
  private val triCache = new graft.Scratch.PerDir[(String, String)]

  private[graft] def triArtifacts(s: org.apache.spark.sql.SparkSession,
      d: String): (String, String) =
    triCache(d) {
      // canonical (u < v) edges = the m ≥ 1 projection of the shared
      // co-purchase leaf; staged narrow (two columns) because the loops
      // and walks downstream scan this leaf many times
      val rawEdges = graft.Scratch.read(s, coPairsDir(s, d)).select("u", "v")
      val tmpE = graft.Scratch.write("graft_tri_edges", rawEdges)
      (tmpE, graft.Scratch.write("graft_tri_dir",
        degreeOriented(graft.Scratch.read(s, tmpE))))
    }

  /** Each endpoint's degree over the undirected `edges` (u, v): (x, dg). */
  private def degrees(edges: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    edges.select(col("u").as("x"))
      .union(edges.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("dg"))

  /** `edges` (u, v) oriented low-degree first (ties: smaller id) as (s, t):
    * an acyclic orientation, so every triangle is seen at exactly one
    * oriented edge. */
  private def degreeOriented(edges: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val deg = degrees(edges)
    val lowFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    edges
      .join(deg.select(col("x").as("u"), col("dg").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("dg").as("dv")), "v")
      .select(when(lowFirst, col("u")).otherwise(col("v")).as("s"),
        when(lowFirst, col("v")).otherwise(col("u")).as("t"))
  }

  val triangleCount: Q = (s, d) => {
    val (edgeDir, orientedDir) = triArtifacts(s, d)
    val edges = graft.Scratch.read(s, edgeDir)
    val deg = degrees(edges)
    val staged = graft.Scratch.read(s, orientedDir)
    // adjacency-intersection form: T = Σ over oriented edges (u→v) of
    // |N⁺(u) ∩ N⁺(v)| — the orientation is acyclic, so triangle a→b→c is
    // counted exactly once, at edge (a→b) with c in both out-lists. One
    // merge walk of two degree-bounded sorted lists per EDGE replaces the
    // wedge-pair materialization (41M rows at sf0.1 → 1.2M walks), and
    // the walk is the same native kernel the dedup verify and q139's
    // posting intersection run.
    val adj = staged.groupBy("s").agg(sort_array(collect_list("t")).as("nbrs"))
    val perEdge = staged
      .join(adj.select(col("s").as("ju"), col("nbrs").as("nu")),
        col("s") === col("ju"))
      .join(adj.select(col("s").as("jv"), col("nbrs").as("nv")),
        col("t") === col("jv"), "left") // sink vertices have no out-list
      .select(coalesce(
        call_function("sorted_intersect_size", col("nu"), col("nv")),
        lit(0)).as("c"))
    val nV = deg.agg(count(lit(1)).as("n_vertices"))
    val nE = edges.agg(count(lit(1)).as("n_edges"))
    val nW = deg.agg(sum(expr("dg * (dg - 1) div 2")).as("n_wedges"))
    val nT = perEdge.agg(sum("c").cast("long").as("n_triangles"))
    nV.crossJoin(nE).crossJoin(nW).crossJoin(nT)
      .select(col("n_vertices"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        expr("(3 * n_triangles * 1000000) div n_wedges").as("cc_ppm"))
  }

  /** q265 — PER-NODE LOCAL CLUSTERING COEFFICIENT over the same
    * co-purchase graph: q138 answers "how clustered is the graph"
    * (global transitivity); this answers "how clustered is each node's
    * neighborhood" — lcc(x) = 2·tri(x)/(deg(x)·(deg(x)−1)), the
    * Watts–Strogatz statistic a curation pipeline reads to separate
    * community members (high lcc) from bridge/spam hubs (high degree,
    * low lcc). Reuses [[triArtifacts]]' staged oriented adjacency: the
    * triangle ENUMERATION is the same degree-bounded intersection walk
    * as q138, except the common neighbors are kept as elements
    * (`array_intersect` + explode — output-linear in triangles, the
    * irreducible price of per-node attribution) and each triangle
    * credits all three corners via one posexplode-free `explode(array)`.
    * Everything after is hash aggregates and exact BIGINT arithmetic
    * (2·tri·10⁶ stays < 2⁶² while tri ≤ deg²/2 and deg < 2²⁰ — far past
    * any co-purchase hub). Output: the top-10 highest-degree hubs with
    * their lcc (the hub-vs-community read), then a summary row
    * (node = −1) carrying the deg≥2 node count, the total triangle count
    * (Σ credits div 3 — which must equal q138's n_triangles, a built-in
    * cross-operator identity), and the AVERAGE lcc in ppm.
    */
  val localClustering: Q = (s, d) => {
    val (edgeDir, orientedDir) = triArtifacts(s, d)
    val edges = graft.Scratch.read(s, edgeDir)
    val deg = degrees(edges)
    val staged = graft.Scratch.read(s, orientedDir)
    val adj = staged.groupBy("s").agg(sort_array(collect_list("t")).as("nbrs"))
    val triples = staged
      .join(adj.select(col("s").as("ju"), col("nbrs").as("nu")),
        col("s") === col("ju"))
      .join(adj.select(col("s").as("jv"), col("nbrs").as("nv")),
        col("t") === col("jv")) // inner: sink vertices close no triangle
      .select(col("s").as("a"), col("t").as("b"),
        explode(array_intersect(col("nu"), col("nv"))).as("c"))
    val credits = triples
      .select(explode(array(col("a"), col("b"), col("c"))).as("x"))
      .groupBy("x").agg(count(lit(1)).as("tri"))
    val lcc = deg.join(credits, Seq("x"), "left")
      .select(col("x").cast("long").as("node"), col("dg").as("degree"),
        coalesce(col("tri"), lit(0L)).as("n_triangles"))
      .withColumn("lcc_ppm", expr(
        """CASE WHEN degree >= 2
          |  THEN (2 * n_triangles * 1000000) div (degree * (degree - 1))
          |  ELSE CAST(0 AS BIGINT) END""".stripMargin))
    val top = lcc.orderBy(col("degree").desc, col("node")).limit(10)
      .withColumn("rk", (row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("degree").desc, col("node"))) - 1).cast("int"))
      .select("rk", "node", "degree", "n_triangles", "lcc_ppm")
    val summary = lcc.filter(col("degree") >= 2)
      .agg(count(lit(1)).as("n2"), sum("n_triangles").as("cr"),
        sum("lcc_ppm").as("lp"))
      .select(lit(10).as("rk"), lit(-1L).as("node"), col("n2").as("degree"),
        expr("cr div 3").as("n_triangles"),
        expr("lp div n2").as("lcc_ppm"))
    top.unionByName(summary).orderBy("rk")
  }

  /** q266 — DEGREE ASSORTATIVITY (Newman's r) over the co-purchase
    * graph: do hubs link to hubs (r > 0, social-network shape) or to
    * leaves (r < 0, the hub-and-spoke shape co-purchase graphs usually
    * take)? The one-number summary that, with q223's power-law fit and
    * q265's clustering, completes the standard topology card a pipeline
    * attaches to a graph dataset. Definition: Pearson correlation of
    * (deg(u), deg(v)) over the SYMMETRIZED edge list (each undirected
    * edge contributes both orientations — the textbook estimator).
    *
    * Parity discipline: all five moment sums accumulate in
    * DECIMAL(38,0) (exact, order-independent — the Exact-pattern
    * argument; BIGINT would wrap silently past ~9e18, decimal38 carries
    * the same audit headroom to ~1e38), and floating point appears only
    * in the LAST expression — cast-to-double, divide, sqrt, all
    * correctly-rounded IEEE ops applied to identical inputs in
    * identical order in both engines, then round(4) (the q33 corr
    * discipline). Reuses [[triArtifacts]]' staged edge leaf: one
    * symmetrize-union, two degree equi-joins, one 1-row aggregate —
    * no new shuffle shapes at any scale.
    */
  val assortativity: Q = (s, d) => {
    val (edgeDir, _) = triArtifacts(s, d)
    val edges = graft.Scratch.read(s, edgeDir)
    val deg = degrees(edges)
    val pairs = edges
      .union(edges.select(col("v").as("u"), col("u").as("v")))
      .join(deg.select(col("x").as("u"), col("dg").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("dg").as("dv")), "v")
      .select(col("du").cast("decimal(38,0)").as("dx"),
        col("dv").cast("decimal(38,0)").as("dy"))
    val nV = deg.agg(count(lit(1)).as("n_nodes"))
    val nE = edges.agg(count(lit(1)).as("n_edges"))
    val mom = pairs.agg(count(lit(1)).as("n_pairs"),
      sum("dx").as("sx"), sum("dy").as("sy"),
      sum(expr("dx * dy")).as("sxy"),
      sum(expr("dx * dx")).as("sxx"),
      sum(expr("dy * dy")).as("syy"))
    nV.crossJoin(nE).crossJoin(mom)
      .select(col("n_nodes"), col("n_edges"), col("n_pairs"),
        expr("(2 * n_edges * 1000) div n_nodes").as("avg_degree_milli"),
        round(
          (col("n_pairs") * col("sxy") - col("sx") * col("sy")).cast("double")
            / sqrt((col("n_pairs") * col("sxx") - col("sx") * col("sx"))
              .cast("double"))
            / sqrt((col("n_pairs") * col("syy") - col("sy") * col("sy"))
              .cast("double")),
          4).as("assortativity"))
  }

  /** q276 truss order (edges must sit in ≥ trussK−2 triangles) and the
    * fixed unroll depth both engines replay (the q148 discipline). */
  private[graft] val trussK = 4
  private[graft] val trussRounds = 12

  /** Triangle triples (a, b, c) of an arbitrary CANONICAL (u < v) edge
    * set, by the q138/q265 degree-oriented intersection walk — staged
    * orientation, adjacency build, one merge walk per oriented edge.
    * Shared by q276's per-round support recomputation. */
  private def trussTriples(s: org.apache.spark.sql.SparkSession,
      edges: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dir = degreeOriented(edges)
    val adj = dir.groupBy("s").agg(sort_array(collect_list("t")).as("nbrs"))
    dir
      .join(adj.select(col("s").as("ju"), col("nbrs").as("nu")),
        col("s") === col("ju"))
      .join(adj.select(col("s").as("jv"), col("nbrs").as("nv")),
        col("t") === col("jv"))
      .select(col("s").as("a"), col("t").as("b"),
        explode(array_intersect(col("nu"), col("nv"))).as("c"))
  }

  /** q276 — k-TRUSS PEELING (convergent): the EDGE-cohesion ladder above
    * q148's node k-core — an edge survives the 4-truss iff it sits in
    * ≥ 2 surviving triangles, so peeling removes bridge/spam edges that
    * degree alone (k-core keeps any well-connected hub) cannot: the
    * community-backbone extraction step before mining dense structure.
    * Synchronous peel to the fixpoint over the REPEAT-co-purchase edge
    * list (q148's m ≥ 2 cut — see the inline note): each round
    * re-enumerates triangles
    * on the ALIVE set via the degree-oriented intersection walk
    * ([[trussTriples]] — never wedge materialization), credits each
    * triangle to its three canonical edges, and drops edges under
    * support; alive edges re-stage per round (the CC-loop lineage
    * discipline — the set only shrinks, so per-round cost is monotone
    * non-increasing). Trajectory output (round, n_removed, n_alive,
    * alive_checksum) with the first zero-removal round as the in-band
    * fixpoint certificate; post-fixpoint rounds are emitted as constants
    * without recomputation (q148's argument: a zero-removal alive set is
    * provably invariant), and the oracle's [[trussRounds]] unroll
    * recomputes every round anyway — agreement certifies the shortcut.
    * The checksum is Σ (u·524287 + v) mod 1e9+7 per edge — bounded
    * per-term, exact BIGINT at any graph size both engines reach.
    */
  val ktruss: Q = (s, d) => {
    import s.implicits._
    // q148's REPEAT-co-purchase graph (pairs sharing ≥ 2 orders): the raw
    // basket graph is a dense near-clique where every edge clears any
    // small truss order (measured: zero removals at k=4) — the repeat cut
    // keeps the organic sparse structure where peeling means something.
    // Read off the shared staged co-purchase leaf (no per-query self-join).
    val rawEdges = repeatEdges(s, d)
    val rows = Vector.newBuilder[(Int, Long, Long, Long)]
    var (prevN, prevCk) = (0L, 0L)
    // round r's (removed, alive, checksum), synced off the written round
    def settled(r: Int, alive: org.apache.spark.sql.DataFrame): Boolean = {
      val st = alive.agg(count(lit(1)),
        sum(expr("(u * 524287 + v) % 1000000007"))).collect()(0)
      val (n, ck) = (st.getLong(0), if (st.isNullAt(1)) 0L else st.getLong(1))
      val removed = prevN - n
      if (r > 0) rows += ((r, removed, n, ck))
      prevN = n; prevCk = ck
      r > 0 && removed == 0L
    }
    graft.Scratch.iterate(s, "graft_truss_a", rawEdges,
        graft.Scratch.Depth(trussRounds), settled) { (_, alive) =>
      val sup = trussTriples(s, alive).select(explode(array(
          struct(least(col("a"), col("b")).as("u"),
            greatest(col("a"), col("b")).as("v")),
          struct(least(col("a"), col("c")).as("u"),
            greatest(col("a"), col("c")).as("v")),
          struct(least(col("b"), col("c")).as("u"),
            greatest(col("b"), col("c")).as("v")))).as("e"))
        .groupBy(col("e.u").as("u"), col("e.v").as("v"))
        .agg(count(lit(1)).as("sup"))
      alive.join(sup, Seq("u", "v"))
        .filter(col("sup") >= trussK - 2).select("u", "v")
    }
    val done = rows.result()
    (done ++ (done.length + 1 to trussRounds).map(r => (r, 0L, prevN, prevCk)))
      .toDF("round", "n_removed", "n_alive", "alive_checksum")
      .select(col("round").cast("int").as("round"), col("n_removed"),
        col("n_alive"), col("alive_checksum"))
      .orderBy("round")
  }

  /** q276's DELTA-PEEL shape, kept alongside the full re-enumeration for
    * the measured-both-ways record (the q237 revert discipline: never
    * swap on theory alone). Motivation, measured on a 30×-replicated
    * sf0.1 lineitem (~sf3, 1.196M repeat edges): the full shape converges
    * in 8 rounds with removals 61909/22380/1719/658/81/21/4/0 — six of
    * the eight rounds re-enumerate ~1.11M edges' triangles to remove
    * < 2k edges. Delta-peel replaces every round after the first with
    * work proportional to the REMOVED edges: round 1 runs the identical
    * full enumeration but keeps (edge, support) staged; each later round
    * enumerates only triangles TOUCHING a removed edge (one equi-join of
    * the removed set against the alive adjacency for the third vertex,
    * one semi-join closing the wedge — complete, since any triangle on a
    * removed edge (u,v) has its third vertex adjacent to u), dedupes the
    * canonical triple (a triangle holding 2–3 removed edges must
    * decrement each survivor ONCE), and subtracts. Output is IDENTICAL
    * row for row (AnalyticsSpec pins it against the full shape at
    * sf0.001, and the ~sf3 trajectories were compared directly), so the
    * q276 oracle covers both.
    *
    * Measured (median-of-3, load-stamped): ~sf3 full 31.4 s vs delta
    * 23.6 s (−25%); sf0.1 full 4.75 s vs delta 5.02 s (the one-time
    * (edge, support) staging costs ~0.3 s where a single delta round
    * exists to amortize it). Shipped as q276: the crossover favors delta
    * exactly as scale grows, the 100 TB posture; [[ktruss]] stays as the
    * reference shape the equality spec runs.
    */
  private[graft] val ktrussDelta: Q = (s, d) => {
    import s.implicits._
    val rawEdges = repeatEdges(s, d) // shared staged co-purchase leaf
    val alive0 = graft.Scratch.stage("graft_trussd_a0", rawEdges)
    val k2 = (trussK - 2).toLong
    val canon3 = array(
      struct(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v")),
      struct(least(col("a"), col("c")).as("u"),
        greatest(col("a"), col("c")).as("v")),
      struct(least(col("b"), col("c")).as("u"),
        greatest(col("b"), col("c")).as("v")))
    val sup1 = alive0.join(
        trussTriples(s, alive0).select(explode(canon3).as("e"))
          .groupBy(col("e.u").as("u"), col("e.v").as("v"))
          .agg(count(lit(1)).as("sup")),
        Seq("u", "v"), "left")
      .select(col("u"), col("v"), coalesce(col("sup"), lit(0L)).as("sup"))
    var prevAlive = alive0.count()
    var lastCk = 0L
    val rows = Vector.newBuilder[(Int, Long, Long, Long)]
    // loop round i is the alive set entering trajectory round i + 1, with
    // support counted within that same alive set
    def settled(i: Int, cur: org.apache.spark.sql.DataFrame): Boolean = {
      val st = cur.agg(
        sum(when(col("sup") >= k2, 1L).otherwise(0L)),
        sum(when(col("sup") >= k2, expr("(u * 524287 + v) % 1000000007"))
          .otherwise(0L))).collect()(0)
      val n = if (st.isNullAt(0)) 0L else st.getLong(0)
      val ck = if (st.isNullAt(1)) 0L else st.getLong(1)
      val removed = prevAlive - n
      rows += ((i + 1, removed, n, ck))
      prevAlive = n; lastCk = ck
      removed == 0L
    }
    graft.Scratch.iterate(s, "graft_trussd_s", sup1,
        graft.Scratch.Depth(trussRounds - 1), settled) { (_, cur) =>
      val rem = cur.filter(col("sup") < k2).select("u", "v")
      val keep = cur.filter(col("sup") >= k2)
      val adj = cur.select(col("u").as("x"), col("v").as("y"))
        .union(cur.select(col("v").as("x"), col("u").as("y")))
      // third vertex w: adjacent to u in the ENTERING alive set (which
      // still holds the removed edges — triangles among them were
      // counted in sup and must be subtracted too)
      val candT = rem.join(adj, col("u") === col("x"))
        .filter(col("y") =!= col("v"))
        .select(col("u"), col("v"), col("y").as("w"))
      val tR = candT.join(cur.select(col("u").as("cu"), col("v").as("cv")),
          least(col("v"), col("w")) === col("cu") &&
            greatest(col("v"), col("w")) === col("cv"), "left_semi")
        .select(sort_array(array(col("u"), col("v"), col("w"))).as("t"))
        .distinct()
        .select(col("t")(0).as("a"), col("t")(1).as("b"),
          col("t")(2).as("c"))
      val decr = tR.select(explode(canon3).as("e"))
        .groupBy(col("e.u").as("u"), col("e.v").as("v"))
        .agg(count(lit(1)).as("d"))
      keep.join(decr, Seq("u", "v"), "left")
        .select(col("u"), col("v"),
          (col("sup") - coalesce(col("d"), lit(0L))).as("sup"))
    }
    val done = rows.result()
    (done ++ (done.length + 1 to trussRounds).map(r => (r, 0L, prevAlive, lastCk)))
      .toDF("round", "n_removed", "n_alive", "alive_checksum")
      .select(col("round").cast("int").as("round"), col("n_removed"),
        col("n_alive"), col("alive_checksum"))
      .orderBy("round")
  }

  /** k-core threshold and peel-round bound (q148). */
  private val coreK = 3
  private val coreRounds = 12

  /** q148 — k-CORE PEELING over the REPEAT-co-purchase graph (parts
    * linked when they share ≥ 2 orders — the multiplicity cut keeps the
    * organic sparse structure where the raw basket graph is a dense
    * near-clique with a degenerate core threshold). Completes the graph
    * quartet: components for structure, PageRank for importance,
    * triangles for cohesion, cores for DENSITY STRATIFICATION — the
    * standard "peel off the sparse fringe" step before expensive
    * community detection at scale. Semantics: exactly [[coreRounds]]
    * synchronous peel rounds (every node whose degree among ALIVE nodes
    * is < k drops, all at once — the parallel-peeling formulation), with
    * the output the per-round TRAJECTORY: nodes removed, nodes alive, an
    * id checksum of the survivors. Fixed rounds are the q106 discipline —
    * both engines run the identical recursion depth, so parity cannot
    * hinge on convergence detection; the trajectory's tail going to zero
    * removals IS the convergence audit (the fixtures converge in ≤ 10
    * rounds; a production driver loops until the removed count hits 0,
    * one `while` around the same staged round body). Each round is two
    * semi-joins (edge endpoints against the alive set) + one hash
    * aggregate, alive staged per round like the CC loop — the alive set
    * only shrinks, so per-round cost is monotone non-increasing at any
    * scale. Once a round removes nothing, the alive set is provably
    * invariant, so the remaining trajectory rows are emitted as constants
    * without recomputation (measured at sf0.1: 6.4s → the converged
    * rounds' cost only) — identical output, the post-fixpoint rounds are
    * mathematical no-ops in both engines.
    */
  val kcorePeel: Q = (s, d) => {
    // the shared co-purchase leaf already IS a parquet leaf — the peel
    // rounds scan it (pruned to u, v + the m filter) with no re-staging
    val edges = repeatEdges(s, d)
    val nodes = edges.select(col("u").as("x"))
      .union(edges.select(col("v").as("x"))).distinct()
    def row(r: Int, removed: Long, n: Long, ck: Long) =
      s.range(1).select(lit(r).as("round"), lit(removed).as("n_removed"),
        lit(n).as("n_alive"), lit(ck).as("alive_checksum"))
    var prevN = 0L
    var ck = 0L
    var stats = Seq.empty[org.apache.spark.sql.DataFrame]
    def settled(r: Int, alive: org.apache.spark.sql.DataFrame): Boolean =
      if (r == 0) { prevN = alive.count(); false }
      else {
        val st = alive.agg(count(lit(1)).as("n_alive"),
          coalesce(sum("x"), lit(0L)).as("alive_checksum")).head()
        val curN = st.getLong(0)
        ck = st.getLong(1)
        stats :+= row(r, prevN - curN, curN, ck)
        val fixpoint = curN == prevN
        prevN = curN
        fixpoint
      }
    graft.Scratch.iterate(s, "graft_core_alive", nodes,
        graft.Scratch.Depth(coreRounds), settled) { (_, alive) =>
      val live = edges
        .join(alive.select(col("x").as("u")), Seq("u"), "left_semi")
        .join(alive.select(col("x").as("v")), Seq("v"), "left_semi")
      val deg = live.select(col("u").as("x"))
        .union(live.select(col("v").as("x")))
        .groupBy("x").agg(count(lit(1)).as("c"))
      deg.filter(col("c") >= coreK).select("x")
    }
    // n_removed hit 0: the alive set is provably invariant from there on,
    // so later trajectory rows are constants — emitted without recomputing
    // the (identical) round
    (stats ++ (stats.length + 1 to coreRounds).map(row(_, 0L, prevN, ck)))
      .reduce(_ unionByName _).orderBy("round")
  }

  /** Label-propagation round count (q155). */
  private[graft] val lpaRounds = 3

  /** q155 — synchronous LABEL PROPAGATION (3 fixed rounds) over q148's
    * repeat-co-purchase graph: each node adopts the most frequent label
    * among its neighbors every round (ties → smallest label), labels
    * seeded as node ids — the classic near-linear community-detection
    * pass that follows k-core fringe-peeling in a production graph
    * pipeline. Output: the final communities (size, min member, id
    * checksum), largest first, top 50.
    *
    * Determinism is the whole design: SYNCHRONOUS updates (every round
    * reads only the previous round's labels — the asynchronous variant
    * is schedule-dependent and could never face an oracle), fixed round
    * count (q106/q148's discipline: both engines run the identical
    * recursion depth), and an integer argmax — the (count, label)
    * preference packs into ONE BIGINT, cnt·10¹² + (10¹² − lbl), so the
    * per-node winner is a plain max() hash aggregate, no window, no
    * struct-ordering semantics to match across engines. (Packing bound:
    * label < 10¹², neighbor-label multiplicity < 9.2·10⁶ — far above any
    * co-purchase degree here; a wider graph swaps the pack for
    * DECIMAL(38).) Per round: one equi-join (neighbor label attach, both
    * shuffle keys are node ids) + two hash aggregates, labels STAGED per
    * round (q59's lineage discipline) so round r+1 scans a parquet leaf,
    * not a 3-round lineage tree.
    */
  /** q155/q202 shared artifacts — (both-direction edge list, round-3 label
    * table) — memoized per input dir: community detection and its
    * quality audit read the SAME
    * staged labels, exactly as a production graph pipeline wires detection
    * and evaluation, and the 3-round loop runs once per session instead of
    * once per consumer.
    */
  private val lpaCache = new graft.Scratch.PerDir[(String, String)]

  /** The staged BOTH-DIRECTION repeat-co-purchase adjacency alone —
    * split out of [[lpaArtifacts]] so consumers that need only the graph
    * (q167's bounded BFS, q250's convergent BFS) don't pay the 3 LPA
    * rounds, while q155/q202/q223 still share one staging. */
  private val lpaEdgeCache = new graft.Scratch.PerDir[String]

  /** The staged adjacency's location, exposed for AnalyticsSpec's q253
    * fidelity pin (the spec recomputes exact Σ|component|² on the SAME
    * graph the HyperBall loop read). */
  private[graft] def lpaEdgesDirForSpec(s: org.apache.spark.sql.SparkSession,
      d: String): String = lpaEdgesDir(s, d)

  private def lpaEdgesDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    lpaEdgeCache(d) {
      val e2 = repeatEdges(s, d) // shared staged co-purchase leaf
      val tmpE = graft.Scratch.write("graft_lpa_edges", e2.select("u", "v")
        .union(e2.select(col("v").as("u"), col("u").as("v"))))
      // Loud precondition for the packed argmax q155/q251 run over this
      // adjacency (cnt * 1e12 + (1e12 − lbl)): Spark BIGINT wraps SILENTLY
      // (non-ANSI) once a node's packed vote reaches ~9.2e18, while the
      // DuckDB oracle raises — divergent failure modes. Vote counts are
      // bounded by degree+1 (self-vote), and label 0 packs to a FULL extra
      // 1e12 step ((cnt+1)·1e12 exactly), so the overflow bound is
      // degree+2; one staging-time check of the extremes covers every
      // round (mirrors the lpaMaxRounds loud-cap discipline).
      //
      // Label 0 itself (part key 0 is real in these fixtures) is SOUND
      // but worth knowing: packed(cnt, 0) = (cnt+1)·1e12 unpacks to 1e12,
      // i.e. the pack stably RENAMES winning-label-0 to 1e12 — in BOTH
      // engines, every round, with no collision risk (ids < 1e12 by the
      // guard, and packed(c, 1e12) = packed(c−1, 0) identifies the same
      // winner class). The one semantic wrinkle: freshly-renamed "1e12"
      // LOSES later ties that raw 0 would have won — deterministic,
      // engine-identical, and pinned by the q251 value specs; a label
      // ≥ 1e12 or < 0 would corrupt the unpack, hence the domain check.
      val ext = graft.Scratch.read(s, tmpE).groupBy("u")
        .agg(count(lit(1)).as("deg"))
        .agg(max("deg").as("maxdeg"), min("u").as("minid"),
          max("u").as("maxid")).head()
      require(ext.getLong(0) + 2 < 9200000L,
        s"LPA pack overflow: max degree+2 = ${ext.getLong(0) + 2} would wrap cnt*1e12")
      require(ext.getLong(1) >= 0L && ext.getLong(2) < 1000000000000L,
        s"LPA pack domain: node ids must lie in [0, 1e12), got [${ext.getLong(1)}, ${ext.getLong(2)}]")
      tmpE
    }

  private def lpaArtifacts(s: org.apache.spark.sql.SparkSession,
      d: String): (String, String) =
    lpaCache(d) {
      val tmpE = lpaEdgesDir(s, d)
      val ed = graft.Scratch.read(s, tmpE) // both directions: undirected adjacency
      val (labelsDir, _) = graft.Scratch.iterate(s, "graft_lpa_l",
          ownLabels(ed), graft.Scratch.Depth(lpaRounds)) { (_, labels) =>
        lpaVote(ed, labels)
      }
      (tmpE, labelsDir)
    }

  /** Every source node of `ed` (u, v) labelled with itself: (node, lbl). */
  private def ownLabels(ed: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    ed.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))

  /** One synchronous LPA round: each node u of `ed` (u, v) takes the label
    * most frequent among its neighbours' `labels` (node, lbl), ties to the
    * smallest label — one packed max, cnt·10¹² + (10¹² − lbl). */
  private def lpaVote(ed: org.apache.spark.sql.DataFrame,
      labels: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ed.join(labels.select(col("node").as("v"), col("lbl")), "v")
      .groupBy(col("u").as("node"), col("lbl"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("node")
      .agg(expr("""1000000000000 - (max(cnt * 1000000000000
             + (1000000000000 - lbl)) % 1000000000000)""").as("lbl"))

  val labelPropagation: Q = (s, d) => {
    val (_, labelsDir) = lpaArtifacts(s, d)
    graft.Scratch.read(s, labelsDir)
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"),
        min(col("node")).as("min_member"),
        sum(col("node")).as("member_checksum"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(50)
  }

  /** q202 — MODULARITY of the q155 communities: the quality number a
    * community-detection pass is judged by — Q = Σ_c [m_c/m −
    * (d_c/2m)²], the intra-community edge share minus what a random
    * degree-preserving rewiring would put there. Computed EXACTLY in
    * integers: with m2 = 2m (the both-direction edge count) and intra2_c
    * (both-direction intra-community edges), each community's term
    * scales to m2·intra2_c − d_c², so Q = q_num/q_den with
    * q_num = m2·Σintra2_c − Σd_c² and q_den = m2² — no halving, no
    * floats; the one division happens once, sign-safely (|num| is
    * divided, the sign re-applied — modularity CAN be negative, and the
    * abs-then-reapply form makes the quotient's rounding direction
    * explicit rather than resting on engine division conventions; both
    * engines in fact truncate toward zero — DuckDB's `//` included,
    * verified -40000000 // 60 = -666666 — so the forms agree).
    * Products ride in DECIMAL(38) (d_c² ≤ 4m², ×10⁶ overflows BIGINT on
    * a big graph). Scale shape: one degree aggregate, one label join per
    * edge endpoint (node-keyed equi-joins on the staged label table),
    * one per-community aggregate, then everything runs on the
    * communities-sized frame. Output one row: node/edge/community
    * counts, the exact rational (q_num, q_den), and modularity in ppm.
    */
  val modularity: Q = (s, d) => {
    val (edgesDir, labelsDir) = lpaArtifacts(s, d)
    val ed = graft.Scratch.read(s, edgesDir)
    val labels = graft.Scratch.read(s, labelsDir)
    val deg = ed.groupBy("u").agg(count(lit(1)).as("dg"))
    val dcTab = labels.join(deg, labels("node") === deg("u"))
      .groupBy("lbl").agg(sum("dg").as("dc"), count(lit(1)).as("n_nodes"))
    val intra = ed
      .join(labels.select(col("node").as("u"), col("lbl").as("lu")), "u")
      .join(labels.select(col("node").as("v"), col("lbl").as("lv")), "v")
      .filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("lbl")).agg(count(lit(1)).as("intra2"))
    dcTab.join(intra, Seq("lbl"), "left")
      .select(col("lbl"), col("dc"), col("n_nodes"),
        coalesce(col("intra2"), lit(0L)).as("intra2"))
      .agg(sum("n_nodes").as("n_nodes"),
        count(lit(1)).as("n_communities"),
        sum("dc").as("m2"),
        sum("intra2").as("sum_intra2"),
        sum(expr("CAST(dc AS DECIMAL(38,0)) * dc")).as("sum_dc2"))
      .select(col("n_nodes"), col("n_communities"),
        expr("m2 div 2").as("m_edges"),
        // BIGINT export is exact while m2 ≤ ~3·10⁹ both-direction edges
        // (q_den = m2² < 2⁶³); a larger graph keeps the DECIMAL(38)
        // internals and exports the ppm alone
        expr("CAST(CAST(m2 AS DECIMAL(38,0)) * sum_intra2 - sum_dc2 AS BIGINT)")
          .as("q_num"),
        expr("CAST(CAST(m2 AS DECIMAL(38,0)) * m2 AS BIGINT)").as("q_den"),
        expr("""CAST(CASE WHEN CAST(m2 AS DECIMAL(38,0)) * sum_intra2 >= sum_dc2
                THEN (CAST(m2 AS DECIMAL(38,0)) * sum_intra2 - sum_dc2) * 1000000
                     div (CAST(m2 AS DECIMAL(38,0)) * m2)
                ELSE -((sum_dc2 - CAST(m2 AS DECIMAL(38,0)) * sum_intra2) * 1000000
                     div (CAST(m2 AS DECIMAL(38,0)) * m2)) END AS BIGINT)""")
          .as("modularity_ppm"))
  }

  /** Per-hop neighbor-sample cap (q159). */
  private val sampleS = 5

  /** q159 — GNN-STYLE 2-HOP NEIGHBORHOOD SAMPLING + feature aggregation
    * (the GraphSAGE data-preparation shape): for every node, sample ≤ 5
    * neighbors, then ≤ 5 of each neighbor's neighbors, and aggregate a
    * node feature (degree) over the sampled 2-hop frontier. This is the
    * sampling pass a distributed GNN trainer runs per minibatch epoch —
    * the operator that turns a 100 TB edge list into bounded per-node
    * training neighborhoods.
    *
    * Determinism: the "random" sample is a HASH sample — neighbors rank
    * by md5(u:v), so both engines draw the identical neighborhood with
    * no RNG (q143's ticket discipline on edges); a re-seed is a salt in
    * the hash input. Scale shape: the rank ≤ 5 filter compiles to
    * WindowGroupLimit (the q133 discipline — each map partition forwards
    * at most 5 edges per node, so the window never materializes a hub's
    * full adjacency downstream), the 2-hop expansion joins SAMPLED
    * adjacency against SAMPLED adjacency — fan-out capped at 25 rows per
    * node BY CONSTRUCTION regardless of degree distribution — and the
    * feature attach is one node-keyed equi-join. Output one row per
    * node: exact integer counts and degree sums over the sampled
    * frontier (with repetition, as GraphSAGE aggregates).
    */
  val gnnSample: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    // the both-direction m ≥ 2 adjacency is EXACTLY the LPA family's
    // staged artifact — read it instead of rebuilding and re-staging an
    // identical copy (same leaf the q155/q251/q253 loops scan)
    val ed = graft.Scratch.read(s, lpaEdgesDir(s, d))
    val deg = ed.groupBy("u").agg(count(lit(1)).as("dg"))
    val w = Window.partitionBy("u")
      .orderBy(md5(concat(col("u").cast("string"), lit(":"),
        col("v").cast("string"))), col("v"))
    val samp = ed.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= sampleS).select("u", "v")
    val hop2 = samp.alias("x")
      .join(samp.select(col("u").as("v"), col("v").as("w2")), "v")
      .select(col("u"), col("w2"))
    val agg2 = hop2
      .join(deg.select(col("u").as("w2"), col("dg").as("dg2")), "w2")
      .groupBy("u")
      .agg(count(lit(1)).as("n_s2"),
        sum("dg2").as("sum_deg2"),
        countDistinct("w2").as("n_dist2"))
    val s1 = samp.groupBy("u").agg(count(lit(1)).as("n_s1"))
    deg.join(s1, "u").join(agg2, Seq("u"), "left")
      .select(col("u").as("node"), col("dg"), col("n_s1"),
        coalesce(col("n_s2"), lit(0L)).as("n_s2"),
        coalesce(col("sum_deg2"), lit(0L)).as("sum_deg2"),
        coalesce(col("n_dist2"), lit(0L)).as("n_dist2"))
      .orderBy("node")
  }

  /** BFS round count (q167) — hop radii 1..bfsRounds are materialized;
    * everything farther lands in the unreached bucket. */
  private val bfsRounds = 3

  /** BFS seed rule (q167): node id ≡ 0 (mod bfsSeedMod) — deterministic,
    * scale-proportional (4 seeds at sf0.001, ~400 at sf0.1), and
    * expressible identically in both engines. */
  private[graft] val bfsSeedMod = 50L

  /** q167 — MULTI-SOURCE BFS hop profile over the repeat-co-purchase
    * graph (q148/q155's edges): how much of the graph lies within 1, 2, 3
    * hops of a seed set — the reachability / blast-radius audit that
    * precedes any seed-expansion campaign (influence seeding, taint
    * tracking, crawl frontier sizing), and the missing classic next to
    * PageRank (importance), CC (structure), k-core (density), LPA
    * (community), triangles (cohesion).
    *
    * Frontier formulation — per round ONE equi-join (edges ⋈ frontier on
    * the source endpoint) plus ONE anti-join against the visited set,
    * both keyed on node id (the graph's natural shuffle key); the visited
    * set is staged per round (q59's lineage discipline) so round r+1
    * scans a parquet leaf, not a growing logical plan. Fixed
    * [[bfsRounds]] rounds, the q106/q148 parity discipline: both engines
    * run the identical recursion depth, no convergence detection to
    * disagree on. Per-node distances aggregate to one row per hop
    * (n_nodes + id checksum) plus a dist = -1 row for nodes outside the
    * 3-hop ball — output O(rounds), independent of graph size. At 100 TB
    * the frontier join is the iterated primitive Pregel lowers to; the
    * anti-join's build side (visited) only matters hash-bucketed, never
    * broadcast-whole.
    */
  val bfsHops: Q = (s, d) =>
    bfsProfile(s, d, "graft_bfs_v", graft.Scratch.Depth(bfsRounds))

  /** The q167/q250 multi-source BFS over the staged adjacency
    * ([[lpaEdgesDir]]) from the seeds x ≡ 0 (mod [[bfsSeedMod]]), run as
    * a history loop under `prefix` until `cap` or `settled`: the hop
    * profile (dist, n_nodes, id_checksum) plus the dist = -1 unreached
    * bucket. */
  private def bfsProfile(s: org.apache.spark.sql.SparkSession, d: String,
      prefix: String, cap: graft.Scratch.Cap,
      settled: (Int, org.apache.spark.sql.DataFrame) => Boolean = (_, _) => false)
      : org.apache.spark.sql.DataFrame = {
    val ed = graft.Scratch.read(s, lpaEdgesDir(s, d))
    // both directions staged, so src endpoints alone cover every node
    val nodes = ed.select(col("u").as("x")).distinct()
    // Stage only each round's FRESH slice: the visited set is the union
    // of the slice leaves (one multi-path scan), the frontier is exactly
    // the LAST slice (a direct leaf read, no filter over the full set),
    // and per-round write volume drops from |visited| to |fresh| — total
    // bytes written over the loop fall from O(rounds·n) to O(n).
    val dirs = graft.Scratch.iterateAll(s, prefix,
        nodes.filter(col("x") % bfsSeedMod === 0)
          .select(col("x"), lit(0).as("dist")),
        cap, settled) { (r, frontier, slices) =>
      val visited = graft.Scratch.read(s, slices: _*)
      val nbrs = ed.join(frontier.select(col("x").as("u")), "u")
        .select(col("v").as("x")).distinct()
      nbrs.join(visited, Seq("x"), "left_anti")
        .select(col("x"), lit(r).as("dist"))
    }
    val visited = graft.Scratch.read(s, dirs: _*)
    val reached = visited.groupBy("dist")
      .agg(count(lit(1)).as("n_nodes"), sum("x").as("id_checksum"))
    val unreached = nodes.join(visited, Seq("x"), "left_anti")
      .agg(count(lit(1)).as("n_nodes"),
        coalesce(sum("x"), lit(0L)).as("id_checksum"))
      .select(lit(-1).as("dist"), col("n_nodes"), col("id_checksum"))
    reached.unionByName(unreached).orderBy("dist")
  }

  /** Loud cap for q250's adaptive loop = the oracle's unroll depth: the
    * loop itself is unbounded in production; the parity harness requires
    * convergence within the oracle's K rounds and FAILS (require), never
    * silently truncates, if a fixture graph ever outgrows it. */
  private[graft] val bfsMaxRounds = 24

  /** q250 — ADAPTIVE-DEPTH (convergent) BFS: q167's frontier loop run
    * until the frontier EMPTIES — the full eccentricity profile instead
    * of a 3-hop ball, so a 100×-diameter graph reports every hop rather
    * than silently folding hops 4+ into the unreached bucket. Identical
    * per-round primitives (one frontier equi-join + one anti-join, both
    * node-keyed; visited staged per round — q59's lineage discipline)
    * over the SAME staged adjacency as q167 ([[lpaEdgesDir]]); the
    * driver-synced per-round frontier COUNT is the trajectory, and its
    * final 0 is the convergence certificate (AnalyticsSpec pins it via
    * [[bfsConvergedRun]]). The oracle unrolls [[bfsMaxRounds]] rounds of
    * q167's frontier CTEs — rounds past convergence add no rows (the
    * anti-join finds nothing), so the hop profile matches row for row
    * without the oracle detecting convergence; hop rows simply don't
    * exist past the last non-empty frontier in EITHER engine. Output one
    * row per realized hop distance (n_nodes, id checksum) plus the
    * dist = -1 unreached bucket — O(diameter), independent of graph
    * size.
    */
  val bfsConverged: Q = (s, d) => bfsConvergedRun(s, d)._1

  /** The q250 body, returning the frontier-size trajectory for the
    * spec's convergence pin (last entry 0, all earlier entries > 0). */
  private[graft] def bfsConvergedRun(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame, Seq[Long]) = {
    // NOTE on the sync mechanism: Dataset.observe(Observation) was tried
    // and REVERTED — Spark 4.1's classic.SparkSession.observationManager
    // is a non-transient lazy val, so the FIRST observe() in a session
    // materializes a non-serializable field and every later closure that
    // serializes the session (the spark.ml training-summary path in
    // q40/q41) dies with NotSerializableException. The per-round count is
    // instead a count() on the freshly written FRESH slice — parquet
    // footer metadata only, no data scan, and the slice is small.
    val traj = Seq.newBuilder[Long]
    val profile = bfsProfile(s, d, "graft_bfsc_v",
        graft.Scratch.Converge("q250 BFS", bfsMaxRounds, "bfsMaxRounds"),
        settled = (_, slice) => {
          val frontierN = slice.count()
          traj += frontierN
          frontierN == 0L
        })
    (profile, traj.result())
  }

  /** Loud cap for q251's adaptive loop = the oracle's unroll depth
    * (the q250 contract: cap and unroll move together). Fixtures
    * converge in ≤ 7 rounds at every scale incl. the 10× sf1 replica. */
  private[graft] val lpaMaxRounds = 24

  /** q251 — CONVERGENT (self-vote) LABEL PROPAGATION: q155's synchronous
    * LPA run until NO label changes — with one semantic upgrade that
    * makes "until" well-defined: each node's vote set includes its OWN
    * current label once (the standard damping, equivalent to adding a
    * self-loop per node). Plain synchronous LPA has the classic period-2
    * pathology — measured on these fixtures: sf0.01 and sf0.1 OSCILLATE
    * forever (changed-count plateaus at 515 / 5919, labels(t) =
    * labels(t−2)), so a changed-reaches-0 certificate never arrives;
    * with the self-vote the same graphs reach a true fixpoint in ≤ 7
    * rounds at sf0.001/0.01/0.1 AND the 10× sf1 replica. q155 keeps the
    * reference 3-round semantics; this is the production variant a
    * community pipeline actually runs, completing the convergence-
    * audited family (q245 SCC, q250 BFS, and now LPA).
    *
    * Loop discipline is q250's verbatim: per round ONE equi-join
    * (neighbor+self label attach on the staged both-direction adjacency
    * [[lpaEdgesDir]] extended with self-loops) + two hash aggregates
    * (the packed-BIGINT argmax — q155's integer tiebreak), labels STAGED
    * per round, and a 1-row driver sync carrying (n_changed,
    * n_communities, lbl_checksum). n_changed hitting 0 ends the loop —
    * that row IS the convergence certificate, in-band. Output one row
    * per executed round — O(rounds), independent of graph size. The
    * oracle unrolls [[lpaMaxRounds]] identical rounds and cuts at its
    * own first zero-change round; past the fixpoint the unrolled rounds
    * are mathematical no-ops, so an over-unroll changes nothing and an
    * under-unroll yields an empty cut (no zero row) — loud, never a
    * silent truncation. Checksum bound: labels < 10¹² (the pack bound)
    * × n nodes stays far under BIGINT at any fixture scale; a 100 TB
    * graph swaps the checksum for a DECIMAL(38) sum, nothing else moves.
    */
  val lpaConverged: Q = (s, d) => lpaConvergedRun(s, d)._1

  /** q251's self-loop-extended adjacency, memoized per input dir: the
    * loop's rounds must scan a parquet leaf (the q59 lineage
    * discipline), not re-run the node distinct + union every round. */
  private val lpacEdpCache = new graft.Scratch.PerDir[String]

  private def lpaSelfLoopEdgesDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    lpacEdpCache(d) {
      val ed = graft.Scratch.read(s, lpaEdgesDir(s, d))
      // self-loops: the self-vote is just one more (u, u) adjacency row
      graft.Scratch.write("graft_lpac_edp", ed.unionByName(
        ed.select(col("u")).distinct().select(col("u"), col("u").as("v"))))
    }

  /** The q251 body, returning the changed-count trajectory for the
    * spec's convergence pin (last entry 0, all earlier entries > 0). */
  private[graft] def lpaConvergedRun(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame, Seq[Long]) = {
    val ed = graft.Scratch.read(s, lpaEdgesDir(s, d))
    val edp = graft.Scratch.read(s, lpaSelfLoopEdgesDir(s, d))
    val traj = Seq.newBuilder[Long]
    var stats = Seq.empty[org.apache.spark.sql.DataFrame]
    def settled(r: Int, labels: org.apache.spark.sql.DataFrame): Boolean =
      r > 0 && {
        val row = labels
          .agg(sum(when(col("lbl") =!= col("plbl"), 1L).otherwise(0L))
              .as("n_changed"),
            countDistinct(col("lbl")).as("n_communities"),
            sum(col("lbl")).as("lbl_checksum"))
          .head() // the 1-row per-round driver sync (q250's contract)
        val changed = row.getLong(0)
        traj += changed
        stats = stats :+ s.range(1).select(lit(r).as("round"),
          lit(changed).as("n_changed"),
          lit(row.getLong(1)).as("n_communities"),
          lit(row.getLong(2)).as("lbl_checksum"))
        changed == 0L
      }
    graft.Scratch.iterate(s, "graft_lpac_l", ownLabels(ed),
        graft.Scratch.Converge("q251 LPA", lpaMaxRounds, "lpaMaxRounds"),
        settled) { (_, prev) =>
      // select the live columns explicitly: rounds ≥ 1 carry the previous
      // round's plbl audit column
      val labels = prev.select("node", "lbl")
      val next = lpaVote(edp, labels)
      // The previous label rides the staged round as plbl (one keyed join
      // folded into the round's OWN write pass), so the per-round stats
      // sync aggregates the fresh leaf alone; the next round's reader
      // prunes plbl. countDistinct cannot ride an observed metric, so the
      // 1-row stats sync itself stays (q250's contract).
      next.join(labels.withColumnRenamed("lbl", "plbl"), "node")
    }
    (stats.reduce(_ unionByName _).orderBy("round"), traj.result())
  }

  /** Loud cap for q252's adaptive peel = the oracle's unroll depth.
    * Fixtures converge in ≤ 10 peel rounds at every scale. */
  private[graft] val kcoreMaxRounds = 24

  /** q252 — CONVERGENT k-CORE PEELING: q148's synchronous peel run until
    * a round removes NOTHING — the production `while (removed > 0)` its
    * Scaladoc describes, shipped as an operator with the convergence
    * certificate in-band (the final n_removed = 0 row), completing the
    * fixed→convergent pairing for the whole graph family (q167→q250 BFS,
    * q210→q245 SCC, q155→q251 LPA, q148→this). Monotonicity makes the
    * certificate sound: a zero-removal round leaves the alive set —
    * hence every degree — unchanged, so no later round can remove
    * anything; the first zero is THE fixpoint in both engines.
    *
    * Reads the staged both-direction adjacency ([[lpaEdgesDir]] — the
    * same graph q148 builds canonically; degree(x) = rows with u = x, so
    * each round is two semi-joins + ONE hash aggregate, one fewer union
    * than the canonical form), alive set staged per round, 1-row driver
    * sync carrying (n_removed, n_alive, alive_checksum). Output one row
    * per executed round through the zero round — O(rounds). The oracle
    * unrolls [[kcoreMaxRounds]] rounds and cuts at its own first
    * zero-removal round (post-fixpoint unrolled rounds are no-ops, same
    * argument as q251).
    */
  val kcoreConverged: Q = (s, d) => kcoreConvergedRun(s, d)._1

  /** The q252 body, returning the removed-count trajectory for the
    * spec's convergence pin (last entry 0, all earlier entries > 0). */
  private[graft] def kcoreConvergedRun(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame, Seq[Long]) = {
    val ed = graft.Scratch.read(s, lpaEdgesDir(s, d))
    var prevN = 0L
    val traj = Seq.newBuilder[Long]
    var stats = Seq.empty[org.apache.spark.sql.DataFrame]
    def settled(r: Int, alive: org.apache.spark.sql.DataFrame): Boolean =
      if (r == 0) { prevN = alive.count(); false }
      else {
        val row = alive.agg(
          count(lit(1)).as("n_alive"),
          coalesce(sum("x"), lit(0L)).as("alive_checksum")).head()
        val curN = row.getLong(0)
        val removed = prevN - curN
        traj += removed
        stats = stats :+ s.range(1).select(lit(r).as("round"),
          lit(removed).as("n_removed"), lit(curN).as("n_alive"),
          lit(row.getLong(1)).as("alive_checksum"))
        prevN = curN
        removed == 0L
      }
    graft.Scratch.iterate(s, "graft_kcorec_a",
        ed.select(col("u").as("x")).distinct(),
        graft.Scratch.Converge("q252 k-core", kcoreMaxRounds, "kcoreMaxRounds"),
        settled) { (_, alive) =>
      val live = ed
        .join(alive.select(col("x").as("u")), Seq("u"), "left_semi")
        .join(alive.select(col("x").as("v")), Seq("v"), "left_semi")
      // both directions staged → degree is ONE aggregate over u
      live.groupBy(col("u").as("x"))
        .agg(count(lit(1)).as("c"))
        .filter(col("c") >= coreK).select("x")
    }
    (stats.reduce(_ unionByName _).orderBy("round"), traj.result())
  }

  /** q255 delta-basket rule: baskets with l_orderkey ≡ 3 (mod 20) are
    * "today's ingest" (~5%) — deterministic and expressible identically
    * in both engines (the q114/q235 delta discipline, applied to edges).
    */
  private val incSliceMod = 20L
  private val incSliceRem = 3L

  /** q255 — INCREMENTAL CONNECTED COMPONENTS: the graph twin of
    * q114/q235's delta-vs-staged-index shape. A production dedup/entity
    * graph never recomputes components from scratch per ingest — edges
    * only ARRIVE (deletions go through q248's rebuild path), and edge
    * insertion is MERGE-ONLY on components, so the update is: (1) map
    * each new edge's endpoints to their staged base labels (absent
    * endpoints label themselves), (2) run the min-label fixpoint over
    * the COMPONENT graph those collapsed edges form — a frame of
    * O(bridged components), never O(corpus) — and (3) compose
    * final(node) = merged(base_label(node)) with one broadcast-size
    * join. The m ≥ 2 repeat cut stays exact under the split: per-pair
    * multiplicity is counted once with a base/full split, so a pair
    * crossing the threshold ONLY WITH today's baskets surfaces as a new
    * edge (threshold crossings are insertions too).
    *
    * The correctness claim is the strong one: the oracle recomputes the
    * FULL graph's components from scratch (8 unrolled propagate+jump
    * super-rounds, ≥ 4⁸-hop coverage, with q245's in-band n_moved_final
    * convergence audit), so the hash match IS the incremental ≡ batch
    * equivalence proof — both engines must land on the min-node-id
    * labeling of every component. Output: the top-50 component census
    * (size, min member, id checksum), the q155/q59 readout shape.
    */
  val incrementalCc: Q = (s, d) => {
    // (u, v, m, m_base) all live on the shared staged co-purchase leaf —
    // no per-query self-join, no second staging of the same rows
    val pmS = graft.Scratch.read(s, coPairsDir(s, d)).filter(col("m") >= 2)
    val baseEdges = pmS.filter(col("m_base") >= 2)
      .select(col("u").as("d1"), col("v").as("d2"))
    val newEdges = pmS.filter(col("m_base") < 2).select("u", "v")
    val baseNodes = baseEdges.select(col("d1").as("doc_id"))
      .union(baseEdges.select(col("d2").as("doc_id"))).distinct()
    // the staged artifact a production pipeline keeps between ingests:
    // the loop's final (doc_id, label) round
    val bl = graft.Scratch.read(s, Dedup.ccMinLabels(s, baseNodes, baseEdges))
    // collapse new edges onto the component graph: O(new edges) rows
    val mergeEdges = newEdges
      .join(bl.select(col("doc_id").as("u"), col("label").as("lu")), Seq("u"), "left")
      .join(bl.select(col("doc_id").as("v"), col("label").as("lv")), Seq("v"), "left")
      .select(coalesce(col("lu"), col("u")).as("d1"),
        coalesce(col("lv"), col("v")).as("d2"))
      .filter(col("d1") =!= col("d2")).distinct()
    val mergeNodes = mergeEdges.select(col("d1").as("doc_id"))
      .union(mergeEdges.select(col("d2").as("doc_id"))).distinct()
    // an ingest can bridge nothing (every new edge lands inside one
    // component) — the fixpoint's sum certificate needs ≥ 1 row, so the
    // empty merge graph short-circuits to the empty mapping (a bounded
    // isEmpty driver sync, the loop-guard discipline)
    val merged =
      if (mergeNodes.isEmpty)
        mergeNodes.select(col("doc_id"), col("doc_id").as("label"))
      else graft.Scratch.read(s, Dedup.ccMinLabels(s, mergeNodes, mergeEdges))
    val fullNodes = pmS.select(col("u").as("node"))
      .union(pmS.select(col("v").as("node"))).distinct()
    val composed = fullNodes
      .join(bl.select(col("doc_id").as("node"), col("label").as("bl_lbl")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("bl_lbl"), col("node")).as("bl_lbl"))
      .join(merged.select(col("doc_id").as("bl_lbl"), col("label").as("m_lbl")),
        Seq("bl_lbl"), "left")
      .select(col("node"), coalesce(col("m_lbl"), col("bl_lbl")).as("label"))
    composed.groupBy(col("label").as("component"))
      .agg(count(lit(1)).as("n_members"), min(col("node")).as("min_member"),
        sum(col("node")).as("member_checksum"))
      .select(col("component"), col("n_members"), col("min_member"),
        col("member_checksum"), lit(0L).as("n_moved_final"))
      .orderBy(col("n_members").desc, col("component"))
      .limit(50)
  }

  /** Loud cap for q253's register-propagation loop = the oracle's unroll
    * depth (rounds track the graph diameter: ≤ 8 on every fixture). */
  private[graft] val hyperBallMaxRounds = 24

  /** q253 — HYPERBALL (Boldi–Vigna): the NEIGHBORHOOD FUNCTION N(t) =
    * Σ_nodes |ball(node, t)| estimated by per-node HyperLogLog register
    * banks propagated along edges — THE scalable way to read a graph's
    * distance distribution / effective diameter (an exact all-pairs BFS
    * is O(n·m); this is O(m·64) per round, the published MapReduce
    * formulation). Completes the graph family's measurement trio: q250
    * walks ONE seed set's ball exactly; this estimates EVERY node's ball
    * simultaneously in sketch space; q223 reads the degree distribution.
    *
    * Spark-first mechanics: registers live SPARSE as (node, bucket, m)
    * rows — q105's md5 bucket/rank hash seeds each node with its own id
    * at t = 0 (every sparse row has m ≥ 1, so absent row = empty
    * register, no 64× materialization). Per round: ONE node-keyed
    * equi-join pushes neighbor banks to each node, one (node, bucket)
    * hash aggregate takes the register-wise max — the register bank is a
    * monotone max-lattice, so the loop reaches an EXACT fixpoint and
    * n_changed = 0 (an anti-join on (node, bucket, m)) is a sound
    * convergence certificate, same argument as q245's min-lattice.
    * Registers staged per round (q59's lineage discipline); driver sync
    * is O(1) scalars per round. Per-node estimates reuse q105's exact
    * integer harmonic form (s_inv = Σ 2^(33−m) with absent registers
    * contributing 2^33 each) and q156's linear-counting small-range
    * switch — the one double division and one ln round identically in
    * both engines (the q156 precedent). Output: one row per round 0..R —
    * (round, n_changed, reg_checksum, nf_estimate, pct_of_final_ppm) —
    * the ball-growth trajectory (round 0's n_changed is the seeded
    * register count: every register is "new" against the empty bank);
    * the first row with pct ≥ 900000 IS the 90% effective diameter. O(rounds) output, independent of graph
    * size. The oracle unrolls [[hyperBallMaxRounds]] rounds and cuts at
    * its own first zero-change round (post-fixpoint rounds are no-ops —
    * the q251/q252 contract).
    */
  val hyperBall: Q = (s, d) => hyperBallRun(s, d)._1

  /** q253/q258 shared artifacts — (per-round (round, changed, checksum,
    * N-estimate) stats, per-round staged register dirs r0..R) — memoized
    * per input dir: the
    * neighborhood-function read (q253) and the harmonic-centrality read
    * (q258) are two summaries of the SAME register propagation, so the
    * O(m·64)-per-round loop runs once and both consumers scan its staged
    * leaves. */
  private val hbCache =
    new graft.Scratch.PerDir[(Vector[(Int, (Long, Long, Long))], Vector[String])]

  private[graft] def hyperBallArtifacts(s: org.apache.spark.sql.SparkSession,
      d: String): (Vector[(Int, (Long, Long, Long))], Vector[String]) =
    hbCache(d)(hyperBallLoop(s, d))

  /** The q253 trajectory view over [[hyperBallArtifacts]], returning the
    * changed-register trajectory for the spec's convergence pin (last
    * entry 0, all earlier entries > 0). */
  private[graft] def hyperBallRun(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame, Seq[Long]) = {
    val (rows, _) = hyperBallArtifacts(s, d)
    val nfFinal = rows.last._2._3
    import s.implicits._
    val out = rows.map { case (round, (ch, ck, nf)) =>
      (round, ch, ck, nf, nf * 1000000L / nfFinal)
    }.toDF("round", "n_changed", "reg_checksum", "nf_estimate",
      "pct_of_final_ppm").orderBy("round")
    (out, rows.tail.map(_._2._1))
  }

  /** Each node's ball-size estimate `est` from its (node, bucket, m)
    * register rows: absent registers count as empty (2^33 each in the
    * harmonic sum), with the small-range linear-counting switch. */
  private def ballEstimates(regs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    regs.groupBy("node")
      .agg(count(lit(1)).as("n_present"),
        sum(pow(lit(2.0), lit(33) - col("m")).cast("long")).as("s_present"))
      .select(col("node"),
        hllEstimate(col("s_present") +
          (lit(hllBuckets.toLong) - col("n_present")) * lit(8589934592L)).as("raw"),
        (lit(hllBuckets.toLong) - col("n_present")).as("n_empty"))
      .select(col("node"), hllSmallRange.as("est"))

  /** The register-propagation loop body (see the q253 Scaladoc). */
  private def hyperBallLoop(s: org.apache.spark.sql.SparkSession,
      d: String): (Vector[(Int, (Long, Long, Long))], Vector[String]) = {
    val ed = graft.Scratch.read(s, lpaEdgesDir(s, d))
    val init = hllRanks(ed.select(col("u").as("node")).distinct(),
        col("node").cast("string"), "node")
      .select(col("node"), col("bucket"), col("rho").as("m"))
    // One driver sync per round: the register bank never loses a
    // (node, bucket) key (monotone union), so next ⊇ prev keyed rows and
    // "changed" = rows whose prev value is absent or differs — a LEFT
    // join folded into the SAME aggregate as the checksum, one action
    // instead of an anti-join count plus a stats pass.
    def roundStats(regs: org.apache.spark.sql.DataFrame,
        changedCol: org.apache.spark.sql.Column): (Long, Long, Long) = {
      val row = regs.agg(sum(changedCol).as("ch"), sum("m").as("ck"))
        .crossJoin(ballEstimates(regs).agg(sum("est").as("nf"))).head()
      (row.getLong(0), row.getLong(1), row.getLong(2))
    }
    var rows = Vector.empty[(Int, (Long, Long, Long))]
    def settled(r: Int, regs: org.apache.spark.sql.DataFrame): Boolean = {
      val stats = roundStats(regs,
        if (r == 0) lit(1L) // every seed register is new
        else when(col("pm").isNull || col("pm") =!= col("m"), 1L).otherwise(0L))
      rows :+= ((r, stats))
      r > 0 && stats._1 == 0L
    }
    val dirs = graft.Scratch.iterateAll(s, "graft_hb_r", init,
        graft.Scratch.Converge("q253 HyperBall", hyperBallMaxRounds,
          "hyperBallMaxRounds"), settled) { (_, regs, _) =>
      val prev = regs.select("node", "bucket", "m")
      // Carry the PREVIOUS value through the union-aggregate as pm (prev
      // rows contribute pm = m, inbound rows pm = null; max ignores
      // nulls, and the prev bank holds one row per key, so max(pm) IS
      // the previous register value). The staged bank then answers
      // "changed?" by itself, with no join of two full register banks
      // (|nodes|·64 rows each); q258's per-round readers prune pm.
      prev.withColumn("pm", col("m"))
        .unionByName(
          ed.join(prev.withColumnRenamed("node", "v"), "v")
            .select(col("u").as("node"), col("bucket"), col("m"))
            .withColumn("pm", lit(null).cast("long")))
        .groupBy("node", "bucket").agg(max("m").as("m"), max("pm").as("pm"))
    }
    (rows, dirs)
  }

  /** Fixed-point denominator for q258's harmonic weights: lcm(1..24) —
    * divisible by every round index up to [[hyperBallMaxRounds]], so
    * weight = hbHarmonicLcm div r is EXACT integer arithmetic in both
    * engines (no floating 1/r, no div-rounding asymmetry). */
  private[graft] val hbHarmonicLcm = 5354228880L

  /** q258 — HARMONIC CENTRALITY via HyperBall (Boldi–Vigna, "In-core
    * computation of geometric centralities with HyperBall"): H(v) =
    * Σ_{u≠v} 1/d(u, v), read off the ball-growth deltas — H(v) =
    * Σ_t (|ball(v,t)| − |ball(v,t−1)|)/t — so EVERY node's centrality
    * comes from the SAME register propagation q253 already runs (the
    * staged per-round banks are shared via [[hyperBallArtifacts]]; an
    * exact all-pairs BFS is O(n·m)). Spark-first mechanics: one hash
    * aggregate per staged round produces (node, round, est) with q253's
    * exact integer estimator; one node-keyed window (lag over round)
    * takes growth deltas — deltas can be NEGATIVE where the estimator
    * crosses its linear-counting→raw switch, which the signed integer
    * sum handles identically in both engines; weights are
    * [[hbHarmonicLcm]] div r (exact — see its Scaladoc), so hc_num is a
    * pure BIGINT sum, no division until nothing is divided at all.
    * Rounds past the engine's fixpoint R contribute delta = 0, so the
    * oracle can sum its full [[hyperBallMaxRounds]] unroll without
    * replicating the cut — the monotone-lattice argument from q253.
    * Output: top-10 nodes by hc_num (TakeOrderedAndProject, O(k)), with
    * the final ball estimate alongside for scale context.
    */
  val harmonicCentrality: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val (_, dirs) = hyperBallArtifacts(s, d)
    val lastRound = dirs.length - 1
    val perRound = dirs.zipWithIndex.map { case (dir, r) =>
      ballEstimates(graft.Scratch.read(s, dir))
        .select(col("node"), lit(r).as("round"), col("est"))
    }.reduce(_ unionByName _)
    val byNode = Window.partitionBy("node").orderBy("round")
    perRound
      .withColumn("prev_est", lag(col("est"), 1).over(byNode))
      .filter(col("round") >= 1)
      .groupBy("node")
      .agg(sum((col("est") - col("prev_est")) *
          expr(s"$hbHarmonicLcm div round")).as("hc_num"),
        max(when(col("round") === lastRound, col("est"))).as("ball_final"))
      .orderBy(col("hc_num").desc, col("node")).limit(10)
  }

  /** q217 — ITEM-ITEM top-3 co-purchase recommendations: the classic
    * "customers who bought X also bought Y" matrix — for every part, its
    * three strongest co-purchase partners by basket co-occurrence with
    * the m ≥ 2 repeat cut (one-shot coincidences are noise, q155's
    * argument). This is the *serving table* the graph family's analyses
    * feed: q177 predicts missing edges, this ranks the existing ones.
    * Plan shape: the within-order self-join fans out O(|basket|²) per
    * order (order-bounded, q152's argument), pair counts map-side
    * combine, both directions union for the symmetric view, and the
    * rank ≤ 3 filter compiles to WindowGroupLimit — each map partition
    * forwards at most 3 partners per part before the exchange, so the
    * output shuffle carries 3·|parts| rows whatever the basket volume.
    */
  val itemRecs: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    // co-buy multiplicity m rides the shared staged co-purchase leaf
    val e2 = graft.Scratch.read(s, coPairsDir(s, d)).filter(col("m") >= 2)
      .select("u", "v", "m")
    val sym = e2.select(col("u"), col("v"), col("m"))
      .union(e2.select(col("v").as("u"), col("u").as("v"), col("m")))
    sym.withColumn("rank", row_number().over(
        Window.partitionBy("u").orderBy(col("m").desc, col("v"))))
      .filter(col("rank") <= 3)
      .select(col("u").as("part"), col("rank"), col("v").as("rec_part"),
        col("m").as("n_cobuys"))
      .orderBy("part", "rank")
  }

  /** q223 — DEGREE power-law fit over the repeat-co-purchase graph:
    * log-log OLS of the degree histogram — scale-free-ness is the
    * assumption behind every "hubs dominate" capacity plan (salting,
    * WindowGroupLimit caps, the q138 orientation argument), and this is
    * the query that CHECKS it instead of assuming. Reads the
    * session-staged LPA edge list (no regeneration), reduces to the
    * degree histogram (degree-domain-bounded), and fits q200's
    * closed-form milli-nat OLS: integer moment sums, one exactly-
    * representable double division per output, round() identical in
    * both engines.
    */
  val degreePowerlaw: Q = (s, d) => {
    val (edgesDir, _) = lpaArtifacts(s, d)
    val deg = graft.Scratch.read(s, edgesDir)
      .groupBy("u").agg(count(lit(1)).as("dg"))
    val pts = deg.groupBy("dg").agg(count(lit(1)).as("nd"))
      .select(
        expr("CAST(round(ln(CAST(dg AS DOUBLE)) * 1000) AS BIGINT)").as("x"),
        expr("CAST(round(ln(CAST(nd AS DOUBLE)) * 1000) AS BIGINT)").as("y"))
    // Degenerate-fit guard: on a degree-REGULAR graph the histogram has
    // one distinct point, n*sxx - sx*sx = 0, and the raw division yields
    // NaN/Inf — which Spark's cast folds to 0 while DuckDB's CAST errors,
    // i.e. the engines disagree exactly when the fit is undefined. Both
    // engines emit NULL for n < 2 or a zero denominator instead.
    pts.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
      .select(col("n"),
        expr("""CASE WHEN n < 2 OR n * sxx - sx * sx = 0 THEN NULL
          | ELSE CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
          | / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000) AS BIGINT)
          | END""".stripMargin.replace("\n", " ")).as("slope_micro"),
        expr("""CASE WHEN n < 2 OR n * sxx - sx * sx = 0 THEN NULL
          | ELSE CAST(round((CAST(sy AS DOUBLE)
          | - CAST(n * sxy - sx * sy AS DOUBLE)
          |   / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
          | / CAST(n AS DOUBLE) * 1000) AS BIGINT)
          | END""".stripMargin.replace("\n", " ")).as("intercept_micro"))
  }

  /** Propagation depth for the q210 forward/backward reachability pass. */
  private val sccRounds = 3

  /** q210 — directed STRONGLY-CONNECTED classes over the temporal
    * "bought-before" graph: part u → v when ≥ 2 DISTINCT customers
    * ordered u strictly before v — the first DIRECTED graph in the
    * family (everything else here is undirected co-purchase), and the
    * structure that separates "these parts circulate together" (a cycle:
    * u before v for some customers, v before u for others) from a mere
    * funnel (u always first). The classic distributed SCC primitive is
    * FW-BW coloring: two min-label reachability passes — forward f(x) =
    * min id that can REACH x, backward b(x) = min id REACHABLE FROM x
    * (the same staged-per-round loop as q167's BFS, run once per
    * direction over the same staged edge list) — and a node with
    * f(x) = b(x) = ℓ is strongly connected to ℓ (ℓ reaches x AND x
    * reaches ℓ), so nodes sharing that COMMON label form one SCC.
    * The fl = bl equality is load-bearing: sharing a min-ancestor and
    * a min-descendant alone (fl ≠ bl) does NOT imply mutual
    * reachability (1→2, 1→3, 2→0, 3→0 gives 2 and 3 the pair (1, 0)
    * with no path between them), so classes with fl ≠ bl are filtered
    * out in BOTH engines rather than reported as false SCCs.
    * Depth is FIXED at 3 rounds (q106/q148/q167's determinism
    * discipline: both engines run the identical recursion), so classes
    * are SCCs whose witness paths fit in 3 hops — q245 is the
    * convergent (loop-until-no-label-moves) variant; this fixed-depth
    * contract stays replayable against the unrolled oracle. The depth
    * cut is made VISIBLE, not silent: `at_horizon` is true for a class
    * whose members' forward or backward label was still moving in the
    * final round — "labels not settled; the class may merge or grow at
    * higher depth" — so a consumer can route horizon classes to q245
    * instead of trusting them as final. Edge generation fans out
    * per-customer item-history pairs (bounded by basket history, q152's
    * argument — never |parts|²) and the ≥2-customer cut is on DISTINCT
    * evidence. Output: the non-trivial classes (≥ 2 members), largest
    * first, top 20.
    */
  /** The q210/q245 bought-before edge list, memoized per input dir: the
    * fixed-depth contract query and
    * its convergent variant read the SAME staged graph, exactly as a
    * production pipeline runs the cheap bounded pass and routes horizon
    * classes to the full fixpoint without re-deriving edges.
    *
    * "u strictly before v for customer c" ⟺ min(c's u-dates) <
    * max(c's v-dates) — so the join input collapses to ONE row per
    * (customer, part) carrying (min, max) date, the pair fans out once
    * per customer (count ≡ distinct customers, no countDistinct), and
    * the per-customer mass is items², not (items×orders)².
    */
  private val sccEdgeCache = new graft.Scratch.PerDir[String]

  private def sccEdgesDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    sccEdgeCache(d) {
      val cp = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey").as("c"),
          col("o_orderdate").as("dt"))
        .join(Tables.lineitem(s, d).select(col("l_orderkey").as("o_orderkey"),
          col("l_partkey").as("p")), "o_orderkey")
        .groupBy("c", "p")
        .agg(min("dt").as("mind"), max("dt").as("maxd"))
      val e = cp.alias("a").join(cp.alias("b"),
          col("a.c") === col("b.c") && col("a.p") =!= col("b.p") &&
            col("a.mind") < col("b.maxd"))
        .groupBy(col("a.p").as("u"), col("b.p").as("v"))
        .agg(count(lit(1)).as("m")).filter(col("m") >= 2)
        .select("u", "v")
      graft.Scratch.write("graft_scc_edges", e)
    }

  val sccClasses: Q = (s, d) => {
    val ed = graft.Scratch.read(s, sccEdgesDir(s, d))
    val nodes = ed.select(col("u").as("node"))
      .union(ed.select(col("v").as("node"))).distinct()
    // returns (final round, previous round): the N vs N-1 label diff is
    // the horizon gauge — a label still moving in the final round means
    // the fixed depth CUT the propagation, and the class must say so
    def propagate(rev: Boolean, tag: String) = {
      val edges = if (rev) ed.select(col("v").as("src"), col("u").as("dst"))
                  else ed.select(col("u").as("src"), col("v").as("dst"))
      val (cur, prev) = graft.Scratch.iterate(s, s"graft_scc_$tag",
          nodes.select(col("node"), col("node").as("lbl")),
          graft.Scratch.Depth(sccRounds)) { (_, labels) =>
        val inMin = edges
          .join(labels.select(col("node").as("src"), col("lbl")), "src")
          .groupBy(col("dst").as("node")).agg(min("lbl").as("inmin"))
        labels.join(inMin, Seq("node"), "left")
          .select(col("node"),
            least(col("lbl"), coalesce(col("inmin"), col("lbl"))).as("lbl"))
      }
      (graft.Scratch.read(s, cur), graft.Scratch.read(s, prev))
    }
    // The forward and backward chains are INDEPENDENT job sequences over
    // the same staged edge leaf (guide §2.6: overlap independent jobs) —
    // each chain's tiny per-round stages leave most cores idle, so the
    // two chains back-fill each other. No session conf is mutated inside
    // propagate, and job submission is thread-safe; results land in
    // distinct Scratch dirs either way.
    val ((f, fp), (b, bp)) = graft.concurrently(
      propagate(rev = false, "f"), propagate(rev = true, "b"))
    f.withColumnRenamed("lbl", "fl")
      .join(b.withColumnRenamed("lbl", "bl"), "node")
      .join(fp.withColumnRenamed("lbl", "flp"), "node")
      .join(bp.withColumnRenamed("lbl", "blp"), "node")
      .filter(col("fl") === col("bl"))
      .groupBy("fl", "bl").agg(count(lit(1)).as("n_members"),
        min("node").as("min_member"), sum("node").as("id_checksum"),
        expr("bool_or(fl <> flp OR bl <> blp)").as("at_horizon"))
      .filter(col("n_members") >= 2)
      .orderBy(col("n_members").desc, col("fl"), col("bl"))
      .limit(20)
      .select(col("fl").as("fwd_label"), col("bl").as("bwd_label"),
        col("n_members"), col("min_member"), col("id_checksum"),
        col("at_horizon"))
  }

  /** q245 — ADAPTIVE-DEPTH (convergence-audited) SCC: q210's FW-BW
    * coloring run to the FIXPOINT — loop-until-no-label-moves with a
    * driver-synced per-round label-sum trajectory — so a 100×-diameter
    * graph cannot silently drop classes beyond a fixed horizon (the one
    * place q210's determinism discipline traded soundness-of-coverage
    * for replayability). Both reachability passes run
    * [[Dedup.minLabelFixpoint]] — the q59/q243 min-label
    * [[graft.Scratch.iterate]] state loop — over the SAME staged edge
    * list as q210 ([[sccEdgesDir]]), once forward, once on reversed
    * edges, at once on the caller's session.
    * Labels only decrease, so the per-round sum strictly falls until the
    * fixpoint; the trajectory's equal last two entries ARE the
    * convergence certificate (AnalyticsSpec pins it via
    * [[sccConvergedRun]]).
    *
    * Cross-engine parity cannot hinge on convergence DETECTION: the
    * oracle unrolls K = [[sccOracleSuperRounds]] super-rounds of the
    * identical propagate + 2 path-doubling jumps (coverage ≥ 4^K hops —
    * far past any fixture diameter) and AUDITS ITS OWN convergence
    * in-band: `n_moved_final` counts nodes whose forward or backward
    * label moved in the oracle's last super-round, which the Spark side
    * emits as the literal 0 its Converge cap guarantees — an
    * under-unrolled oracle mismatches LOUDLY on that column instead of
    * silently comparing two truncated runs. Output: the non-trivial
    * converged classes (fl = bl = class label), largest first, top 50.
    */
  val sccConverged: Q = (s, d) => sccConvergedRun(s, d)._1

  /** The q245 body, returning the two label-sum trajectories too so the
    * spec can pin the convergence contract (strictly decreasing, equal
    * final pair). */
  private[graft] def sccConvergedRun(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame, Seq[Long], Seq[Long]) = {
    val ed = graft.Scratch.read(s, sccEdgesDir(s, d))
    val nodes = ed.select(col("u").as("doc_id"))
      .union(ed.select(col("v").as("doc_id"))).distinct()
    // The forward and backward fixpoints are INDEPENDENT job chains over
    // the same staged edge leaf (guide §2.6, the q210 overlap); neither
    // touches session conf, so both run on the caller's session.
    def run(rev: Boolean): (String, Seq[Long]) =
      Dedup.minLabelFixpoint(s, nodes,
        if (rev) ed.select(col("v").as("src"), col("u").as("dst"))
        else ed.select(col("u").as("src"), col("v").as("dst")))
    val ((fDir, fTraj), (bDir, bTraj)) =
      graft.concurrently(run(rev = false), run(rev = true))
    val f = graft.Scratch.read(s, fDir)
    val b = graft.Scratch.read(s, bDir)
    val out = f.select(col("doc_id").as("node"), col("label").as("fl"))
      .join(b.select(col("doc_id").as("node"), col("label").as("bl")), "node")
      .filter(col("fl") === col("bl"))
      .groupBy(col("fl").as("scc_label"))
      .agg(count(lit(1)).as("n_members"), min("node").as("min_member"),
        sum("node").as("id_checksum"))
      .filter(col("n_members") >= 2)
      .orderBy(col("n_members").desc, col("scc_label"))
      .limit(50)
      // literal 0 — the loop's Converge cap is the witness; the
      // oracle computes the true count over ALL nodes from its last two
      // super-rounds, so an under-converged oracle fails the compare
      .select(col("scc_label"), col("n_members"), col("min_member"),
        col("id_checksum"), lit(0L).as("n_moved_final"))
    (out, fTraj, bTraj)
  }

  /** q177 — LINK PREDICTION by common-neighbor count + resource-allocation
    * index over the repeat-co-purchase graph (q148/q155's edges): for every
    * non-adjacent pair within 2 hops, how many shared neighbors connect
    * them and how "exclusive" those neighbors are (RA = Σ 1/deg(w) over
    * shared neighbors w — Zhou/Lü/Zhang's index, the strongest of the
    * classic local predictors). This is the candidate-edge ranking a
    * recommender or graph-completion pipeline derives before any learned
    * model — and the final classic next to the importance/structure/
    * density/community/cohesion/reachability family already here.
    *
    * Plan shape: wedge enumeration is ONE self-equi-join of the staged
    * bidirectional adjacency on the CENTER node (the same join q138's
    * triangle count walks), then one hash aggregate keyed on the candidate
    * pair, then an anti-join against the existing edge set — all keyed on
    * node/pair ids, no driver state. RA is exact fixed-point: each center
    * contributes `1000000 div deg(w)` (floor on positives, ≡ DuckDB `//`),
    * so the sum is engine-independent. Output is top-20 by (common
    * neighbors, RA, pair id) — a TakeOrderedAndProject, O(k) out no matter
    * the graph. At 100 TB the wedge join is quadratic only in per-node
    * degree, the known cost of exact local link prediction; a production
    * variant caps hub adjacency exactly like q159's per-node sample, which
    * this query deliberately does not do so the oracle stays exact.
    */
  val linkPredict: Q = (s, d) => {
    // both-direction m ≥ 2 adjacency = the LPA family's staged artifact
    val ed = graft.Scratch.read(s, lpaEdgesDir(s, d))
    val deg = ed.groupBy("u").agg(count(lit(1)).as("dg"))
    val wedges = ed.alias("a").join(ed.alias("b"),
        col("a.u") === col("b.u") && col("a.v") < col("b.v"))
      .select(col("a.u").as("w"), col("a.v").as("x"), col("b.v").as("y"))
    val scored = wedges
      .join(deg.withColumnRenamed("u", "w"), "w")
      .groupBy("x", "y")
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000000 div dg")).as("ra_ppm"))
    scored
      .join(ed.select(col("u").as("x"), col("v").as("y")),
        Seq("x", "y"), "left_anti")
      .orderBy(col("cn").desc, col("ra_ppm").desc, col("x"), col("y"))
      .limit(20)
      .select(col("x").as("u"), col("y").as("v"), col("cn"), col("ra_ppm"))
  }

  /** q245 oracle unroll depth: K super-rounds of propagate + 2 jumps
    * cover ≥ 4^K hops — far past any fixture diameter, and the in-band
    * n_moved_final audit makes an under-unroll loud, never silent. */
  private val sccOracleSuperRounds = 8

  /** q280 walk length (steps past the origin). DeepWalk production dials
    * run 40–80; 4 exercises the identical per-step plan. */
  private[graft] val walkLen = 4

  /** q280 — DETERMINISTIC RANDOM-WALK CORPUS (the DeepWalk / node2vec
    * training-data generator, Perozzi 2014): one walk per node over the
    * dense co-purchase graph, [[walkLen]] steps, each step choosing the
    * neighbor that minimizes md5(origin:step:neighbor) — the repo's
    * standard derandomized-uniform pick (q75/q89's hash-bucket family),
    * so the "random" walk is reproducible in both engines and across
    * reruns/partitionings, which seeded RNG sampling is not. The walk
    * table is what a skip-gram embedding trainer consumes; a pipeline
    * materializes it per epoch with the origin salt swapped.
    *
    * Plan shape per step: ONE equi-join of the current positions against
    * the staged both-direction adjacency (keyed on the current node — the
    * graph's natural shuffle key) + ONE per-walk WindowGroupLimit cut
    * (frames bounded by node degree). Positions stage per step (the CC
    * lineage discipline). Cost is steps × |edges touched| — linear, no
    * driver loop state beyond the step counter, walks never die (the
    * both-direction list gives every node degree ≥ 1). Output one row
    * per step: walks alive, distinct nodes occupied, occupied-node id
    * sum — the corpus-shape audit (O(steps), scale-free).
    */
  val walkCorpus: Q = (s, d) => {
    val (canonDir, _) = triArtifacts(s, d)
    val canon = graft.Scratch.read(s, canonDir)
    walkRun(s, graft.Scratch.write("graft_walk_ed",
      canon.unionByName(canon.select(col("v").as("u"), col("u").as("v")))))
  }

  /** The q280 engine over an arbitrary staged both-direction edge list,
    * split out so PropertySpec can replay the md5-argmin walks on a
    * planted graph against a driver-side simulation. */
  private[graft] def walkRun(s: org.apache.spark.sql.SparkSession,
      edDir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // unbound: PropertySpec passes planted dirs Scratch.write did not make
    val ed = s.read.parquet(edDir)
    val w = Window.partitionBy("o").orderBy(col("pick"), col("v"))
    val dirs = graft.Scratch.iterateAll(s, "graft_walk_p",
        ed.select(col("u").as("o")).distinct().select(col("o"), col("o").as("x")),
        graft.Scratch.Depth(walkLen)) { (t, cur, _) =>
      cur.join(ed, col("x") === col("u"))
        .withColumn("pick", md5(concat_ws(":",
          col("o").cast("string"), lit(t.toString),
          col("v").cast("string"))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o"), col("v").as("x"))
    }
    // per-step stats read every step's dir lazily: a history loop
    val steps = dirs.zipWithIndex.map { case (dir, t) =>
      graft.Scratch.read(s, dir)
        .agg(count(lit(1)).as("n_walks"),
          countDistinct(col("x")).as("n_distinct_nodes"),
          sum(col("x")).as("node_id_sum"))
        .select(lit(t).as("step"), col("n_walks"),
          col("n_distinct_nodes"), col("node_id_sum"))
    }
    steps.reduce(_ unionByName _).orderBy("step")
  }

  /** Loud cap for q257's forward BFS = the oracle's unroll depth (the
    * q250 contract: cap and oracle unroll move together). Measured
    * single-source eccentricity on the dense co-purchase graph is ≤ 3 at
    * every fixture scale (≤ 10 on the sparser m≥2 graph) — 16 is ample
    * headroom, and the require fails loudly, never truncates. */
  private[graft] val brandesMaxRounds = 16

  /** q257 sample size: 4 md5-ranked source nodes. Sampled-source Brandes
    * cost is k full BFS+accumulation sweeps; the estimator sharpens
    * linearly in k (Brandes–Pich 2007), so production dials k up with
    * cluster size while the per-source plan shape stays fixed. */
  private[graft] val brandesK = 4

  /** The Brandes engine (forward sigma BFS + backward dependency
    * accumulation) over an arbitrary staged BOTH-DIRECTION edge list,
    * source-set-agnostic so PropertySpec can run it with k = |V| on a
    * planted graph against exact Brandes. Returns per-node
    * (x, bc_ppm, n_sources) for EVERY node some source reaches — the
    * caller applies its own cut.
    *
    * Forward pass: q250's frontier-join shape carrying one extra column —
    * sigma, the EXACT INTEGER count of shortest s→x paths (sum of
    * predecessor sigmas; a node's predecessors all sit in the previous
    * frontier, so one (edges ⋈ frontier) + groupBy-sum computes it) —
    * with the per-round 1-row frontier-count sync as the convergence
    * certificate and [[brandesMaxRounds]] as the loud cap.
    *
    * Backward pass: Brandes' dependency recurrence
    * δ(u) = Σ_{w : succ} σ(u)/σ(w) · (1 + δ(w)), processed one distance
    * level at a time from the deepest level down — each level is ONE
    * (edges ⋈ level-d nodes) equi-join plus one (s, u) hash aggregate,
    * never all-pairs. Division is micro-integerized ppm with floor `div`
    * PER EDGE before the integer sum (the q94 single-rounding discipline;
    * all values nonnegative, so Spark `div` ≡ DuckDB `//`) — doubles
    * would be addition-order-dependent and could never hash-match.
    *
    * Overflow is guarded LOUDLY after the forward pass (the LPA-pack
    * discipline): per-edge products are bounded by
    * maxσ · 1e6 · (1 + maxReach) — checked in BigInt on the driver —
    * while the DuckDB oracle raises natively on BIGINT overflow; without
    * the guard Spark would wrap silently (non-ANSI).
    */
  private[graft] def brandesRun(s: org.apache.spark.sql.SparkSession,
      edDir: String, srcs: org.apache.spark.sql.DataFrame,
      tag: String): org.apache.spark.sql.DataFrame = {
    // unbound: PropertySpec passes planted dirs Scratch.write did not make
    val ed = s.read.parquet(edDir)
    // Forward: fresh-slice staging (the q250 discipline) — only each
    // round's new (s, x) rows are written, the visited set is one
    // multi-path scan over the slices, the frontier is the LAST slice, and
    // its footer-only count is the per-round sync (bfsConvergedRun's note).
    val seeds0 = srcs.select(col("s"), col("s").as("x"), lit(0).as("dist"),
      lit(1L).as("sigma"))
    val dirs = graft.Scratch.iterateAll(s, s"graft_${tag}_v", seeds0,
        graft.Scratch.Converge("q257 BFS", brandesMaxRounds, "brandesMaxRounds"),
        settled = (_, slice) => slice.count() == 0L) { (r, last, slices) =>
      val visited = graft.Scratch.read(s, slices: _*)
      val frontier = last.select(col("s"), col("x").as("u"), col("sigma"))
      ed.join(frontier, "u")
        .groupBy(col("s"), col("v").as("x"))
        .agg(sum("sigma").as("sigma"))
        .join(visited.select(col("s"), col("x")), Seq("s", "x"), "left_anti")
        .select(col("s"), col("x"), lit(r).as("dist"), col("sigma"))
    }
    val maxDist = dirs.length - 2 // the final slice is the empty one
    val vis = graft.Scratch.read(s, dirs: _*)
    // loud overflow precondition for the backward pass's packed products
    val g = vis.groupBy("s")
      .agg(count(lit(1)).as("nreach"), max("sigma").as("msig"))
      .agg(max("msig").as("msig"), max("nreach").as("mreach")).head()
    require(BigInt(g.getLong(0)) * 1000000 * (1 + BigInt(g.getLong(1))) <
        BigInt("9200000000000000000"),
      s"q257: sigma*(1e6+delta) could wrap BIGINT (max sigma ${g.getLong(0)}, " +
        s"max reach ${g.getLong(1)}) — shrink the sample or rescale ppm")
    // Backward: per-LEVEL delta staging. Each (s, x) sits at exactly one
    // distance, so its dependency δ is decided by a single level's
    // aggregate — stage only that per-level (s, x, delta) frame (the
    // level-d slice of the forward pass IS the wd/pu row source), so write
    // volume per level is |level|, not |reach|. Nodes with no level-(d+1)
    // successors have no delta row; the final left join coalesces them
    // to 0. `contrib(d, …)` is what level d passes up to level d − 1;
    // `lvlDelta` holds level d's own deltas, none at the deepest level.
    def contrib(d: Int, lvlDelta: Option[org.apache.spark.sql.DataFrame]) = {
      val wd0 = graft.Scratch.read(s, dirs(d))
        .select(col("s"), col("x").as("wx"), col("sigma").as("ws"))
      val wd = lvlDelta match {
        case None => wd0.withColumn("wdel", lit(0L)) // deepest level: δ = 0
        case Some(delta) => wd0.join(
            delta.select(col("s"), col("x").as("wx"), col("delta").as("wdel0")),
            Seq("s", "wx"), "left")
          .select(col("s"), col("wx"), col("ws"),
            coalesce(col("wdel0"), lit(0L)).as("wdel"))
      }
      val pu = graft.Scratch.read(s, dirs(d - 1))
        .select(col("s"), col("x").as("u"), col("sigma").as("us"))
      ed.join(wd, col("v") === col("wx"))
        .join(pu, Seq("s", "u"))
        .select(col("s"), col("u").as("x"),
          expr("us * (1000000 + wdel) div ws").as("c"))
        .groupBy("s", "x").agg(sum("c").as("delta"))
    }
    val folded =
      if (maxDist < 1) vis.withColumn("delta", lit(0L))
      else {
        // round r holds level (maxDist − 1 − r)'s deltas
        val deltaDirs = graft.Scratch.iterateAll(s, s"graft_${tag}_b",
            contrib(maxDist, None), graft.Scratch.Depth(maxDist - 1)) {
          (r, delta, _) => contrib(maxDist - r, Some(delta))
        }
        vis.join(graft.Scratch.read(s, deltaDirs: _*)
            .select(col("s"), col("x"), col("delta")), Seq("s", "x"), "left")
          .select(col("s"), col("x"),
            coalesce(col("delta"), lit(0L)).as("delta"))
      }
    folded
      .filter(col("x") =!= col("s"))
      .groupBy("x")
      .agg(sum("delta").as("bc_ppm"), count(lit(1)).as("n_sources"))
  }

  /** q257 — SAMPLED-SOURCE BETWEENNESS CENTRALITY (Brandes 2001, sources
    * sampled per Brandes–Pich 2007): the one classic centrality missing
    * after PageRank (q106, eigenvector-style importance), PPR (q261),
    * HITS (q262) and harmonic (q258) — betweenness measures BROKERAGE,
    * how much shortest-path traffic a node carries, the signal for
    * bottleneck/bridge detection in dependency and communication graphs
    * (reference scope: no graph surface; beyond-reference slice).
    *
    * Exact Brandes is one sweep per source — Θ(|V|·|E|) total, infeasible
    * at 100 TB — so production samples k sources and scales; here k =
    * [[brandesK]] sources chosen by md5 rank over node ids (deterministic
    * in both engines, the q149 pick discipline). Runs [[brandesRun]] (all
    * k sources advance TOGETHER in one keyed frame — k× rows, not k
    * sequential jobs) over the dense co-purchase graph (q138's canonical
    * edges, both directions staged once per run; the m≥2 LPA graph
    * fragments into 2–11-node components at sf0.1, which would make every
    * sampled δ zero). Output: top-10 nodes by accumulated dependency in
    * exact integer ppm, with how many sampled sources reach each — the
    * ordered-pair convention (δ sums over directions; halve for the
    * undirected textbook number). Oracle: the identical rounds unrolled
    * to [[brandesMaxRounds]] forward AND backward — past-convergence
    * forward rounds add no rows, and backward rounds above the realized
    * depth finalize empty levels to the same zero, so the adaptive loop
    * and the fixed unroll agree row for row (the q250/q251 argument).
    */
  val betweenness: Q = (s, d) => {
    val (canonDir, _) = triArtifacts(s, d)
    val canon = graft.Scratch.read(s, canonDir)
    val tmpB = graft.Scratch.write("graft_btw_ed",
      canon.unionByName(canon.select(col("v").as("u"), col("u").as("v"))))
    val srcs = graft.Scratch.read(s, tmpB).select(col("u").as("x")).distinct()
      .orderBy(md5(col("x").cast("string")), col("x"))
      .limit(brandesK).select(col("x").as("s"))
    brandesRun(s, tmpB, srcs, "btw")
      .orderBy(col("bc_ppm").desc, col("x"))
      .limit(10)
      .select(col("x").as("node"), col("bc_ppm"), col("n_sources"))
  }

  def queries: Map[String, Q] = Map(
    "q257_betweenness" -> betweenness,
    "q280_walk_corpus" -> walkCorpus,
    "q106_pagerank" -> pageRank,
    "q138_triangle_count" -> triangleCount,
    "q265_local_clustering" -> localClustering,
    "q266_assortativity" -> assortativity,
    "q276_ktruss" -> ktrussDelta,
    "q148_kcore_peel" -> kcorePeel,
    "q155_label_propagation" -> labelPropagation,
    "q202_modularity" -> modularity,
    "q159_gnn_sample" -> gnnSample,
    "q167_bfs_hops" -> bfsHops,
    "q177_link_predict" -> linkPredict,
    "q210_scc_classes" -> sccClasses,
    "q217_item_recs" -> itemRecs,
    "q223_degree_powerlaw" -> degreePowerlaw,
    "q245_scc_converged" -> sccConverged,
    "q250_bfs_converged" -> bfsConverged,
    "q251_lpa_converged" -> lpaConverged,
    "q252_kcore_converged" -> kcoreConverged,
    "q253_hyperball" -> hyperBall,
    "q255_incremental_cc" -> incrementalCc,
    "q258_harmonic_centrality" -> harmonicCentrality,
    "q261_personalized_pagerank" -> personalizedPageRank,
    "q262_hits" -> hits)

  def oracles: Map[String, String] = Map(
    // the identical md5-argmin steps unrolled: same pick string
    // (origin:step:neighbor), same (pick, neighbor) tiebreak, positions
    // carried CTE to CTE exactly as the staged parquet rounds
    "q280_walk_corpus" -> {
      val steps = (1 to walkLen).map { t =>
        s"""p$t AS MATERIALIZED (SELECT o, x FROM (
           |  SELECT c.o, e.v AS x, row_number() OVER (PARTITION BY c.o
           |    ORDER BY md5(CAST(c.o AS VARCHAR) || ':$t:' ||
           |      CAST(e.v AS VARCHAR)), e.v) AS rn
           |  FROM p${t - 1} c JOIN ed e ON c.x = e.u) WHERE rn = 1)"""
          .stripMargin
      }.mkString(",\n")
      val stats = (0 to walkLen).map { t =>
        s"""SELECT CAST($t AS INT) AS step, count(*) AS n_walks,
           |  count(DISTINCT x) AS n_distinct_nodes,
           |  CAST(sum(x) AS BIGINT) AS node_id_sum FROM p$t""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH ${OracleSql.coItemEdges},
         |p0 AS MATERIALIZED (SELECT DISTINCT u AS o, u AS x FROM ed),
         |$steps
         |$stats
         |ORDER BY step""".stripMargin
    },
    // the identical forward sigma-BFS and backward dependency rounds
    // unrolled to the loud cap in BOTH directions: forward rounds past
    // the last non-empty frontier add no rows, and backward rounds above
    // the realized depth finalize empty levels to the same zero delta the
    // initializer wrote, so the adaptive loop and the fixed unroll agree
    // row for row; per-edge floor division (// here, div in Spark — equal
    // on nonnegatives) before the exact integer sum
    "q257_betweenness" -> {
      val fwd = (1 to brandesMaxRounds).map { r =>
        s"""f$r AS (SELECT w.s, ed.v AS x, CAST(sum(w.sigma) AS BIGINT) AS sigma
           |  FROM ed JOIN v${r - 1} w ON ed.u = w.x AND w.dist = ${r - 1}
           |  WHERE NOT EXISTS (SELECT 1 FROM v${r - 1} p
           |    WHERE p.s = w.s AND p.x = ed.v)
           |  GROUP BY 1, 2),
           |v$r AS MATERIALIZED (SELECT s, x, dist, sigma FROM v${r - 1}
           |  UNION ALL SELECT s, x, $r AS dist, sigma FROM f$r)""".stripMargin
      }.mkString(",\n")
      val bwd = (brandesMaxRounds to 1 by -1).map { dd =>
        s"""c$dd AS (SELECT wd.s AS s, pu.x AS x,
           |    CAST(sum(pu.sigma * (1000000 + wd.delta) // wd.sigma)
           |      AS BIGINT) AS contrib
           |  FROM b$dd wd JOIN ed ON ed.v = wd.x AND wd.dist = $dd
           |  JOIN b$dd pu ON pu.s = wd.s AND pu.x = ed.u
           |    AND pu.dist = ${dd - 1}
           |  GROUP BY 1, 2),
           |b${dd - 1} AS MATERIALIZED (SELECT b.s, b.x, b.dist, b.sigma,
           |  CASE WHEN b.dist = ${dd - 1} THEN coalesce(c.contrib, 0)
           |    ELSE b.delta END AS delta
           |  FROM b$dd b LEFT JOIN c$dd c ON c.s = b.s AND c.x = b.x)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH ${OracleSql.coItemEdges},
         |srcs AS MATERIALIZED (SELECT x AS s FROM
         |  (SELECT DISTINCT u AS x FROM ed)
         |  ORDER BY md5(CAST(x AS VARCHAR)), x LIMIT $brandesK),
         |v0 AS MATERIALIZED (SELECT s, s AS x, 0 AS dist,
         |  CAST(1 AS BIGINT) AS sigma FROM srcs),
         |$fwd,
         |b$brandesMaxRounds AS MATERIALIZED (SELECT s, x, dist, sigma,
         |  CAST(0 AS BIGINT) AS delta FROM v$brandesMaxRounds),
         |$bwd
         |SELECT x AS node, CAST(sum(delta) AS BIGINT) AS bc_ppm,
         |  count(*) AS n_sources
         |FROM b0 WHERE x <> s GROUP BY 1
         |ORDER BY bc_ppm DESC, node LIMIT 10""".stripMargin
    },
    // the FIXPOINT recomputed by a fixed, generous unroll of the
    // identical propagate + 2 path-doubling jumps (coverage ≥ 4^K hops),
    // with the oracle's own convergence audited in-band: n_moved_final
    // counts labels still moving in the last super-round and must equal
    // the Spark side's literal 0 — an under-unrolled oracle fails the
    // compare loudly instead of matching a truncated run
    "q245_scc_converged" -> {
      def superRounds(tag: String, src: String, dst: String) =
        (1 to sccOracleSuperRounds).map { k =>
          s"""${tag}p$k AS (SELECT n.node,
             |    least(n.lbl, coalesce(m.inmin, n.lbl)) AS lbl
             |  FROM ${tag}${k - 1} n LEFT JOIN (
             |    SELECT e.$dst AS node, min(l.lbl) AS inmin
             |    FROM e JOIN ${tag}${k - 1} l ON e.$src = l.node
             |    GROUP BY 1) m USING (node)),
             |${tag}j$k AS (SELECT a.node,
             |    least(a.lbl, coalesce(b.lbl, a.lbl)) AS lbl
             |  FROM ${tag}p$k a LEFT JOIN ${tag}p$k b ON a.lbl = b.node),
             |$tag$k AS MATERIALIZED (SELECT a.node,
             |    least(a.lbl, coalesce(b.lbl, a.lbl)) AS lbl
             |  FROM ${tag}j$k a LEFT JOIN ${tag}j$k b ON a.lbl = b.node)"""
            .stripMargin
        }.mkString(",\n")
      val k = sccOracleSuperRounds
      s"""WITH ${OracleSql.sccSeeds},
         |${superRounds("f", "u", "v")},
         |${superRounds("b", "v", "u")},
         |moved AS (SELECT count(*) AS n_moved
         |  FROM f$k f JOIN f${k - 1} fp USING (node)
         |  JOIN b$k b USING (node) JOIN b${k - 1} bp USING (node)
         |  WHERE f.lbl <> fp.lbl OR b.lbl <> bp.lbl),
         |j AS (SELECT f.node, f.lbl AS fl, b.lbl AS bl
         |  FROM f$k f JOIN b$k b USING (node))
         |SELECT fl AS scc_label, count(*) AS n_members,
         |  min(node) AS min_member,
         |  CAST(sum(node) AS BIGINT) AS id_checksum,
         |  (SELECT CAST(n_moved AS BIGINT) FROM moved) AS n_moved_final
         |FROM j WHERE fl = bl GROUP BY 1 HAVING count(*) >= 2
         |ORDER BY n_members DESC, scc_label LIMIT 50""".stripMargin
    },
    // q167's frontier CTEs unrolled to the loud cap: rounds past the last
    // non-empty frontier add no rows in either engine, so the adaptive
    // loop and the fixed unroll emit the identical hop profile without
    // any convergence detection entering the compare
    "q250_bfs_converged" -> {
      s"""WITH ${OracleSql.bfsFrontiers(bfsMaxRounds)}
         |SELECT dist, count(*) AS n_nodes,
         |  CAST(sum(x) AS BIGINT) AS id_checksum
         |FROM v$bfsMaxRounds GROUP BY 1
         |UNION ALL
         |SELECT -1 AS dist, count(*) AS n_nodes,
         |  CAST(coalesce(sum(x), 0) AS BIGINT) AS id_checksum
         |FROM nodes WHERE NOT EXISTS
         |  (SELECT 1 FROM v$bfsMaxRounds w WHERE w.x = nodes.x)
         |ORDER BY dist""".stripMargin
    },
    // the identical self-vote rounds unrolled to the loud-cap depth,
    // then CUT at the oracle's OWN first zero-change round — past the
    // fixpoint the unrolled rounds are mathematical no-ops, so an
    // over-unroll changes nothing and an under-unroll leaves no zero
    // row (empty cut = loud mismatch, never silent truncation)
    "q251_lpa_converged" -> {
      val rounds = (1 to lpaMaxRounds).map { r =>
        s"""nb$r AS (SELECT edp.u AS node, l.lbl AS lbl, count(*) AS cnt
           |  FROM edp JOIN l${r - 1} l ON edp.v = l.node GROUP BY 1, 2),
           |l$r AS MATERIALIZED (SELECT node,
           |    1000000000000 - (max(cnt * 1000000000000
           |      + (1000000000000 - lbl)) % 1000000000000) AS lbl
           |  FROM nb$r GROUP BY 1),
           |s$r AS (SELECT $r AS round,
           |    (SELECT count(*) FROM l$r ln JOIN l${r - 1} lp
           |      ON ln.node = lp.node WHERE ln.lbl <> lp.lbl) AS n_changed,
           |    (SELECT count(DISTINCT lbl) FROM l$r) AS n_communities,
           |    (SELECT CAST(sum(lbl) AS BIGINT) FROM l$r) AS lbl_checksum)"""
          .stripMargin
      }.mkString(",\n")
      val unions = (1 to lpaMaxRounds).map(r => s"SELECT * FROM s$r")
        .mkString("\nUNION ALL ")
      s"""WITH ${OracleSql.copurchaseEdges},
         |edp AS MATERIALIZED (SELECT u, v FROM ed
         |  UNION ALL SELECT DISTINCT u, u AS v FROM ed),
         |l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lbl FROM ed),
         |$rounds,
         |traj AS ($unions)
         |SELECT round, n_changed, n_communities, lbl_checksum FROM traj
         |WHERE round <= (SELECT min(round) FROM traj WHERE n_changed = 0)
         |ORDER BY round""".stripMargin
    },
    // the identical peel rounds unrolled to the loud-cap depth, cut at
    // the first zero-removal round — monotonicity (zero removals fix
    // the alive set forever) makes that cut THE fixpoint in both engines
    "q252_kcore_converged" -> {
      val rounds = (1 to kcoreMaxRounds).map { r =>
        val prev = s"a${r - 1}"
        s"""d$r AS (SELECT u AS x, count(*) AS c FROM ed
           |  WHERE u IN (SELECT x FROM $prev)
           |    AND v IN (SELECT x FROM $prev) GROUP BY 1),
           |a$r AS MATERIALIZED (SELECT x FROM d$r WHERE c >= $coreK),
           |s$r AS (SELECT $r AS round,
           |    (SELECT count(*) FROM $prev) - (SELECT count(*) FROM a$r)
           |      AS n_removed,
           |    (SELECT count(*) FROM a$r) AS n_alive,
           |    (SELECT CAST(COALESCE(sum(x), 0) AS BIGINT) FROM a$r)
           |      AS alive_checksum)""".stripMargin
      }.mkString(",\n")
      val unions = (1 to kcoreMaxRounds).map(r => s"SELECT * FROM s$r")
        .mkString("\nUNION ALL ")
      s"""WITH ${OracleSql.copurchaseEdges},
         |a0 AS MATERIALIZED (SELECT DISTINCT u AS x FROM ed),
         |$rounds,
         |traj AS ($unions)
         |SELECT round, n_removed, n_alive, alive_checksum FROM traj
         |WHERE round <= (SELECT min(round) FROM traj WHERE n_removed = 0)
         |ORDER BY round""".stripMargin
    },
    // the identical register propagation unrolled to the loud-cap depth
    // (q105's bucket/rank hash, q156's small-range switch, register-wise
    // max per round), cut at the oracle's own first zero-change round —
    // the max-lattice fixpoint argument from the Scaladoc
    "q253_hyperball" -> {
      def estCte(reg: String) =
        s"""SELECT CAST(sum(CASE WHEN raw <= 160 AND n_empty > 0
           |    THEN CAST(round(64 * ln(CAST(64 AS DOUBLE) / n_empty)) AS BIGINT)
           |    ELSE raw END) AS BIGINT)
           |  FROM (SELECT
           |      CAST(floor(0.709::DOUBLE * 4096 * 8589934592 /
           |        CAST(s_present + (64 - n_present) * 8589934592 AS DOUBLE))
           |        AS BIGINT) AS raw,
           |      64 - n_present AS n_empty
           |    FROM (SELECT node, count(*) AS n_present,
           |        CAST(sum(CAST(power(2, 33 - m) AS BIGINT)) AS BIGINT)
           |          AS s_present
           |      FROM $reg GROUP BY 1))""".stripMargin
      val rounds = (1 to hyperBallMaxRounds).map { r =>
        s"""r$r AS MATERIALIZED (SELECT node, bucket, max(m) AS m FROM (
           |    SELECT node, bucket, m FROM r${r - 1}
           |    UNION ALL
           |    SELECT ed.u AS node, p.bucket, p.m
           |    FROM ed JOIN r${r - 1} p ON ed.v = p.node) GROUP BY 1, 2),
           |s$r AS (SELECT $r AS round,
           |    (SELECT count(*) FROM r$r n WHERE NOT EXISTS (
           |      SELECT 1 FROM r${r - 1} p WHERE p.node = n.node
           |        AND p.bucket = n.bucket AND p.m = n.m)) AS n_changed,
           |    (SELECT CAST(sum(m) AS BIGINT) FROM r$r) AS reg_checksum,
           |    (${estCte(s"r$r")}) AS nf_estimate)""".stripMargin
      }.mkString(",\n")
      val unions = (0 to hyperBallMaxRounds).map(r => s"SELECT * FROM s$r")
        .mkString("\nUNION ALL ")
      s"""WITH ${OracleSql.hyperballRegisters},
         |s0 AS (SELECT 0 AS round,
         |    (SELECT count(*) FROM r0) AS n_changed,
         |    (SELECT CAST(sum(m) AS BIGINT) FROM r0) AS reg_checksum,
         |    (${estCte("r0")}) AS nf_estimate),
         |$rounds,
         |traj AS ($unions),
         |cut AS (SELECT * FROM traj WHERE round <= (
         |  SELECT min(round) FROM traj WHERE n_changed = 0 AND round >= 1)),
         |fin AS (SELECT nf_estimate AS nf_final FROM cut
         |  WHERE round = (SELECT max(round) FROM cut))
         |SELECT round, n_changed, reg_checksum, nf_estimate,
         |  nf_estimate * 1000000 // (SELECT nf_final FROM fin)
         |    AS pct_of_final_ppm
         |FROM cut ORDER BY round""".stripMargin
    },
    // the same register unroll as q253, but summarized PER NODE per
    // round; harmonic weights are exact lcm(1..24)-scaled integers and
    // post-fixpoint rounds contribute delta = 0, so the oracle sums its
    // full unroll with no cut — the monotone-lattice argument
    "q258_harmonic_centrality" -> {
      def nodeEstCte(r: Int) =
        s"""er$r AS (SELECT node, $r AS round,
           |    CASE WHEN raw <= 160 AND n_empty > 0
           |      THEN CAST(round(64 * ln(CAST(64 AS DOUBLE) / n_empty)) AS BIGINT)
           |      ELSE raw END AS est
           |  FROM (SELECT node,
           |      CAST(floor(0.709::DOUBLE * 4096 * 8589934592 /
           |        CAST(s_present + (64 - n_present) * 8589934592 AS DOUBLE))
           |        AS BIGINT) AS raw,
           |      64 - n_present AS n_empty
           |    FROM (SELECT node, count(*) AS n_present,
           |        CAST(sum(CAST(power(2, 33 - m) AS BIGINT)) AS BIGINT)
           |          AS s_present
           |      FROM r$r GROUP BY 1)))""".stripMargin
      val regRounds = (1 to hyperBallMaxRounds).map { r =>
        s"""r$r AS MATERIALIZED (SELECT node, bucket, max(m) AS m FROM (
           |    SELECT node, bucket, m FROM r${r - 1}
           |    UNION ALL
           |    SELECT ed.u AS node, p.bucket, p.m
           |    FROM ed JOIN r${r - 1} p ON ed.v = p.node) GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      val estRounds = (0 to hyperBallMaxRounds).map(nodeEstCte).mkString(",\n")
      val unions = (0 to hyperBallMaxRounds).map(r => s"SELECT * FROM er$r")
        .mkString("\nUNION ALL ")
      s"""WITH ${OracleSql.hyperballRegisters},
         |$regRounds,
         |$estRounds,
         |allr AS ($unions),
         |del AS (SELECT node, round,
         |    est - lag(est) OVER (PARTITION BY node ORDER BY round) AS delta
         |  FROM allr),
         |hc AS (SELECT node,
         |    CAST(sum(delta * ($hbHarmonicLcm // round)) AS BIGINT) AS hc_num
         |  FROM del WHERE round >= 1 GROUP BY node)
         |SELECT h.node, h.hc_num, f.est AS ball_final
         |FROM hc h JOIN er$hyperBallMaxRounds f ON h.node = f.node
         |ORDER BY hc_num DESC, h.node LIMIT 10""".stripMargin
    },
    // the FULL graph's components recomputed FROM SCRATCH (8 unrolled
    // propagate + 2-jump super-rounds over both edge directions, ≥ 4^8
    // hop coverage, q245's in-band n_moved_final audit) — matching the
    // Spark side's incremental merge IS the incremental ≡ batch proof
    "q255_incremental_cc" -> {
      val rounds = (1 to sccOracleSuperRounds).map { k =>
        s"""cp$k AS (SELECT n.node,
           |    least(n.lbl, coalesce(m.inmin, n.lbl)) AS lbl
           |  FROM c${k - 1} n LEFT JOIN (
           |    SELECT eb.dst AS node, min(l.lbl) AS inmin
           |    FROM eb JOIN c${k - 1} l ON eb.src = l.node
           |    GROUP BY 1) m USING (node)),
           |cj$k AS (SELECT a.node,
           |    least(a.lbl, coalesce(b.lbl, a.lbl)) AS lbl
           |  FROM cp$k a LEFT JOIN cp$k b ON a.lbl = b.node),
           |c$k AS MATERIALIZED (SELECT a.node,
           |    least(a.lbl, coalesce(b.lbl, a.lbl)) AS lbl
           |  FROM cj$k a LEFT JOIN cj$k b ON a.lbl = b.node)""".stripMargin
      }.mkString(",\n")
      val k = sccOracleSuperRounds
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
         |  FROM lineitem),
         |e AS MATERIALIZED (SELECT u, v FROM (
         |    SELECT a.p AS u, b.p AS v, count(*) AS m_full FROM items a
         |    JOIN items b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2)
         |  WHERE m_full >= 2),
         |eb AS MATERIALIZED (SELECT u AS src, v AS dst FROM e
         |  UNION ALL SELECT v AS src, u AS dst FROM e),
         |nodes AS (SELECT DISTINCT src AS node FROM eb),
         |c0 AS (SELECT node, node AS lbl FROM nodes),
         |$rounds,
         |moved AS (SELECT count(*) AS n_moved
         |  FROM c$k f JOIN c${k - 1} fp USING (node)
         |  WHERE f.lbl <> fp.lbl)
         |SELECT lbl AS component, count(*) AS n_members,
         |  min(node) AS min_member,
         |  CAST(sum(node) AS BIGINT) AS member_checksum,
         |  (SELECT CAST(n_moved AS BIGINT) FROM moved) AS n_moved_final
         |FROM c$k GROUP BY 1
         |ORDER BY n_members DESC, component LIMIT 50""".stripMargin
    },
    // the identical m>=2 edge list reduced to a degree histogram, fit
    // with q200's closed-form milli-nat OLS expression tree
    "q223_degree_powerlaw" ->
      s"""WITH ${OracleSql.copurchasePairs},
         |ed AS (SELECT u, v FROM e2
         |  UNION ALL SELECT v AS u, u AS v FROM e2),
         |deg AS (SELECT u, count(*) AS dg FROM ed GROUP BY 1),
         |hist AS (SELECT dg, count(*) AS nd FROM deg GROUP BY 1),
         |pts AS (SELECT
         |    CAST(round(ln(CAST(dg AS DOUBLE)) * 1000) AS BIGINT) AS x,
         |    CAST(round(ln(CAST(nd AS DOUBLE)) * 1000) AS BIGINT) AS y
         |  FROM hist),
         |sums AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
         |    CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx FROM pts)
         |SELECT n,
         |  CASE WHEN n < 2 OR n * sxx - sx * sx = 0 THEN NULL
         |    ELSE CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
         |      / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000) AS BIGINT)
         |    END AS slope_micro,
         |  CASE WHEN n < 2 OR n * sxx - sx * sx = 0 THEN NULL
         |    ELSE CAST(round((CAST(sy AS DOUBLE)
         |      - CAST(n * sxy - sx * sy AS DOUBLE)
         |        / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |      / CAST(n AS DOUBLE) * 1000) AS BIGINT)
         |    END AS intercept_micro
         |FROM sums""".stripMargin,
    // identical pair counts, identical (m desc, v) rank order
    "q217_item_recs" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e2 AS (SELECT u, v, m FROM (
        |    SELECT a.p AS u, b.p AS v, count(*) AS m FROM items a
        |    JOIN items b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2)
        |  WHERE m >= 2),
        |sym AS (SELECT u, v, m FROM e2
        |  UNION ALL SELECT v AS u, u AS v, m FROM e2),
        |rk AS (SELECT u, v, m, row_number()
        |    OVER (PARTITION BY u ORDER BY m DESC, v) AS rank FROM sym)
        |SELECT u AS part, CAST(rank AS INT) AS rank, v AS rec_part,
        |  m AS n_cobuys
        |FROM rk WHERE rank <= 3 ORDER BY part, rank""".stripMargin,
    // the same fixed-depth forward/backward min-label passes, unrolled as
    // generated CTEs over the identical ≥2-distinct-customer edge list
    "q210_scc_classes" -> {
      def rounds(tag: String, src: String, dst: String) =
        (1 to sccRounds).map { r =>
          s"""${tag}m$r AS (SELECT e.$dst AS node, min(l.lbl) AS inmin
             |  FROM e JOIN $tag${r - 1} l ON e.$src = l.node GROUP BY 1),
             |$tag$r AS MATERIALIZED (SELECT n.node,
             |    least(n.lbl, coalesce(m.inmin, n.lbl)) AS lbl
             |  FROM $tag${r - 1} n LEFT JOIN ${tag}m$r m USING (node))"""
            .stripMargin
        }.mkString(",\n")
      s"""WITH ${OracleSql.sccSeeds},
         |${rounds("f", "u", "v")},
         |${rounds("b", "v", "u")},
         |j AS (SELECT f.node, f.lbl AS fl, b.lbl AS bl,
         |    fp.lbl AS flp, bp.lbl AS blp
         |  FROM f$sccRounds f JOIN b$sccRounds b USING (node)
         |  JOIN f${sccRounds - 1} fp USING (node)
         |  JOIN b${sccRounds - 1} bp USING (node))
         |SELECT fl AS fwd_label, bl AS bwd_label, count(*) AS n_members,
         |  min(node) AS min_member, CAST(sum(node) AS BIGINT) AS id_checksum,
         |  bool_or(fl <> flp OR bl <> blp) AS at_horizon
         |FROM j WHERE fl = bl GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY n_members DESC, fwd_label, bwd_label LIMIT 20""".stripMargin
    },
    // identical wedge enumeration + fixed-point RA (// ≡ div on the
    // positive operands), so the top-20 candidate ranking must match
    "q177_link_predict" ->
      s"""WITH ${OracleSql.copurchaseDegrees},
         |wg AS (SELECT a.u AS w, a.v AS x, b.v AS y
         |  FROM ed a JOIN ed b ON a.u = b.u AND a.v < b.v),
         |sc AS (SELECT x, y, count(*) AS cn,
         |    CAST(sum(1000000 // dg) AS BIGINT) AS ra_ppm
         |  FROM wg JOIN deg ON wg.w = deg.u GROUP BY 1, 2)
         |SELECT x AS u, y AS v, cn, ra_ppm FROM sc
         |WHERE NOT EXISTS (SELECT 1 FROM e2
         |  WHERE e2.u = sc.x AND e2.v = sc.y)
         |ORDER BY cn DESC, ra_ppm DESC, u, v LIMIT 20""".stripMargin,
    // the same fixed-depth frontier expansion, unrolled as generated
    // CTEs — identical seeds (mod rule), identical rounds, so the hop
    // profile must match row for row
    "q167_bfs_hops" -> {
      s"""WITH ${OracleSql.bfsFrontiers(bfsRounds)}
         |SELECT dist, count(*) AS n_nodes,
         |  CAST(sum(x) AS BIGINT) AS id_checksum
         |FROM v$bfsRounds GROUP BY 1
         |UNION ALL
         |SELECT -1 AS dist, count(*) AS n_nodes,
         |  CAST(coalesce(sum(x), 0) AS BIGINT) AS id_checksum
         |FROM nodes WHERE NOT EXISTS
         |  (SELECT 1 FROM v$bfsRounds w WHERE w.x = nodes.x)
         |ORDER BY dist""".stripMargin
    },
    // the identical md5 hash-sample: both engines draw the same
    // neighborhoods, so the aggregate must match exactly
    "q159_gnn_sample" ->
      s"""WITH ${OracleSql.copurchaseDegrees},
         |rk AS (SELECT u, v, row_number() OVER (PARTITION BY u
         |    ORDER BY md5(u || ':' || v), v) AS rk FROM ed),
         |samp AS (SELECT u, v FROM rk WHERE rk <= $sampleS),
         |h2 AS (SELECT x.u, y.v AS w2 FROM samp x JOIN samp y ON x.v = y.u),
         |ag AS (SELECT h2.u, count(*) AS n_s2,
         |    CAST(sum(d2.dg) AS BIGINT) AS sum_deg2,
         |    CAST(count(DISTINCT w2) AS BIGINT) AS n_dist2
         |  FROM h2 JOIN deg d2 ON h2.w2 = d2.u GROUP BY 1),
         |s1 AS (SELECT u, count(*) AS n_s1 FROM samp GROUP BY 1)
         |SELECT deg.u AS node, deg.dg, s1.n_s1,
         |  COALESCE(ag.n_s2, 0) AS n_s2,
         |  COALESCE(ag.sum_deg2, 0) AS sum_deg2,
         |  COALESCE(ag.n_dist2, 0) AS n_dist2
         |FROM deg JOIN s1 ON deg.u = s1.u
         |LEFT JOIN ag ON deg.u = ag.u
         |ORDER BY node""".stripMargin,
    // the same 3 synchronous rounds, unrolled as generated CTEs — the
    // packed-BIGINT argmax is reproduced literally so the per-node winner
    // (max count, ties to smallest label) is the identical integer max
    "q155_label_propagation" -> {
      s"""WITH ${OracleSql.lpaLabels}
         |SELECT lbl AS community, count(*) AS n_members,
         |  min(node) AS min_member,
         |  CAST(sum(node) AS BIGINT) AS member_checksum
         |FROM l$lpaRounds GROUP BY 1
         |ORDER BY n_members DESC, community LIMIT 50""".stripMargin
    },
    // the identical 3 unrolled LPA rounds feeding the exact integer
    // modularity rational — abs-value division mirrors the Spark side's
    // explicit-sign form (both engines' integer division truncates toward
    // zero, so the unshifted form would agree too; see the Scaladoc note)
    "q202_modularity" -> {
      s"""WITH ${OracleSql.lpaLabels},
         |deg AS (SELECT u, count(*) AS dg FROM ed GROUP BY 1),
         |dc AS (SELECT l.lbl, sum(deg.dg) AS dc, count(*) AS n_nodes
         |  FROM l$lpaRounds l JOIN deg ON l.node = deg.u GROUP BY 1),
         |intra AS (SELECT lu.lbl AS lbl, count(*) AS intra2
         |  FROM ed JOIN l$lpaRounds lu ON ed.u = lu.node
         |  JOIN l$lpaRounds lv ON ed.v = lv.node
         |  WHERE lu.lbl = lv.lbl GROUP BY 1),
         |comm AS (SELECT dc.lbl, dc.dc, dc.n_nodes,
         |    COALESCE(intra.intra2, 0) AS intra2
         |  FROM dc LEFT JOIN intra ON dc.lbl = intra.lbl),
         |tot AS (SELECT CAST(sum(n_nodes) AS BIGINT) AS n_nodes,
         |    count(*) AS n_communities,
         |    CAST(sum(dc) AS HUGEINT) AS m2,
         |    CAST(sum(intra2) AS HUGEINT) AS sum_intra2,
         |    CAST(sum(CAST(dc AS HUGEINT) * dc) AS HUGEINT) AS sum_dc2
         |  FROM comm)
         |SELECT n_nodes, n_communities,
         |  CAST(m2 // 2 AS BIGINT) AS m_edges,
         |  CAST(m2 * sum_intra2 - sum_dc2 AS BIGINT) AS q_num,
         |  CAST(m2 * m2 AS BIGINT) AS q_den,
         |  CAST(CASE WHEN m2 * sum_intra2 >= sum_dc2
         |    THEN (m2 * sum_intra2 - sum_dc2) * 1000000 // (m2 * m2)
         |    ELSE -((sum_dc2 - m2 * sum_intra2) * 1000000 // (m2 * m2))
         |    END AS BIGINT) AS modularity_ppm
         |FROM tot""".stripMargin
    },
    // the same 12 synchronous peel rounds, unrolled as generated CTEs —
    // identical recursion depth by construction, so the trajectory must
    // match row for row
    "q148_kcore_peel" -> {
      val rounds = (1 to coreRounds).map { r =>
        val prev = s"a${r - 1}"
        s"""d$r AS MATERIALIZED (SELECT x, count(*) AS c FROM (
           |    SELECT u AS x FROM e WHERE u IN (SELECT x FROM $prev)
           |      AND v IN (SELECT x FROM $prev)
           |    UNION ALL
           |    SELECT v AS x FROM e WHERE u IN (SELECT x FROM $prev)
           |      AND v IN (SELECT x FROM $prev)) GROUP BY 1),
           |a$r AS MATERIALIZED (SELECT x FROM d$r WHERE c >= $coreK),
           |s$r AS (SELECT $r AS round,
           |    (SELECT count(*) FROM $prev) - (SELECT count(*) FROM a$r)
           |      AS n_removed,
           |    (SELECT count(*) FROM a$r) AS n_alive,
           |    (SELECT CAST(COALESCE(sum(x), 0) AS BIGINT) FROM a$r)
           |      AS alive_checksum)""".stripMargin
      }.mkString(",\n")
      val unions = (1 to coreRounds).map(r => s"SELECT * FROM s$r")
        .mkString("\nUNION ALL ")
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
         |  FROM lineitem),
         |e AS MATERIALIZED (SELECT u, v FROM (
         |    SELECT a.p AS u, b.p AS v, count(*) AS m FROM items a
         |    JOIN items b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2)
         |  WHERE m >= 2),
         |a0 AS MATERIALIZED (SELECT u AS x FROM e UNION SELECT v AS x FROM e),
         |$rounds
         |$unions
         |ORDER BY round""".stripMargin
    },
    // orientation-free canonical u<v<w count — result invariance between
    // the degree-oriented plan and this formulation is part of the check
    "q138_triangle_count" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |edges AS (
        |  SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT x, count(*) AS dg FROM (
        |    SELECT u AS x FROM edges UNION ALL SELECT v FROM edges)
        |  GROUP BY 1),
        |tri AS (SELECT count(*) AS n_triangles
        |  FROM edges e1
        |  JOIN edges e2 ON e1.v = e2.u
        |  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
        |agg AS (SELECT count(*) AS n_vertices,
        |    CAST(sum(dg * (dg - 1) // 2) AS BIGINT) AS n_wedges
        |  FROM deg),
        |ne AS (SELECT count(*) AS n_edges FROM edges)
        |SELECT a.n_vertices, ne.n_edges, a.n_wedges, t.n_triangles,
        |  (3 * t.n_triangles * 1000000) // a.n_wedges AS cc_ppm
        |FROM agg a CROSS JOIN ne CROSS JOIN tri t""".stripMargin,
    // same canonical u<v<w enumeration as q138's oracle, per-corner
    // credits via unnest, the identical ppm arithmetic; the summary row
    // re-derives q138's n_triangles as sum(credits) // 3
    "q265_local_clustering" ->
      s"""WITH ${OracleSql.triangleEdgeDegrees},
         |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM edges e1
         |  JOIN edges e2 ON e1.v = e2.u
         |  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
         |cred AS MATERIALIZED (SELECT x, count(*) AS tri FROM (
         |    SELECT unnest([a, b, c]) AS x FROM tri) GROUP BY 1),
         |lcc AS MATERIALIZED (SELECT CAST(d.x AS BIGINT) AS node,
         |    d.dg AS degree,
         |    CAST(coalesce(c.tri, 0) AS BIGINT) AS n_triangles,
         |    CASE WHEN d.dg >= 2 THEN (2 * CAST(coalesce(c.tri, 0) AS BIGINT)
         |        * 1000000) // (d.dg * (d.dg - 1))
         |      ELSE CAST(0 AS BIGINT) END AS lcc_ppm
         |  FROM deg d LEFT JOIN cred c ON d.x = c.x),
         |top AS (SELECT CAST(row_number() OVER (
         |      ORDER BY degree DESC, node) - 1 AS INT) AS rk,
         |    node, degree, n_triangles, lcc_ppm
         |  FROM lcc ORDER BY degree DESC, node LIMIT 10)
         |SELECT * FROM top
         |UNION ALL
         |SELECT CAST(10 AS INT), CAST(-1 AS BIGINT), count(*),
         |  CAST(sum(n_triangles) // 3 AS BIGINT),
         |  CAST(sum(lcc_ppm) // count(*) AS BIGINT)
         |FROM lcc WHERE degree >= 2
         |ORDER BY rk""".stripMargin,
    // every round recomputed from scratch (canonical u<v<w triangle join,
    // 3-way edge credits, the same support cut and checksum) — the
    // oracle's full unroll certifies the engine's post-fixpoint
    // constant-row shortcut
    "q276_ktruss" -> {
      val rounds = (1 to trussRounds).map { r =>
        s"""t$r AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
           |  FROM a${r - 1} e1
           |  JOIN a${r - 1} e2 ON e1.v = e2.u
           |  JOIN a${r - 1} e3 ON e3.u = e1.u AND e3.v = e2.v),
           |sp$r AS (SELECT u, v, count(*) AS sup FROM (
           |    SELECT a AS u, b AS v FROM t$r
           |    UNION ALL SELECT b, c FROM t$r
           |    UNION ALL SELECT a, c FROM t$r) GROUP BY 1, 2),
           |a$r AS MATERIALIZED (SELECT e.u, e.v FROM a${r - 1} e
           |  JOIN sp$r s ON e.u = s.u AND e.v = s.v
           |  WHERE s.sup >= ${trussK - 2})""".stripMargin
      }.mkString(",\n")
      val out = (1 to trussRounds).map { r =>
        s"""SELECT CAST($r AS INT) AS round,
           |  (SELECT count(*) FROM a${r - 1})
           |    - (SELECT count(*) FROM a$r) AS n_removed,
           |  (SELECT count(*) FROM a$r) AS n_alive,
           |  (SELECT coalesce(CAST(sum((u * 524287 + v) % 1000000007)
           |    AS BIGINT), 0) FROM a$r) AS alive_checksum""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH items AS (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |a0 AS MATERIALIZED (
         |  SELECT u, v FROM (
         |    SELECT a.p AS u, b.p AS v, count(*) AS m
         |    FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
         |    GROUP BY 1, 2) WHERE m >= 2),
         |$rounds
         |$out
         |ORDER BY round""".stripMargin
    },
    // identical moments in DECIMAL(38,0), the identical final expression
    // shape (cast → divide → sqrt → round 4): the doubles are the same
    // bits, so round-4 parity is exact, the q33 argument
    "q266_assortativity" ->
      s"""WITH ${OracleSql.triangleEdgeDegrees},
         |pairs AS (SELECT CAST(du.dg AS DECIMAL(38,0)) AS dx,
         |    CAST(dv.dg AS DECIMAL(38,0)) AS dy
         |  FROM (SELECT u, v FROM edges
         |        UNION ALL SELECT v AS u, u AS v FROM edges) e
         |  JOIN deg du ON e.u = du.x
         |  JOIN deg dv ON e.v = dv.x),
         |mom AS (SELECT count(*) AS n_pairs, sum(dx) AS sx, sum(dy) AS sy,
         |    sum(dx * dy) AS sxy, sum(dx * dx) AS sxx, sum(dy * dy) AS syy
         |  FROM pairs)
         |SELECT (SELECT count(*) FROM deg) AS n_nodes,
         |  (SELECT count(*) FROM edges) AS n_edges,
         |  n_pairs,
         |  (2 * (SELECT count(*) FROM edges) * 1000)
         |    // (SELECT count(*) FROM deg) AS avg_degree_milli,
         |  round(CAST(n_pairs * sxy - sx * sy AS DOUBLE)
         |    / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
         |    / sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE)), 4)
         |    AS assortativity
         |FROM mom""".stripMargin,
    "q106_pagerank" -> {
      val iterCtes = (1 to iters).map { i =>
        s"""r$i AS (SELECT n.node,
           |  CAST(150000 + (85 * COALESCE(i.m, 0)) // 100 AS BIGINT) AS pr
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst, SUM(r.pr // e.out_deg) AS m
           |    FROM edges e JOIN r${i - 1} r ON e.src = r.node GROUP BY 1) i
           |  ON n.node = i.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH edges0 AS (
         |  SELECT DISTINCT l_orderkey AS src, l_partkey + $partOffset AS dst
         |  FROM lineitem),
         |deg AS (SELECT src, count(*) AS out_deg FROM edges0 GROUP BY 1),
         |edges AS (SELECT e.src, e.dst, d.out_deg
         |  FROM edges0 e JOIN deg d ON e.src = d.src),
         |nodes AS (SELECT src AS node FROM edges0
         |  UNION SELECT dst FROM edges0),
         |r0 AS (SELECT node, CAST($initRank AS BIGINT) AS pr FROM nodes),
         |$iterCtes
         |SELECT node, pr FROM r$iters ORDER BY pr DESC, node LIMIT 10""".stripMargin
    },
    // the identical 3-round unroll with doubled edges and the teleport
    // CASE keyed on the seed flag — exact integer `//` arithmetic both
    // sides, so the hash match covers every intermediate round
    "q261_personalized_pagerank" -> {
      val iterCtes = (1 to iters).map { i =>
        s"""r$i AS (SELECT n.node,
           |  CAST(n.is_seed * 150000
           |    + (85 * COALESCE(i.m, 0)) // 100 AS BIGINT) AS pr
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst, SUM(r.pr // e.out_deg) AS m
           |    FROM edges e JOIN r${i - 1} r ON e.src = r.node GROUP BY 1) i
           |  ON n.node = i.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH raw0 AS (
         |  SELECT DISTINCT l_orderkey AS src, l_partkey + $partOffset AS dst
         |  FROM lineitem),
         |bi AS (SELECT src, dst FROM raw0
         |  UNION ALL SELECT dst, src FROM raw0),
         |deg AS (SELECT src, count(*) AS out_deg FROM bi GROUP BY 1),
         |edges AS (SELECT e.src, e.dst, d.out_deg
         |  FROM bi e JOIN deg d ON e.src = d.src),
         |seeds AS (SELECT DISTINCT o_orderkey AS node
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  WHERE c_nationkey = $pprSeedNation),
         |nodes AS (SELECT b.node,
         |    CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS is_seed
         |  FROM (SELECT DISTINCT src AS node FROM bi) b
         |  LEFT JOIN seeds s ON b.node = s.node),
         |r0 AS (SELECT node, CAST(is_seed * $initRank AS BIGINT) AS pr
         |  FROM nodes),
         |$iterCtes
         |SELECT node - $partOffset AS part, pr FROM r$iters
         |WHERE node > $partOffset
         |ORDER BY pr DESC, part LIMIT 10""".stripMargin
    },
    // the identical six half-rounds with the product-free per-round
    // renormalization (`// (max // 1e6)`) — every intermediate exact
    // integer, so the hash match covers the full power iteration
    "q262_hits" -> {
      val roundCtes = (1 to iters).map { i =>
        s"""ar$i AS (SELECT e.p, SUM(h.h) AS ar
           |  FROM edges e JOIN h${i - 1} h ON e.o = h.o GROUP BY 1),
           |a$i AS (SELECT p,
           |  CAST(ar // ((SELECT max(ar) FROM ar$i) // $initRank) AS BIGINT) AS a
           |  FROM ar$i),
           |hr$i AS (SELECT e.o, SUM(a.a) AS hr
           |  FROM edges e JOIN a$i a ON e.p = a.p GROUP BY 1),
           |h$i AS (SELECT o,
           |  CAST(hr // ((SELECT max(hr) FROM hr$i) // $initRank) AS BIGINT) AS h
           |  FROM hr$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH edges AS (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |h0 AS (SELECT DISTINCT o, CAST($initRank AS BIGINT) AS h
         |  FROM edges),
         |$roundCtes
         |SELECT kind, node, score FROM (
         |  SELECT 'authority' AS kind, p AS node, a AS score
         |  FROM a$iters ORDER BY a DESC, p LIMIT 10)
         |UNION ALL
         |SELECT kind, node, score FROM (
         |  SELECT 'hub' AS kind, o AS node, h AS score
         |  FROM h$iters ORDER BY h DESC, o LIMIT 10)
         |ORDER BY kind, score DESC, node""".stripMargin
    })
}
