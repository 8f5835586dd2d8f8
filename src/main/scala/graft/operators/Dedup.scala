package graft.operators

import graft.{OracleSql, Q, QueryModule}
import graft.sources.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** MinHash+LSH near-duplicate detection — the shingle→minhash→band→
  * bucket-join pipeline (SURVEY.md §7 M5), built entirely from built-in
  * Column expressions so it is deterministic across engines and
  * DuckDB-oracle-checkable (round 1 used spark.ml MinHashLSH's
  * approxSimilarityJoin, whose explode+UDF-distance machinery cost 89s at
  * sf0.1 and admitted only a rows-only check).
  *
  * Scale shape (the 100 TB story):
  *  - the token set and all K minhashes are one stateless projection per
  *    document — no fit pass, no vocabulary, no shuffle;
  *  - banding (B bands × R hashes) turns all-pairs search into an equi-join
  *    on (band, signature): candidates are generated per bucket, so work is
  *    Σ|bucket|², not n². The (B=3, R=6) choice keeps ~90% recall at
  *    Jaccard ≥ 0.9 while pruning the sub-threshold mass (measured on the
  *    fixtures: 3.8M candidates of 12.5M possible pairs at sf0.1);
  *  - candidate verification joins token sets back BY doc_id, with no
  *    join-strategy hint: AQE broadcasts at fixture scale and shuffles on
  *    the id once the corpus outgrows the threshold. Token sets are never
  *    carried through the band explode, which would multiply the shuffled
  *    payload by B;
  *  - output is per-DOCUMENT (a dedup verdict: neighbor degree + canonical
  *    id = least doc_id in the verified neighborhood), so the result stays
  *    linear in corpus size even when the pair count is quadratic — this
  *    corpus has ~900k true near-dup pairs at sf0.1, and any pair-list
  *    output would itself be the bottleneck.
  */
object Dedup extends QueryModule {

  /** Banding parameters — THE corpus-size knob the sf1 sweep documents
    * (BENCH_SF1.md "fixed bucket space" caveat): bucket occupancy grows
    * with the corpus, so a larger corpus raises rowsPerBand (the band
    * collision probability is s^R — a higher R sharpens the S-curve and
    * prunes sub-threshold candidates harder) and then numBands to buy
    * recall at the threshold back (recall = 1−(1−s^R)^B). The right
    * value is a property of the DEPLOYMENT's corpus, not of the code —
    * and every DuckDB oracle below is generated from these same values,
    * so changing them re-derives the oracle with them.
    */
  private val numBands = 3
  private val rowsPerBand = 6
  private val numHashes = numBands * rowsPerBand

  /** Jaccard-distance acceptance threshold for a verified near-dup. */
  private[graft] val maxDist = 0.1

  /** i-th minhash over the token set: min over tokens of the first 8 md5
    * hex digits of "i:token" — the same family DuckDB can evaluate
    * verbatim, so candidates match the oracle exactly. The min is taken
    * over the hex STRINGS: lexicographic order on fixed-width lowercase
    * hex equals numeric order, so the winner is identical to the former
    * `conv(_, 16, 10)` form while deleting numHashes base-16 conversions
    * per token from the pipeline's hottest projection.
    */
  private def minhash(i: Int): Column =
    array_min(transform(col("tokset"),
      t => substring(md5(concat(lit(s"$i:"), t)), 1, 8)))

  /** Distinct token set per document — the input every minhash stage
    * shares. */
  private def tokenSets(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.fanOut(Tables.documents(s, d), "doc_id").select(col("doc_id"), tokset)

  /** A document's distinct whitespace tokens, from its `text`. */
  private def tokset: Column =
    array_distinct(split(col("text"), "\\s+")).as("tokset")

  /** Verification operand: the token set HASHED to sorted 64-bit ints
    * (first 15 md5 hex digits — same family as the minhashes, evaluable
    * verbatim in DuckDB so the oracle stays identical). Exact-Jaccard
    * verification over millions of candidate pairs is the pipeline's
    * hot loop, and intersecting long arrays costs a fraction of hashing
    * ~100 strings per side per pair (measured: 12s → ~4s at sf0.1);
    * w.h.p. hash-distinctness ≡ token-distinctness, and BOTH engines
    * apply the same hash, so even a collision cannot split the compare.
    */
  private def hashedSets(t: org.apache.spark.sql.DataFrame) =
    t.select(col("doc_id"), array_sort(array_distinct(transform(
      col("tokset"),
      tok => conv(substring(md5(tok), 1, 15), 16, 10).cast("long")))).as("hs"))

  /** Exact-Jaccard distance over two hashed token sets ([[hashedSets]]
    * columns aliased hs1/hs2): |A∪B| from |A|+|B|−|A∩B| — one native
    * merge-walk intersect (SetExprs) per pair instead of two set builds.
    */
  private def jaccardDist: Column = {
    val isect = graft.functions.Vectors
      .sortedIntersectSize(col("hs1"), col("hs2")).cast("double")
    lit(1.0) - isect / (size(col("hs1")) + size(col("hs2")) - isect)
  }

  /** The minhash band rows ([[graft.functions.Hashing.bandRows]]) of a
    * token-set frame: band b's key is its [[rowsPerBand]] minhashes joined
    * with "-". */
  private def bandSigs(t: org.apache.spark.sql.DataFrame) = {
    val withMh = t.select(col("doc_id") +:
      (0 until numHashes).map(i => minhash(i).as(s"mh$i")): _*)
    graft.functions.Hashing.bandRows(withMh, (0 until numBands).map { b =>
      concat_ws("-", (0 until rowsPerBand)
        .map(r => col(s"mh${b * rowsPerBand + r}")): _*)
    }, "doc_id")
  }

  /** Verified near-dup edges (d1 < d2): minhash → band → bucket equi-join
    * candidates, then exact-Jaccard verification. Shared by the per-document
    * verdict (q37) and the transitive clustering (q59).
    */
  /** The UNVERIFIED band-join candidate list, memoized per input dir:
    * the minhash projection +
    * band bucket-join is the pipeline's most expensive stage, and TWO
    * consumers need its output — the verify join ([[verifiedPairs]], ⊂
    * q37/q59/q123) and the recall audit (q204, which must see the
    * candidates BEFORE verification). Staging the pair ids (two longs a
    * row) costs a fraction of recomputing 18 md5 minhashes per document.
    */
  private val candCache = new graft.Scratch.PerDir[String]

  /** The unstaged candidate join: the banded pair join
    * ([[graft.functions.Hashing.bandJoin]]) of the corpus's minhash band
    * rows with themselves. Its hash-built (band, sig) exchange is what fans
    * the work out: at fixture scale AQE's broadcast would fuse
    * scan→minhash→join→verify into ONE task (the single-row-group file
    * gives one input split), leaving the expensive candidate stage
    * single-threaded (measured 6.3s of an 11s total in one task).
    * `private[graft]` so PlanSpec pins the generator plan (the staged
    * artifact hides it).
    */
  private[graft] def candJoin(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.functions.Hashing.bandSelfJoin(bandSigs(tokenSets(s, d)), "doc_id")
      .select(col("l.doc_id").as("d1"), col("r.doc_id").as("d2"))

  private def stagedCands(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.Scratch.read(s, candCache(d)(graft.Scratch.write("graft_mh_cands", candJoin(s, d))))

  /** [[hashedSets]] memoized per input dir: an unstaged plan
    * that references the hashed-set table k times re-tokenizes and
    * re-hashes the corpus k times (Catalyst reuses exchanges, not
    * arbitrary subtrees under differing projections — the q37 lesson).
    * The verify join reads it twice (both pair sides) and the recall
    * audit three times (token explode + both sides).
    */
  private val hsCache = new graft.Scratch.PerDir[String]

  private def stagedHashedSets(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.Scratch.read(s, hsCache(d)(
      graft.Scratch.write("graft_mh_hs", hashedSets(tokenSets(s, d)))))

  private[graft] def verifiedPairs(s: org.apache.spark.sql.SparkSession, d: String) = {
    val th = stagedHashedSets(s, d)
    val cand = stagedCands(s, d)
    // exact-Jaccard verification over the hashed token sets, joined back
    // by id via SHUFFLED HASH joins (hinted): the hash-set table is
    // corpus-sized (broadcast is impossible at 100 TB), and the default
    // sort-merge strategy would SORT the candidate mass — the pipeline's
    // largest intermediate — twice, once per side. Hash-probing it instead
    // is what cut the 10×-scale run from 125s to 61s (BENCH_SF1.md); the
    // build side is one id-partitioned slice of the token table, which is
    // exactly what grows executor-count-wise on a real cluster. |A∪B| is
    // computed as |A|+|B|−|A∩B| — one set build per pair instead of two.
    val x = th.select(col("doc_id").as("d1"), col("hs").as("hs1"))
    val y = th.select(col("doc_id").as("d2"), col("hs").as("hs2"))
    cand
      .join(x.hint("shuffle_hash"), "d1")
      .join(y.hint("shuffle_hash"), "d2")
      .filter(jaccardDist <= maxDist)
      .select("d1", "d2")
  }

  /** [[verifiedPairs]] materialized ONCE through a parquet roundtrip and
    * read back as a leaf scan. Both consumers need this, for the same two
    * reasons:
    *  - they reference the pair list TWICE (q37's d1/d2 degree union, q59's
    *    src/dst edge union), and an uncached twice-referenced subtree means
    *    the whole shingle→minhash→band-join→verify pipeline EXECUTES twice
    *    (exchange reuse does not survive the differing projections on top) —
    *    this was q37's 98.9s-vs-q59's-19.8s bench anomaly;
    *  - the write runs the verify join through the fully adaptive SQL path
    *    (AQE picks broadcast at fixture scale), and the read-back gives the
    *    downstream stages honest leaf statistics. A 100 TB dedup pipeline
    *    stages its edge list between pair generation and consumption anyway.
    *
    * Memoized per input dir ([[graft.Scratch.PerDir]]): the
    * pair list is the dedup family's shared intermediate — generation runs
    * once and both consumers (q37's verdict, q59's clustering) read the
    * same staged artifact, exactly as a production pipeline wires it. The
    * first consumer in a session pays the generation cost (in the sorted
    * bench order that is q37); q59 then measures clustering, not a second
    * redundant generation of the identical pair list. Keyed by the input
    * dir, so different scale factors never cross; deterministic input ⇒
    * identical artifact either way.
    */
  private val stagedCache = new graft.Scratch.PerDir[String]

  private def stagedPairs(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.Scratch.read(s, stagedCache(d)(
      graft.Scratch.write("graft_mh_pairs", verifiedPairs(s, d))))

  /** q37 — per-document near-dup verdict: how many verified neighbors at
    * Jaccard ≥ 0.9, and the canonical (least) doc_id of the neighborhood —
    * `doc_id == canon_id` is the "keep" decision of a dedup pass.
    */
  val minhashNearDup: Q = (s, d) => {
    val pairs = stagedPairs(s, d)
    val degrees = pairs.select(col("d1").as("doc_id"), col("d2").as("nb"))
      .union(pairs.select(col("d2").as("doc_id"), col("d1").as("nb")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_neardup"), min("nb").as("min_nb"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(degrees, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_neardup"), lit(0L)).as("n_neardup"),
        least(col("doc_id"), coalesce(col("min_nb"), col("doc_id"))).as("canon_id"))
      .orderBy("doc_id")
  }

  /** q204 — LSH RECALL/PRECISION audit: the measured consequence of the
    * B×R banding knob. The banding bound (recall = 1−(1−s^R)^B) is a
    * per-pair probability over the hash family; what a deployment needs
    * is the REALIZED recall on its corpus — ground truth from a LOSSLESS
    * pass: prefix filtering (q120's PPJoin discipline) at the SAME
    * threshold (Jaccard ≥ 0.9) over the same hashed token sets — rarity
    * order by corpus frequency, prefix length n − ⌈0.9n⌉ + 1 with
    * ⌈0.9n⌉ = (9n+9) div 10, length filter 10·n₂ ≥ 9·n₁ ∧ 10·n₁ ≥ 9·n₂
    * riding the join, verify 19·|∩| ≥ 9·(|A|+|B|) ⟺ J ≥ 9/10 — every
    * comparison integer-exact, so the truth set is identical in both
    * engines. Found = truth ∩ LSH candidates (a pair semi-join — the
    * audit never trusts the double-valued verify to define the
    * intersection). Output one row: pair counts, misses, recall and
    * precision in ppm. At 100 TB the audit runs on a stratified corpus
    * sample — but both legs (banding and prefix filter) are the same
    * blocked equi-join shapes that scale; nothing here is all-pairs.
    */
  val lshRecall: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val th = stagedHashedSets(s, d)
    val cand = stagedCands(s, d)
    // n rides along from the array length — no count window; the one
    // remaining window (rarity rank) shares the doc_id exchange
    val toksL = th.select(col("doc_id"), size(col("hs")).as("n"),
      explode(col("hs")).as("h"))
    val freq = toksL.groupBy("h").agg(count(lit(1)).as("f"))
    val wRk = Window.partitionBy("doc_id").orderBy(col("f"), col("h"))
    val prefix = toksL.join(freq, "h")
      .withColumn("rk", row_number().over(wRk))
      .filter(col("rk") <= col("n") - expr("(9 * n + 9) div 10") + 1)
      .select(col("doc_id"), col("h"), col("n"))
    val pcand = prefix.select(col("doc_id").as("d1"), col("h"), col("n").as("n1"))
      .join(prefix.select(col("doc_id").as("d2"), col("h"), col("n").as("n2"))
          .hint("shuffle_hash"), Seq("h"))
      .filter(col("d1") < col("d2") &&
        col("n2") * 10 >= col("n1") * 9 && col("n1") * 10 >= col("n2") * 9)
      .select("d1", "d2").distinct()
    val x = th.select(col("doc_id").as("d1"), col("hs").as("hs1"))
    val y = th.select(col("doc_id").as("d2"), col("hs").as("hs2"))
    val isect = graft.functions.Vectors
      .sortedIntersectSize(col("hs1"), col("hs2"))
    val exact = pcand
      .join(x.hint("shuffle_hash"), "d1")
      .join(y.hint("shuffle_hash"), "d2")
      .filter(isect * 19 >= (size(col("hs1")) + size(col("hs2"))) * 9)
      .select("d1", "d2")
    // one execution of the exact pipeline: the LSH-membership marker rides
    // a left join, so n_exact and n_found fall out of a single aggregate
    // (a separate count + semi-join pair would run the prefix join twice —
    // Catalyst reuses exchanges, not twice-referenced subtrees)
    val nEF = exact
      .join(cand.withColumn("in_lsh", lit(1)), Seq("d1", "d2"), "left")
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum("in_lsh"), lit(0L)).cast("long").as("n_found"))
    val nC = cand.agg(count(lit(1)).as("n_candidates"))
    nEF.crossJoin(nC)
      .select(col("n_exact"), col("n_candidates"), col("n_found"),
        (col("n_exact") - col("n_found")).as("n_missed"),
        expr("""CASE WHEN n_exact = 0 THEN 1000000
                ELSE n_found * 1000000 div n_exact END""").as("recall_ppm"),
        expr("""CASE WHEN n_candidates = 0 THEN 1000000
                ELSE n_found * 1000000 div n_candidates END""")
          .as("precision_ppm"))
  }

  /** q59 — transitive near-dup CLUSTERS: connected components over the
    * verified pair graph, the production dedup decision (a "keep exactly
    * one document per duplicate cluster" pass needs the TRANSITIVE closure:
    * q37's per-neighborhood canon_id is not cluster-stable when A~B~C but
    * A≁C).
    *
    * Algorithm: iterative min-label propagation — every doc starts labeled
    * with its own id; each round every node takes the min of its own label
    * and its neighbors' labels; fixpoint = component minimum. Each round is
    * one equi-join of the (staged) edge list against the current labels
    * plus a hash aggregate — all shuffle-partitioned by id, nothing
    * driver-side except the (scalar) convergence probe. Rounds needed =
    * graph diameter; near-dup clusters are dense (diameter ≤ ~3), so this
    * converges in a handful of passes, and the same loop is how
    * large-scale dedup pipelines (and GraphX's own connectedComponents)
    * run it on thousands of executors. Labels only ever decrease, so the
    * label SUM is a convergence certificate: unchanged sum ⟺ fixpoint.
    *
    * Lineage discipline: `next` references `labels` TWICE (propagation +
    * self), so an unstaged loop's LOGICAL plan doubles every round —
    * analysis and plan stringification go exponential long before the data
    * does (measured: round ~10 at sf0.1 spends minutes inside
    * generateTreeString). The loop is therefore a [[graft.Scratch.iterate]]
    * state loop ([[minLabelFixpoint]]): every round is written to parquet
    * and the next round plans against that leaf, so every round plans at
    * the same flat cost and AQE sizes its shuffles from honest leaf stats.
    */
  val dupClusters: Q = (s, d) => {
    val labels = clusterLabels(s, d)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("doc_id"), col("label").as("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("label")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** Connected-component labels (doc_id, label = component minimum) over
    * the verified near-dup graph — the CC loop's final round, memoized per
    * input dir exactly like [[stagedPairs]]: the label
    * table is the dedup family's second shared intermediate (q59's
    * clustering and q123's leakage-safe split both consume it, and a
    * production pipeline stores it next to the pair list).
    */
  private val labelCache = new graft.Scratch.PerDir[String]

  // private[graft]: q234's end-to-end pipeline composition (Pipeline.scala)
  // consumes the SAME staged label table the dedup family shares — the
  // integration point is the artifact, not a recomputation.
  private[graft] def clusterLabels(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.Scratch.read(s, labelCache(d)(computeLabels(s, d)))

  // The edges are the staged pair leaf (see stagedPairs: its write runs
  // the candidate-verify join through AQE, which broadcasts it — measured
  // 14s sort-merge vs 1.5s at sf0.1), and the loop's final round dir IS
  // the staged label table.
  private def computeLabels(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    ccMinLabels(s,
      Tables.documents(s, d).select(col("doc_id")), stagedPairs(s, d))

  /** Min-label connected components over ANY (d1, d2) edge list and
    * (doc_id) node set — the loop [[dupClusters]]'s Scaladoc describes,
    * generalized so other pair-producing operators (q131's fuzzy entity
    * pairs, q243's cosine-threshold edges, q255's co-purchase graph) reuse
    * it. Returns the dir of the (doc_id, label) table; read it with
    * [[graft.Scratch.read]].
    */
  private[graft] def ccMinLabels(s: org.apache.spark.sql.SparkSession,
      nodes: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame): String =
    // both directions from ONE reference to `pairs`: a union of two
    // projections would run an unstaged pair plan twice
    minLabelFixpoint(s, nodes, pairs.select(inline(array(
      struct(col("d1").as("src"), col("d2").as("dst")),
      struct(col("d2").as("src"), col("d1").as("dst"))))))._1

  /** Loud cap for the min-label fixpoint: rounds track log(diameter)
    * (the two pointer jumps per round); q243's embedding graph at
    * τ = 0.4, the deepest caller, needs ~19 at sf1. */
  private[graft] val ccMaxRounds = 50

  /** The DIRECTED core of [[ccMinLabels]]: labels flow src → dst only, so
    * the converged label(x) is the minimum id that REACHES x — undirected
    * components fall out by passing both edge directions (ccMinLabels),
    * and q245's SCC coloring passes each direction separately (forward
    * reachability min, then the reversed edges for backward). The
    * path-doubling jump stays sound under direction: label(x) = ℓ means
    * ℓ →* x, and label(ℓ) = m means m →* ℓ, so m →* x by transitivity —
    * every jumped label is a genuine reacher, never a shortcut across
    * direction.
    *
    * A [[graft.Scratch.iterate]] state loop over the staged edge list:
    * round 0 labels every node with itself, and each round propagates the
    * in-neighbor minimum and then jumps twice. Returns the final round's
    * dir AND the per-round label-sum trajectory — the driver-synced
    * convergence evidence (labels only decrease, so the sum falls until
    * the fixpoint; the last two entries equal BY TERMINATION, and a spec
    * pins that contract). The staged edges and the previous round are
    * dropped before it returns.
    */
  private[graft] def minLabelFixpoint(s: org.apache.spark.sql.SparkSession,
      nodes: org.apache.spark.sql.DataFrame,
      dirEdges: org.apache.spark.sql.DataFrame): (String, Seq[Long]) = {
    // staged once: every round joins a parquet leaf, not the edge plan
    val edDir = graft.Scratch.write("graft_cc_edges", dirEdges)
    val ue = graft.Scratch.read(s, edDir)
    val traj = scala.collection.mutable.ArrayBuffer.empty[Long]
    // labels only decrease, so an unchanged Σ label ⟺ the fixpoint
    def settled(r: Int, labels: org.apache.spark.sql.DataFrame): Boolean = {
      val sumNow = labels.agg(coalesce(sum("label"), lit(0L))).head().getLong(0)
      val done = traj.lastOption.contains(sumNow)
      traj += sumNow
      done
    }
    // pointer jump (path doubling): label ← label(label). Neighbor
    // propagation alone needs diameter-many rounds — a CHAIN of
    // near-dups (common in templated corpora) makes that dozens of
    // driver-synced rounds; composing the jump drops it to
    // O(log diameter). Labels still only decrease, so the sum
    // certificate is untouched.
    def jump(m: org.apache.spark.sql.DataFrame) = m.alias("a")
      .join(m.alias("b"), col("a.label") === col("b.doc_id"), "left")
      .select(col("a.doc_id").as("doc_id"),
        least(col("a.label"), coalesce(col("b.label"), col("a.label"))).as("label"))
    val (last, prev) = graft.Scratch.iterate(s, "graft_cc_l",
        nodes.select(col("doc_id"), col("doc_id").as("label")),
        graft.Scratch.Converge("min-label CC", ccMaxRounds, "ccMaxRounds"),
        settled) { (_, labels) =>
      val prop = ue.join(labels, col("src") === col("doc_id"))
        .groupBy(col("dst")).agg(min("label").as("nb_min"))
      val stepped = labels.join(prop, col("doc_id") === col("dst"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("nb_min"), col("label"))).as("label"))
      // two jumps per round: each driver-synced round costs fixed stage
      // overhead regardless of data volume, so compressing harder per
      // round (4× path doubling) is nearly free and halves the rounds
      jump(jump(stepped))
    }
    graft.Scratch.drop(edDir)
    graft.Scratch.drop(prev)
    (last, traj.toSeq)
  }

  private val segLen = 10

  /** q113 — corpus-level repeated-segment removal: CCNet-style line dedup
    * transposed to the fixtures' unpunctuated prose (the "line" is a
    * [[segLen]]-token segment). Every segment is keyed by its md5; the
    * corpus-wide FIRST occurrence (minimum of the doc-major order key
    * doc_id·10⁶+pos) survives and every later copy is dropped — the
    * boilerplate/header removal pass every web-scale corpus runs before
    * document-level dedup.
    *
    * Scale shape: segmenting is one stateless projection (posexplode of a
    * windowed-slice array, linear in total tokens); the first-occurrence
    * pick is ONE hash aggregate keyed on the 16-byte segment digest; the
    * keep verdict is one equi-join back on that digest; the per-document
    * rebuild is one keyed aggregate whose array_sort runs over that
    * document's kept segments only. Nothing is quadratic, nothing
    * driver-side; the output (per-doc counts + rebuilt-text fingerprint)
    * stays linear in corpus size.
    */
  val segmentDedup: Q = (s, d) => {
    val t = Tables.fanOut(Tables.documents(s, d), "doc_id")
      .select(col("doc_id"),
        filter(split(col("text"), "\\s+"), x => length(x) > 0).as("tk"))
    // Spark `div` and DuckDB `//` BOTH truncate toward zero (verified:
    // -40000000 // 60 = -666666 in DuckDB — trunc, not floor), so integer
    // division agrees between the engines on any sign; here the numerator
    // is ≥ segLen-1 > 0 anyway since size(tk) ≥ 0.
    val nSeg = expr(s"(size(tk) + ${segLen - 1}) div $segLen").cast("int")
    val idx = when(nSeg > 0, sequence(lit(0), nSeg - 1))
      .otherwise(array().cast("array<int>"))
    val segRows = t.select(col("doc_id"),
      posexplode(transform(idx,
        i => concat_ws(" ", slice(col("tk"), i * segLen + 1, lit(segLen)))))
        .as(Seq("pos", "seg")))
    // order key encodes (doc, pos) in one bigint so "first occurrence" is
    // a plain min; pos is bounded by tokens-per-doc ≪ 10⁶
    val keyed = segRows.select(col("doc_id"), col("pos"), col("seg"),
      md5(col("seg")).as("h"),
      (col("doc_id") * 1000000L + col("pos")).as("okey"))
    val first = keyed.groupBy("h").agg(min("okey").as("first_key"))
    val flagged = keyed.join(first, "h")
      .withColumn("keep", col("okey") === col("first_key"))
    flagged.groupBy("doc_id").agg(
      count(lit(1)).as("n_segments"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
      // rebuilt text, position order; collect_list skips the nulls the
      // when() leaves for dropped segments, array_sort restores pos order
      md5(concat_ws(" ", transform(
        array_sort(collect_list(when(col("keep"),
          struct(col("pos"), col("seg"))))),
        st => st.getField("seg")))).as("kept_fp"))
      .orderBy("doc_id")
  }

  /** Delta-batch membership: every 10th document plays the incoming batch,
    * the rest are the already-ingested corpus. */
  private def isDelta: Column = col("doc_id") % 10 === 7

  /** Corpus-side minhash index — band signatures + hashed token sets of
    * the NON-delta documents, memoized per input dir like
    * [[stagedPairs]]. This is the artifact an
    * incremental dedup pipeline keeps between runs: the index is built
    * when the corpus is ingested, and each new batch only PROBES it —
    * never re-scans the corpus.
    */
  private val indexCache = new graft.Scratch.PerDir[(String, String)]

  private def corpusIndex(s: org.apache.spark.sql.SparkSession, d: String) = {
    val (sigDir, setDir) = indexCache(d) {
      val t = tokenSets(s, d).filter(!isDelta)
      (graft.Scratch.write("graft_mh_index_sigs", bandSigs(t)),
        graft.Scratch.write("graft_mh_index_sets", hashedSets(t)))
    }
    (graft.Scratch.read(s, sigDir), graft.Scratch.read(s, setDir))
  }

  /** q114 — INCREMENTAL near-dup: a delta batch checked against the staged
    * corpus index (the production shape of minhash dedup — q37/q59
    * deduplicate a corpus against itself once; every run after that is
    * this query). The delta side computes its own signatures (linear in
    * batch size), candidates come from the delta-sigs ⋈ index-sigs
    * equi-join on (band, sig), and only delta-involved candidates pay the
    * exact-Jaccard verify — at 100 TB the corpus is never re-scanned and
    * the per-run cost is O(batch + collisions), not O(corpus).
    *
    * Verdict per delta document: how many verified corpus near-dups, the
    * least matching corpus id (`dup_of`, −1 when none — the "drop the
    * incoming copy, keep the ingested one" decision), and the is_new bit
    * that admits the document into the corpus.
    */
  val deltaNearDup: Q = (s, d) =>
    deltaVerdicts(s, d, Tables.fanOut(Tables.documents(s, d), "doc_id")
      .filter(isDelta)).orderBy("doc_id")

  /** The q114/q244 verdict for each delta document of `delta` (doc_id,
    * text): its minhash band rows probe the staged [[corpusIndex]] by the
    * banded pair join ([[graft.functions.Hashing.bandJoin]], the index side
    * hash-built), only the candidates pay the exact-Jaccard verify, and
    * each document gets (n_dup, dup_of, is_new).
    */
  private def deltaVerdicts(s: org.apache.spark.sql.SparkSession, d: String,
      delta: org.apache.spark.sql.DataFrame) = {
    val (ixSigs, ixSets) = corpusIndex(s, d)
    val t = delta.select(col("doc_id"), tokset)
    val cand = graft.functions.Hashing.bandJoin(bandSigs(t), ixSigs)
      .select(col("l.doc_id").as("did"), col("r.doc_id").as("cid"))
    val x = hashedSets(t).select(col("doc_id").as("did"), col("hs").as("hs1"))
    val y = ixSets.select(col("doc_id").as("cid"), col("hs").as("hs2"))
    val matches = cand
      .join(x.hint("shuffle_hash"), "did")
      .join(y.hint("shuffle_hash"), "cid")
      .filter(jaccardDist <= maxDist)
      .groupBy("did")
      .agg(count(lit(1)).as("n_dup"), min("cid").as("dup_of"))
    delta.select(col("doc_id"))
      .join(matches, col("doc_id") === col("did"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        (coalesce(col("n_dup"), lit(0L)) === 0).as("is_new"))
  }

  /** q242 — CROSS-SOURCE duplication matrix: WHICH sources duplicate
    * into which — the provenance question behind every mix decision
    * (q103's temperature weights and q176's vocabulary overlap both
    * assume sources are distinct; this measures where the SAME text
    * flows in through two crawls). Off the staged CC label table alone:
    * reduce to the DISTINCT (cluster, source) incidence frame (cluster-
    * bounded — never the document stream), self-join on the cluster
    * label with src_a < src_b, and count per source pair both the
    * clusters shared and the cross-pair document mass Σ nₐ·n_b (the
    * number of (a-doc, b-doc) duplicate relations — the dedup-savings
    * attribution q232 reports only per size). Per-label fan-out is
    * C(|sources in cluster|, 2) — sources number dozens at 100 TB, so
    * the join output is cluster-count × a small constant.
    */
  val crossSourceDup: Q = (s, d) => {
    val m = clusterLabels(s, d)
      .join(Tables.documents(s, d).select("doc_id", "source"), "doc_id")
    val inc = m.groupBy("label", "source").agg(count(lit(1)).as("nd"))
    val pairs = inc.alias("a").join(inc.alias("b"),
        col("a.label") === col("b.label") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared_clusters"),
        sum(col("a.nd") * col("b.nd")).as("n_cross_pairs"))
    pairs.orderBy("src_a", "src_b")
  }

  /** q239's sketch width: 60 one-bit minhashes, so the packed signature
    * uses bit positions 0..59 — every shift stays inside a positive
    * BIGINT in both engines (bit 63 would need engine-specific overflow
    * semantics). */
  private val bbitK = 60

  /** Deterministic XOR constants for the 60 "permutations": first 15 md5
    * hex digits of "bbit:i" — driver-side plan-build constants (the
    * Hashing.md5hex contract), baked as identical literals into the
    * Spark expression and the oracle SQL. XOR-min over the shared
    * 60-bit token-hash universe is the standard cheap stand-in for a
    * min-wise independent permutation family: no re-hashing of tokens,
    * just one XOR per (token, permutation) over the STAGED hashed sets.
    */
  private lazy val bbitConsts: IndexedSeq[Long] = (0 until bbitK).map { i =>
    java.lang.Long.parseLong(
      graft.functions.Hashing.md5hex(s"bbit:$i").substring(0, 15), 16)
  }

  /** q239 — b-BIT MINHASH audit (Li–König, b = 1): the 8-byte-per-
    * document similarity sketch — each of 60 minhash values keeps only
    * its LOWEST BIT, packed into one BIGINT — against exact Jaccard
    * ground truth. One bit per hash estimates J as 2·(agreement
    * fraction)−1 (a non-matching pair still agrees on half its bits by
    * chance); the estimator is unbiased but 60 bits is a coarse ruler,
    * and THE question a deployment asks before swapping 8-byte
    * signatures for the full hashed sets at 100 TB (a ~1000× shuffle-
    * byte reduction in the verify stage) is the realized error
    * distribution on ITS corpus. This query measures exactly that over
    * the staged LSH candidate pairs (the pairs a dedup pass would
    * actually verify — J spread from ~0 collisions to near-1 dups):
    * per-document signatures are one XOR-min projection over the staged
    * hashed sets (no tokenization, no md5 — the artifact is reused);
    * the pair frame joins the 8-byte signatures and the hashed sets by
    * id (shuffle_hash, the family's verify-join shape); agreement is
    * ONE xor + bit_count per pair; exact Jaccard is the same
    * sorted-intersect walk q37's verify runs. Output: the error
    * histogram — est−exact in ppm, bucketed by 0.1 (shifted positive
    * before the div so truncation ≡ floor in both engines), with pair
    * counts and summed |error| per bucket. ≤ 21 rows at any scale.
    */
  val bbitMinhash: Q = (s, d) => {
    val th = stagedHashedSets(s, d)
    val cand = stagedCands(s, d)
    val bitsExpr = bbitConsts.zipWithIndex.map { case (c, i) =>
      s"(array_min(transform(hs, x -> x ^ ${c}L)) % 2) * ${1L << i}L"
    }.mkString(" + ")
    val sigs = th.select(col("doc_id"), size(col("hs")).as("n"),
      expr(bitsExpr).as("bits"))
    val x = sigs.select(col("doc_id").as("d1"), col("n").as("n1"),
      col("bits").as("b1"))
    val y = sigs.select(col("doc_id").as("d2"), col("n").as("n2"),
      col("bits").as("b2"))
    val hx = th.select(col("doc_id").as("d1"), col("hs").as("hs1"))
    val hy = th.select(col("doc_id").as("d2"), col("hs").as("hs2"))
    val isect = graft.functions.Vectors
      .sortedIntersectSize(col("hs1"), col("hs2")).cast("long")
    val scored = cand
      .join(x.hint("shuffle_hash"), "d1").join(y.hint("shuffle_hash"), "d2")
      .join(hx.hint("shuffle_hash"), "d1").join(hy.hint("shuffle_hash"), "d2")
      .withColumn("agree", lit(bbitK.toLong) - expr("bit_count(b1 ^ b2)"))
      .withColumn("isect", isect)
      .withColumn("exact_ppm", expr("isect * 1000000 div (n1 + n2 - isect)"))
      // the numerator goes NEGATIVE below 50% bit agreement; safe unshifted
      // because Spark's `div` and DuckDB's `//` both truncate toward zero
      // (trunc ≡ trunc — see the segmentDedup note), so the two engines
      // agree on negative quotients too
      .withColumn("est_ppm",
        expr(s"(2 * agree - $bbitK) * 1000000 div $bbitK"))
      .withColumn("err", col("est_ppm") - col("exact_ppm"))
    scored
      .groupBy(expr("(err + 1000000) div 100000").as("err_bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(abs(col("err"))).as("sum_abs_err"))
      .orderBy("err_bucket")
  }

  /** q244 — STREAMING incremental near-dup: q114's delta-vs-staged-index
    * probe run as a Structured Streaming job — the ingest-time dedup gate
    * a production pipeline actually deploys (documents arrive as a
    * stream; the corpus index is the static side). The delta documents
    * stream in via a file source; every micro-batch computes its OWN
    * band signatures and hashed token sets (stateless projections —
    * linear in the batch), probes the STAGED corpus index exactly as
    * q114 does, and writes per-document verdicts to a durable parquet
    * sink through foreachBatch — batch-id-keyed overwrite paths
    * ([[graft.streaming.StreamingJobs.sinkBatches]]), so an at-least-once
    * replay of a micro-batch rewrites its own dir instead of appending a
    * duplicate. No streaming state at all: a document's
    * verdict depends only on (document, corpus index), never on other
    * delta documents, so the result is independent of micro-batch
    * boundaries — which is why this query can share q114's DuckDB oracle
    * verbatim: batch/stream parity IS the check (the q39/q162 streaming
    *-family discipline). At scale the file source swaps for Kafka and
    * the index probe stays the same shuffle_hash equi-join per batch.
    */
  val streamDeltaDedup: Q = (s, d) => {
    val schema = Tables.documents(s, d).schema
    val delta = s.readStream.schema(schema).parquet(s"$d/documents.*")
      .filter(isDelta)
    graft.streaming.StreamingJobs.sinkBatches(
        graft.Scratch.dir("graft_stream_deltadedup"), delta) { batch =>
      deltaVerdicts(s, d, batch)
    }._1.orderBy("doc_id")
  }

  /** q248 tombstone rule — deterministic, scale-proportional (~2% of
    * docs), expressible identically in both engines. */
  private def isTombstone: Column = col("doc_id") % 53 === 5

  /** q248 bucket count: doc_id % 16 keys the physical layout, so
    * "affected files" is pure metadata math in both engines — wide
    * enough that the ~2% tombstone rate leaves genuinely untouched
    * files at every fixture scale (the byte-identical pin needs them). */
  private val rtbfBuckets = 16L

  /** q248 — RIGHT-TO-BE-FORGOTTEN delete propagation: tombstone a doc_id
    * set, rewrite ONLY the affected files via manifest diff, and AUDIT
    * that staged derived artifacts (dedup labels, posting lists) no
    * longer reference the deleted ids — the compliance pass (GDPR
    * art. 17) every lakehouse needs and the one thing the manifest
    * machinery (q124/q134/q206) had not yet exercised: targeted DELETE.
    *
    * Mechanics, Iceberg-style copy-on-write: the table stages
    * partitioned by bkt = doc_id % [[rtbfBuckets]] (one file per bucket —
    * the repartition(bkt)+partitionBy width pins it) under manifest v1;
    * affected buckets = the tombstones' buckets (a ≤ rtbfBuckets-value
    * planner collect — metadata, q124's discipline); ONLY those files are read
    * back, filtered, and rewritten as NEW files, and manifest v2 = v1's
    * untouched entries ∪ the rewrites — untouched files are never
    * opened, never moved, byte-identical (StorageSpec pins their md5s
    * across the run). The post-delete read goes THROUGH manifest v2 —
    * the real read path, not predicate arithmetic.
    *
    * Propagation: the staged CC label table drops tombstoned members
    * AND re-elects each orphaned cluster's representative (a cluster
    * whose min-id label was itself deleted re-labels to its min
    * SURVIVOR — the reference a naive row-delete leaves dangling); the
    * posting list drops the deleted ids. The audit then COMPUTES the
    * remaining reference counts with explicit joins against the
    * tombstone set (label column included) — the Spark side must
    * measure 0 where the oracle asserts the literal 0, so an incomplete
    * propagation fails the compare loudly. At 100 TB every leg is
    * file-count metadata, a bucket-pruned rewrite of the affected
    * slice, or a tombstone-keyed anti-join — the table is never
    * rewritten whole.
    */
  val rtbfDelete: Q = (s, d) => rtbfRun(s, d, withChecksums = false)._1

  /** The q248 body; `withChecksums` additionally md5s every v1 data file
    * BEFORE the rewrite and returns (path → md5, untouched paths) so
    * StorageSpec can pin untouched files byte-identical AFTER the run.
    */
  private[graft] def rtbfRun(s: org.apache.spark.sql.SparkSession, d: String,
      withChecksums: Boolean)
      : (org.apache.spark.sql.DataFrame, Map[String, String], Seq[String]) = {
    import s.implicits._
    val root = graft.Scratch.dir("graft_rtbf")
    val dataDir = s"$root/data"
    val docs = Tables.documents(s, d)
    docs.withColumn("bkt", col("doc_id") % rtbfBuckets)
      .repartition(col("bkt"))
      .write.partitionBy("bkt").mode("overwrite").parquet(dataDir)
    val fs = new org.apache.hadoop.fs.Path(dataDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // (path, bucket) per data file — bucket parsed from the partition
    // dir name; file-count-bounded metadata, q124's discipline
    def list(dir: String): Seq[(String, Long)] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).filter(_.isDirectory)
        .filter(_.getPath.getName.startsWith("bkt="))
        .flatMap { bd =>
          val b = bd.getPath.getName.stripPrefix("bkt=").toLong
          fs.listStatus(bd.getPath)
            .filter(_.getPath.getName.endsWith(".parquet"))
            .map(f => (f.getPath.toString, b))
        }.toSeq.sortBy(_._1)
    }
    val v1 = list(dataDir)
    v1.toDF("path", "bkt").write.mode("overwrite")
      .parquet(s"$root/manifests/v1")
    val checksums = if (!withChecksums) Map.empty[String, String] else
      v1.map { case (p, _) =>
        val in = fs.open(new org.apache.hadoop.fs.Path(p))
        val bytes = try in.readAllBytes() finally in.close()
        p -> java.security.MessageDigest.getInstance("MD5").digest(bytes)
          .map("%02x".format(_)).mkString
      }.toMap
    val tomb = docs.filter(isTombstone).select("doc_id")
    val affected = tomb.select((col("doc_id") % rtbfBuckets).as("b"))
      .distinct().collect().map(_.getLong(0)).toSet // ≤ 8 values
    val (affectedFiles, untouched) = v1.partition(f => affected(f._2))
    // copy-on-write: ONLY the affected files are read and rewritten
    val rewritten =
      if (affectedFiles.isEmpty) Seq.empty[(String, Long)]
      else {
        s.read.parquet(affectedFiles.map(_._1): _*)
          .filter(!isTombstone)
          .withColumn("bkt", col("doc_id") % rtbfBuckets)
          .repartition(col("bkt"))
          .write.partitionBy("bkt").mode("overwrite").parquet(s"$root/data2")
        list(s"$root/data2")
      }
    val v2 = untouched ++ rewritten
    v2.toDF("path", "bkt").write.mode("overwrite")
      .parquet(s"$root/manifests/v2")
    // the post-delete read goes THROUGH the manifest — the real path
    val after = s.read.parquet(v2.map(_._1): _*)
    val aDocs = after.agg(count(lit(1)).as("n_docs_after"),
      sum("doc_id").as("docs_checksum_after"))
    val bDocs = docs.agg(count(lit(1)).as("n_docs_before"))
    val nTomb = tomb.agg(count(lit(1)).as("n_tombstones"))
    // label propagation: drop deleted members, re-elect orphaned reps
    val labels = clusterLabels(s, d)
    val surv = labels.join(tomb, Seq("doc_id"), "left_anti")
    val newLab = surv.groupBy("label").agg(min("doc_id").as("nl"))
    val lv2 = surv.select(col("doc_id"), col("label").as("old_label"))
      .join(newLab.withColumnRenamed("nl", "new_label")
        .withColumnRenamed("label", "old_label"), "old_label")
    val tombB = broadcast(tomb.withColumnRenamed("doc_id", "t"))
    val labAgg = lv2.agg(
      count(lit(1)).as("n_label_rows_after"),
      sum(when(col("new_label") =!= col("old_label"), 1L).otherwise(0L))
        .as("n_relabeled"))
    // MEASURED residual references (member or representative) — must be
    // the 0 the oracle asserts; an incomplete propagation fails loudly
    val labRefs = lv2.join(tombB,
        col("doc_id") === col("t") || col("new_label") === col("t"))
      .agg(count(lit(1)).as("n_label_refs_after"))
    val posting = docs.select(col("doc_id"),
      explode(array_distinct(filter(split(col("text"), "\\s+"),
        t => length(t) > 0))).as("term"))
    val postingV2 = posting.join(tomb, Seq("doc_id"), "left_anti")
    val postAgg = posting.agg(count(lit(1)).as("n_posting_rows_before"))
    val postAgg2 = postingV2.agg(count(lit(1)).as("n_posting_rows_after"))
    val postRefs = postingV2.join(tombB, col("doc_id") === col("t"))
      .agg(count(lit(1)).as("n_posting_refs_after"))
    val out = bDocs.crossJoin(nTomb).crossJoin(aDocs)
      .crossJoin(labAgg).crossJoin(labRefs)
      .crossJoin(postAgg).crossJoin(postAgg2).crossJoin(postRefs)
      .select(col("n_docs_before"), col("n_tombstones"),
        col("n_docs_after"), col("docs_checksum_after"),
        lit(v1.size.toLong).as("n_files_v1"),
        lit(affectedFiles.size.toLong).as("n_files_rewritten"),
        lit(untouched.size.toLong).as("n_files_untouched"),
        lit(v2.size.toLong).as("n_files_v2"),
        col("n_label_rows_after"), col("n_relabeled"),
        col("n_label_refs_after"),
        col("n_posting_rows_before"), col("n_posting_rows_after"),
        col("n_posting_refs_after"))
    (out, checksums, untouched.map(_._1))
  }

  /** q123 — LEAKAGE-SAFE train/val/test split: the hash split (q75) keyed
    * by DUP-CLUSTER id instead of doc id, so a document and its near-
    * duplicates always land in the same split. This is the reason dedup
    * infrastructure exists in a training pipeline: an id-keyed split puts
    * one copy of a duplicated document in train and another in test, and
    * the eval silently measures memorization. Splitting on the component
    * label makes straddling IMPOSSIBLE by construction (the split is a
    * function of the cluster), at the cost the pipeline already paid —
    * the staged label table. Output audits the realized split: per-split
    * doc/cluster counts and an id checksum pinning WHICH documents landed
    * where.
    */
  val leakageSplit: Q = (s, d) => {
    val labels = clusterLabels(s, d)
    val b = graft.functions.Hashing.md5Bucket(col("label"), 100)
    labels
      .select(col("doc_id"), col("label"),
        when(b < 80, "train").when(b < 90, "val").otherwise("test").as("split"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), countDistinct("label").as("n_clusters"),
        sum("doc_id").as("id_checksum"))
      .orderBy("split")
  }

  /** q131 — ENTITY-RESOLUTION clusters: the transitive closure over q79's
    * verified fuzzy-match pairs, computed by the same generalized
    * [[ccMinLabels]] loop q59 runs on near-dup text pairs. This is the
    * canonicalization step of record linkage — pairwise matching (q79)
    * says "A≈B and B≈C"; only the closure says they are ONE entity even
    * when A and C never matched directly, and the cluster minimum becomes
    * the surviving golden-record id. Same scale shape as q59: edges from
    * the blocked matcher, O(log diameter) driver-synced rounds, output
    * one row per customer.
    */
  val entityClusters: Q = (s, d) => {
    val pairs = Joins.fuzzyPairs(s, d)
      .select(col("key_1").as("d1"), col("key_2").as("d2"))
    val nodes = Tables.customer(s, d).select(col("c_custkey").as("doc_id"))
    val labels = graft.Scratch.read(s, ccMinLabels(s, nodes, pairs))
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("doc_id").as("c_custkey"), col("label").as("entity_id"),
        col("cluster_size"), (col("doc_id") === col("label")).as("is_golden"))
      .orderBy("c_custkey")
  }

  /** Shingle width for the repeated-passage miner — the "≥ k-token exact
    * match" knob of substring-level dedup. */
  private val spanK = 5

  /** q141 — repeated-PASSAGE spans: substring-LEVEL exact dedup, the
    * operator MinHash cannot express. MinHash (q37) answers "are these
    * DOCUMENTS near-identical?"; this answers "which PASSAGES inside a
    * document also occur verbatim elsewhere?" — the boilerplate/quote/
    * license-header mass that survives doc-level dedup and that
    * suffix-array pipelines remove span-by-span. Plan, entirely built-in:
    * (1) one windowed pass builds every [[spanK]]-token shingle per
    * document (lead() over the position stream — no self-join, and the
    * doc_id window reuses [[Tables.fanOut]]'s partitioning, so tokenize →
    * shingle is shuffle-free); (2) one hash aggregate finds shingles seen
    * in ≥ 2 distinct documents — the linear term, shuffling one row per
    * shingle; (3) a semi join marks each document's duplicated positions;
    * (4) gaps-and-islands (break when the next duplicated start is > spanK
    * positions away, i.e. the covered token ranges neither touch nor
    * overlap) merges them into MAXIMAL spans. Output is one row per span —
    * linear in duplicated text, never in pairs of documents containing it.
    *
    * At 100 TB the only change is grouping on a 64-bit hash of the shingle
    * instead of the string (one line; ~16 bytes/shingle through the
    * exchange instead of the text itself) — collision odds are the
    * birthday bound on 2^64 and a collision merely widens a span by one
    * false position. The string form here keeps the DuckDB oracle
    * byte-identical.
    */
  val dupSpans: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.fanOut(Tables.documents(s, d), "doc_id")
      .select(col("doc_id"),
        posexplode(filter(split(col("text"), "\\s+"), x => length(x) > 0))
          .as(Seq("pos", "t")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val sh = tok.select(col("doc_id"), col("pos"),
      concat_ws(" ", col("t") +:
        (1 until spanK).map(i => lead("t", i).over(w)): _*).as("sh"),
      lead("t", spanK - 1).over(w).isNotNull.as("full"))
      .filter(col("full"))
    val dup = sh.groupBy("sh")
      .agg(countDistinct("doc_id").as("nd")).filter(col("nd") >= 2)
      .select("sh")
    val hits = sh.join(dup, Seq("sh"), "left_semi").select("doc_id", "pos")
    val spans = hits
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(w) > spanK, 1).otherwise(0))
      .withColumn("grp", sum("brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("s0"), max("pos").as("s1"), count(lit(1)).as("n_shingles"))
    spans.select(col("doc_id"),
      col("s0").cast("int").as("span_start"),
      (col("s1") + spanK - 1).cast("int").as("span_end"),
      (col("s1") + spanK - col("s0")).cast("int").as("span_len"),
      col("n_shingles"))
      .orderBy("doc_id", "span_start")
  }

  /** q198 — SURVIVORSHIP (golden-record selection) over the near-dup
    * clusters: after q59 says WHICH documents are the same, pick per
    * cluster the record that survives and the attributes it carries —
    * the MDM/canonical-document step every dedup pipeline ends with.
    * Rules, all deterministic: keep the LONGEST text (tie → smallest
    * doc_id), packed as one integer argmax key (n_chars·10⁹ + reversed
    * doc_id) so both engines agree without struct-ordering semantics;
    * the cluster language is the MAJORITY vote (tie → alphabetically
    * first), a row_number over the per-cluster language counts —
    * a langs-bounded frame.
    *
    * Cost on top of the staged label table (shared with q59/q123):
    * one metadata join and two cluster-bounded aggregates — the corpus
    * text itself is never re-read.
    */
  val survivorship: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val meta = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      col("n_chars").cast("long").as("nc"))
    val m = clusterLabels(s, d).join(meta, "doc_id")
    val golden = m.groupBy("label").agg(
      count(lit(1)).as("n_members"), sum("nc").as("total_chars"),
      max(expr("nc * 1000000000 + (999999999 - doc_id)")).as("gk"))
    val langs = m.groupBy("label", "lang").agg(count(lit(1)).as("ln"))
      .withColumn("rn", row_number().over(Window.partitionBy("label")
        .orderBy(col("ln").desc, col("lang"))))
      .filter(col("rn") === 1)
      .select(col("label"), col("lang").as("major_lang"), col("ln"))
    golden.join(langs, "label")
      .select(col("label").as("cluster_id"), col("n_members"),
        expr("999999999 - gk % 1000000000").as("golden_doc"),
        expr("gk div 1000000000").as("golden_chars"),
        col("total_chars"), col("major_lang"),
        expr("ln * 1000000 div n_members").as("lang_share_ppm"))
      .orderBy("cluster_id")
  }

  /** Fold count for the q208 grouped cross-validation assignment. */
  private[graft] val kFolds = 5

  /** q208 — GROUP K-FOLD assignment: cross-validation folds that respect
    * the near-dup cluster boundary — the GroupKFold discipline, with the
    * group = q59's transitive dup cluster. A random per-document fold
    * split leaks: near-duplicate pairs straddle train and eval and the
    * validation score inflates (the same failure q123's train/test split
    * guards against, now for CV). Whole CLUSTERS are assigned to folds,
    * balanced by size: clusters rank globally by (size desc, label) —
    * q172's two-phase ranking, offsets from the size-domain-bounded count
    * table plus a within-size partitioned row_number — and snake-pack
    * into 5 folds, so the largest clusters spread before the singleton
    * mass equalizes the counts. Runs entirely on the session-staged label
    * table (cluster-bounded frames); by construction zero verified pairs
    * cross folds. Output one row per fold: cluster/doc counts + id
    * checksum.
    */
  /** Doc-level (doc_id, label, fold) assignment behind q208 — exposed
    * `private[graft]` so the CV evaluation harness (q229) trains/scores
    * against the SAME leakage-safe folds the assignment query reports.
    */
  private[graft] def docFolds(s: org.apache.spark.sql.SparkSession, d: String) = {
    import org.apache.spark.sql.expressions.Window
    val labels = clusterLabels(s, d)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("csize"))
    val offs = sizes.groupBy("csize").agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(
        sum("c").over(Window.orderBy(col("csize").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("csize", "off")
    val folds = sizes
      .withColumn("rn", row_number().over(
        Window.partitionBy("csize").orderBy("label")))
      .join(broadcast(offs), "csize")
      .withColumn("rank", col("off") + col("rn"))
      .withColumn("fold", expr(
        s"""CAST(CASE WHEN ((rank - 1) div $kFolds) % 2 = 0
           |  THEN (rank - 1) % $kFolds
           |  ELSE ${kFolds - 1} - (rank - 1) % $kFolds
           |END AS BIGINT)""".stripMargin))
    labels.join(folds.select("label", "fold"), "label")
  }

  val groupKfold: Q = (s, d) =>
    docFolds(s, d)
      .groupBy("fold").agg(
        countDistinct("label").as("n_clusters"),
        count(lit(1)).as("n_docs"),
        sum("doc_id").as("doc_checksum"))
      .orderBy("fold")

  /** q232 — DEDUP SAVINGS report: what running the q59/q198 pipeline
    * actually buys, by cluster size — per size: how many clusters, how
    * many documents, how many are REMOVABLE (size − 1 per cluster, the
    * keep-one policy), and how many characters vanish when each cluster
    * keeps its longest member (q198's golden rule — savings = total
    * chars − max chars per cluster). The capacity-planning table a
    * dedup rollout is justified with, read entirely off the
    * session-staged label table joined once to the doc lengths;
    * aggregates are cluster- then size-bounded.
    */
  val dedupSavings: Q = (s, d) => {
    val m = clusterLabels(s, d)
      .join(Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("nc")), "doc_id")
    val perCluster = m.groupBy("label").agg(
      count(lit(1)).as("csize"), sum("nc").as("chars_total"),
      max("nc").as("chars_max"))
    perCluster.groupBy("csize").agg(
      count(lit(1)).as("n_clusters"),
      (count(lit(1)) * col("csize")).as("n_docs"),
      (count(lit(1)) * (col("csize") - 1)).as("docs_removable"),
      sum(col("chars_total") - col("chars_max")).as("chars_removable"))
      .select(col("csize").as("cluster_size"), col("n_clusters"),
        col("n_docs"), col("docs_removable"), col("chars_removable"))
      .orderBy("cluster_size")
  }

  def queries: Map[String, Q] = Map(
    "q198_survivorship" -> survivorship,
    "q232_dedup_savings" -> dedupSavings,
    "q208_group_kfold" -> groupKfold,
    "q141_dup_spans" -> dupSpans,
    "q37_minhash_neardup" -> minhashNearDup,
    "q290_dedup_weights" -> dedupWeights,
    "q239_bbit_minhash" -> bbitMinhash,
    "q242_cross_source_dup" -> crossSourceDup,
    "q204_lsh_recall" -> lshRecall,
    "q59_dup_clusters" -> dupClusters,
    "q113_segment_dedup" -> segmentDedup,
    "q114_delta_neardup" -> deltaNearDup,
    "q244_stream_delta_dedup" -> streamDeltaDedup,
    "q248_rtbf_delete" -> rtbfDelete,
    "q123_leakage_split" -> leakageSplit,
    "q131_entity_clusters" -> entityClusters)

  /** CTE chain ending in `e(doc_id, band, sig)` + `th(doc_id, hs)` — the
    * DuckDB mirror of [[bandSigs]]/[[hashedSets]] over the whole corpus.
    */
  private[graft] def sigCte: String = {
    val mh = (0 until numHashes).map { i =>
      s"list_min(list_transform(tokset, t -> substr(md5('$i:' || t), 1, 8))) AS mh$i"
    }.mkString(",\n  ")
    val sigCols = (0 until numBands).map { b =>
      "(" + (0 until rowsPerBand)
        .map(r => s"mh${b * rowsPerBand + r}")
        .mkString(" || '-' || ") + s") AS sig$b"
    }.mkString(",\n  ")
    val unions = (0 until numBands)
      .map(b => s"SELECT doc_id, $b AS band, sig$b AS sig FROM sigs")
      .mkString("\n  UNION ALL ")
    s"""t AS (SELECT doc_id,
       |  list_distinct(string_split_regex(text, '\\s+')) AS tokset FROM documents),
       |th AS (SELECT doc_id, list_sort(list_distinct(
       |  list_transform(tokset, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT))) AS hs
       |FROM t),
       |h AS (SELECT doc_id, tokset,
       |  $mh
       |FROM t),
       |sigs AS (SELECT doc_id,
       |  $sigCols
       |FROM h),
       |e AS ($unions)""".stripMargin
  }

  /** q290 — DEDUP-AWARE EXAMPLE WEIGHTING: the soft alternative to
    * dropping duplicates — keep every copy but weight each at
    * 1/cluster_size so a 40-way duplicate contributes ONE document's
    * worth of gradient (the standard move when provenance or recency
    * makes hard-dropping wrong, and the reweighting twin of q232's
    * savings ledger). One read of the SESSION-STAGED near-dup labels
    * (the q59/q37 family artifact — nothing is re-verified), one size
    * aggregate, one broadcast-size join against document metadata, then
    * a metadata-sized rollup per cluster size: n_docs, weight_ppm =
    * 1e6 div size, raw vs effective character mass (per-doc
    * n_chars·1e6 div size — single rounding per doc, then the exact
    * integer sum). The oracle recomputes the clusters from scratch via
    * the q59 recursive-CC CTEs, so the hash match re-proves the staged
    * labels ≡ batch equivalence on the way.
    */
  val dedupWeights: Q = (s, d) => {
    val labels = clusterLabels(s, d)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    val meta = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    labels.join(sizes, "label").join(meta, "doc_id")
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("raw_chars"),
        sum(expr("n_chars * 1000000 div cluster_size")).as("eff_chars_micro"))
      .select(col("cluster_size"), col("n_docs"),
        expr("1000000 div cluster_size").as("weight_ppm"),
        col("raw_chars"), col("eff_chars_micro"))
      .orderBy("cluster_size")
  }

  /** The q114 delta-verdict oracle, shared verbatim by the streaming
    * probe q244 (whose result is micro-batch-boundary-independent). */
  private def deltaOracleSql: String =
    s"""WITH $sigCte,
       |cand AS (SELECT DISTINCT a.doc_id AS did, b.doc_id AS cid
       |  FROM e a JOIN e b
       |  ON a.band = b.band AND a.sig = b.sig
       |  WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7),
       |m AS (SELECT did, count(*) AS n_dup, min(cid) AS dup_of
       |  FROM cand
       |  JOIN th x ON x.doc_id = did JOIN th y ON y.doc_id = cid
       |  WHERE 1.0 - CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
       |          / (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs))) <= $maxDist
       |  GROUP BY did)
       |SELECT d.doc_id, COALESCE(m.n_dup, 0) AS n_dup,
       |  COALESCE(m.dup_of, -1) AS dup_of,
       |  (COALESCE(m.n_dup, 0) = 0) AS is_new
       |FROM documents d LEFT JOIN m ON d.doc_id = m.did
       |WHERE d.doc_id % 10 = 7
       |ORDER BY d.doc_id""".stripMargin

  /** All output columns are integers/booleans, so the compare is exact.
    * q59's oracle computes the same fixpoint by a different route —
    * recursive label reachability (closure) + min — which is exactly why
    * it is a strong check: any label the iterative loop leaves un-propagated
    * mismatches the closure.
    */
  def oracles: Map[String, String] = Map(
    // the same recursive-CC labels as q59, then the survivorship rules in
    // plain SQL — packed argmax key and majority-vote window included
    "q198_survivorship" ->
      s"""WITH RECURSIVE ${OracleSql.dupLabels},
         |m AS (SELECT f.label, d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS nc
         |  FROM final f JOIN documents d USING (doc_id)),
         |golden AS (SELECT label, count(*) AS n_members,
         |    CAST(sum(nc) AS BIGINT) AS total_chars,
         |    max(nc * 1000000000 + (999999999 - doc_id)) AS gk
         |  FROM m GROUP BY 1),
         |lc AS (SELECT label, lang, count(*) AS ln FROM m GROUP BY 1, 2),
         |lr AS (SELECT label, lang AS major_lang, ln, row_number()
         |    OVER (PARTITION BY label ORDER BY ln DESC, lang) AS rn FROM lc)
         |SELECT g.label AS cluster_id, g.n_members,
         |  999999999 - g.gk % 1000000000 AS golden_doc,
         |  g.gk // 1000000000 AS golden_chars,
         |  g.total_chars, lr.major_lang,
         |  CAST(lr.ln AS BIGINT) * 1000000 // g.n_members AS lang_share_ppm
         |FROM golden g JOIN lr ON g.label = lr.label AND lr.rn = 1
         |ORDER BY cluster_id""".stripMargin,
    // same shingle → dup-set → islands chain, re-derived through DuckDB's
    // window engine; positions are 0-based in both (generate_subscripts
    // is 1-based, hence the -1)
    "q141_dup_spans" ->
      s"""WITH tk AS (SELECT doc_id, t, pos FROM (
         |    SELECT doc_id,
         |      unnest(list_filter(string_split_regex(text, '\\s+'),
         |        x -> len(x) > 0)) AS t,
         |      generate_subscripts(list_filter(string_split_regex(text, '\\s+'),
         |        x -> len(x) > 0), 1) - 1 AS pos
         |    FROM documents)),
         |sh AS (SELECT doc_id, pos,
         |    ${(0 until spanK).map(i =>
              if (i == 0) "t" else s"lead(t, $i) OVER w").mkString(" || ' ' || ")} AS sh,
         |    lead(t, ${spanK - 1}) OVER w IS NOT NULL AS com
         |  FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |shf AS (SELECT doc_id, pos, sh FROM sh WHERE com),
         |dup AS (SELECT sh FROM shf GROUP BY sh
         |  HAVING count(DISTINCT doc_id) >= 2),
         |hits AS (SELECT doc_id, pos FROM shf WHERE sh IN (SELECT sh FROM dup)),
         |isl AS (SELECT doc_id, pos,
         |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
         |      > $spanK THEN 1 ELSE 0 END AS brk
         |  FROM hits),
         |grps AS (SELECT doc_id, pos,
         |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS UNBOUNDED PRECEDING) AS grp
         |  FROM isl)
         |SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
         |  CAST(max(pos) + ${spanK - 1} AS INT) AS span_end,
         |  CAST(max(pos) + $spanK - min(pos) AS INT) AS span_len,
         |  count(*) AS n_shingles
         |FROM grps GROUP BY doc_id, grp
         |ORDER BY doc_id, span_start""".stripMargin,
    // the same recursive-CC labels reduced to the per-size savings table
    "q232_dedup_savings" ->
      s"""WITH RECURSIVE ${OracleSql.dupLabels},
         |m AS (SELECT f.label, CAST(d.n_chars AS BIGINT) AS nc
         |  FROM final f JOIN documents d USING (doc_id)),
         |pc AS (SELECT label, count(*) AS csize,
         |    CAST(sum(nc) AS BIGINT) AS chars_total,
         |    max(nc) AS chars_max
         |  FROM m GROUP BY 1)
         |SELECT csize AS cluster_size, count(*) AS n_clusters,
         |  count(*) * csize AS n_docs,
         |  count(*) * (csize - 1) AS docs_removable,
         |  CAST(sum(chars_total - chars_max) AS BIGINT) AS chars_removable
         |FROM pc GROUP BY 1 ORDER BY cluster_size""".stripMargin,
    // the same recursive-CC labels as q59/q198, then the identical
    // (size desc, label) rank + snake fold in plain SQL
    "q208_group_kfold" ->
      s"""WITH RECURSIVE ${OracleSql.dupClusterRanks},
         |fd AS (SELECT label, CAST(CASE WHEN ((rank - 1) // $kFolds) % 2 = 0
         |    THEN (rank - 1) % $kFolds
         |    ELSE ${kFolds - 1} - (rank - 1) % $kFolds
         |  END AS BIGINT) AS fold FROM rk)
         |SELECT fd.fold, count(DISTINCT final.label) AS n_clusters,
         |  count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS doc_checksum
         |FROM final JOIN fd USING (label)
         |GROUP BY 1 ORDER BY fold""".stripMargin,
    // the same recursive-CC labels, the same (cluster, source)
    // incidence reduction, the same ordered pair join
    "q242_cross_source_dup" ->
      s"""WITH RECURSIVE ${OracleSql.dupLabels},
         |inc AS MATERIALIZED (SELECT f.label, d.source, count(*) AS nd
         |  FROM final f JOIN documents d USING (doc_id) GROUP BY 1, 2),
         |pr AS (SELECT a.source AS src_a, b.source AS src_b,
         |    count(*) AS n_shared_clusters,
         |    CAST(sum(a.nd * b.nd) AS BIGINT) AS n_cross_pairs
         |  FROM inc a JOIN inc b
         |  ON a.label = b.label AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, n_shared_clusters, n_cross_pairs
         |FROM pr ORDER BY src_a, src_b""".stripMargin,
    // same XOR constants, same packed bit positions, same candidate
    // pairs, same intersect-walk ground truth
    "q239_bbit_minhash" -> {
      val bits = bbitConsts.zipWithIndex.map { case (c, i) =>
        s"(list_min(list_transform(hs, x -> xor(x, $c))) % 2) * ${1L << i}"
      }.mkString("\n    + ")
      s"""WITH $sigCte,
         |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM e a JOIN e b
         |  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |sg AS (SELECT doc_id, len(hs) AS n,
         |    $bits AS bits
         |  FROM th),
         |p AS (SELECT x.n AS n1, y.n AS n2, x.bits AS b1, y.bits AS b2,
         |    len(list_intersect(hx.hs, hy.hs)) AS isect
         |  FROM cand c JOIN sg x ON x.doc_id = c.d1
         |  JOIN sg y ON y.doc_id = c.d2
         |  JOIN th hx ON hx.doc_id = c.d1 JOIN th hy ON hy.doc_id = c.d2),
         |er AS (SELECT
         |    (2 * ($bbitK - bit_count(xor(b1, b2))) - $bbitK) * 1000000 // $bbitK
         |    - isect * 1000000 // (n1 + n2 - isect) AS err
         |  FROM p)
         |SELECT CAST((err + 1000000) // 100000 AS BIGINT) AS err_bucket,
         |  count(*) AS n_pairs, CAST(sum(abs(err)) AS BIGINT) AS sum_abs_err
         |FROM er GROUP BY 1 ORDER BY err_bucket""".stripMargin
    },
    "q37_minhash_neardup" ->
      s"""WITH ${OracleSql.pairsCte},
         |deg AS (SELECT doc_id, count(*) AS n_neardup, min(nb) AS min_nb FROM
         |  (SELECT d1 AS doc_id, d2 AS nb FROM pairs
         |   UNION ALL SELECT d2 AS doc_id, d1 AS nb FROM pairs)
         |  GROUP BY doc_id)
         |SELECT d.doc_id AS doc_id, COALESCE(deg.n_neardup, 0) AS n_neardup,
         |  least(d.doc_id, COALESCE(deg.min_nb, d.doc_id)) AS canon_id
         |FROM documents d LEFT JOIN deg ON d.doc_id = deg.doc_id
         |ORDER BY doc_id""".stripMargin,
    // same band-join candidates + a DuckDB mirror of the lossless prefix
    // filter at Jaccard >= 0.9; the intersection semi-join defines "found"
    "q204_lsh_recall" ->
      s"""WITH $sigCte,
         |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM e a JOIN e b
         |  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |tl AS (SELECT doc_id, unnest(hs) AS h FROM th),
         |f AS (SELECT h, count(*) AS f FROM tl GROUP BY h),
         |r AS (SELECT tl.doc_id, tl.h,
         |    count(*) OVER (PARTITION BY tl.doc_id) AS n,
         |    row_number() OVER (PARTITION BY tl.doc_id ORDER BY f.f, tl.h)
         |      AS rk
         |  FROM tl JOIN f USING (h)),
         |p AS (SELECT doc_id, h, n FROM r
         |  WHERE rk <= n - (9 * n + 9) // 10 + 1),
         |pc AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM p a JOIN p b ON a.h = b.h AND a.doc_id < b.doc_id
         |   AND 10 * b.n >= 9 * a.n AND 10 * a.n >= 9 * b.n),
         |ex AS (SELECT d1, d2 FROM pc
         |  JOIN th x ON x.doc_id = d1 JOIN th y ON y.doc_id = d2
         |  WHERE 19 * len(list_intersect(x.hs, y.hs))
         |    >= 9 * (len(x.hs) + len(y.hs))),
         |fnd AS (SELECT d1, d2 FROM ex WHERE EXISTS
         |  (SELECT 1 FROM cand c WHERE c.d1 = ex.d1 AND c.d2 = ex.d2)),
         |tot AS (SELECT (SELECT count(*) FROM ex) AS n_exact,
         |  (SELECT count(*) FROM cand) AS n_candidates,
         |  (SELECT count(*) FROM fnd) AS n_found)
         |SELECT n_exact, n_candidates, n_found,
         |  n_exact - n_found AS n_missed,
         |  CAST(CASE WHEN n_exact = 0 THEN 1000000
         |    ELSE n_found * 1000000 // n_exact END AS BIGINT) AS recall_ppm,
         |  CAST(CASE WHEN n_candidates = 0 THEN 1000000
         |    ELSE n_found * 1000000 // n_candidates END AS BIGINT)
         |    AS precision_ppm
         |FROM tot""".stripMargin,
    "q113_segment_dedup" ->
      s"""WITH t AS (SELECT doc_id,
         |  list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS tk
         |  FROM documents),
         |seg AS (SELECT doc_id, pos,
         |    array_to_string(tk[pos*$segLen+1 : pos*$segLen+$segLen], ' ') AS seg
         |  FROM (SELECT doc_id, tk,
         |    unnest(range(0, (len(tk) + ${segLen - 1}) // $segLen)) AS pos FROM t)),
         |k AS (SELECT doc_id, pos, seg, md5(seg) AS h,
         |  doc_id * 1000000 + pos AS okey FROM seg),
         |f AS (SELECT h, min(okey) AS first_key FROM k GROUP BY h),
         |j AS (SELECT k.doc_id, k.pos, k.seg, (k.okey = f.first_key) AS keep
         |  FROM k JOIN f USING (h))
         |SELECT doc_id, count(*) AS n_segments,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  md5(coalesce(string_agg(seg, ' ' ORDER BY pos) FILTER (WHERE keep), ''))
         |    AS kept_fp
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the delete's logical equivalents: tombstone predicates for the row
    // math, bucket arithmetic for the file math (one file per non-empty
    // bucket — pinned by the repartition(bkt)+partitionBy width), the
    // recursive CC closure (q198's pattern) for the relabel audit, and
    // LITERAL zeros where the Spark side MEASURES residual references —
    // an incomplete propagation mismatches loudly
    "q248_rtbf_delete" ->
      s"""WITH RECURSIVE ${OracleSql.dupReach},
         |final AS MATERIALIZED (SELECT doc_id, min(label) AS label
         |  FROM reach GROUP BY doc_id),
         |tomb AS (SELECT doc_id FROM documents WHERE doc_id % 53 = 5),
         |surv AS (SELECT f.doc_id, f.label FROM final f
         |  WHERE f.doc_id NOT IN (SELECT doc_id FROM tomb)),
         |nl AS (SELECT label, min(doc_id) AS new_label FROM surv GROUP BY label),
         |lv2 AS (SELECT surv.doc_id, surv.label AS old_label, nl.new_label
         |  FROM surv JOIN nl USING (label)),
         |posting AS MATERIALIZED (SELECT doc_id,
         |    unnest(list_distinct(list_filter(string_split_regex(text, '\\s+'),
         |      t -> len(t) > 0))) AS term
         |  FROM documents),
         |fb AS (SELECT count(DISTINCT doc_id % $rtbfBuckets) AS n FROM documents),
         |fr AS (SELECT count(DISTINCT doc_id % $rtbfBuckets) AS n FROM tomb),
         |f2 AS (SELECT count(DISTINCT doc_id % $rtbfBuckets) AS n FROM documents
         |  WHERE doc_id % 53 <> 5 AND (doc_id % $rtbfBuckets) IN
         |    (SELECT DISTINCT doc_id % $rtbfBuckets FROM tomb))
         |SELECT
         |  (SELECT count(*) FROM documents) AS n_docs_before,
         |  (SELECT count(*) FROM tomb) AS n_tombstones,
         |  (SELECT count(*) FROM documents WHERE doc_id % 53 <> 5)
         |    AS n_docs_after,
         |  (SELECT CAST(sum(doc_id) AS BIGINT) FROM documents
         |    WHERE doc_id % 53 <> 5) AS docs_checksum_after,
         |  (SELECT CAST(n AS BIGINT) FROM fb) AS n_files_v1,
         |  (SELECT CAST(n AS BIGINT) FROM fr) AS n_files_rewritten,
         |  CAST((SELECT n FROM fb) - (SELECT n FROM fr) AS BIGINT)
         |    AS n_files_untouched,
         |  CAST((SELECT n FROM fb) - (SELECT n FROM fr) + (SELECT n FROM f2)
         |    AS BIGINT) AS n_files_v2,
         |  (SELECT count(*) FROM lv2) AS n_label_rows_after,
         |  (SELECT CAST(sum(CASE WHEN new_label <> old_label THEN 1 ELSE 0
         |    END) AS BIGINT) FROM lv2) AS n_relabeled,
         |  CAST(0 AS BIGINT) AS n_label_refs_after,
         |  (SELECT count(*) FROM posting) AS n_posting_rows_before,
         |  (SELECT count(*) FROM posting
         |    WHERE doc_id NOT IN (SELECT doc_id FROM tomb))
         |    AS n_posting_rows_after,
         |  CAST(0 AS BIGINT) AS n_posting_refs_after""".stripMargin,
    "q114_delta_neardup" -> deltaOracleSql,
    // the streaming probe (q244) shares the batch twin's oracle verbatim:
    // verdicts are micro-batch-boundary-independent, so batch/stream
    // parity IS the check (the q39/q162 discipline)
    "q244_stream_delta_dedup" -> deltaOracleSql,
    "q123_leakage_split" ->
      s"""WITH RECURSIVE ${OracleSql.dupLabels},
         |v AS (SELECT doc_id, label,
         |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END
         |    AS split
         |  FROM (SELECT doc_id, label,
         |    ${graft.functions.Hashing.duckMd5Bucket("label", 100)} AS b FROM final))
         |SELECT split, count(*) AS n_docs,
         |  CAST(count(DISTINCT label) AS BIGINT) AS n_clusters,
         |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
         |FROM v GROUP BY 1 ORDER BY split""".stripMargin,
    "q131_entity_clusters" ->
      """WITH RECURSIVE fp AS (
        |  SELECT a.c_custkey AS d1, b.c_custkey AS d2
        |  FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |  WHERE levenshtein(a.c_name, b.c_name) <= 2),
        |ue AS (SELECT d1 AS src, d2 AS dst FROM fp
        |  UNION ALL SELECT d2 AS src, d1 AS dst FROM fp),
        |reach(id, label) AS (
        |  SELECT c_custkey, c_custkey FROM customer
        |  UNION
        |  SELECT ue.dst, reach.label FROM ue JOIN reach ON reach.id = ue.src),
        |final AS (SELECT id, min(label) AS entity_id FROM reach GROUP BY id),
        |sizes AS (SELECT entity_id, count(*) AS cluster_size
        |  FROM final GROUP BY entity_id)
        |SELECT f.id AS c_custkey, f.entity_id, s.cluster_size,
        |  (f.id = f.entity_id) AS is_golden
        |FROM final f JOIN sizes s USING (entity_id)
        |ORDER BY c_custkey""".stripMargin,
    // the q59 recursive-CC clusters recomputed from scratch, then the
    // identical per-size rollup with per-doc single-rounded weights
    "q290_dedup_weights" ->
      s"""WITH RECURSIVE ${OracleSql.dupClusterSizes}
         |SELECT s.cluster_size, count(*) AS n_docs,
         |  CAST(1000000 // s.cluster_size AS BIGINT) AS weight_ppm,
         |  CAST(sum(d.n_chars) AS BIGINT) AS raw_chars,
         |  CAST(sum(d.n_chars * 1000000 // s.cluster_size) AS BIGINT)
         |    AS eff_chars_micro
         |FROM final f JOIN sizes s USING (cluster_id)
         |JOIN documents d ON f.doc_id = d.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q59_dup_clusters" ->
      s"""WITH RECURSIVE ${OracleSql.dupClusterSizes}
         |SELECT f.doc_id, f.cluster_id, s.cluster_size,
         |  (f.doc_id = f.cluster_id) AS is_canonical
         |FROM final f JOIN sizes s USING (cluster_id)
         |ORDER BY f.doc_id""".stripMargin)
}
