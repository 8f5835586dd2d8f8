package graft.operators

import graft.{OracleSql, Q, QueryModule}
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-data-pipeline text operators over the `documents` table — the
  * beyond-reference extension slice (SURVEY.md §7 M5): exact dedup, text
  * stats / quality scoring, token counting (whitespace + BPE-ish regex),
  * language-ID heuristic, document fingerprinting (md5 / shingle / rolling
  * hash), n-gram Jaccard near-dup, and a 16-bit SimHash — every one of them
  * a pure codegen'd Column expression (no UDFs), so each scales as an
  * embarrassingly-parallel projection plus at most one hash aggregate.
  */
object Text extends QueryModule {

  private val stopEn = Seq("the", "a", "and", "of")
  private val stopEs = Seq("el", "la", "de", "que")

  /** Whitespace tokens. */
  private def toks = split(col("text"), "\\s+")

  /** q25 — exact dedup via content hash: unique-text counts per language.
    * At 100 TB you dedup on md5(text) (16-byte shuffle key), never on the
    * full row like the reference's dropDuplicates (Dataset.py:85).
    */
  val dedupExact: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy("lang")
      .agg(
        countDistinct(md5(col("text"))).as("n_unique"),
        count(lit(1)).as("n_docs"))
      .orderBy("lang")

  /** q26 — per-document text stats / quality scoring: char length,
    * whitespace token count, BPE-ish regex token count (letter runs /
    * digit runs / single non-space symbols), stopword ratio, punctuation
    * ratio.
    */
  val textStats: Q = (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      length(col("text")).as("len_chars"),
      size(toks).as("n_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))
        .as("n_bpe_tokens"),
      (size(filter(toks, t => t.isin(stopEn: _*))).cast("double") / size(toks))
        .as("stop_ratio"),
      (size(regexp_extract_all(col("text"), lit("[^a-zA-Z0-9\\s]"), lit(0))).cast("double")
        / length(col("text"))).as("punct_ratio"))
      .orderBy("doc_id")

  /** q27 — corpus profile per language: doc counts + average length/tokens
    * (integer averages are order-independent in double — deterministic).
    */
  val langProfile: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        avg(col("n_chars")).as("avg_chars"),
        avg(size(toks)).as("avg_tokens"))
      .orderBy("lang")

  /** q28 — document fingerprints: truncated md5, leading-5-token shingle
    * md5, and a polynomial rolling hash over characters (mod 1e9+7).
    * The rolling hash is a left-fold `aggregate` — codegen'd, one pass.
    */
  val fingerprint: Q = (s, d) => {
    // Spark split("", -1) keeps a trailing empty token that DuckDB's
    // string_split drops — filter empties for parity.
    val chars = filter(split(col("text"), ""), c => length(c) > 0)
    Tables.documents(s, d).select(
      col("doc_id"),
      substring(md5(col("text")), 1, 16).as("fp_md5"),
      md5(array_join(slice(toks, 1, 5), " ")).as("fp_shingle"),
      aggregate(chars, lit(0L), (acc, c) => (acc * 31 + ascii(c)) % 1000000007L)
        .as("fp_roll"))
      .orderBy("doc_id")
  }

  /** q29 — language-ID heuristic: stopword-hit vote between English and
    * Spanish function words (the deterministic n-gram-style heuristic the
    * pipeline mandate asks for; a production version swaps in a bigger
    * profile table, same plan shape).
    */
  val langId: Q = (s, d) => {
    val en = size(filter(toks, t => t.isin(stopEn: _*)))
    val es = size(filter(toks, t => t.isin(stopEs: _*)))
    Tables.documents(s, d).select(
      col("doc_id"),
      when(en > es, "en").when(es > en, "es").otherwise("und").as("lang_guess"),
      col("lang"))
      .orderBy("doc_id")
  }

  /** q214 — inter-annotator agreement (Cohen's κ) between the metadata
    * language label and the q29 stopword heuristic: the labeling-quality
    * audit every weak-supervision pipeline runs — raw agreement po
    * flatters annotators who both guess the majority class, and κ =
    * (po − pe)/(1 − pe) subtracts the chance-agreement floor pe =
    * Σ_k p_a(k)·p_b(k). Computed EXACTLY: one (a, b) confusion-cell
    * aggregate (everything downstream runs on |labels|² cells), marginal
    * products and the κ rational in cross-multiplied integers —
    * κ_ppm = (n·agree − Σ ca·cb)·10⁶ div (n² − Σ ca·cb), sign-safe (κ is
    * negative for worse-than-chance annotators) with the degenerate
    * pe = 1 case pinned to 0. DECIMAL(38) carries the n² products.
    */
  val kappaAgreement: Q = (s, d) => {
    val en = size(filter(toks, t => t.isin(stopEn: _*)))
    val es = size(filter(toks, t => t.isin(stopEs: _*)))
    val lab = Tables.fanOut(Tables.documents(s, d), "doc_id").select(
      col("lang").as("a"),
      when(en > es, "en").when(es > en, "es").otherwise("und").as("b"))
    val cells = lab.groupBy("a", "b").agg(count(lit(1)).as("c"))
    val ca = cells.groupBy("a").agg(sum("c").as("ca"))
    val cb = cells.groupBy("b").agg(sum("c").as("cb"))
    val n = cells.agg(sum("c").as("n"))
    val agree = cells.filter(col("a") === col("b"))
      .agg(coalesce(sum("c"), lit(0L)).as("agree"))
    val pe = ca.join(cb, ca("a") === cb("b"))
      .agg(coalesce(sum(expr("CAST(ca AS DECIMAL(38,0)) * cb")),
        lit(0L).cast("decimal(38,0)")).as("penum"))
    n.crossJoin(broadcast(agree)).crossJoin(broadcast(pe))
      .select(col("n"), col("agree"),
        expr("agree * 1000000 div n").as("po_ppm"),
        expr("""CAST(penum * 1000000
                div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)""").as("pe_ppm"),
        expr("""CAST(CASE
                WHEN CAST(n AS DECIMAL(38,0)) * n - penum = 0 THEN 0
                WHEN CAST(n AS DECIMAL(38,0)) * agree >= penum
                THEN (CAST(n AS DECIMAL(38,0)) * agree - penum) * 1000000
                     div (CAST(n AS DECIMAL(38,0)) * n - penum)
                ELSE -((penum - CAST(n AS DECIMAL(38,0)) * agree) * 1000000
                     div (CAST(n AS DECIMAL(38,0)) * n - penum))
                END AS BIGINT)""").as("kappa_ppm"))
  }

  /** q216 — per-source LENGTH-PERCENTILE bias audit (quantile
    * normalization): map every document's length onto its GLOBAL
    * percentile rank, then summarize per source — the distribution-free
    * way to see that source X systematically contributes the corpus's
    * long tail (mean percentile ≫ 500000) where raw mean lengths conflate
    * scale and shape. Rank-based feature normalization is the same
    * primitive trainers apply before mixing heterogeneous sources.
    * Exactly the q160/q209 value-histogram discipline: one (n_chars)
    * count aggregate, a cumulative sum over the DISTINCT-VALUE frame
    * (domain-bounded — lengths, not rows), percentile = cum·10⁶ div n,
    * and one broadcast join back (the percentile table is
    * vocabulary-of-lengths-sized). Per-source reductions are exact
    * integers throughout.
    */
  val lengthBias: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.fanOut(Tables.documents(s, d), "doc_id")
      .select(col("source"), col("n_chars"))
    val vc = docs.groupBy("n_chars").agg(count(lit(1)).as("c"))
    val ranked = vc.withColumn("cum", sum("c").over(
      Window.orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = vc.agg(sum("c").as("n"))
    val pct = ranked.crossJoin(broadcast(tot))
      .select(col("n_chars"), expr("cum * 1000000 div n").as("pct_ppm"))
    docs.join(broadcast(pct), "n_chars")
      .groupBy("source").agg(count(lit(1)).as("n_docs"),
        expr("sum(pct_ppm) div count(1)").as("mean_pct_ppm"),
        min("pct_ppm").as("min_pct_ppm"),
        max("pct_ppm").as("max_pct_ppm"))
      .orderBy("source")
  }

  /** q219 — VOCABULARY COVERAGE curve: how many distinct terms cover
    * 50/90/95/99% of the token mass — the number a tokenizer-sizing or
    * vocab-pruning decision reads (a 99%-coverage vocab an order of
    * magnitude smaller than the full one is the normal Zipf outcome, and
    * exactly why q171's BPE trainer works). The global frequency rank is
    * TWO-PHASE (q172's distributed-ranking discipline — never one
    * unpartitioned window over the vocabulary): per-count-value mass and
    * rank offsets from the count-domain-bounded frequency-of-frequencies
    * table, within-count ranks from a partitioned row_number — and since
    * every term in a count group carries the SAME count, the cumulative
    * mass at rank r is offset_mass + rn·cnt, exact by construction.
    * Coverage reads are cross-multiplied integers off the ranked
    * vocabulary. One tokenize pass; everything after is
    * vocabulary-bounded.
    */
  val vocabCoverage: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.fanOut(Tables.documents(s, d), "doc_id")
    val freq = docs.select(explode(filter(toks, t => length(t) > 0)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val ff = freq.groupBy("cnt").agg(count(lit(1)).as("nterms"))
    val offs = ff
      .withColumn("rank_off", coalesce(sum("nterms").over(
        Window.orderBy(col("cnt").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("mass_off", coalesce(sum(col("nterms") * col("cnt")).over(
        Window.orderBy(col("cnt").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("cnt", "rank_off", "mass_off")
    val ranked = freq
      .withColumn("rn", row_number().over(
        Window.partitionBy("cnt").orderBy("term")))
      .join(broadcast(offs), "cnt")
      .select((col("rank_off") + col("rn")).as("rank"),
        (col("mass_off") + col("rn") * col("cnt")).as("cum_mass"))
    val tot = freq.agg(sum("cnt").as("total_tokens"),
      count(lit(1)).as("vocab_size"))
    ranked.crossJoin(broadcast(tot))
      .agg(max("total_tokens").as("total_tokens"),
        max("vocab_size").as("vocab_size"),
        min(when(col("cum_mass") * 100 >= col("total_tokens") * 50,
          col("rank"))).as("v50"),
        min(when(col("cum_mass") * 100 >= col("total_tokens") * 90,
          col("rank"))).as("v90"),
        min(when(col("cum_mass") * 100 >= col("total_tokens") * 95,
          col("rank"))).as("v95"),
        min(when(col("cum_mass") * 100 >= col("total_tokens") * 99,
          col("rank"))).as("v99"))
  }

  /** q229 — CROSS-VALIDATION evaluation harness: the q29 language
    * heuristic scored per q208 FOLD — the loop that closes the CV
    * machinery (q208 assigns leakage-safe folds; this runs an actual
    * model over them and reads the fold-to-fold spread, the stability
    * number a single train/test split hides). Per fold: doc count,
    * correct count, accuracy in ppm; the evaluation joins the
    * session-staged fold table (cluster-bounded) to one heuristic scan
    * of the corpus — no re-clustering, no re-tokenizing beyond the scan.
    */
  val cvAccuracy: Q = (s, d) => {
    val en = size(filter(toks, t => t.isin(stopEn: _*)))
    val es = size(filter(toks, t => t.isin(stopEs: _*)))
    val guess = Tables.fanOut(Tables.documents(s, d), "doc_id").select(
      col("doc_id"), col("lang"),
      when(en > es, "en").when(es > en, "es").otherwise("und").as("g"))
    guess.join(Dedup.docFolds(s, d).select("doc_id", "fold"), "doc_id")
      .groupBy("fold").agg(count(lit(1)).as("n_docs"),
        sum(when(col("g") === col("lang"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("fold"), col("n_docs"), col("n_correct"),
        expr("n_correct * 1000000 div n_docs").as("acc_ppm"))
      .orderBy("fold")
  }

  /** Skip-window for q230: pairs at token distance 1 and 2. */
  private val skipWindow = 2

  /** q230 — SKIP-GRAM association lift: q146's integer-ppm lift widened
    * from adjacent bigrams to a word2vec-style skip window — pairs at
    * token distance 1 AND 2, which catches "New ... City" patterns
    * adjacency misses while keeping the pair volume a fixed 2× of the
    * token stream (never the |window|² explode of a positional
    * self-join: the window materializes as TWO lead() columns on ONE
    * doc-partitioned pass, unpivoted in-row). Same discipline as q146:
    * support floor before the marginal joins, DECIMAL(38) lift products,
    * top-30 via TakeOrderedAndProject with full tiebreaks.
    */
  val skipgramLift: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val tok = positionedTokens(s, d)
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val pairs = tok
      .select(col("t").as("a"), array(
        (1 to skipWindow).map(k => lead("t", k).over(w)): _*).as("bs"))
      .select(col("a"), explode(col("bs")).as("b"))
      .filter(col("b").isNotNull)
    pairLift(tok, pairs).limit(30)
  }

  /** Every document's non-empty tokens with their positions: (doc_id,
    * pos, t). */
  private def positionedTokens(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.fanOut(Tables.documents(s, d), "doc_id")
      .select(col("doc_id"),
        posexplode(filter(toks, x => length(x) > 0)).as(Seq("pos", "t")))

  /** The q146/q230 association lift: each token pair (a, b) of `pairs`
    * seen at least 5 times, with its integer-ppm lift c_ab·N / (c_a·c_b)
    * against the unigram counts of `tok` (N = the pair count; DECIMAL(38)
    * products), ordered by lift desc, a, b. */
  private def pairLift(tok: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cab = pairs.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 5)
    val un = tok.groupBy("t").agg(count(lit(1)).as("c"))
    val n = pairs.agg(count(lit(1)).as("nn"))
    cab
      .join(un.select(col("t").as("a"), col("c").as("c_a")), "a")
      .join(un.select(col("t").as("b"), col("c").as("c_b")), "b")
      .crossJoin(broadcast(n))
      .select(col("a"), col("b"), col("c_ab"),
        expr("""CAST((CAST(c_ab AS DECIMAL(38,0)) * 1000000 * nn)
                 div (CAST(c_a AS DECIMAL(38,0)) * c_b) AS BIGINT)""")
          .as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("a"), col("b"))
  }

  /** q231 — per-source KL DIVERGENCE from the corpus unigram model: the
    * stylistic-drift audit of the corpus mix — which source's word
    * distribution diverges most from the blend it feeds (q103's
    * temperature weights and q186's card assume the sources differ;
    * this measures by how much, in the same micro-nat currency as
    * q94/q213). KL(source ‖ corpus) = Σ_t p_s(t)·ln(p_s(t)/p_c(t)),
    * each term's log rounded ONCE to micro-nats (q94's discipline) and
    * weighted by the exact per-source count, summed as integers —
    * immune to float summation order — with one sign-safe division per
    * source at the end (true KL is ≥ 0; per-term rounding can dip the
    * integer sum fractionally negative). One tokenize pass to the
    * (source, term) frame; everything after is vocabulary-bounded.
    */
  val sourceKl: Q = (s, d) => {
    val st = Tables.fanOut(Tables.documents(s, d), "doc_id")
      .select(col("source"),
        explode(filter(toks, t => length(t) > 0)).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("cst"))
    val corpus = st.groupBy("term").agg(sum("cst").as("ct"))
    val perSource = st.groupBy("source").agg(sum("cst").as("ns"),
      count(lit(1)).as("vocab"))
    val tot = corpus.agg(sum("ct").as("n"))
    st.join(corpus, "term").join(perSource, "source")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("ns"), col("vocab"),
        (col("cst") * expr(
          """CAST(round(ln(CAST(cst AS DOUBLE) * n
             / (CAST(ns AS DOUBLE) * ct)) * 1000000) AS BIGINT)""")).as("t"))
      .groupBy("source").agg(max("ns").as("n_tokens"),
        max("vocab").as("vocab"), sum("t").as("tsum"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        expr("""CASE WHEN tsum >= 0 THEN tsum div n_tokens
                ELSE -((-tsum) div n_tokens) END""").as("kl_micro"))
      .orderBy("source")
  }

  /** q30 — n-gram (token-set) Jaccard near-dup over blocked candidate
    * pairs. Blocking key = (lang, n_chars within ±2): at 100 TB the
    * candidate join is an equi-join on the block key, never an n² cross
    * join; here the band predicate rides on the lang equi-join.
    */
  val jaccardPairs: Q = (s, d) => {
    val t = Tables.fanOut(Tables.documents(s, d), "doc_id").select(
      col("doc_id"), col("lang"), col("n_chars"),
      array_distinct(toks).as("tokset"))
    val a = t.alias("a")
    val b = t.alias("b")
    a.join(b,
        col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.n_chars") - col("b.n_chars")) <= 2)
      .select(
        col("a.doc_id").as("doc_id_1"),
        col("b.doc_id").as("doc_id_2"),
        (size(array_intersect(col("a.tokset"), col("b.tokset"))).cast("double") /
          size(array_union(col("a.tokset"), col("b.tokset")))).as("jaccard"))
      .orderBy("doc_id_1", "doc_id_2")
  }

  /** Token-hash projection feeding the SimHash: first 4 md5 hex digits of
    * each whitespace token, as `array<int>`.
    */
  private def simhashInput(s: org.apache.spark.sql.SparkSession, d: String) =
    // fanOut: the per-doc vote walk over the token hashes is the
    // CPU-heavy/byte-light shape a single-split source serializes
    Tables.fanOut(Tables.documents(s, d), "doc_id").withColumn("hs",
      expr("transform(split(text, '\\\\s+'), t -> cast(conv(substr(md5(t), 1, 4), 16, 10) as int))"))

  /** (doc_id, simhash) — 16-bit SimHash signature table shared by q38 and
    * q65, computed by the native single-walk expression
    * ([[graft.functions.Simhash16]]); [[simhashesSpec]] is the
    * 16-aggregate executable specification it is parity-tested against
    * (and the form the DuckDB oracle mirrors).
    */
  private def simhashes(s: org.apache.spark.sql.SparkSession, d: String) =
    simhashInput(s, d).select(col("doc_id"),
      graft.functions.Vectors.simhash16(col("hs")).as("simhash"))

  /** Spec twin of [[simhashes]]: each bit is the sign of the per-bit ±1
    * vote sum, as 16 `aggregate` lambdas re-walking the hash array.
    */
  private[graft] def simhashesSpec(s: org.apache.spark.sql.SparkSession, d: String) = {
    val bits = (0 until 16).map { i =>
      s"(case when aggregate(hs, 0, (acc, h) -> acc + (case when (shiftright(h, $i) & 1) = 1 then 1 else -1 end)) > 0 then ${1 << i} else 0 end)"
    }.mkString(" + ")
    simhashInput(s, d).select(col("doc_id"), expr(s"cast($bits as int)").as("simhash"))
  }

  /** q38 — the SimHash signature itself, one row per document. */
  val simhash16: Q = (s, d) => simhashes(s, d).orderBy("doc_id")

  /** q65 — SimHash near-dup pairs at Hamming distance ≤ 2, banded: the
    * 16-bit signature splits into 4 nibble bands; candidates are a self
    * EQUI-join on (band, nibble) — by pigeonhole, two signatures within
    * Hamming 2 differ in at most 2 bands, so at least 2 bands still match
    * and recall at the threshold is EXACT (unlike minhash banding's
    * probabilistic recall). A pair is emitted only from its lowest
    * colliding band ([[graft.functions.Hashing.firstCollision]]), so each
    * candidate comes out once and no dedup aggregate runs. Verification
    * is one codegen'd `bit_count(s1 XOR s2)` per candidate. The band rows
    * are repartitioned on (band, nibble) at the default parallelism and
    * one side is hash-built, so both sides read one exchange and the
    * corpus is hashed once. Per (band, nibble) bucket the join is local —
    * never n². The nibble width is the skew knob: wider bands → fewer,
    * cheaper collisions but a lower guaranteed-recall threshold.
    */
  val simhashNearDup: Q = (s, d) => {
    def nib(sh: org.apache.spark.sql.Column, b: Int) = shiftright(sh, b * 4).bitwiseAND(lit(15))
    val bands = simhashes(s, d).select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"), nib(col("simhash"), b).as("nib"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.band").as("band"), col("bb.nib").as("nib"))
      .repartition(s.sparkContext.defaultParallelism, col("band"), col("nib"))
    val first = graft.functions.Hashing.firstCollision((0 until 4).map(b =>
      (nib(col("a.simhash"), b), nib(col("b.simhash"), b))))
    bands.alias("a").join(bands.alias("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.nib") === col("b.nib") &&
          col("a.doc_id") < col("b.doc_id") && col("a.band") === first)
      .select(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("int")
          .as("hamming"))
      .filter(col("hamming") <= 2)
      .orderBy("doc_id_1", "doc_id_2")
  }

  /** q61 — top-3 TF-IDF terms per document. Term frequencies and document
    * frequencies are two hash aggregates over the exploded token stream
    * (shuffle-partitioned by term); the corpus size joins in as a broadcast
    * scalar; ranking is a per-document window with WindowGroupLimit
    * pushdown. At 100 TB the same plan holds: the token explode is
    * map-side, both aggregates combine partially before shuffling, and
    * nothing materializes per-document vocabulary on the driver. Scores
    * are ranked on a 9-dp rounding (ulp parity, as q31) with the term as
    * tiebreak.
    */
  val tfidfTop: Q = (s, d) => {
    val docs = Tables.fanOut(Tables.documents(s, d), "doc_id")
    val terms = docs.select(col("doc_id"),
      explode(filter(toks, t => length(t) > 0)).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("tfidf9",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 9))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf9").desc, col("term"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("doc_id"), col("rn"), col("term"), col("tf"), col("df"),
        round(col("tfidf9"), 4).as("tfidf"))
      .orderBy("doc_id", "rn")
  }

  /** q73 — C4-style quality FILTER verdict: the keep/drop decision (plus
    * the first failing rule as the audit reason) a cleaning pass applies
    * before training. Stateless codegen'd projection — the cheapest
    * operator in the pipeline and the one that discards the most bytes,
    * which is why production pipelines run it FIRST, before any
    * dedup/embedding work touches the discarded mass.
    */
  val qualityFilter: Q = (s, d) => {
    val nTok = size(toks)
    val punct = size(regexp_extract_all(col("text"), lit("[^a-zA-Z0-9\\s]"), lit(0)))
      .cast("double") / length(col("text"))
    val stop = size(filter(toks, t => t.isin(stopEn ++ stopEs: _*)))
      .cast("double") / nTok
    val reason = when(length(col("text")) < 50, "too_short")
      .when(length(col("text")) > 5000, "too_long")
      .when(nTok < 10, "too_few_tokens")
      .when(punct > 0.2, "too_much_punct")
      .when(stop < 0.01, "no_stopwords")
      .otherwise("ok")
    Tables.documents(s, d)
      .select(col("doc_id"), reason.as("reason"), (reason === "ok").as("keep"))
      .orderBy("doc_id")
  }

  /** q338 Gopher stop-word set (Rae et al. 2021, Appendix A): a document
    * must contain at least two DISTINCT members. */
  private val gopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** q338 — GOPHER QUALITY RULES (Rae et al. 2021, "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher",
    * Appendix A — the rule set that, with q73's C4 rules, is the
    * de-facto standard heuristic filter pair in open-source pretraining
    * pipelines; they keep DIFFERENT documents, which is why pipelines
    * run both and audit the disagreement): per document, in fixed audit
    * order — word count ∈ [50, 100000]; mean word length ∈ [3, 10];
    * symbol-to-word ratio (# and …) ≤ 0.1; ≤ 90% of lines bullet-led
    * ([-*], the ASCII subset — the paper removes only when MORE than
    * 90% of lines open with a bullet, so list-bearing documents are
    * kept); ≤ 30% of lines ellipsis-ended; ≥ 80% of
    * words containing an alphabetic character; ≥ 2 distinct
    * [[gopherStops]]. EVERY threshold is a cross-multiplied integer
    * comparison (3·n_words ≤ Σlen ≤ 10·n_words, 10·symbols ≤ n_words,
    * 5·alpha_words ≥ 4·n_words, …) — no division, no float, so the
    * verdict is bit-identical cross-engine. The first failing rule is
    * the audit reason (the q73 convention).
    *
    * Scale: a stateless codegen'd projection — one pass, no shuffle, no
    * state; exactly the operator class a cleaning pipeline runs first.
    */
  val gopherRules: Q = (s, d) => {
    val words = filter(toks, t => length(t) > 0)
    val nw = size(words).cast("long")
    val chars = aggregate(words, lit(0L), (acc, w) => acc + length(w))
    val nsym = (size(regexp_extract_all(col("text"), lit("#"), lit(0)))
      + size(regexp_extract_all(col("text"), lit("\\.\\.\\."), lit(0))))
      .cast("long")
    val lines = split(col("text"), "\n")
    val nlines = size(lines).cast("long")
    val bullets = size(filter(lines, l => l.rlike("^\\s*[-*]")))
      .cast("long")
    val ells = size(filter(lines, l => l.rlike("\\.\\.\\.\\s*$")))
      .cast("long")
    val alphaW = size(filter(words, w => w.rlike("[a-zA-Z]"))).cast("long")
    val stops = size(array_intersect(array_distinct(words),
      array(gopherStops.map(lit): _*))).cast("long")
    val reason = when(nw < 50 || nw > 100000, "word_count")
      .when(chars < nw * 3L || chars > nw * 10L, "mean_word_length")
      .when(nsym * 10L > nw, "symbol_ratio")
      .when(bullets * 10L > nlines * 9L, "bullet_lines")
      .when(ells * 10L > nlines * 3L, "ellipsis_lines")
      .when(alphaW * 5L < nw * 4L, "alpha_ratio")
      .when(stops < 2L, "stopwords")
      .otherwise("ok")
    Tables.documents(s, d)
      .select(col("doc_id"), nw.as("n_words"), reason.as("reason"),
        (reason === "ok").as("keep"))
      .orderBy("doc_id")
  }

  /** q358 conformal miscoverage α in percent (coverage target 90%). */
  private[graft] val nbConfAlphaPct = 10

  /** q358 — SPLIT-CONFORMAL PREDICTION SETS for the NB classifier
    * (Vovk, Gammerman & Shafer 2005; Angelopoulos & Bates 2023 for the
    * modern recipe): the distribution-free guarantee above q356's
    * empirical reliability read — instead of a point label, emit the
    * SET of classes statistically consistent with the doc, sized so
    * that P(true class ∈ set) ≥ 1 − α regardless of how miscalibrated
    * the classifier is. The q75 md5 split leaves bk ∈ [80, 90) unused
    * by train (< 80) and test (≥ 90) — a calibration fold BY DESIGN.
    * Nonconformity is integer-exact: s_i = (top score) − (true-class
    * score) ≥ 0; q̂ is the exact ⌈(1−α)(n+1)⌉-th smallest calibration
    * score (the q283/q317 order-statistic machinery; an under-sized
    * fold yields the conformal-defined INFINITE threshold as
    * Long.MaxValue — every set becomes the full taxonomy, loud not
    * silent); the test-fold set for a doc is every class within q̂ of
    * its top score (the argmax is always in — set size ≥ 1). Output:
    * the taxonomy-bounded set-size histogram plus q̂, fold sizes, and
    * the realized test coverage in ppm — the guarantee audit (≥
    * 900000 in expectation under exchangeability; the spec pins an
    * exchangeable fixture where it reads exactly 10⁶, an alien-test
    * fixture where the coverage column reports the collapse to the
    * exact miss fraction — the alarm the audit exists to ring when
    * test drifts from calibration — and the under-sized-fold infinite
    * threshold where every set is the full taxonomy).
    *
    * Scale: the corpus work is the SHARED [[nbScored]] chain over
    * bk ≥ 80 (one scoring pass covers both folds); the calibration
    * quantile is one exact sort of the ~10% fold — in production the
    * fold is a bounded sample (compose with q341), documented; the
    * histogram is taxonomy-bounded.
    */
  val nbConformal: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val scored = nbScored(s, d, foldLo = 80)
    val perDoc = scored.groupBy("doc_id", "true_lang", "bk")
      .agg(max("score").as("s1"),
        max(when(col("cls") === col("true_lang"), col("score")))
          .as("st"))
      .select(col("doc_id"), col("bk"),
        // a calibration doc whose true class never appeared in
        // training is infinitely nonconforming (st is null) — and
        // Spark sorts nulls FIRST where DuckDB sorts them LAST, so
        // the sentinel must be explicit, not a null
        coalesce(col("s1") - col("st"), lit(Long.MaxValue)).as("nc"))
    val cal = perDoc.filter(col("bk") < 90).select("nc")
    val nCal = cal.count() // 1-value driver sync
    val k = (9L * (nCal + 1) + 9) / 10
    // limit() takes an Int: a >2³¹-doc calibration fold must be
    // SAMPLED first (q341), never silently truncated into a wrong
    // quantile — loud, the documented production posture
    require(k <= Int.MaxValue,
      s"q358: calibration fold too large for the exact sort ($nCal " +
        "docs); draw a bounded sample first (q341)")
    val qhat =
      if (k > nCal) Long.MaxValue
      else cal.orderBy("nc").limit(k.toInt)
        .orderBy(col("nc").desc).limit(1).head().getLong(0)
    val w = Window.partitionBy("doc_id")
    val test = scored.filter(col("bk") >= 90)
      .withColumn("s1", max("score").over(w))
      .groupBy("doc_id", "true_lang")
      .agg(sum(when(col("s1") - col("score") <= qhat, 1L).otherwise(0L))
          .as("set_size"),
        max(when(col("cls") === col("true_lang") &&
          col("s1") - col("score") <= qhat, 1L).otherwise(0L)).as("cov"))
    val glob = test.agg(count(lit(1)).as("n_test"),
      sum("cov").as("n_covered"))
    test.groupBy("set_size").agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(glob))
      .select(col("set_size"), col("n_docs"),
        lit(nCal).as("n_cal"), lit(qhat).as("qhat_micro"),
        col("n_test"), col("n_covered"),
        expr("""CAST(CASE WHEN n_test = 0 THEN -1
                ELSE (n_covered * 1000000) div n_test END AS BIGINT)""")
          .as("coverage_ppm"))
      .orderBy("set_size")
  }

  /** q360 — MONDRIAN (CLASS-CONDITIONAL) CONFORMAL SETS (Vovk 2003
    * taught the taxonomy-conditional form; Angelopoulos & Bates 2023
    * §4.1 "group-balanced conformal"): q358's guarantee is MARGINAL —
    * P(true ∈ set) ≥ 1 − α on average over all docs — so a skewed
    * corpus can hold 90% overall while a rare language gets 0%
    * conditional coverage (the spec plants exactly that). Mondrian
    * calibrates PER CLASS: q̂_c is the ⌈(1−α)(n_c+1)⌉-th smallest
    * nonconformity among calibration docs whose TRUE class is c, and
    * a candidate class c enters a doc's set iff s₁ − score_c ≤ q̂_c —
    * each class judged against its own threshold, giving
    * P(true ∈ set | Y = c) ≥ 1 − α per class. A class whose
    * calibration fold cannot support the quantile (k_c > n_c,
    * including n_c = 0) gets the conformal-defined INFINITE threshold
    * — it joins EVERY set (the conservative move that preserves its
    * conditional guarantee), and an un-trained true class reads
    * coverage 0 loudly (it can never be a candidate). Same exact
    * integer nonconformity as q358 (s₁ − s_true, null-st sentinel
    * explicit because Spark sorts nulls first where DuckDB sorts them
    * last); per-class output rows: fold sizes, q̂_c, realized
    * conditional coverage and mean set size in ppm (−1 sentinels on
    * an empty test class). q358 and q360 share the identical
    * [[nbScored]] chain and per-doc nonconformity frame — only the
    * quantile's partitioning differs (the q283 Mondrian-by-segment
    * precedent).
    *
    * Scale: one scoring pass covers both folds (shared chain); the
    * per-class quantile is ONE row_number window partitioned by class
    * — the sort parallelizes across the taxonomy instead of q358's
    * single global sort; a > 2³¹-doc class fold refuses loudly with
    * the documented sample-first (q341) posture; the class-threshold
    * table is taxonomy-bounded and broadcast.
    */
  val nbMondrian: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val scored = nbScored(s, d, foldLo = 80)
    val perDoc = scored.groupBy("doc_id", "true_lang", "bk")
      .agg(max("score").as("s1"),
        max(when(col("cls") === col("true_lang"), col("score")))
          .as("st"))
      .select(col("doc_id"), col("true_lang"), col("bk"),
        coalesce(col("s1") - col("st"), lit(Long.MaxValue)).as("nc"))
    val cal = perDoc.filter(col("bk") < 90)
    val counts = cal.groupBy("true_lang").agg(count(lit(1)).as("n_cal"))
    // taxonomy-bounded sync: one row per true class — guards the
    // Int-ranked window below (row_number is 32-bit; a larger class
    // fold must be sampled first, q341, never silently wrapped)
    counts.collect().foreach { r =>
      require(r.getLong(1) <= Int.MaxValue,
        s"q360: class '${r.getString(0)}' calibration fold too large " +
          "for the exact per-class sort; draw a bounded sample first " +
          "(q341)")
    }
    val w = Window.partitionBy("true_lang").orderBy("nc")
    val qhats = cal.withColumn("rn", row_number().over(w))
      .join(broadcast(counts), "true_lang")
      .filter(col("rn") === expr("(9 * (n_cal + 1) + 9) div 10"))
      .select(col("true_lang").as("class"), col("nc").as("qhat"))
    val classes = scored.select(col("cls").as("class"))
      .union(perDoc.select(col("true_lang").as("class"))).distinct()
    val clsQ = classes
      .join(counts.withColumnRenamed("true_lang", "class"),
        Seq("class"), "left")
      .join(qhats, Seq("class"), "left")
      .select(col("class"), coalesce(col("n_cal"), lit(0L)).as("n_cal"),
        // k_c > n_c (no rank-k row) or n_c = 0 → infinite threshold
        coalesce(col("qhat"), lit(Long.MaxValue)).as("qhat"))
    val wd = Window.partitionBy("doc_id")
    val test = scored.filter(col("bk") >= 90)
      .withColumn("s1", max("score").over(wd))
      // the Mondrian move: the threshold joins on the CANDIDATE class
      .join(broadcast(clsQ.select(col("class").as("cls"), col("qhat"))),
        Seq("cls"))
      .groupBy("doc_id", "true_lang")
      .agg(sum(when(col("s1") - col("score") <= col("qhat"), 1L)
          .otherwise(0L)).as("set_size"),
        max(when(col("cls") === col("true_lang") &&
          col("s1") - col("score") <= col("qhat"), 1L).otherwise(0L))
          .as("cov"))
    val perClass = test.groupBy(col("true_lang").as("class"))
      .agg(count(lit(1)).as("n_test"), sum("cov").as("n_covered"),
        sum("set_size").as("sum_set_size"))
    clsQ.join(perClass, Seq("class"), "left")
      .select(col("class"), col("n_cal"), col("qhat").as("qhat_micro"),
        coalesce(col("n_test"), lit(0L)).as("n_test"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        coalesce(col("sum_set_size"), lit(0L)).as("sum_set_size"))
      .withColumn("coverage_ppm",
        expr("""CAST(CASE WHEN n_test = 0 THEN -1
                ELSE (n_covered * 1000000) div n_test END AS BIGINT)"""))
      .withColumn("avg_set_ppm",
        expr("""CAST(CASE WHEN n_test = 0 THEN -1
                ELSE (sum_set_size * 1000000) div n_test END AS BIGINT)"""))
      .orderBy("class")
  }

  /** q363 — ISOTONIC (PAV) CALIBRATION of the margin-reliability table
    * (Ayer et al. 1955 for the estimator; Zadrozny & Elkan 2002 for
    * isotonic classifier calibration; Robertson–Wright–Dykstra 1988
    * §1.2 for the minimax identity): q356 reports RAW per-bucket
    * accuracy, which on finite folds need not be monotone in the
    * margin — and a keep-threshold policy quoting a non-monotone
    * confidence is incoherent (a HIGHER-margin doc quoted a LOWER
    * accuracy). The isotonic repair is the weighted least-squares
    * monotone fit, computed here through the EXACT minimax identity
    *   ĝ(k) = max_{i≤k} min_{j≥k} (Σ_{i..j} correct) / (Σ_{i..j} n)
    * over the nonempty buckets — equivalent to pool-adjacent-
    * violators but with no sequential merge state to mirror. Interval
    * accuracies are compared through the floor(acc·10¹⁸) surrogate in
    * BOTH engines (distinct pooled accuracies differ by ≥ 1/N², so
    * the surrogate is exact inside the documented 10⁹-doc headroom —
    * and because both engines compare the SAME surrogate, the fit
    * cannot drift even at the boundary); the output truncation
    * floor(surrogate/10¹²) IS floor(acc·10⁶) (nested-floor identity),
    * so calib_ppm carries ONE truncation. Empty buckets report −1 and
    * take no part in the pooling; `adjusted` flags buckets the repair
    * moved.
    *
    * Scale: corpus work is the SHARED [[nbMarginTable]] (q356's
    * chain); the fit runs on the [[nbMarginEdges]]-bounded sync
    * (≤ 5 rows) — interval enumeration over ≤ 5 buckets is O(1).
    */
  val nbIsotonic: Q = (s, d) => {
    import s.implicits._
    val tbl = nbMarginTable(s, d)
      .collect() // bucket-bounded: exactly nbMarginEdges.size rows
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val ne = tbl.filter(_._2 > 0)
    val m = ne.length
    def surr(i: Int, j: Int): BigInt = {
      val c = ne.slice(i, j + 1).map(x => BigInt(x._3)).sum
      val n = ne.slice(i, j + 1).map(x => BigInt(x._2)).sum
      c * BigInt("1000000000000000000") / n
    }
    val calib: Map[Long, Long] = ne.indices.map { k =>
      val v = (0 to k).map(i => (k until m).map(j => surr(i, j)).min).max
      ne(k)._1 -> (v / 1000000000000L).toLong
    }.toMap
    tbl.toSeq.map { case (lo, n, c) =>
      val acc = if (n == 0) -1L else (BigInt(c) * 1000000L / n).toLong
      val cal = calib.getOrElse(lo, -1L)
      (lo, n, c, acc, cal, n > 0 && cal != acc)
    }.toDF("bucket_lo", "n_docs", "n_correct", "acc_ppm", "calib_ppm",
      "adjusted").orderBy("bucket_lo")
  }

  /** q357 char-fraction thresholds in percent, Rae et al. 2021 Table A1
    * order: dup-line-char 20, dup-para-char 20, top-{2,3,4}-gram
    * {20,18,16}, dup-{5..10}-gram {15,14,13,12,11,10}. The unit-count
    * rules (dup lines / paragraphs) both cut at 30%. */
  private[graft] val repCharPct =
    Seq(20, 20, 20, 18, 16, 15, 14, 13, 12, 11, 10)

  /** q357 — GOPHER REPETITION RULES (Rae et al. 2021, Appendix A Table
    * A1 — the OTHER half of the Gopher filter next to q338's format
    * rules, and the half this corpus actually exercises: repetitive
    * generation/boilerplate is the dominant failure mode the paper
    * measured): per document, in Table A1 order — duplicate LINE and
    * PARAGRAPH fraction (> 30% of units repeated), duplicate line/
    * paragraph CHARACTER fraction (> 20% of chars inside repeated
    * units), TOP-{2,3,4}-gram character fraction (> {20,18,16}% of
    * chars inside the single most frequent n-gram), and DUPLICATE-
    * {5..10}-gram character fraction (> {15..10}% of chars inside
    * n-grams occurring more than once). Counting conventions pinned
    * (the paper leaves them open; these are the NeMo-Curator-style
    * readings): a duplicated unit counts ALL its occurrences; n-gram
    * char mass is occurrences × length of the space-joined gram, so
    * overlapping occurrences each count; denominators are total
    * document characters (char rules) / total units (count rules).
    * Every verdict is a cross-multiplied integer comparison (mass·100
    * > pct·total — no division); the ppm columns are reads, not
    * inputs to the verdict, so their one truncation cannot flip it.
    * First failing rule is the reason (the q73/q338 convention).
    *
    * Scale: lines/paragraphs shuffle on (doc, unit) and n-grams on
    * (doc, n, gram) — the q74 shingle discipline, linear in corpus
    * size with ONE shared n-explode (9 n-values ride one pass); the
    * final frame is one row per document.
    */
  val gopherRepetition: Q = (s, d) => {
    val base = Tables.fanOut(Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("c_total"),
        filter(toks, t => length(t) > 0).as("tk"))
    def dupUnits(delim: String, tag: String) = base
      .select(col("doc_id"), explode(split(col("text"), delim)).as("u"))
      .groupBy("doc_id", "u").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(
        sum("cnt").as(s"n_$tag"),
        sum(when(col("cnt") >= 2, col("cnt")).otherwise(0L))
          .as(s"dup_$tag"),
        sum(when(col("cnt") >= 2, col("cnt") * length(col("u")))
          .otherwise(0L)).as(s"dupc_$tag"))
    val lines = dupUnits("\\n", "line")
    val paras = dupUnits("\\n\\n", "para")
    val gramStats = base
      .select(col("doc_id"), explode(expr(
        """flatten(transform(sequence(2, 10), n ->
          |  CASE WHEN size(tk) >= n THEN
          |    transform(sequence(1, size(tk) - n + 1),
          |      i -> struct(n AS n, concat_ws(' ', slice(tk, i, n)) AS g))
          |  ELSE CAST(array() AS ARRAY<STRUCT<n: INT, g: STRING>>)
          |  END))""".stripMargin)).as("x"))
      .select(col("doc_id"), col("x.n").as("n"),
        md5(col("x.g")).as("gh"), length(col("x.g")).as("len"))
      // group on the 32-hex md5, not the gram itself — a 10-gram of
      // replica-tagged tokens is ~90 bytes of shuffle key (the q74
      // shingle discipline; measured 17.3 s → grouped-hash at sf1)
      .groupBy("doc_id", "n", "gh")
      .agg(count(lit(1)).as("cnt"), max("len").as("len"))
      .select(col("doc_id"), col("n"),
        (col("cnt") * col("len")).as("mass"), col("cnt"))
      .groupBy("doc_id", "n").agg(
        max("mass").as("top_mass"),
        sum(when(col("cnt") >= 2, col("mass")).otherwise(0L))
          .as("dup_mass"))
      .groupBy("doc_id").agg(
        max(when(col("n") === 2, col("top_mass"))).as("top2"),
        ((3 to 4).map(n => max(when(col("n") === n, col("top_mass")))
          .as(s"top$n")) ++
          (5 to 10).map(n => max(when(col("n") === n, col("dup_mass")))
            .as(s"dup$n"))): _*)
    val j = base.select("doc_id", "c_total")
      .join(lines, Seq("doc_id"), "left")
      .join(paras, Seq("doc_id"), "left")
      .join(gramStats, Seq("doc_id"), "left")
      .na.fill(0L)
    val pct = repCharPct
    val reason = when(col("dup_line") * 100L > col("n_line") * 30L,
        "dup_line_frac")
      .when(col("dup_para") * 100L > col("n_para") * 30L, "dup_para_frac")
      .when(col("dupc_line") * 100L > col("c_total") * pct(0),
        "dup_line_char_frac")
      .when(col("dupc_para") * 100L > col("c_total") * pct(1),
        "dup_para_char_frac")
      .when(col("top2") * 100L > col("c_total") * pct(2), "top_2_gram")
      .when(col("top3") * 100L > col("c_total") * pct(3), "top_3_gram")
      .when(col("top4") * 100L > col("c_total") * pct(4), "top_4_gram")
      .when(col("dup5") * 100L > col("c_total") * pct(5), "dup_5_gram")
      .when(col("dup6") * 100L > col("c_total") * pct(6), "dup_6_gram")
      .when(col("dup7") * 100L > col("c_total") * pct(7), "dup_7_gram")
      .when(col("dup8") * 100L > col("c_total") * pct(8), "dup_8_gram")
      .when(col("dup9") * 100L > col("c_total") * pct(9), "dup_9_gram")
      .when(col("dup10") * 100L > col("c_total") * pct(10), "dup_10_gram")
      .otherwise("ok")
    def ppm(mass: String, total: String) =
      expr(s"CAST(CASE WHEN $total <= 0 THEN 0" +
        s" ELSE ($mass * 1000000) div $total END AS BIGINT)")
    j.select(col("doc_id"),
        ppm("dup_line", "n_line").as("dup_line_ppm"),
        ppm("dup_para", "n_para").as("dup_para_ppm"),
        ppm("dupc_line", "c_total").as("dup_line_char_ppm"),
        ppm("dupc_para", "c_total").as("dup_para_char_ppm"),
        ppm("top2", "c_total").as("top2_ppm"),
        ppm("top3", "c_total").as("top3_ppm"),
        ppm("top4", "c_total").as("top4_ppm"),
        ppm("dup5", "c_total").as("dup5_ppm"),
        ppm("dup6", "c_total").as("dup6_ppm"),
        ppm("dup7", "c_total").as("dup7_ppm"),
        ppm("dup8", "c_total").as("dup8_ppm"),
        ppm("dup9", "c_total").as("dup9_ppm"),
        ppm("dup10", "c_total").as("dup10_ppm"),
        reason.as("reason"), (reason === "ok").as("keep"))
      .orderBy("doc_id")
  }

  /** q74 — decontamination: flag corpus documents sharing any 8-token
    * shingle with the benchmark set (here: doc_id < 10 stands in for an
    * eval benchmark). Shingles are md5-hashed map-side, the collision
    * check is an equi-join on the hash against the (small, broadcast)
    * benchmark shingle set, and the verdict aggregates per document —
    * the standard n-gram-overlap contamination pass, linear in corpus
    * size. Window of 8 tokens ≈ the 8–13-gram range used in practice.
    */
  /** Every document's 8-token windows of non-empty tokens, md5-hashed, as
    * (doc_id, sh): q74/q99/q240's shingles, and q120/q181/q199's shingle
    * sets once made distinct. */
  private def shingleHashes(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val t = Tables.fanOut(Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), filter(toks, tok => length(tok) > 0).as("tk"))
    // guard: sequence(1, n) DESCENDS for n < 1 ([1, 0]), it is not empty —
    // a document with < 8 tokens must yield zero shingles, not garbage
    val idx = when(size(col("tk")) >= 8, sequence(lit(1), size(col("tk")) - 7))
      .otherwise(array().cast("array<int>"))
    t.select(col("doc_id"),
      explode(transform(idx,
        i => md5(concat_ws(" ", slice(col("tk"), i, lit(8)))))).as("sh"))
  }

  val decontaminate: Q = (s, d) => {
    val shingled = shingleHashes(s, d)
    val bench = shingled.filter(col("doc_id") < 10)
      .select(col("sh")).distinct()
    val hits = shingled.filter(col("doc_id") >= 10).alias("c")
      .join(broadcast(bench).alias("b"), col("c.sh") === col("b.sh"))
      .groupBy(col("c.doc_id").as("doc_id"))
      .agg(countDistinct(col("c.sh")).as("n_hits"))
    Tables.documents(s, d).select(col("doc_id")).filter(col("doc_id") >= 10)
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  private val bloomBits = 65536
  private val bloomK = 4

  /** q99 — Bloom-filter contamination pre-filter: the sketch-sized stand-in
    * for q74's exact shingle join when the benchmark set is too large to
    * broadcast as raw hashes. The benchmark's 8-token shingles are folded
    * into a [[bloomBits]]-bit / [[bloomK]]-hash Bloom filter (here the
    * distinct-set-bit table, ≤ 16384 rows no matter how many shingles feed
    * it — the whole point of the sketch); corpus shingles probe it
    * map-side against the broadcast bit set, flagged only when all
    * [[bloomK]] positions are present. False positives are bounded and
    * audited: the exact verdict (q74's join) runs alongside on the same
    * shingles, so the output exposes per-document n_maybe ≥ n_exact and
    * the realized false-positive count — the number a pipeline operator
    * watches before trusting the sketch as a pre-filter at 100 TB.
    *
    * Hash family: Kirsch–Mitzenmacher-style slices of the ONE shingle
    * digest — the shingle's md5 already carries 128 bits, so the k bit
    * positions are non-overlapping 4-hex-digit substrings of it (16 bits
    * each = exactly the 65536-bit space, no modulo bias). Zero additional
    * hashing per probe — re-hashing "j:"+sh per position would cost k
    * extra md5 walks over every corpus shingle, the dominant CPU term.
    */
  val bloomFilter: Q = (s, d) => {
    val shingled = shingleHashes(s, d)
    def positions(sh: org.apache.spark.sql.Column) =
      array((0 until bloomK).map(j =>
        conv(substring(sh, j * 4 + 1, 4), 16, 10).cast("long")): _*)
    val bench = shingled.filter(col("doc_id") < 10)
      .select(col("sh")).distinct()
    val bits = bench.select(explode(positions(col("sh"))).as("bit")).distinct()
      .withColumn("present", lit(1))
    // distinct (doc, shingle) first: a shingle repeated inside one document
    // must count once, exactly as q74's countDistinct treats it
    val probe = shingled.filter(col("doc_id") >= 10).distinct()
    val perShingle = probe
      .select(col("doc_id"), col("sh"), explode(positions(col("sh"))).as("bit"))
      .join(broadcast(bits), Seq("bit"), "left")
      .groupBy("doc_id", "sh")
      .agg(sum(coalesce(col("present"), lit(0))).as("k_hit"))
    val verdict = perShingle
      .join(broadcast(bench.withColumn("ex", lit(1))), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("k_hit") === bloomK, 1L).otherwise(0L)).as("n_maybe"),
        sum(coalesce(col("ex"), lit(0)).cast("long")).as("n_exact"))
    Tables.documents(s, d).select(col("doc_id")).filter(col("doc_id") >= 10)
      .join(verdict, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_maybe"), lit(0L)).as("n_maybe"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        (coalesce(col("n_maybe"), lit(0L)) - coalesce(col("n_exact"), lit(0L)))
          .as("n_false_pos"),
        (coalesce(col("n_maybe"), lit(0L)) > 0).as("flagged"))
      .orderBy("doc_id")
  }

  /** q120 — prefix-filter EXACT set-similarity self-join (the filtering
    * core of PPJoin) over 8-token shingle sets at Jaccard ≥ 0.5: the
    * exact counterpart to q37's LSH banding. LSH trades recall for speed;
    * prefix filtering is lossless — sort every document's shingles by a
    * GLOBAL rarity order (corpus frequency, digest tiebreak) and keep only
    * the first |r| − ⌈t·|r|⌉ + 1 as the PREFIX: two sets can reach
    * threshold t only if their prefixes share an element, so the
    * candidate join keys on prefix shingles alone. Rare shingles make tiny
    * buckets — the candidate mass collapses to near-dups plus noise,
    * pruned further by the length filter (t·|r| ≤ |s| ≤ |r|/t) riding on
    * the join condition.
    *
    * Everything is integer-exact end to end: the prefix length is
    * n − (n+1) div 2 + 1, the length filter is 2·n₂ ≥ n₁ ∧ 2·n₁ ≥ n₂, and
    * the verify is 3·|∩| ≥ |A| + |B| (⟺ Jaccard ≥ ½) on the native
    * merge-walk intersect — no float ever, so both engines agree
    * bit-for-bit. Scale shape: one shingle projection, one frequency
    * aggregate, per-doc windows (each partition = one document's
    * shingles), the prefix equi-join, and the hash-probed verify — the
    * same blocking discipline as every matcher here, but with a PROOF of
    * completeness instead of an LSH recall bound. Output is the linear
    * per-document verdict, never the pair list.
    */
  val prefixJoin: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val shingles = shingleHashes(s, d).distinct()
    val freq = shingles.groupBy("sh").agg(count(lit(1)).as("f"))
    val wN = Window.partitionBy("doc_id")
    val wRk = Window.partitionBy("doc_id").orderBy(col("f"), col("sh"))
    val prefix = shingles.join(freq, "sh")
      .withColumn("n", count(lit(1)).over(wN))
      .withColumn("rk", row_number().over(wRk))
      .filter(col("rk") <= col("n") - expr("(n + 1) div 2") + 1)
      .select(col("doc_id"), col("sh"), col("n"))
    val cand = prefix.select(col("doc_id").as("d1"), col("sh"), col("n").as("n1"))
      .join(prefix.select(col("doc_id").as("d2"), col("sh"), col("n").as("n2"))
          .hint("shuffle_hash"),
        Seq("sh"))
      .filter(col("d1") < col("d2") &&
        col("n2") * 2 >= col("n1") && col("n1") * 2 >= col("n2"))
      .select("d1", "d2").distinct()
    val th = shingles.groupBy("doc_id").agg(
      array_sort(collect_list(
        conv(substring(col("sh"), 1, 15), 16, 10).cast("long"))).as("hs"))
    val x = th.select(col("doc_id").as("d1"), col("hs").as("hs1"))
    val y = th.select(col("doc_id").as("d2"), col("hs").as("hs2"))
    val isect = graft.functions.Vectors.sortedIntersectSize(col("hs1"), col("hs2"))
    val pairs = cand
      .join(x.hint("shuffle_hash"), "d1")
      .join(y.hint("shuffle_hash"), "d2")
      .filter(isect * 3 >= size(col("hs1")) + size(col("hs2")))
      .select("d1", "d2")
    val deg = pairs.select(col("d1").as("doc_id"), col("d2").as("nb"))
      .union(pairs.select(col("d2").as("doc_id"), col("d1").as("nb")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_sim"), min("nb").as("min_nb"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(deg, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_sim"), lit(0L)).as("n_sim"),
        coalesce(col("min_nb"), lit(-1L)).as("nearest"))
      .orderBy("doc_id")
  }

  /** q75 — deterministic hash split: reproducible train/val/test
    * assignment from a content-independent key hash (md5 of the doc id,
    * 80/10/10). No RNG, no seed coordination across executors, stable
    * under repartitioning and re-runs — the only split discipline that
    * survives a distributed pipeline; counts per (lang, split) audit the
    * balance.
    */
  val hashSplit: Q = (s, d) => {
    val bucket = graft.functions.Hashing.md5Bucket(col("doc_id"), 100)
    Tables.documents(s, d)
      .select(col("lang"),
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
          .as("split"))
      .groupBy("lang", "split").agg(count(lit(1)).as("n"))
      .orderBy("lang", "split")
  }

  /** q94 — unigram cross-entropy quality score: mean −ln p(token) per
    * document under the corpus's own unigram distribution — the LM-style
    * cousin of q86's top-100 ratio (gibberish and boilerplate sit at the
    * distribution's tails; both are flagged by a high/low score). The
    * corpus model is ONE hash aggregate over the exploded token stream;
    * scoring joins tokens to their frequencies on the term key (shuffled,
    * never broadcast — the vocabulary is corpus-sized at 100 TB) and
    * reduces per document.
    *
    * Cross-engine determinism: each token's −ln p is rounded to integer
    * MICRO-nats and summed as a BIGINT — integer addition is
    * order-independent where a double sum is not, so the per-doc reduce
    * is exact in both engines (same discipline as the decimal sums in
    * graft.functions.Exact).
    */
  val unigramLogprob: Q = (s, d) => {
    val docs = Tables.fanOut(Tables.documents(s, d), "doc_id")
    val terms = docs.select(col("doc_id"),
      explode(filter(toks, t => length(t) > 0)).as("term"))
    val per = docSurprisal(terms)
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        round(coalesce(col("sum_mu"), lit(0L)).cast("double") / 1e6 /
          greatest(coalesce(col("n_tokens"), lit(0L)), lit(1L)).cast("double"), 6)
          .as("cross_entropy"))
      .orderBy("doc_id")
  }

  /** Per-document unigram surprisal under the corpus model that `terms`
    * (doc_id, term) itself defines: (doc_id, n_tokens, sum_mu), each
    * token's −ln p rounded to integer micro-nats (q94's discipline). */
  private[graft] def docSurprisal(terms: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val freq = terms.groupBy("term").agg(count(lit(1)).as("cnt"))
    // total tokens = Σ cnt over the (vocabulary-sized) frequency table —
    // NOT a third tokenization pass over the corpus
    val tot = freq.agg(sum("cnt").as("t"))
    terms.join(freq, "term").crossJoin(broadcast(tot))
      .select(col("doc_id"),
        round(log(col("t").cast("double") / col("cnt")) * 1e6).cast("long")
          .as("mu"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("mu").as("sum_mu"))
  }

  /** q205 df-cutoff: terms in more documents than this carry near-zero
    * idf AND quadratic join fan-out — the HARD cap that bounds the
    * candidate mass to Σ df² ≤ cutoff·Σdf (linear in the corpus, the
    * non-negotiable part of the design: a corpus-fraction cutoff was
    * tried and lets the pair join explode quadratically the moment the
    * kept band widens — at sf1 it admitted df≈5000 terms and hung). The
    * flip side is data-dependent and DOCUMENTED: on a corpus whose every
    * term is common (the sf0.1 fixture vocabulary — min df > 100 over
    * 5000 docs) the rare-term representation is EMPTY and the result has
    * 0 rows. That emptiness is the audit's answer — rare-term cosine has
    * no signal there, and the embedding (q36/q101) or minhash (q37)
    * detectors are the right tool — not a failure of the operator.
    */
  private val cosDfCut = 100

  /** q205 — sparse TF-IDF COSINE similarity pairs: the document-level
    * semantic-similarity join over the corpus's own term space — the
    * classic retrieval-era complement to q101's embedding SemDeDup (no
    * model needed, exact over the representation it defines). Weights are
    * tf · idf in MILLI-nats (idf = round(1000·ln(N/df)) — q94's
    * integer-log discipline; milli not micro so a pairwise product stays
    * far under 2⁶³), terms above [[cosDfCut]] dropped (near-zero idf,
    * quadratic fan-out — the cap IS the scale story: candidate mass
    * Σ df² ≤ cutoff·Σdf). The weight table is staged once (scratch
    * parquet — four consumers would otherwise re-tokenize four times, the
    * q37 lesson), dot products come from one term-keyed self-join +
    * per-pair aggregate, norms from one per-doc aggregate, and the ONLY
    * float appears in the last expression — cos_ppm =
    * floor(dot·10⁶ / √(‖a‖²·‖b‖²)) — where every input is an exact
    * integer and both engines evaluate the identical IEEE tree (×, /,
    * sqrt, floor are all correctly-rounded). Top-20 by (cos, d1, d2) via
    * TakeOrderedAndProject.
    */
  val tfidfCosine: Q = (s, d) => {
    val docs = Tables.fanOut(Tables.documents(s, d), "doc_id")
    val terms = docs.select(col("doc_id"),
      explode(filter(toks, t => length(t) > 0)).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("nd"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") <= cosDfCut)
    val w = graft.Scratch.stage("graft_tfidf_w",
      tf.join(df, "term").crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("term"),
          (col("tf") *
            expr("CAST(round(ln(CAST(nd AS DOUBLE) / df) * 1000) AS BIGINT)"))
            .as("w")))
    val norms = w.groupBy("doc_id").agg(sum(col("w") * col("w")).as("n2"))
    val dot = w.select(col("doc_id").as("d1"), col("term"), col("w").as("w1"))
      .join(w.select(col("doc_id").as("d2"), col("term"), col("w").as("w2"))
          .hint("shuffle_hash"), Seq("term"))
      .filter(col("d1") < col("d2"))
      .groupBy("d1", "d2")
      .agg(sum(col("w1") * col("w2")).as("dot"), count(lit(1)).as("n_shared"))
    dot
      .join(norms.select(col("doc_id").as("d1"), col("n2").as("na"))
        .hint("shuffle_hash"), "d1")
      .join(norms.select(col("doc_id").as("d2"), col("n2").as("nb"))
        .hint("shuffle_hash"), "d2")
      .select(col("d1"), col("d2"), col("n_shared"),
        expr("""CAST(floor(CAST(dot AS DOUBLE) * 1000000.0
                / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) AS BIGINT)""")
          .as("cos_ppm"))
      .orderBy(col("cos_ppm").desc, col("d1"), col("d2"))
      .limit(20)
  }

  /** q139 — INVERTED INDEX build + conjunctive (AND) search: token →
    * sorted-distinct posting list of doc_ids, staged once, then AND
    * queries answered by posting-list intersection with the native
    * [[graft.functions.SortedIntersectSize]] merge walk — O(|postings|)
    * per pair with zero document access, the reason search engines build
    * indexes. The build is one distinct + one hash aggregate (linear in
    * total tokens — exactly an index build's cost); query terms here are
    * the top-4 tokens by document frequency and all 6 unordered pairs are
    * answered against the STAGED index.
    *
    * Posting-list bounding: this corpus's synthetic vocabulary is tiny
    * and uniformly common (~30 tokens, df ≈ 80%), so the demo indexes
    * every df ≥ 2 token and the largest posting is corpus-sized — at
    * 100 TB a production index SHARDS stopword-class postings (blocked
    * postings / skip lists) or drops them behind a df cutoff; the cutoff
    * is one `filter(df <= threshold)` on the build side and changes no
    * other line. The per-pair walk is the same kernel the dedup verify
    * loop runs, called directly (the staged posting arrays are sorted
    * and distinct by construction).
    */
  val invertedIndex: Q = (s, d) => {
    val docTok = Tables.fanOut(Tables.documents(s, d), "doc_id")
      .select(col("doc_id"),
        explode(filter(toks, x => length(x) > 0)).as("t"))
      .distinct()
    val index = docTok.groupBy("t").agg(
      count(lit(1)).as("df"),
      sort_array(collect_list(col("doc_id"))).as("posting"))
      .filter(col("df") >= 2)
    val staged = graft.Scratch.stage("graft_inv_index", index)
    val terms = staged.orderBy(col("df").desc, col("t")).limit(4)
      .select(col("t"), col("df"), col("posting"))
    terms.alias("a").join(terms.alias("b"), col("a.t") < col("b.t"))
      .select(
        col("a.t").as("term_a"), col("b.t").as("term_b"),
        col("a.df").as("df_a"), col("b.df").as("df_b"),
        call_function("sorted_intersect_size",
          col("a.posting"), col("b.posting")).as("n_both"))
      .orderBy("term_a", "term_b")
  }

  /** q146 — COLLOCATION mining: adjacent-bigram lift (the integer-exact
    * PMI surrogate), top 50. lift_ppm = c_ab·N·10⁶ / (c_a·c_b) in parts
    * per million — the same ranking PMI's log would give (log is
    * monotone), with every number a count or an exact integer ratio so
    * the cross-engine compare is bit-stable where log's floating point
    * would not be. Plan: one windowed lead() pass builds adjacent bigrams
    * shuffle-free on the fanOut doc partitioning (q141's shingle
    * discipline at width 2), one hash aggregate each for bigram and
    * unigram counts, two equi-joins to attach marginals (term-keyed —
    * AQE broadcasts the fixture vocabulary, shuffles a web-scale one),
    * and a TakeOrderedAndProject cut. The c_ab ≥ 5 noise floor is the
    * standard collocation support cut, applied BEFORE the joins so the
    * marginal attach runs over surviving bigrams only. The ×10⁶ product
    * runs in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) and floors to
    * BIGINT — positive throughout, so div ≡ //.
    */
  val collocations: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val tok = positionedTokens(s, d)
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val bg = tok
      .select(col("t").as("a"), lead("t", 1).over(w).as("b"))
      .filter(col("b").isNotNull)
    pairLift(tok, bg).limit(50)
  }

  /** q149 — BM25 ranked retrieval (k1=1.2, b=0.75): the scoring layer on
    * top of q139's index build. Query terms are the top-4 tokens by df
    * (q139's choice criteria); every document containing any of them is
    * scored with the Okapi formula and the top 50 returned.
    *
    * Plan: one tokenize pass on the fanOut doc partitioning feeds BOTH
    * the (doc, term) tf aggregate and the per-doc length aggregate — the
    * doc-keyed join between them reuses the same clustering, so the
    * whole scoring pipeline pays exactly one fan-out shuffle plus the
    * term-df aggregate. The 4-term query set and the 1-row corpus stats
    * (N, Σdl) are broadcast; the scan over tf is a semi-join-shaped
    * probe (term IN query), which at 100 TB is the posting-list read an
    * index serves — the df-ordered staging story in q139's Scaladoc
    * carries over unchanged.
    *
    * Determinism: per-(doc, term) scores are micro-integerized (q94's
    * pattern) — idf·tfnorm is one double expression tree with IDENTICAL
    * parenthesization in both engines (IEEE doubles make equal trees
    * bit-equal), rounded to integer ppm BEFORE the per-doc sum, so the
    * only cross-row reduction is an exact integer sum. avgdl never
    * appears as a ratio: the length norm uses dl·N/Σdl, all-integer
    * until the final double multiply.
    */
  /** Per-(doc, query-term) BM25 rows: tf plus the micro-integerized Okapi
    * term score. Shared by q149 (score aggregation) and q158 (rank
    * fusion, which also needs the raw tf signal).
    */
  private def bm25TermRows(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val tok = Tables.fanOut(Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), explode(filter(toks, x => length(x) > 0)).as("t"))
    val tf = tok.groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val dfq = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val terms = dfq.orderBy(col("df").desc, col("t")).limit(4)
    val stats = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      .crossJoin(tok.agg(count(lit(1)).as("sum_dl")))
    tf.join(broadcast(terms), "t")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("tf"),
        expr("""CAST(round(ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
                 * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * n_docs / sum_dl))))
                 * 1000000) AS BIGINT)""").as("ppm"))
  }

  val bm25: Q = (s, d) =>
    bm25TermRows(s, d)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms_hit"), sum(col("ppm")).as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("doc_id"))
      .limit(50)

  /** q158 — RECIPROCAL RANK FUSION of two retrieval signals over the
    * same query: the BM25 ranking (saturated, length-normalized) fused
    * with the raw tf-sum ranking, rrf = Σ 1/(60 + rank) in integer ppm —
    * the standard way hybrid search merges lexical + semantic (or any
    * two) rankers without score calibration, because RRF consumes only
    * RANKS.
    *
    * Scale shape: each ranker's top-50 is cut by TakeOrderedAndProject
    * FIRST (each partition forwards ≤ 50 rows — no global sort), and the
    * rank-assigning windows then run over 50-row frames (bounded by
    * construction, the q129 discipline — RRF over top-k lists is the
    * textbook formulation, so the cut loses nothing). The fusion itself
    * is one full outer join of two 50-row lists. 1e6 div (60+rank) is
    * exact integer; absent-from-a-list contributes 0, surfaced as rank 0.
    */
  val rrfFusion: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val perDoc = bm25TermRows(s, d)
      .groupBy("doc_id")
      .agg(sum(col("ppm")).as("score_ppm"), sum(col("tf")).as("tf_sum"))
    def top50(orderCols: Seq[org.apache.spark.sql.Column], rankName: String) = {
      val w = Window.orderBy(orderCols: _*) // bounded: runs AFTER the 50-cut
      perDoc.orderBy(orderCols: _*).limit(50)
        .withColumn(rankName, row_number().over(w))
        .select(col("doc_id"), col(rankName))
    }
    val a = top50(Seq(col("score_ppm").desc, col("doc_id")), "rank_bm25")
    val b = top50(Seq(col("tf_sum").desc, col("doc_id")), "rank_tf")
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("rank_bm25"), lit(0)).as("rank_bm25"),
        coalesce(col("rank_tf"), lit(0)).as("rank_tf"))
      .withColumn("rrf_ppm",
        expr("""CASE WHEN rank_bm25 > 0 THEN 1000000 div (60 + rank_bm25) ELSE 0 END
              + CASE WHEN rank_tf > 0 THEN 1000000 div (60 + rank_tf) ELSE 0 END"""))
      .orderBy(col("rrf_ppm").desc, col("doc_id"))
      .limit(20)
  }

  /** q170 — TRIGRAM language model with held-out cross-entropy: the
    * conditional upgrade of q94's unigram score and the primitive behind
    * PERPLEXITY FILTERING (the CCNet/Gopher move: train a small LM on
    * trusted text, keep corpus documents whose perplexity under it is
    * unsurprising). Model = add-1-smoothed p(w3 | w1 w2) from the q75
    * hash-split train slice (buckets < 80); score = the test slice's
    * (buckets ≥ 90) mean −ln p per trigram, reported per source — a
    * 20-row quality leaderboard.
    *
    * Plan: trigram formation is ARRAY-LOCAL (transform over the token
    * array inside each row — no window shuffle, no posexplode+lead; a
    * document never leaves its partition to be trigrammed). Counts are
    * two hash aggregates (c3 keyed by the trigram string; c2 derived
    * from c3 by prefix re-aggregation — NOT a second corpus pass), both
    * map-side combinable. Scoring shuffles held-out trigrams to the
    * count tables on their natural string keys (vocabulary-sized at
    * 100 TB — joined, never broadcast; the 1-row vocab total IS
    * broadcast). Exactness: each −ln p rounds once to integer µnats
    * (q94's discipline); since c2 ≥ c3 the log argument is ≥ 1, every mu
    * is non-negative, and the final per-source `div` truncates
    * identically in both engines.
    */
  /** The shared q170/q311 trigram frame: per doc, ARRAY-LOCAL trigram
    * formation (no window shuffle — a document never leaves its
    * partition to be trigrammed) plus the q75 md5 split bucket, with the
    * token array kept for the train-vocab pass. */
  private def triFrame(s: org.apache.spark.sql.SparkSession, d: String) = {
    val docs = Tables.fanOut(Tables.documents(s, d), "doc_id")
    val bucket = graft.functions.Hashing.md5Bucket(col("doc_id"), 100)
    val base = docs.select(col("doc_id"), col("source"),
      filter(toks, t => length(t) > 0).as("tk"), bucket.as("bk"))
    val tri = base.select(col("doc_id"), col("source"), col("bk"),
      explode(expr("""CASE WHEN size(tk) >= 3 THEN
          transform(sequence(0, size(tk) - 3),
            i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))
          ELSE array() END""")).as("g3"))
      .withColumn("g2",
        expr("concat_ws(' ', split(g3, ' ')[0], split(g3, ' ')[1])"))
    (base, tri)
  }

  val trigramLm: Q = (s, d) => {
    val (base, tri) = triFrame(s, d)
    val c3 = tri.filter(col("bk") < 80)
      .groupBy("g2", "g3").agg(count(lit(1)).as("c3"))
    val c2 = c3.groupBy("g2").agg(sum("c3").as("c2"))
    val vocab = base.filter(col("bk") < 80)
      .select(explode(col("tk")).as("term"))
      .agg(countDistinct("term").as("v"))
    val scored = tri.filter(col("bk") >= 90)
      .join(c3.drop("g2"), Seq("g3"), "left")
      .join(c2, Seq("g2"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("source"),
        round(log((coalesce(col("c2"), lit(0L)) + col("v")).cast("double") /
          (coalesce(col("c3"), lit(0L)) + lit(1L)).cast("double")) * 1e6)
          .cast("long").as("mu"))
    scored.groupBy("source")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_trigrams"), sum("mu").as("sum_mu"))
      .select(col("source"), col("n_docs"), col("n_trigrams"),
        expr("sum_mu div n_trigrams").as("xent_micro"))
      .orderBy("source")
  }

  /** q311 — INTERPOLATED KNESER–NEY trigram LM (Kneser & Ney 1995;
    * Chen & Goodman 1999's interpolated form — the smoothing KenLM
    * ships and the CCNet quality-filter pipeline actually runs, where
    * q170 deliberately stops at add-1): the lower-order model is built
    * from CONTINUATION counts (how many distinct contexts a word
    * completes), not raw frequency — the "san francisco" property: a
    * word glued to one context scores low after unseen contexts no
    * matter how often its one collocation occurs. Same split, trigram
    * plumbing, and per-source leaderboard as q170, so the two smoothers
    * read side by side on identical n_trigrams.
    *
    * EXACT-RATIONAL formulation (no per-level float): discount D = 3/4,
    * so every probability is a ratio of integers in QUARTER units —
    *   p₁(w₃)        = (4·N₁(w₃) + 1) / (4·T + V + 1)
    *   p₂(w₃|w₂)     = (max(4·Nc−3, 0) + 3·Nm(w₂)·p₁) / (4·Ncc(w₂))
    *   p₃(w₃|w₁w₂)   = (max(4·c₃−3, 0) + 3·N₃(w₁w₂)·p₂) / (4·c₂)
    * with Nc = distinct left-extensions of the bigram (w₂,w₃), Ncc/Nm =
    * their per-middle totals, N₁/T/V over the trigram-derived bigram
    * type set (+1 in p₁'s numerator = the OOV floor, so every score is
    * finite); unseen context backs off a level (c₂ = 0 → p₂; Ncc = 0 →
    * p₁). Numerator/denominator ride DECIMAL(38,0) ≡ HUGEINT
    * (den₃ = 16·c₂·Ncc·(4T+V+1) ≤ ~10³⁰ at corpus scale — documented
    * headroom to 38 digits), and ONE ln per scored trigram converts the
    * exact rational to µnats (q94's discipline). Σ_w₃ p ≤ 1 at every
    * level, so mu ≥ 0 — the spec pins it.
    *
    * Plan: the c₃ table is the one corpus-sized aggregate, STAGED to a
    * vocabulary-sized scratch leaf; ctx/suffix/mid/unigram tables all
    * re-aggregate the leaf (q170's c2-from-c3 move, minus the
    * per-branch recompute),
    * scoring shuffles test trigrams to the count tables on their
    * natural string keys (vocabulary-sized — joined, never broadcast;
    * only the 1-row (T, V) globals are broadcast).
    */
  val knTrigramLm: Q = (s, d) => {
    val (_, tri) = triFrame(s, d)
    // stage the trigram type table ONCE: ctx/suf/mid/uni all re-derive
    // from c3 and the scoring join reads it too — five plan branches
    // that would each re-run the corpus tokenize+trigram against the
    // raw aggregate (the q307 staging lesson); the leaf is
    // vocabulary-sized, not corpus-sized
    val c3 = graft.Scratch.stage("graft_kn",
      tri.filter(col("bk") < 80)
        .groupBy("g2", "g3").agg(count(lit(1)).as("c3")))
    val ctx = c3.groupBy("g2")
      .agg(sum("c3").as("c2"), count(lit(1)).as("n3"))
    val suf = c3.select(expr("concat_ws(' ', split(g3, ' ')[1], split(g3, ' ')[2])")
        .as("s23"))
      .groupBy("s23").agg(count(lit(1)).as("nc"))
    val mid = suf.select(expr("split(s23, ' ')[0]").as("w2"), col("nc"))
      .groupBy("w2").agg(sum("nc").as("ncc"), count(lit(1)).as("nm"))
    val uni = suf.select(expr("split(s23, ' ')[1]").as("w3"))
      .groupBy("w3").agg(count(lit(1)).as("n1"))
    val globals = uni.agg(sum("n1").as("t"), count(lit(1)).as("v"))
    val scored = tri.filter(col("bk") >= 90)
      .withColumn("s23",
        expr("concat_ws(' ', split(g3, ' ')[1], split(g3, ' ')[2])"))
      .withColumn("w2", expr("split(g3, ' ')[1]"))
      .withColumn("w3", expr("split(g3, ' ')[2]"))
      .join(c3.drop("g2"), Seq("g3"), "left")
      .join(ctx, Seq("g2"), "left")
      .join(suf, Seq("s23"), "left")
      .join(mid, Seq("w2"), "left")
      .join(uni, Seq("w3"), "left")
      .crossJoin(broadcast(globals))
      .withColumn("n1q", expr("CAST(4 * coalesce(n1, 0) + 1 AS DECIMAL(38,0))"))
      .withColumn("d1q", expr("CAST(4 * t + v + 1 AS DECIMAL(38,0))"))
      .withColumn("num2", expr(
        """CASE WHEN coalesce(ncc, 0) = 0 THEN n1q
          |ELSE greatest(4 * coalesce(nc, 0) - 3, 0) * d1q + 3 * nm * n1q
          |END""".stripMargin))
      .withColumn("den2", expr(
        "CASE WHEN coalesce(ncc, 0) = 0 THEN d1q ELSE 4 * ncc * d1q END"))
      .withColumn("num3", expr(
        """CASE WHEN coalesce(c2, 0) = 0 THEN num2
          |ELSE greatest(4 * coalesce(c3, 0) - 3, 0) * den2 + 3 * n3 * num2
          |END""".stripMargin))
      .withColumn("den3", expr(
        "CASE WHEN coalesce(c2, 0) = 0 THEN den2 ELSE 4 * c2 * den2 END"))
      .select(col("doc_id"), col("source"), expr(
        """CAST(round(ln(CAST(den3 AS DOUBLE) / CAST(num3 AS DOUBLE))
          |  * 1000000) AS BIGINT)""".stripMargin).as("mu_raw"))
    scored.groupBy("source")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_trigrams"), sum("mu_raw").as("sum_mu"))
      .select(col("source"), col("n_docs"), col("n_trigrams"),
        expr("sum_mu div n_trigrams").as("kn_xent_micro"))
      .orderBy("source")
  }

  /** q171 — BPE MERGE-PAIR STATISTICS: the byte-pair-encoding trainer's
    * inner loop — which adjacent symbol pair is most frequent across the
    * corpus, weighted by word frequency — for the first merge round
    * (symbols = characters). The full trainer iterates this k times with
    * a merge applied between rounds; round one is the primitive, and its
    * data layout IS the classic trainer's: a word-frequency dictionary,
    * NOT the raw corpus.
    *
    * Plan: ONE corpus-sized pass (the word-count hash aggregate,
    * map-side combinable); everything after runs on the VOCABULARY —
    * pair extraction is array-local per distinct word (transform over
    * character positions, weight = word frequency), so a word occurring
    * a million times is pair-counted once. Top-20 by weighted count is a
    * TakeOrderedAndProject with a pair-string tiebreak (ASCII, so
    * Spark's UTF8 binary order and DuckDB's default collation agree).
    * A word containing a pair twice ("aaa" → "aa"×2) counts twice per
    * occurrence — the trainer's semantics — while n_types counts the
    * word once.
    */
  val bpePairs: Q = (s, d) => {
    val docs = Tables.fanOut(Tables.documents(s, d), "doc_id")
    val wf = docs.select(explode(filter(toks, t => length(t) > 0)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wf"))
    wf.filter(length(col("w")) >= 2)
      .select(col("w"), col("wf"),
        explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
      .groupBy("pair")
      .agg(sum("wf").as("n_occurrences"), countDistinct("w").as("n_types"))
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(20)
  }

  /** The q236 merge table — PRIORITY-ORDERED (trainer output order, the
    * q171 statistic frozen into a table): each entry merges two adjacent
    * TOKENS, and later entries may consume earlier outputs (("th","e")
    * fires only after ("t","h") created the "th" token — the standard
    * iterative BPE encode over a topologically-ordered merge list).
    */
  private[graft] val bpeMerges = Seq(
    ("t", "h"), ("h", "e"), ("i", "n"), ("e", "r"), ("a", "n"),
    ("r", "e"), ("o", "n"), ("a", "t"), ("th", "e"), ("an", "d"))

  /** Token-boundary delimiter for the string-form BPE encode: U+0001, a
    * control character that cannot survive the upstream `\s+` tokenize of
    * any sane corpus (and that q27's quality gates would flag) — where the
    * original '|' COLLIDED with legitimate text (a word containing '|'
    * inflated its token count, identically in both engines but wrongly in
    * both). Both the Spark expression and the DuckDB oracle embed the raw
    * byte; Verify.jstr escapes it (`\\u0001`) in the oracle_sql.json dump.
    *
    * Known representation bound, documented not guarded: the per-char
    * split regex `(.)` matches UTF-16 CODE UNITS in Spark but CODEPOINTS
    * in DuckDB's RE2, so a non-BMP character (outside U+0000..U+FFFF)
    * would wrap as two pseudo-chars on the Spark side and one on the
    * oracle side. The fixtures are ASCII; a production corpus runs the
    * q28-style charset gate first. The delimiter collision DOES get a
    * loud guard (see the raise_error in [[bpeEncodeWith]]) because it is
    * silent data corruption, not a representation choice.
    */
  private[graft] val bpeDelim = "\u0001"

  /** q236 — BPE ENCODE pass: q171 computes the trainer-side merge-pair
    * statistics; this applies a FIXED merge table to encode text — the
    * inference-side half of the tokenizer, and the token-count audit
    * (chars per token, per source) a mix builder reads before committing
    * a budget. The encode runs over the DISTINCT-WORD dictionary, so a
    * million-occurrence word encodes ONCE (vocabulary-bounded work, the
    * q170/q230 discipline); per-source totals come from joining the
    * (source, word, freq) frame back by word.
    *
    * Token-sequence representation is a delimiter-wrapped string — each
    * token as `|tok|` — and one merge is ONE non-overlapping left-to-right
    * `replace('|x||y|' → '|xy|')`: both engines' replace() resumes
    * scanning AFTER the substituted text, which IS greedy left-to-right
    * BPE application, and the double delimiter keeps adjacent matches
    * from stealing each other's boundary (`|a||n||a||n|` → `|an||an|`,
    * where single delimiters would leave the second pair unmerged). No
    * array-of-array folds, no UDFs — the whole encode is a chain of 10
    * codegen'd string replaces evaluated once per word type. Final token
    * count reads off the encoding: half the surviving delimiter count.
    */
  val bpeEncode: Q = (s, d) => bpeEncodeWith(s, d, bpeMerges)

  /** The q236 body over ANY priority-ordered merge table — TextDedupSpec
    * feeds q247's LEARNED merges through this to close the
    * train → encode → coverage loop with q236's machinery unchanged. */
  private[graft] def bpeEncodeWith(s: org.apache.spark.sql.SparkSession,
      d: String, merges: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    val m = bpeDelim
    val chars = s"regexp_replace(w, '(.)', '$m$$1$m')"
    val enc = merges.foldLeft(chars) { case (acc, (l, r)) =>
      s"replace($acc, '$m$l$m$m$r$m', '$m$l$r$m')"
    }
    val docs = Tables.fanOut(Tables.documents(s, d), "doc_id")
    val wf = docs
      .select(col("source"), explode(filter(toks, t => length(t) > 0)).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("f"))
    val dict = wf.select("w").distinct()
    // delimiter collision = silent token-count corruption → fail LOUDLY
    // (vocabulary-bounded check, one instr per word TYPE); a corpus that
    // trips this strips/escapes U+0001 upstream and re-runs
    val encoded = dict.select(col("w"),
      when(instr(col("w"), m) > 0, raise_error(
        lit("q236: word contains the U+0001 token delimiter")))
        .otherwise(expr(s"(length($enc) - length(replace($enc, '$m', ''))) div 2"))
        .cast("long").as("n_bpe"))
    wf.join(encoded, "w")
      .groupBy("source")
      .agg(sum("f").as("n_words"), count(lit(1)).as("n_word_types"),
        sum(col("f") * length(col("w"))).as("n_chars"),
        sum(col("f") * col("n_bpe")).as("n_tokens"))
      .select(col("source"), col("n_words"), col("n_word_types"),
        col("n_chars"), col("n_tokens"),
        expr("n_chars * 1000000 div n_tokens").as("chars_per_token_ppm"))
      .orderBy("source")
  }

  /** q270 low-entropy flag threshold (micro-nats): natural prose sits
    * near 2.8–3.2 nats of character entropy; below ~2.6 the text is
    * repetitive boilerplate, padding, or generator loops — the cheap
    * pre-filter that runs before any model-based quality score. */
  private[graft] val entropyLowMicro = 2600000L

  /** q270 — CHARACTER-ENTROPY quality screen: per-document char-unigram
    * Shannon entropy, reduced to a per-language audit (doc counts, exact
    * mean and min entropy, and how many docs fall under the
    * [[entropyLowMicro]] boilerplate line). Complements q73 (token-ratio
    * quality), q87 (trigram repetition), and q185 (LM perplexity): char
    * entropy is the cheapest signal that catches degenerate text all
    * three can miss (e.g. one long repeated character run has healthy
    * length and token counts but ~0 entropy).
    *
    * Parity mechanics: entropy in integer MICRO-nats — per (doc, char)
    * cell, ln(n/c) is rounded ONCE (q213's discipline: both engines take
    * ln of the same exact-integer ratio), weighted by the exact count,
    * summed as BIGINT, divided by n at the end. Per-char explode is the
    * only corpus-sized pass (one row per character — linear, shuffled
    * once on doc_id which the source partitioning already provides);
    * everything after runs on (doc × alphabet) rows. The per-char slice
    * is substring-by-index in BOTH engines (the bpeDelim BMP contract
    * applies: UTF-16 units vs codepoints differ only off-BMP; fixtures
    * are ASCII).
    */
  val charEntropy: Q = (s, d) => {
    val docs = Tables.fanOut(Tables.documents(s, d), "doc_id")
      .filter(length(col("text")) > 0)
    val cc = docs.select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n"),
        explode(expr(
          "transform(sequence(1, length(text)), i -> substring(text, i, 1))"))
          .as("ch"))
      .groupBy("doc_id", "lang", "n", "ch").agg(count(lit(1)).as("c"))
    val perDoc = cc.groupBy("doc_id", "lang", "n")
      .agg(sum(expr(
        "c * CAST(round(ln(CAST(n AS DOUBLE) / c) * 1000000) AS BIGINT)"))
        .as("esum"))
      .select(col("lang"), expr("esum div n").as("e"))
    perDoc.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("e").as("es"),
        min("e").as("min_entropy_micro"),
        sum(when(col("e") < entropyLowMicro, 1L).otherwise(0L))
          .as("n_low_entropy"))
      .select(col("lang"), col("n_docs"),
        expr("es div n_docs").as("mean_entropy_micro"),
        col("min_entropy_micro"), col("n_low_entropy"))
      .orderBy("lang")
  }

  /** q269 — TOKENIZER FERTILITY by language: the multilingual-fairness
    * audit a tokenizer ships with — tokens-per-word (fertility) per
    * language under the SAME fixed merge table q236 applies, plus each
    * language's PREMIUM over the corpus-best language (the extra token
    * budget an underrepresented language pays for the same words — the
    * metric that decides whether the merge table needs rebalancing
    * before a training run prices languages unequally). Same
    * vocabulary-bounded encode as q236 (distinct-word dictionary, 10
    * codegen'd replaces, U+0001 collision guard), different read: the
    * (lang, word, freq) frame joins back by word and reduces per
    * LANGUAGE; the premium is one broadcast 1-row min join. All exact
    * integer milli/ppm arithmetic.
    */
  val tokenizerFertility: Q = (s, d) => {
    val m = bpeDelim
    val chars = s"regexp_replace(w, '(.)', '$m$$1$m')"
    val enc = bpeMerges.foldLeft(chars) { case (acc, (l, r)) =>
      s"replace($acc, '$m$l$m$m$r$m', '$m$l$r$m')"
    }
    val docs = Tables.fanOut(Tables.documents(s, d), "doc_id")
    val wf = docs
      .select(col("lang"), explode(filter(toks, t => length(t) > 0)).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("f"))
    val dict = wf.select("w").distinct()
    val encoded = dict.select(col("w"),
      when(instr(col("w"), m) > 0, raise_error(
        lit("q269: word contains the U+0001 token delimiter")))
        .otherwise(expr(s"(length($enc) - length(replace($enc, '$m', ''))) div 2"))
        .cast("long").as("n_bpe"))
    val perLang = wf.join(encoded, "w")
      .groupBy("lang")
      .agg(sum("f").as("n_words"),
        sum(col("f") * col("n_bpe")).as("n_tokens"),
        sum(col("f") * length(col("w"))).as("n_chars"))
      .withColumn("fertility_milli", expr("n_tokens * 1000 div n_words"))
    val best = perLang.agg(min("fertility_milli").as("best"))
    perLang.crossJoin(broadcast(best))
      .select(col("lang"), col("n_words"), col("n_tokens"), col("n_chars"),
        col("fertility_milli"),
        expr("n_chars * 1000000 div n_tokens").as("chars_per_token_ppm"),
        expr("fertility_milli * 1000000 div best").as("premium_ppm"))
      .orderBy("lang")
  }

  /** q247 trainer depth: staged merge rounds, each freezing one argmax
    * pair into the table the encode side consumes. */
  private[graft] val bpeTrainRounds = 10

  /** q247 — ITERATIVE BPE TRAINER: the closed tokenizer loop q171/q236
    * left open — q171 computes ONE round of merge-pair statistics and
    * q236 applies a FIXED table; this runs [[bpeTrainRounds]] staged
    * rounds of the actual trainer: re-run the pair statistics on the
    * CURRENT dictionary encoding, freeze the argmax pair (ties →
    * lexicographically smallest (left, right) — deterministic in both
    * engines over ASCII tokens) into the merge table, re-encode, repeat
    * — the CC-loop discipline applied to tokenization, with a 1-ROW
    * driver sync per round (the argmax pair; k-bounded by contract, like
    * the q148 fixpoint counters). TextDedupSpec closes the loop by
    * feeding the LEARNED table through q236's own encode
    * ([[bpeEncodeWith]]) and pinning train → encode → coverage
    * consistency (q219's curve is the word-level analogue).
    *
    * Work stays VOCABULARY-bounded every round (the q170/q230
    * discipline): the corpus is read once into the word-frequency
    * dictionary (staged — ten rounds re-scan a parquet leaf, not the
    * corpus); each round re-encodes the distinct words through the
    * merge-chain-so-far (r codegen'd string replaces), splits on the
    * U+0001 delimiter, and pair-counts weighted by word frequency. A
    * greedy invariant worth pinning: round counts are NON-INCREASING —
    * a merge can only remove occurrences of old pairs, and any pair it
    * creates inherits at most the merged pair's count.
    *
    * Output: the learned table itself, priority-ordered — (round, left
    * token, right token, weighted occurrence count) — the artifact a
    * tokenizer deployment ships; the oracle replays the identical
    * trainer with each round's argmax threaded through scalar
    * subqueries (no literals — DuckDB learns its OWN table, and the two
    * must agree round by round).
    */
  val bpeTrain: Q = (s, d) => {
    val m = bpeDelim
    val docs = Tables.fanOut(Tables.documents(s, d), "doc_id")
    // Same delimiter-collision posture as q236's encoder: a word holding
    // U+0001 would corrupt pair statistics identically in both engines
    // (matching-but-wrong), so fail LOUDLY before any round runs — one
    // instr per word TYPE, vocabulary-bounded.
    val wf = docs.select(explode(filter(toks, t => length(t) > 0)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .select(when(instr(col("w"), m) > 0, raise_error(
          lit("q247: word contains the U+0001 token delimiter")))
          .otherwise(col("w")).as("w"),
        col("f"))
    val wfS = graft.Scratch.stage("graft_bpe_wf", wf)
    var merges = Vector.empty[(String, String, Long)]
    for (round <- 1 to bpeTrainRounds) {
      val chars = s"regexp_replace(w, '(.)', '$m$$1$m')"
      val enc = merges.foldLeft(chars) { case (acc, (l, r, _)) =>
        s"replace($acc, '$m$l$m$m$r$m', '$m$l$r$m')"
      }
      val tk = s"split(substring($enc, 2, length($enc) - 2), '$m$m')"
      val best = wfS.select(col("f"), expr(tk).as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(col("f"), explode(expr(
          "transform(sequence(1, size(tk) - 1), i -> struct(tk[i-1] AS l, tk[i] AS r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("f").as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect().headOption // the 1-row per-round driver sync
      // Vocabulary exhausted (every word fully merged) before the round
      // budget: the oracle would silently emit fewer rounds while Spark
      // crashed on (0) — fail LOUDLY instead (the q250 bfsMaxRounds cap).
      require(best.isDefined, s"q247: no adjacent pairs left at round " +
        s"$round of $bpeTrainRounds — vocabulary fully merged; lower " +
        "bpeTrainRounds for this corpus")
      val b = best.get
      merges :+= ((b.getString(0), b.getString(1), b.getLong(2)))
    }
    import s.implicits._
    merges.zipWithIndex
      .map { case ((l, r, c), i) => (i + 1, l, r, c) }
      .toDF("round", "left_tok", "right_tok", "n_occurrences")
      .orderBy("round")
  }

  /** The q247 loop's learned table alone — TextDedupSpec feeds it
    * through [[bpeEncodeWith]] to close train → encode → coverage. */
  private[graft] def bpeTrainedMerges(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[(String, String)] =
    bpeTrain(s, d).collect().toSeq
      .map(r => (r.getString(1), r.getString(2)))

  /** q279 loud word-length cap = the Viterbi DP's unroll depth in BOTH
    * engines (a segmentation has at most one piece per character).
    * Fixture corpora top out at 8-char words and ScaleUp's replica-tagged
    * sf1 words at 11 (the cap caught exactly that on first sf1 contact);
    * 16 covers both with headroom — rounds past a word's length are
    * no-ops, and a longer-word corpus still raises loudly, never
    * truncates. */
  private[graft] val unigramMaxWordLen = 16

  /** q279 piece geometry and vocabulary budgets: candidate pieces up to 4
    * chars (bounds the substring fan-out to ≤ 4 per position), a 48-piece
    * seed, pruned to 24 — production dials (SentencePiece defaults:
    * len ≤ 16, seed 1e6, final 32k) scale these without changing any
    * plan shape, since everything downstream is vocabulary-bounded. */
  private[graft] val unigramPieceMaxLen = 4
  private[graft] val unigramSeedSize = 48
  private[graft] val unigramPrunedSize = 24

  /** One q279 segmentation round: Viterbi-segment every dictionary word
    * with `vocab`, return (round-stats row, per-piece usage counts).
    *
    * The Viterbi DP carries the SEGMENTATION ITSELF in the DP value — a
    * packed string `NN || (ᴰpiece)*` (2-digit piece count, then the
    * delimiter-prefixed pieces) minimized lexicographically per (word,
    * position) — so no backtracking pass exists: the count prefix makes
    * fewest-pieces win, and among equal counts the packed strings have
    * EQUAL LENGTH (same substring, same delimiter count), so min() is a
    * total, extension-stable order (x < y ⟹ x∥t < y∥t for equal-length
    * x, y) and relaxing only each position's minimum is sufficient.
    * [[unigramMaxWordLen]] fixed relaxation rounds (states staged per
    * round, the CC-loop lineage discipline); rounds past a word's length
    * are no-ops, the q250 unroll argument. Everything is vocabulary-
    * bounded: states ≤ word types × (len+1), edges ≤ word types × len ×
    * [[unigramPieceMaxLen]].
    */
  private def unigramSegment(s: org.apache.spark.sql.SparkSession,
      wfDir: String, vocab: org.apache.spark.sql.DataFrame,
      rnd: Int, dpRounds: Int): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val m = bpeDelim
    val wfS = graft.Scratch.read(s, wfDir)
    val v = graft.Scratch.stage(s"graft_uni_v$rnd", vocab)
    val edges = wfS.select(col("w"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)), i ->
           |  transform(sequence(1, least($unigramPieceMaxLen, length(w) - i + 1)), L ->
           |    struct(i AS i, i + L AS j, substring(w, i, L) AS piece))))"""
          .stripMargin)).as("e"))
      .select(col("w"), col("e.i").as("i"), col("e.j").as("j"),
        col("e.piece").as("piece"))
      .join(broadcast(v), "piece")
    val edS = graft.Scratch.stage(s"graft_uni_e$rnd", edges)
    // dpRounds = the corpus's measured max word length (<= the cap): the
    // DP reaches its fixpoint once every word's full-length path exists,
    // so rounds past it are provable no-ops — the ORACLE still unrolls
    // the full cap (its no-op rounds cost nothing by the same argument),
    // while Spark skips ~6 staged-round overheads per segmentation at
    // fixture word lengths (measured 14.5 -> ~10 s at sf0.1)
    // One DP round as a function, so TWO rounds can ride one staged
    // round-trip: step(step(st)) is the exact composition of the round
    // recurrence (same per-round min pruning the oracle unrolls — the
    // inner step's identical agg subtrees share one exchange via
    // ReuseExchange), while the staging write/read/job overhead — the
    // dominant cost of these vocabulary-scale rounds — is paid
    // ⌈dpRounds/2⌉ times instead of dpRounds times.
    def step(base: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val cand = base.select(col("w"), col("pos").as("i"), col("packed"))
        .join(edS, Seq("w", "i"))
        .select(col("w"), col("j").as("pos"), expr(
          s"""concat(lpad(cast(cast(substring(packed, 1, 2) AS INT) + 1 AS STRING), 2, '0'),
             | substring(packed, 3), '$m', piece)""".stripMargin.replace("\n", ""))
          .as("packed"))
      base.unionByName(cand).groupBy("w", "pos")
        .agg(min("packed").as("packed"))
    }
    // staged round i runs DP rounds 2i − 1 and 2i (the last alone if odd)
    val (stDir, _) = graft.Scratch.iterate(s, s"graft_uni_dp${rnd}_",
        wfS.select(col("w"), lit(1).as("pos"), lit("00").as("packed")),
        graft.Scratch.Depth((dpRounds + 1) / 2)) { (i, st) =>
      if (2 * i <= dpRounds) step(step(st)) else step(st)
    }
    val fin = graft.Scratch.read(s, stDir)
      .filter(col("pos") === length(col("w")) + 1)
    // coverage is STRUCTURAL (every single char is in every vocab), so an
    // uncovered word means the seed built wrong — fail loudly, 1-row sync
    val uncovered = wfS.join(fin, Seq("w"), "left_anti").count()
    require(uncovered == 0L,
      s"q279 round $rnd: $uncovered dictionary words have no segmentation " +
        "— single-char pieces missing from the vocabulary")
    val segs = fin.select(col("w"),
      expr("CAST(substring(packed, 1, 2) AS INT)").as("n"),
      expr(s"split(substring(packed, 4), '$m')").as("ps"))
    val wfj = wfS.join(segs, "w")
    val usage = wfj.select(col("f"), explode(col("ps")).as("piece"))
      .groupBy("piece").agg(sum("f").as("usage"))
    val stats = wfj.agg(count(lit(1)).as("n_word_types"),
        sum("f").as("n_words"),
        sum(col("f") * col("n")).as("total_pieces"))
      .crossJoin(broadcast(v.agg(count(lit(1)).as("vocab_size"))))
      .crossJoin(broadcast(usage.agg(
        count(lit(1)).as("distinct_pieces_used"),
        sum(expr("usage * length(piece)")).as("usage_len_checksum"))))
      .select(lit(rnd).as("round"), col("vocab_size"), col("n_word_types"),
        col("n_words"), col("total_pieces"),
        expr("total_pieces * 1000000 div n_words").as("avg_pieces_ppm"),
        col("distinct_pieces_used"), col("usage_len_checksum"))
    (stats, usage)
  }

  /** The q279 run body, returning the per-round usage tables alongside
    * the stats so TextDedupSpec can close train → segment → coverage
    * (q247's discipline for the OTHER trainer family). */
  private[graft] def unigramTrainRun(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val m = bpeDelim
    val docs = Tables.fanOut(Tables.documents(s, d), "doc_id")
    // Same delimiter-collision posture as q247: a word holding U+0001
    // would corrupt the packed DP value identically in both engines
    // (matching-but-wrong), so fail LOUDLY before any round runs
    val wf = docs.select(explode(filter(toks, t => length(t) > 0)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .select(when(instr(col("w"), m) > 0,
          raise_error(lit("q279: word contains the U+0001 piece delimiter")))
        .otherwise(col("w")).as("w"), col("f"))
    val tmp = graft.Scratch.write("graft_uni_wf", wf)
    val wfS = graft.Scratch.read(s, tmp)
    val maxLen = wfS.agg(max(length(col("w")))).head().getInt(0)
    require(maxLen <= unigramMaxWordLen,
      s"q279: $maxLen-char word exceeds the $unigramMaxWordLen-round DP " +
        "unroll — raise unigramMaxWordLen (and the oracle unroll) together")
    val pieceW = wfS.select(col("f"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)), i ->
           |  transform(sequence(1, least($unigramPieceMaxLen, length(w) - i + 1)), L ->
           |    substring(w, i, L))))""".stripMargin)).as("piece"))
      .groupBy("piece").agg(sum("f").as("wfreq"))
    val chars = pieceW.filter(length(col("piece")) === 1).select("piece")
    val seed = pieceW.orderBy(col("wfreq").desc, col("piece"))
      .limit(unigramSeedSize).select("piece")
      .unionByName(chars).distinct()
    val (st1, usage1) = unigramSegment(s, tmp, seed, 1, maxLen)
    val pruned = usage1.orderBy(col("usage").desc, col("piece"))
      .limit(unigramPrunedSize).select("piece")
      .unionByName(chars).distinct()
    val (st2, usage2) = unigramSegment(s, tmp, pruned, 2, maxLen)
    (st1.unionByName(st2).orderBy("round"), usage1, usage2)
  }

  /** q279 — UNIGRAM-LM TOKENIZER TRAINER (the SentencePiece family, Kudo
    * 2018), q247's top-down twin: BPE grows a vocabulary bottom-up by
    * merging; unigram starts from an over-complete SEED (every ≤
    * [[unigramPieceMaxLen]]-char substring of the word dictionary, top
    * [[unigramSeedSize]] by weighted frequency, plus every single char —
    * the coverage floor) and PRUNES it down, re-segmenting between
    * rounds. The E-step here is hard-EM (Viterbi counts — the standard
    * production approximation): each word takes its single best
    * segmentation (fewest pieces, deterministic lexicographic tie-break —
    * the uniform-prior special case of max-probability), pieces are
    * usage-counted weighted by word frequency, and the M-step keeps the
    * top [[unigramPrunedSize]] pieces by usage (plus the single-char
    * floor). Two rounds: seed-segment, prune, re-segment — the trajectory
    * (vocab size, total encoded pieces, avg pieces per word in ppm,
    * distinct pieces used, usage·length checksum) is the output, one row
    * per round; pruning can only lengthen encodings, a monotonicity
    * TextDedupSpec pins alongside train → segment → coverage closure.
    * Corpus is read ONCE into the staged word-frequency dictionary
    * (q247's q170/q230 discipline); every later join is vocabulary-
    * bounded. The oracle replays both rounds CTE-for-CTE, DP unroll
    * included.
    */
  val unigramTrain: Q = (s, d) => unigramTrainRun(s, d)._1

  /** q289 PR rounds (q106's fixed-iteration parity discipline) and the
    * TextRank co-occurrence window (Mihalcea 2004's default w = 2). */
  private[graft] val textrankIters = 3

  /** q289 — TEXTRANK KEYWORD EXTRACTION (Mihalcea–Tarau 2004): the
    * tagging/indexing primitive — build the word CO-OCCURRENCE graph
    * (words linked when within 2 positions anywhere in the corpus, edge
    * weight = co-occurrence count) and run weighted PageRank over it;
    * high-rank words are the corpus's keywords, a centrality read no
    * tf/tf-idf frequency count reproduces (a rare word wedged between
    * hubs outranks a frequent isolate). Composes two families: the q141
    * lead()-window pair plumbing (shuffle-free on the fanOut
    * partitioning — never a positions self-join, which would fan len²
    * per doc) and q106's exact fixed-point integer PageRank, weighted:
    * contribution = rank·w div wsum (per-edge floor before the integer
    * sum), r' = 150000 + 85·Σ div 100 micro-units, [[textrankIters]]
    * rounds over the staged edge list. Graph size is VOCABULARY², edge
    * mass vocabulary-bounded — the whole iteration is metadata-scale
    * after one corpus pass. Output: top-15 (word, rank_micro).
    */
  val textrankKeywords: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val tk = Tables.fanOut(Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), posexplode(toks).as(Seq("i", "w")))
    val wspec = Window.partitionBy("doc_id").orderBy("i")
    val withLead = tk
      .withColumn("n1", lead("w", 1).over(wspec))
      .withColumn("n2", lead("w", 2).over(wspec))
    val rawPairs = withLead.select(col("w").as("x"), col("n1").as("y"))
      .unionByName(withLead.select(col("w").as("x"), col("n2").as("y")))
      .filter(col("y").isNotNull && col("x") =!= col("y"))
    val und = rawPairs
      .groupBy(least(col("x"), col("y")).as("l"),
        greatest(col("x"), col("y")).as("r"))
      .agg(count(lit(1)).as("wt"))
    val bi = und.select(col("l").as("u"), col("r").as("v"), col("wt"))
      .unionByName(und.select(col("r").as("u"), col("l").as("v"), col("wt")))
    val ed = bi.join(bi.groupBy("u").agg(sum("wt").as("wsum")), "u")
    val edges = graft.Scratch.stage("graft_textrank_e", ed)
    val nodes = graft.Scratch.stage("graft_textrank_n",
      edges.select(col("u").as("node")).distinct())
    var ranks = nodes.select(col("node"), lit(1000000L).as("pr"))
    for (_ <- 1 to textrankIters) {
      val inbound = edges.join(ranks, edges("u") === ranks("node"))
        .select(col("v"), expr("pr * wt div wsum").as("c"))
        .groupBy("v").agg(sum("c").as("m"))
      ranks = nodes.join(inbound, nodes("node") === inbound("v"), "left")
        .select(nodes("node"),
          expr("CAST(150000 + (85 * coalesce(m, CAST(0 AS BIGINT))) div 100 AS BIGINT)")
            .as("pr"))
    }
    ranks.orderBy(col("pr").desc, col("node")).limit(15)
      .select(col("node").as("word"), col("pr").as("rank_micro"))
  }

  /** q237 winnowing constants: k-token grams, window of w gram hashes.
    * The guarantee: every run of w consecutive grams (= w+k−1 tokens)
    * contributes at least one selected fingerprint, and matches of
    * length ≥ w+k−1 tokens are always detected. */
  private val winK = 4
  private val winW = 4

  /** Packed argmin key width: h (32-bit gram hash) shifted past a 21-bit
    * position slot, so ONE window-min yields both the minimal hash and
    * its rightmost position. Bounds documents to 2^20 gram positions
    * (a million tokens — far past any training document; a longer one
    * would be chunked by q90 upstream anyway). */
  private val winPosSlot = 1L << 21
  private val winPosMax = (1L << 20) - 1

  /** q237 — WINNOWING document fingerprints (Schleimer–Wilkerson–Aiken,
    * the MOSS / The Stack code-dedup family): slide a window of
    * [[winW]] consecutive [[winK]]-gram hashes and select each window's
    * MINIMUM hash, rightmost occurrence on ties — the fingerprint set
    * that guarantees any shared run of ≥ winW+winK−1 tokens between two
    * documents shares a selected fingerprint, which MinHash (a whole-
    * document sketch) cannot promise. Deterministic and integer end to
    * end, so the oracle compare is exact.
    *
    * Plan shape: gram hashes are one windowed pass over the token
    * positions (the q141 lead() plumbing — tokenize → gram is
    * shuffle-free on the fanOut partitioning); the rightmost-min
    * selection is ONE window-min over a packed (hash, reversed-position)
    * key — no self-join, no argmin subquery: min(h·2²¹ + (2²⁰−1−pos))
    * decodes to the minimal hash and, among ties, the largest position.
    * Selected pairs dedup per document (a fingerprint chosen by several
    * overlapping windows counts once), and the output is one audit row
    * per document — n_grams, full windows, fingerprint count, and
    * hash/position checksums pinning WHICH grams were selected. Linear
    * in corpus size at any scale; the fingerprint table (the artifact a
    * code-dedup pipeline would stage and equi-join on h) is the distinct
    * frame this query reduces.
    */
  /** The (doc_id, pos, h, selc, full) winnowing selection frame — shared
    * by the per-document audit (q237) and the pair report (q238). */
  private def winnowSel(s: org.apache.spark.sql.SparkSession, d: String) = {
    val t = Tables.fanOut(Tables.documents(s, d), "doc_id")
      // the packed argmin key gives pos a 21-bit slot (winPosMax) — an
      // oversized document would silently overflow pos into the hash bits
      // and fingerprint WRONG, so the bound fails loudly instead: one
      // size() comparison per document (q90's chunking is the upstream
      // fix for a corpus that trips it)
      .select(col("doc_id"),
        when(size(filter(toks, tok => length(tok) > 0)) > winPosMax + (winK - 1),
          raise_error(lit(s"q237: document exceeds $winPosMax gram positions " +
            "(packed winnowing key would overflow); chunk upstream (q90)")))
        .otherwise(filter(toks, tok => length(tok) > 0)).as("tk"))
    val idx = when(size(col("tk")) >= winK,
        sequence(lit(1), size(col("tk")) - (winK - 1)))
      .otherwise(array().cast("array<int>"))
    val grams = t.select(col("doc_id"), col("tk"), explode(idx).as("pos"))
      .select(col("doc_id"), col("pos"),
        conv(substring(md5(concat_ws(" ",
          slice(col("tk"), col("pos"), lit(winK)))), 1, 8), 16, 10)
          .cast("long").as("h"))
    val wOrd = Window.partitionBy("doc_id").orderBy("pos")
    grams
      .withColumn("c", col("h") * winPosSlot + (lit(winPosMax) - col("pos")))
      .withColumn("selc",
        min("c").over(wOrd.rowsBetween(Window.currentRow, winW - 1)))
      .withColumn("full", lead("h", winW - 1).over(wOrd).isNotNull)
  }

  /** The distinct (doc_id, fh, fpos) fingerprint table the selection
    * frame reduces to — the artifact a code-dedup pipeline stages. */
  private def winnowFps(sel: org.apache.spark.sql.DataFrame) =
    sel.filter(col("full"))
      .select(col("doc_id"), expr(s"selc div $winPosSlot").as("fh"),
        expr(s"$winPosMax - selc % $winPosSlot").as("fpos"))
      .distinct()

  /** NOT staged, deliberately — measured, not assumed: a parquet-staged
    * [[winnowFps]] (the stagedHashedSets pattern) was tried and measured
    * 1.8× SLOWER for the family at both sf0.1 (8.9s vs ~6s) and sf1
    * (17.6s vs 9.8s), then reverted. Unlike the minhash family's
    * differing-projection references (the q37 lesson), every reference
    * to the fingerprint table here is the IDENTICAL distinct subtree, so
    * Spark's ReuseExchange already shares the distinct's shuffle across
    * the q238 join sides / per-doc counts — the chain does not re-run
    * per reference, and staging only adds the write of a corpus-linear
    * table. The DuckDB oracles DO need their MATERIALIZED hints (DuckDB
    * inlines CTEs with no exchange reuse); the asymmetry is the
    * engines', not an inconsistency. */
  val winnowFingerprints: Q = (s, d) => {
    val sel = winnowSel(s, d)
    val fps = winnowFps(sel)
    val perDoc = sel.groupBy("doc_id").agg(
      count(lit(1)).as("n_grams"),
      sum(when(col("full"), 1L).otherwise(0L)).as("n_windows"))
    val perFp = fps.groupBy("doc_id").agg(
      count(lit(1)).as("n_fp"), sum("fh").as("h_checksum"),
      sum("fpos").as("pos_checksum"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .join(perFp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        coalesce(col("h_checksum"), lit(0L)).as("h_checksum"),
        coalesce(col("pos_checksum"), lit(0L)).as("pos_checksum"))
      .orderBy("doc_id")
  }

  /** Fingerprints shared by more than this many documents are dropped
    * before the q238 pair join — MOSS's own common-code cut: a
    * fingerprint in half the corpus is boilerplate, and its posting
    * list is the Σdf² term that would dominate the join (the q205
    * df-cap discipline, same reasoning). */
  private val winnowMaxDf = 50

  /** Shared DuckDB CTE chain for the winnowing family (through `fps` —
    * the distinct fingerprint table), mirrored verbatim by q237/q238. */
  private def duckWinnowCte: String =
    raw"""t AS MATERIALIZED (SELECT doc_id,
       |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)
       |      AS tk FROM documents),
       |g AS (SELECT doc_id, tk,
       |    unnest(range(1, greatest(len(tk) - ${winK - 1}, 0) + 1)) AS pos
       |  FROM t),
       |gh AS (SELECT doc_id, pos,
       |    ('0x' || substr(md5(array_to_string(tk[pos:pos+${winK - 1}], ' ')),
       |      1, 8))::BIGINT AS h
       |  FROM g),
       |sel AS MATERIALIZED (SELECT doc_id, pos, h,
       |    min(h * $winPosSlot + ($winPosMax - pos)) OVER (
       |      PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND ${winW - 1} FOLLOWING) AS selc,
       |    (lead(h, ${winW - 1}) OVER (PARTITION BY doc_id ORDER BY pos))
       |      IS NOT NULL AS filled
       |  FROM gh),
       |fps AS MATERIALIZED (SELECT DISTINCT doc_id, selc // $winPosSlot AS fh,
       |    $winPosMax - selc % $winPosSlot AS fpos
       |  FROM sel WHERE filled)""".stripMargin

  /** q238 — WINNOWING PAIR REPORT (the MOSS output): document pairs
    * ranked by how many winnowing fingerprints they share — the
    * fingerprint family's consumer, turning q237's per-document table
    * into the "these two documents share runs of ≥ winW+winK−1 tokens"
    * verdict that doc-level MinHash (q37) structurally cannot make for
    * partial overlap (a quoted page inside an otherwise-different
    * document). Plan: the fingerprint table joins ITSELF on the hash —
    * a posting-list equi-join bounded by Σdf² over the df-capped
    * fingerprint vocabulary, the q120/q114 candidate discipline, never
    * all-pairs — then one hash aggregate per pair and a top-20
    * TakeOrderedAndProject. Shared counts are DISTINCT hashes (the same
    * hash selected at two positions counts once), pairs need ≥ 2 shared
    * fingerprints (one collision is noise), and overlap_ppm scales the
    * shared count by the smaller document's fingerprint count — the
    * containment-style normalization (q199) that flags a short document
    * embedded in a long one.
    */
  val winnowPairs: Q = (s, d) => {
    val fps = winnowFps(winnowSel(s, d))
    val rare = fps.groupBy("fh")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") <= winnowMaxDf)
      .select("fh")
    val posting = fps.select("doc_id", "fh").distinct()
      .join(rare, Seq("fh"), "left_semi")
    val perDoc = posting.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    val pairs = posting.alias("a")
      .join(posting.alias("b").hint("shuffle_hash"),
        col("a.fh") === col("b.fh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
    pairs
      .join(perDoc.select(col("doc_id").as("d1"), col("n_fp").as("fp1")), "d1")
      .join(perDoc.select(col("doc_id").as("d2"), col("n_fp").as("fp2")), "d2")
      .select(col("d1"), col("d2"), col("n_shared"), col("fp1"), col("fp2"),
        expr("n_shared * 1000000 div least(fp1, fp2)").as("overlap_ppm"))
      .orderBy(col("n_shared").desc, col("d1"), col("d2"))
      .limit(20)
  }

  /** q240 — FINGERPRINT decontamination + its exactness audit: q74's
    * shingle decontamination joins EVERY corpus 8-gram against the
    * benchmark set; this is the sketch-rate alternative — join only the
    * WINNOWED fingerprints (density ≈ 2/(winW+1) of the gram stream, a
    * ~60% candidate-mass cut at these parameters, and the knob w buys
    * more at 100 TB) — run WITH its audit leg against q74's exact
    * verdict on the same documents. The winnowing guarantee makes the
    * sketch safe in exactly one direction, and the output is shaped to
    * PROVE it on this corpus: any shared run of ≥ winW+winK−1 = 7
    * tokens selects the same gram hash in both documents (the window
    * min over an identical hash sequence), so an 8-token shingle hit —
    * q74's contamination definition — ALWAYS implies a fingerprint hit:
    * exact_hit ∧ ¬fp_hit is impossible (the PropertySpec law), while
    * fp_hit ∧ ¬exact_hit rows are the sketch's false-positive rate
    * (7-token overlaps q74's 8-gram definition doesn't count). No df
    * cap here, deliberately: a boilerplate fingerprint inside the
    * BENCHMARK must flag, not get pruned.
    */
  val fpDecontam: Q = (s, d) => {
    val fps = winnowFps(winnowSel(s, d)).select("doc_id", "fh").distinct()
    val benchFp = fps.filter(col("doc_id") < 10).select("fh").distinct()
    val fpHits = fps.filter(col("doc_id") >= 10)
      .join(broadcast(benchFp), Seq("fh"))
      .groupBy("doc_id").agg(countDistinct("fh").as("n_fp_hits"))
    // q74's exact leg: 8-token shingle hashes vs the bench set
    val shingled = shingleHashes(s, d)
    val bench = shingled.filter(col("doc_id") < 10).select("sh").distinct()
    val exHits = shingled.filter(col("doc_id") >= 10)
      .join(broadcast(bench), Seq("sh"))
      .groupBy("doc_id").agg(countDistinct("sh").as("n_exact_hits"))
    Tables.documents(s, d).select(col("doc_id")).filter(col("doc_id") >= 10)
      .join(fpHits, Seq("doc_id"), "left")
      .join(exHits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_fp_hits"), lit(0L)).as("n_fp_hits"),
        coalesce(col("n_exact_hits"), lit(0L)).as("n_exact_hits"),
        (coalesce(col("n_fp_hits"), lit(0L)) > 0).as("fp_flag"),
        (coalesce(col("n_exact_hits"), lit(0L)) > 0).as("exact_flag"))
      .orderBy("doc_id")
  }

  /** q291 seed length: 8 tokens — q74/q240's contamination gram, so the
    * three rungs of the decontam ladder agree on what "a hit" means;
    * matches shorter than the seed are invisible BY DESIGN (they are
    * sub-contamination noise all three rungs reject). */
  private[graft] val lcsSeed = 8

  /** q291 — EXACT-SUBSTRING CONTAMINATION AUDIT (longest common token
    * run vs the benchmark set): the final rung of the decontam ladder —
    * q74/q240 answer "does the corpus doc share ANY 8-gram with the
    * benchmark" (boolean), q254 answers "is it semantically close"; this
    * answers the question a benchmark-leak auditor actually adjudicates
    * with: HOW LONG is the longest verbatim run — an 8-token boilerplate
    * collision (n-gram flags it, longest stays at the seed) reads very
    * differently from an 80-token verbatim copy. Suffix-array-free
    * exactness: every corpus seed position whose 8-gram hash appears in
    * the benchmark joins to the matching benchmark positions; on a fixed
    * (corpus_doc, bench_doc, diagonal = i − j), CONSECUTIVE seed
    * positions overlap by 7 tokens, so a maximal run of R consecutive
    * seeds certifies a common substring of exactly R + 7 tokens (R + 8
    * would need one more seed hit — maximality is the exactness proof).
    * Runs fall out of one gaps-and-islands pass (i − row_number per
    * diagonal — windows partitioned by run, never a global sort), no
    * iterative extension rounds at all.
    *
    * Scale: the benchmark is the small side by definition (MB of eval
    * sets vs 100 TB of corpus) → its position list broadcasts; per-seed
    * fan-out is the benchmark's df for that 8-gram (~1 outside
    * boilerplate), so matches scale with true contamination mass, never
    * corpus × benchmark. Output: one row per corpus doc — longest run,
    * the bench doc + 1-based start achieving it (ties: smallest bench
    * doc, then start, then diagonal), run/hit counts, and the ≥ seed
    * contamination flag.
    */
  val exactSubstring: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val t = Tables.fanOut(Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), filter(toks, tok => length(tok) > 0).as("tk"))
    val idx = when(size(col("tk")) >= lcsSeed,
        sequence(lit(1), size(col("tk")) - (lcsSeed - 1)))
      .otherwise(array().cast("array<int>"))
    val seeds = t.select(col("doc_id"),
        explode(transform(idx, i => struct(i.cast("long").as("i"),
          md5(concat_ws(" ", slice(col("tk"), i, lit(lcsSeed))))
            .as("sh")))).as("e"))
      .select(col("doc_id"), col("e.i").as("i"), col("e.sh").as("sh"))
    val bench = seeds.filter(col("doc_id") < 10)
      .select(col("doc_id").as("b_doc"), col("i").as("j"), col("sh"))
    val m = seeds.filter(col("doc_id") >= 10)
      .join(broadcast(bench), "sh")
      .select(col("doc_id"), col("i"), col("b_doc"),
        (col("i") - col("j")).as("diag"))
    val wRun = Window.partitionBy("doc_id", "b_doc", "diag").orderBy("i")
    val runs = m.withColumn("grp", col("i") - row_number().over(wRun))
      .groupBy("doc_id", "b_doc", "diag", "grp")
      .agg((count(lit(1)) + (lcsSeed - 1)).as("match_len"),
        min("i").as("start_i"))
    val wBest = Window.partitionBy("doc_id")
      .orderBy(col("match_len").desc, col("b_doc"), col("start_i"),
        col("diag"))
    val best = runs.withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("match_len").as("longest_match"),
        col("b_doc").as("best_bench_doc"), col("start_i").as("best_start"))
    val nrun = runs.groupBy("doc_id").agg(count(lit(1)).as("n_runs"))
    val hits = m.groupBy("doc_id")
      .agg(countDistinct("i").as("n_hit_positions"))
    Tables.documents(s, d).select("doc_id").filter(col("doc_id") >= 10)
      .join(best, Seq("doc_id"), "left")
      .join(nrun, Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("longest_match"), lit(0L)).as("longest_match"),
        coalesce(col("best_bench_doc"), lit(-1L)).as("best_bench_doc"),
        coalesce(col("best_start"), lit(0L)).as("best_start"),
        coalesce(col("n_runs"), lit(0L)).as("n_runs"),
        coalesce(col("n_hit_positions"), lit(0L)).as("n_hit_positions"),
        (coalesce(col("longest_match"), lit(0L)) >= lcsSeed)
          .as("contaminated"))
      .orderBy("doc_id")
  }

  /** q176 — SOURCE VOCABULARY OVERLAP: exact pairwise Jaccard similarity
    * between every pair of sources' token vocabularies — the corpus-mix
    * audit that catches two "different" crawls feeding near-identical
    * text into a training mix (q103's temperature weights assume the
    * sources are actually distinct), and the drift check between crawl
    * snapshots.
    *
    * Scale shape — the item-cooccurrence pattern, NOT all-pairs of
    * documents: one distinct (source, term) projection (vocabulary-
    * sized), then a term-keyed self-join whose per-term fan-out is
    * bounded by C(n_sources, 2) — sources number dozens at 100 TB, so
    * a term seen everywhere emits ~hundreds of pairs, never row-scaled.
    * Set sizes broadcast back onto the 190-row pair table; Jaccard in
    * exact ppm via inclusion-exclusion (|A∪B| = |A|+|B|−|A∩B|).
    */
  val sourceOverlap: Q = (s, d) => {
    val docs = Tables.fanOut(Tables.documents(s, d), "doc_id")
    val st = docs.select(col("source"),
      explode(filter(toks, t => length(t) > 0)).as("term")).distinct()
    val sizes = st.groupBy("source").agg(count(lit(1)).as("sz"))
    val pairs = st.alias("a").join(st.alias("b"),
        col("a.term") === col("b.term") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(broadcast(sizes.select(col("source").as("src_a"),
        col("sz").as("sz_a"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"),
        col("sz").as("sz_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("inter"),
        (col("sz_a") + col("sz_b") - col("inter")).as("uni"),
        expr("inter * 1000000 div (sz_a + sz_b - inter)").as("jaccard_ppm"))
      .orderBy("src_a", "src_b")
  }

  /** q178 — HEAPS-LAW VOCABULARY GROWTH per source: distinct-term count
    * after 20/40/60/80/100% of each source's documents (by arrival order =
    * doc_id), the curve a corpus curator reads to decide whether a source
    * is saturating (flat tail → more docs add no new language) or still
    * paying vocabulary (Heaps' V ∝ n^β). Checkpoints are doc_id-value
    * cutoffs inside each source's [min, max] span — pure integer
    * arithmetic, no per-source row_number sort over the corpus.
    *
    * Plan shape: a term's arrival is `min(doc_id)` per (source, term) — ONE
    * corpus-sized hash aggregate (map-side combinable) that reduces the
    * stream to vocabulary size; everything after joins VOCABULARY-sized or
    * DOC-KEY-sized frames against the broadcast 5-rows-per-source cutoff
    * table. No windows, no self-joins; at 100 TB the corpus is read once.
    */
  val heapsLaw: Q = (s, d) => {
    val docs = Tables.fanOut(Tables.documents(s, d), "doc_id")
    val terms = docs.select(col("source"), col("doc_id"),
      explode(filter(toks, t => length(t) > 0)).as("term"))
    val first = terms.groupBy("source", "term")
      .agg(min("doc_id").as("first_doc"))
    val cuts = docs.groupBy("source")
      .agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      .select(col("source"), col("lo"), col("hi"),
        explode(expr("array(20, 40, 60, 80, 100)")).as("pct"))
      .withColumn("cutoff", expr("lo + ((hi - lo) * pct) div 100"))
      .select("source", "pct", "cutoff")
    val seen = docs.select("source", "doc_id")
      .join(broadcast(cuts), Seq("source"))
      .filter(col("doc_id") <= col("cutoff"))
      .groupBy("source", "pct").agg(count(lit(1)).as("docs_seen"))
    val vocab = first.join(broadcast(cuts), Seq("source"))
      .filter(col("first_doc") <= col("cutoff"))
      .groupBy("source", "pct").agg(count(lit(1)).as("vocab"))
    seen.join(vocab, Seq("source", "pct"))
      .orderBy("source", "pct")
  }

  /** q181 — N-GRAM NOVELTY score per document: the fraction of a doc's
    * distinct 8-token shingles that occur in NO other document —
    * boilerplate/template detection's inverse (a low-novelty doc is mostly
    * text the corpus already has; q141 finds the shared spans themselves,
    * this grades each document by them). Same shingle machinery as
    * q74/q99/q141: md5 over the 8-token window, distinct per doc, then the
    * novelty verdict is a document-frequency aggregate on the shingle key
    * joined back — two corpus-sized hash aggregates and one shuffled
    * equi-join on the digest, everything map-side combinable; no pairwise
    * comparisons anywhere, so cost is linear in corpus size at 100 TB.
    */
  val ngramNovelty: Q = (s, d) => {
    val sh = shingleHashes(s, d).distinct()
    val df = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    val per = sh.join(df, "sh").groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
    Tables.documents(s, d).select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        expr("coalesce(n_unique, 0) * 1000000 div " +
          "greatest(coalesce(n_shingles, 0), 1)").as("novelty_ppm"))
      .orderBy("doc_id")
  }

  /** q185 — PERPLEXITY TERTILE BUCKETS per language (CCNet's head/middle/
    * tail split, Wenzek et al. 2020): score every document's unigram
    * cross-entropy under the corpus LM (q94's integer micro-nat
    * discipline), rank within its language, and cut into three equal
    * buckets — head = most fluent third, the slice CCNet keeps by default.
    * NTILE over (lang, ce, doc_id) is deterministic (unique order key) and
    * identical in Spark and DuckDB (both deal floor(n/3)+extras from the
    * front). The ranking window partitions by language — a per-language
    * range-partitioned sort of DOC-level rows (one row per document, not
    * per token), the same trade q54 documents; per-doc scoring itself is
    * q94's join-agg plan, linear in corpus size.
    */
  val perplexityBuckets: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.fanOut(Tables.documents(s, d), "doc_id")
    val terms = docs.select(col("doc_id"),
      explode(filter(toks, t => length(t) > 0)).as("term"))
    val scored = docs.select("doc_id", "lang").join(docSurprisal(terms), Seq("doc_id"))
      .select(col("doc_id"), col("lang"),
        expr("sum_mu div n_tokens").as("ce_micro"))
    val w = Window.partitionBy("lang").orderBy(col("ce_micro"), col("doc_id"))
    scored.withColumn("tier", ntile(3).over(w))
      .groupBy("lang", "tier")
      .agg(count(lit(1)).as("n_docs"),
        min("ce_micro").as("min_ce"), max("ce_micro").as("max_ce"),
        expr("sum(ce_micro) div count(1)").as("avg_ce_micro"))
      .withColumn("bucket",
        expr("CASE tier WHEN 1 THEN 'head' WHEN 2 THEN 'middle' " +
          "ELSE 'tail' END"))
      .select("lang", "tier", "bucket", "n_docs", "min_ce", "max_ce",
        "avg_ce_micro")
      .orderBy("lang", "tier")
  }

  /** q188 — CROSS-LANGUAGE shingle contamination matrix: for every pair of
    * language partitions, how many distinct 8-token shingles appear in
    * BOTH — the audit that catches mislabeled-language documents and
    * copied/translated boilerplate BEFORE a per-language dedup pass (which
    * would never see them: language-partitioned pipelines dedup within the
    * partition). q176's item-cooccurrence pattern at shingle granularity:
    * the DISTINCT (lang, shingle) frame self-joins on the digest with
    * lang_a < lang_b, so per-shingle fan-out is bounded by C(langs, 2) —
    * never row-scaled — and the matrix aggregate is |langs|²-sized.
    * Corpus cost is the one shingle pass shared with q74/q99/q181.
    */
  val crossLingual: Q = (s, d) => {
    val t = Tables.fanOut(Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), col("lang"),
        filter(toks, tok => length(tok) > 0).as("tk"))
    val idx = when(size(col("tk")) >= 8, sequence(lit(1), size(col("tk")) - 7))
      .otherwise(array().cast("array<int>"))
    val sh = t.select(col("lang"),
      explode(transform(idx,
        i => md5(concat_ws(" ", slice(col("tk"), i, lit(8)))))).as("sh"))
      .distinct()
    sh.alias("a").join(sh.alias("b"),
        col("a.sh") === col("b.sh") && col("a.lang") < col("b.lang"))
      .groupBy(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"))
      .agg(count(lit(1)).as("n_shared_shingles"))
      .orderBy("lang_a", "lang_b")
  }

  /** q192 — RETRIEVAL EVALUATION metrics (nDCG@10, MRR@50, relevant@10)
    * for two rankers over the q149 query: the eval harness every
    * retrieval stack runs before swapping a ranker. Graded relevance is
    * deterministic and self-contained — grade = number of distinct query
    * terms a document contains (0..4), the conjunctive-coverage oracle —
    * so BM25 (saturated, length-normalized) is scored against the raw
    * tf-sum ranker on identical ground truth. DCG gain 2^g − 1 with the
    * standard log2(rank+1) discount, micro-integerized PER ROW before the
    * integer sum (the q94 discipline); nDCG normalizes by the ideal
    * ordering's DCG over the same graded pool; MRR@50 is 1e6 div the
    * first rank with grade ≥ 3, 0 if none surfaces in the top 50.
    *
    * Scale shape: scoring reuses [[bm25TermRows]] (corpus pass + df-
    * bounded candidate rows); every ranking window runs AFTER a
    * TakeOrderedAndProject cut (≤ 50-row frames — q158's discipline), so
    * no global sort of candidates ever materializes.
    */
  val retrievalMetrics: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val perDoc = bm25TermRows(s, d)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("g"), sum(col("ppm")).as("score_ppm"),
        sum(col("tf")).as("tf_sum"))
    def ranked(keys: Seq[org.apache.spark.sql.Column], ranker: String) = {
      val w = Window.orderBy(keys: _*) // bounded: runs AFTER the 50-cut
      perDoc.orderBy(keys: _*).limit(50)
        .withColumn("r", row_number().over(w))
        .select(lit(ranker).as("ranker"), col("doc_id"), col("g"), col("r"))
    }
    val lists = ranked(Seq(col("score_ppm").desc, col("doc_id")), "bm25")
      .unionByName(ranked(Seq(col("tf_sum").desc, col("doc_id")), "tf"))
    val gain = expr("""CAST(round((pow(2.0, CAST(g AS DOUBLE)) - 1.0)
      | * 1000000.0 / (ln(CAST(r + 1 AS DOUBLE)) / ln(2.0)))
      | AS BIGINT)""".stripMargin.replace("\n", " "))
    val ideal = perDoc.orderBy(col("g").desc, col("doc_id")).limit(10)
      .withColumn("r",
        row_number().over(Window.orderBy(col("g").desc, col("doc_id"))))
      .agg(sum(gain).as("idcg_micro"))
    lists.groupBy("ranker")
      .agg(sum(when(col("r") <= 10, gain).otherwise(0L)).as("dcg_micro"),
        max(when(col("g") >= 3, expr("1000000 div r"))
          .otherwise(0L)).as("mrr_ppm"),
        sum(when(col("r") <= 10 && col("g") >= 3, 1L).otherwise(0L))
          .as("n_rel_top10"))
      .crossJoin(broadcast(ideal))
      .select(col("ranker"),
        expr("dcg_micro * 1000000 div idcg_micro").as("ndcg10_ppm"),
        col("mrr_ppm"), col("n_rel_top10"))
      .orderBy("ranker")
  }

  /** q199 — SHINGLE CONTAINMENT pairs: |sh(A) ∩ sh(B)| / |sh(A)| ≥ 0.8 —
    * the ASYMMETRIC near-dup relation Jaccard structurally misses: a
    * short document quoted wholesale inside a longer one has tiny
    * Jaccard (union is large) but containment ≈ 1. The quote/excerpt
    * detector a dedup pass runs AFTER q37's symmetric pass. Same
    * digest-join shape as q188: distinct (doc, shingle), shingle-keyed
    * equi-join bounded per shingle by its document frequency, then one
    * pair aggregate against the broadcast per-doc shingle counts; the
    * direction with the smaller shingle set is reported as `contained`.
    * Containment in exact ppm (integer cross-division); pairs need ≥ 2
    * shared shingles to suppress single-collision noise.
    */
  val containmentPairs: Q = (s, d) => {
    val sh = shingleHashes(s, d).distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = sh.alias("a").join(sh.alias("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= 2)
    inter
      .join(sizes.select(col("doc_id").as("d1"), col("n_sh").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n_sh").as("n2")), "d2")
      .select(
        when(col("n1") <= col("n2"), col("d1")).otherwise(col("d2"))
          .as("contained"),
        when(col("n1") <= col("n2"), col("d2")).otherwise(col("d1"))
          .as("container"),
        col("common"),
        expr("common * 1000000 div least(n1, n2)").as("containment_ppm"))
      .filter(col("containment_ppm") >= 800000L)
      .orderBy("contained", "container")
  }

  /** q200 — ZIPF'S-LAW FIT of the term-frequency distribution: the
    * log-log OLS slope over (rank, frequency) — the corpus-statistics
    * gauge (natural text sits near slope −1; generated/templated corpora
    * drift). q151's closed-form OLS discipline on the VOCABULARY frame:
    * one corpus tokenize pass reduces to term counts, ranks come from a
    * window over the vocabulary (domain-bounded), ln values are
    * micro-integerized per point before the closed-form sums, and the
    * slope/intercept are exact integer divisions of those sums. Top
    * 1000 ranks only — the Zipf regime — so the window is cut before
    * any log math.
    */
  val zipfFit: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val freq = Tables.fanOut(Tables.documents(s, d), "doc_id")
      .select(explode(filter(toks, t => length(t) > 0)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    // MILLI-nat points: keeps every closed-form sum (Σxy ≤ ~8e10,
    // n·Σxy ≤ ~8e13) inside exact-double range — micro units would push
    // Σx·Σy past 2^63. The one division per output runs on exactly-
    // representable integers, so round() is engine-identical.
    val ranked = freq.orderBy(col("cnt").desc, col("term")).limit(1000)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("term"))))
      .select(
        expr("CAST(round(ln(CAST(rank AS DOUBLE)) * 1000) AS BIGINT)")
          .as("x"),
        expr("CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000) AS BIGINT)")
          .as("y"))
    ranked.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
      .select(col("n"),
        expr("""CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
          | / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000) AS BIGINT)
          |""".stripMargin.replace("\n", " ")).as("slope_micro"),
        expr("""CAST(round((CAST(sy AS DOUBLE)
          | - CAST(n * sxy - sx * sy AS DOUBLE)
          |   / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
          | / CAST(n AS DOUBLE) * 1000) AS BIGINT)
          |""".stripMargin.replace("\n", " ")).as("intercept_micro"))
  }

  /** q320 — MULTINOMIAL NAIVE BAYES language classifier (McCallum &
    * Nigam 1998; the CCNet-style TRAINED filter rung above the
    * heuristic q29 stopword language-ID and q73 C4 rules — the first
    * supervised classifier in the suite with a hash-exact oracle,
    * because NB is pure counting): train on the q75 deterministic md5
    * split's labels (bk < 80), score the held-out fold (bk ≥ 90) with
    * Laplace-smoothed per-class token log-likelihoods
    *   score(c | doc) = ln P(c) + Σ_t ln ((n_tc + 1)/(N_c + V))
    * each term micro-integerized ONCE (round(ln · 10⁶), the q94
    * single-rounding discipline — operands are exact integer-count
    * rationals, so both engines round the identical double) and summed
    * as BIGINT; argmax per doc with the alphabetical tie-break. Output
    * is the confusion matrix (true × predicted × count) — the audit
    * and the classifier in one taxonomy-bounded table.
    *
    * Plan: ONE corpus tokenize pass over the train fold, STAGED to the
    * vocabulary-sized (class, term) count leaf (the q311 staging
    * discipline) — class totals, vocabulary size, and the scoring join
    * all re-derive from the leaf; priors come from a column-pruned
    * doc-count aggregate (no second tokenize). Scoring shuffles test
    * tokens × |classes| to the count table on its natural (class,
    * term) key — joined, never broadcast (the vocabulary is
    * corpus-sized at 100 TB); only the |classes|-row globals frame
    * broadcasts. Zero-token docs score on the prior alone (the
    * doc-level left join keeps them). The spec plants a
    * disjoint-vocabulary corpus that classifies perfectly.
    */
  /** The q320/q356 per-(test-doc, class) score frame, shared (the
    * no-drift discipline — the classifier under calibration audit is
    * literally the classifying code): train-fold staged (class, term)
    * leaf → Laplace-smoothed micro log scores per held-out doc and
    * class. See [[naiveBayes]] for the full scoring notes. */
  /** The trained (class, term) count leaf and the |classes|-row literal
    * table, staged/collected ONCE per input dir ([[graft.Scratch.PerDir]]):
    * FIVE queries consume the identical trained
    * filter (q320 confusion, q356 reliability, q358 conformal, q360
    * Mondrian, q363 isotonic) and before round 17 each re-tokenized the
    * train fold, re-aggregated the count leaf and re-collected the class
    * table for itself. The train fold (bk < 80) is a JVM constant, so
    * both artifacts are pure functions of the input dir — the memo key. */
  private val nbNtcCache = new graft.Scratch.PerDir[String]
  private val nbClassesCache = new graft.Scratch.PerDir[Seq[(String, Long, Long, Long)]]

  private def nbScored(s: org.apache.spark.sql.SparkSession,
      d: String, foldLo: Int = 90): org.apache.spark.sql.DataFrame = {
    val bucket = graft.functions.Hashing.md5Bucket(col("doc_id"), 100)
    val docs = Tables.fanOut(Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), col("lang"),
        filter(toks, t => length(t) > 0).as("tk"), bucket.as("bk"))
    val ntc = graft.Scratch.read(s, nbNtcCache(d)(graft.Scratch.write("graft_nb",
      docs.filter(col("bk") < 80)
        .select(col("lang").as("cls"), explode(col("tk")).as("term"))
        .groupBy("cls", "term").agg(count(lit(1)).as("ntc")))))
    // the class table is language-taxonomy-bounded (one row per class),
    // so it is collected ONCE (the q298 metadata-sync rule) and
    // re-broadcast as a literal — without this, the contrib and scored
    // branches would each re-run the leaf aggregates and the pruned
    // prior scan (Spark plans are trees, the recurring seam)
    val classesRows = nbClassesCache(d) {
      val nc = ntc.groupBy("cls").agg(sum("ntc").as("n_c"))
      val vocab = ntc.select("term").distinct().agg(count(lit(1)).as("v"))
      val priors = docs.filter(col("bk") < 80)
        .groupBy(col("lang").as("cls")).agg(count(lit(1)).as("n_docs_c"))
      nc.join(priors, "cls")
        .crossJoin(broadcast(vocab))
        .crossJoin(broadcast(priors.agg(sum("n_docs_c").as("n_docs"))))
        .select(col("cls"), col("n_c"), col("v"),
          round(log(col("n_docs_c").cast("double") /
            col("n_docs").cast("double")) * 1e6).cast("long").as("prior_mu"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
    }
    import s.implicits._
    val classes = classesRows.toDF("cls", "n_c", "v", "prior_mu")
    val testDocs = docs.filter(col("bk") >= foldLo)
      .select(col("doc_id"), col("lang").as("true_lang"), col("tk"),
        col("bk"))
    val contrib = testDocs
      .select(col("doc_id"), explode(col("tk")).as("term"))
      .crossJoin(broadcast(classes))
      .join(ntc, Seq("cls", "term"), "left")
      .select(col("doc_id"), col("cls"),
        round(log((coalesce(col("ntc"), lit(0L)) + lit(1L)).cast("double") /
          (col("n_c") + col("v")).cast("double")) * 1e6)
          .cast("long").as("w"))
      .groupBy("doc_id", "cls").agg(sum("w").as("tok_mu"))
    testDocs.select("doc_id", "true_lang", "bk")
      .crossJoin(broadcast(classes.select("cls", "prior_mu")))
      .join(contrib, Seq("doc_id", "cls"), "left")
      .select(col("doc_id"), col("true_lang"), col("bk"), col("cls"),
        (coalesce(col("tok_mu"), lit(0L)) + col("prior_mu")).as("score"))
  }

  val naiveBayes: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("cls").asc)
    nbScored(s, d).withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("true_lang"), col("cls").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("true_lang", "pred_lang")
  }

  /** q356 margin-bucket lower edges in micro (log-likelihood-ratio
    * thresholds e⁰, e¹, e², e⁵, e¹⁰ — plan-time constants embedded
    * identically in the oracle). */
  private[graft] val nbMarginEdges = Seq(0L, 1000000L, 2000000L,
    5000000L, 10000000L)

  /** q356 — CLASSIFIER MARGIN-RELIABILITY AUDIT (the calibration read
    * above q320 — Guo et al. 2017 frame the problem; the margin form
    * keeps it EXACT where a posterior/ECE needs a data-dependent
    * cross-engine exp): before a trained filter's verdicts gate a
    * corpus, the operator needs "accuracy as a function of the
    * classifier's own confidence" to pick the keep threshold. The NB
    * confidence is the LOG-LIKELIHOOD-RATIO margin s₁ − s₂ between the
    * top two classes (already micro-integer — no transcendental is
    * ever taken on data), bucketed at the FIXED [[nbMarginEdges]]
    * thresholds (absolute LLR cuts, the production thresholding — a
    * decile binning would need a corpus-length sort). Per bucket:
    * docs, correct, accuracy_ppm; plus the cumulative keep-curve from
    * the most-confident side (kept_docs/kept_acc_ppm at threshold ≥
    * that bucket's edge — the exact table a threshold decision reads).
    * All five buckets always emit (zeros + −1 accuracy sentinels when
    * empty). A doc with no second class (single-class corpus) has
    * infinite margin — top bucket, documented.
    *
    * Scale: the corpus work is the SHARED [[nbScored]] frame (q320's —
    * the audit cannot drift from the classifier it audits); the top-2
    * window is per-doc-partitioned (no global sort), the bucket rollup
    * is 5-row bounded, and the keep-curve windows run on those 5 rows.
    */
  /** The q356/q363 margin-bucket table (bucket_lo, n_docs, n_correct),
    * one row per [[nbMarginEdges]] edge, shared so the calibration
    * repair (q363) cannot drift from the reliability table it repairs
    * (q356) — the nbScored/exposureFrame no-drift discipline. */
  private def nbMarginTable(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("cls").asc)
    val top2 = nbScored(s, d).withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy("doc_id", "true_lang")
      .agg(max(when(col("rn") === 1, col("cls"))).as("pred"),
        max(when(col("rn") === 1, col("score"))).as("s1"),
        max(when(col("rn") === 2, col("score"))).as("s2"))
      .select(col("true_lang"), col("pred"),
        when(col("s2").isNull, lit(Long.MaxValue))
          .otherwise(col("s1") - col("s2")).as("margin"))
    val edgeCase = nbMarginEdges.reverse.tail.foldLeft(
      when(col("margin") >= nbMarginEdges.last, nbMarginEdges.last)) {
      case (acc, e) => acc.when(col("margin") >= e, e)
    }
    val counted = top2
      .select(edgeCase.as("bucket_lo"),
        when(col("pred") === col("true_lang"), 1L).otherwise(0L)
          .as("ok"))
      .groupBy("bucket_lo")
      .agg(count(lit(1)).as("n_docs"), sum("ok").as("n_correct"))
    nbMarginEdges.toDF("bucket_lo")
      .join(counted, Seq("bucket_lo"), "left")
      .select(col("bucket_lo"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_correct"), lit(0L)).as("n_correct"))
  }

  val nbReliability: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val full = nbMarginTable(s, d)
    val wKeep = Window.orderBy(col("bucket_lo").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    full
      .withColumn("kept_docs", sum("n_docs").over(wKeep))
      .withColumn("kept_correct", sum("n_correct").over(wKeep))
      .select(col("bucket_lo"), col("n_docs"), col("n_correct"),
        expr("""CAST(CASE WHEN n_docs = 0 THEN -1
                ELSE (n_correct * 1000000) div n_docs END AS BIGINT)""")
          .as("acc_ppm"),
        col("kept_docs"), col("kept_correct"),
        expr("""CAST(CASE WHEN kept_docs = 0 THEN -1
                ELSE (kept_correct * 1000000) div kept_docs END
                AS BIGINT)""").as("kept_acc_ppm"))
      .orderBy("bucket_lo")
  }

  def queries: Map[String, Q] = Map(
    "q320_naive_bayes" -> naiveBayes,
    "q356_nb_reliability" -> nbReliability,
    "q357_gopher_repetition" -> gopherRepetition,
    "q358_nb_conformal" -> nbConformal,
    "q360_nb_mondrian" -> nbMondrian,
    "q363_nb_isotonic" -> nbIsotonic,
    "q200_zipf_fit" -> zipfFit,
    "q199_containment" -> containmentPairs,
    "q192_retrieval_metrics" -> retrievalMetrics,
    "q188_cross_lingual" -> crossLingual,
    "q185_perplexity_buckets" -> perplexityBuckets,
    "q181_ngram_novelty" -> ngramNovelty,
    "q178_heaps_law" -> heapsLaw,
    "q176_source_overlap" -> sourceOverlap,
    "q171_bpe_pairs" -> bpePairs,
    "q236_bpe_encode" -> bpeEncode,
    "q247_bpe_train" -> bpeTrain,
    "q279_unigram_train" -> unigramTrain,
    "q289_textrank_keywords" -> textrankKeywords,
    "q269_tokenizer_fertility" -> tokenizerFertility,
    "q270_char_entropy" -> charEntropy,
    "q237_winnow_fingerprints" -> winnowFingerprints,
    "q238_winnow_pairs" -> winnowPairs,
    "q240_fp_decontam" -> fpDecontam,
    "q291_exact_substring" -> exactSubstring,
    "q170_trigram_lm" -> trigramLm,
    "q311_kneser_ney" -> knTrigramLm,
    "q158_rrf_fusion" -> rrfFusion,
    "q149_bm25" -> bm25,
    "q146_collocations" -> collocations,
    "q139_inverted_index" -> invertedIndex,
    "q94_unigram_logprob" -> unigramLogprob,
    "q120_prefix_join" -> prefixJoin,
    "q25_dedup_exact" -> dedupExact,
    "q61_tfidf_top" -> tfidfTop,
    "q205_tfidf_cosine" -> tfidfCosine,
    "q214_kappa_agreement" -> kappaAgreement,
    "q216_length_bias" -> lengthBias,
    "q219_vocab_coverage" -> vocabCoverage,
    "q229_cv_accuracy" -> cvAccuracy,
    "q230_skipgram_lift" -> skipgramLift,
    "q231_source_kl" -> sourceKl,
    "q73_quality_filter" -> qualityFilter,
    "q338_gopher_rules" -> gopherRules,
    "q74_decontaminate" -> decontaminate,
    "q99_bloom_filter" -> bloomFilter,
    "q75_hash_split" -> hashSplit,
    "q26_text_stats" -> textStats,
    "q27_lang_profile" -> langProfile,
    "q28_fingerprint" -> fingerprint,
    "q29_lang_id" -> langId,
    "q30_jaccard_pairs" -> jaccardPairs,
    "q38_simhash16" -> simhash16,
    "q65_simhash_neardup" -> simhashNearDup)

  private[graft] val duckToks = raw"string_split_regex(text, '\s+')"

  /** DuckDB mirror of [[simhashes]]'s bit expression (shared by q38/q65). */
  private val duckSimhashBits: String = {
    val hs = raw"list_transform(string_split_regex(text, '\s+'), t -> ('0x' || substr(md5(t), 1, 4))::INT)"
    (0 until 16).map { i =>
      s"(CASE WHEN list_sum(list_transform($hs, h -> CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")
  }

  /** The q320/q356 oracle scoring chain (docs → train leaf → class
    * table → test contributions → per-(doc, class) scores), shared
    * TEXTUALLY by both oracles (the maOracleChain precedent — the
    * calibration audit cannot drift from the classifier it audits). */
  private def nbOracleChain(foldLo: Int = 90): String =
    raw"""docs AS (SELECT doc_id, lang,
       |    list_filter(string_split_regex(text, '\s+'),
       |      x -> len(x) > 0) AS tk,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |      % 100 AS bk
       |  FROM documents),
       |tr AS (SELECT lang AS cls, unnest(tk) AS term FROM docs
       |  WHERE bk < 80),
       |ntc AS MATERIALIZED (SELECT cls, term, count(*) AS ntc
       |  FROM tr GROUP BY 1, 2),
       |nc AS (SELECT cls, sum(ntc) AS n_c FROM ntc GROUP BY 1),
       |voc AS (SELECT count(DISTINCT term) AS v FROM ntc),
       |pri AS (SELECT lang AS cls, count(*) AS n_docs_c FROM docs
       |  WHERE bk < 80 GROUP BY 1),
       |cls AS MATERIALIZED (SELECT nc.cls, nc.n_c,
       |    (SELECT v FROM voc) AS v,
       |    CAST(round(ln(pri.n_docs_c /
       |      CAST((SELECT sum(n_docs_c) FROM pri) AS DOUBLE)) * 1000000)
       |      AS BIGINT) AS prior_mu
       |  FROM nc JOIN pri ON pri.cls = nc.cls),
       |tt AS (SELECT doc_id, unnest(tk) AS term FROM docs
       |  WHERE bk >= $foldLo),
       |contrib AS (SELECT t.doc_id, c.cls,
       |    sum(CAST(round(ln((coalesce(n.ntc, 0) + 1) /
       |      CAST(c.n_c + c.v AS DOUBLE)) * 1000000) AS BIGINT)) AS tok_mu
       |  FROM tt t CROSS JOIN cls c
       |  LEFT JOIN ntc n ON n.cls = c.cls AND n.term = t.term
       |  GROUP BY 1, 2),
       |scored AS (SELECT d.doc_id, d.lang AS true_lang, d.bk, c.cls,
       |    coalesce(ct.tok_mu, 0) + c.prior_mu AS score
       |  FROM (SELECT doc_id, lang, bk FROM docs WHERE bk >= $foldLo) d
       |  CROSS JOIN cls c
       |  LEFT JOIN contrib ct ON ct.doc_id = d.doc_id
       |    AND ct.cls = c.cls)""".stripMargin

  /** The q356/q363 margin-bucket table as shared oracle text (the
    * [[nbMarginTable]] engine helper's mirror — chain through
    * `full_(bucket_lo, n_docs, n_correct)`, one row per edge). */
  private def nbMarginOracleChain: String = {
    val edgeCase = nbMarginEdges.reverse.map(e =>
      s"WHEN margin >= ${e}" +
        s" THEN CAST($e AS BIGINT)").mkString(" ")
    s"""${nbOracleChain()},
       |p2 AS (SELECT doc_id, true_lang, cls, score,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC, cls) AS rn
       |  FROM scored),
       |t2 AS (SELECT doc_id, true_lang,
       |    max(CASE WHEN rn = 1 THEN cls END) AS pred,
       |    max(CASE WHEN rn = 1 THEN score END) AS s1,
       |    max(CASE WHEN rn = 2 THEN score END) AS s2
       |  FROM p2 WHERE rn <= 2 GROUP BY 1, 2),
       |mg AS (SELECT true_lang, pred,
       |    CASE WHEN s2 IS NULL THEN ${Long.MaxValue}
       |      ELSE s1 - s2 END AS margin FROM t2),
       |cnt AS (SELECT CASE $edgeCase END AS bucket_lo,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN pred = true_lang THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_correct
       |  FROM mg GROUP BY 1),
       |edges AS (SELECT unnest([${nbMarginEdges.map(e =>
          s"CAST($e AS BIGINT)").mkString(", ")}]) AS bucket_lo),
       |full_ AS (SELECT e.bucket_lo,
       |    coalesce(c.n_docs, 0) AS n_docs,
       |    coalesce(c.n_correct, 0) AS n_correct
       |  FROM edges e LEFT JOIN cnt c ON c.bucket_lo = e.bucket_lo)"""
      .stripMargin
  }

  def oracles: Map[String, String] = Map(
    // same md5 split, same tokenize, same Laplace rational inside the
    // same once-rounded ln·1e6 (exact integer-count operands, so both
    // engines round the identical double), same desc-score/asc-class
    // argmax tie-break
    "q320_naive_bayes" ->
      s"""WITH ${nbOracleChain()},
         |pred AS (SELECT doc_id, true_lang, cls AS pred_lang,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, cls) AS rn
         |  FROM scored)
         |SELECT true_lang, pred_lang, count(*) AS n_docs
         |FROM pred WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the identical shared scoring chain, per-doc top-2 window, the
    // same fixed LLR bucket CASE, all five buckets emitted with the
    // -1 empty sentinel, and the keep-curve as a 5-row window
    "q356_nb_reliability" -> {
      s"""WITH ${nbMarginOracleChain},
         |keep AS (SELECT *,
         |    CAST(sum(n_docs) OVER (ORDER BY bucket_lo DESC)
         |      AS BIGINT) AS kept_docs,
         |    CAST(sum(n_correct) OVER (ORDER BY bucket_lo DESC)
         |      AS BIGINT) AS kept_correct
         |  FROM full_)
         |SELECT bucket_lo, n_docs, n_correct,
         |  CAST(CASE WHEN n_docs = 0 THEN -1
         |    ELSE (n_correct * 1000000) // n_docs END AS BIGINT)
         |    AS acc_ppm,
         |  kept_docs, kept_correct,
         |  CAST(CASE WHEN kept_docs = 0 THEN -1
         |    ELSE (kept_correct * 1000000) // kept_docs END AS BIGINT)
         |    AS kept_acc_ppm
         |FROM keep ORDER BY bucket_lo""".stripMargin
    },
    // the shared margin-bucket chain, the minimax identity over the
    // <= 5 nonempty buckets (dense-indexed; intervals by a bounded
    // triple self-join), the SAME floor(acc*1e18) surrogate as the
    // engine, output truncation surr // 1e12 == floor(acc*1e6)
    "q363_nb_isotonic" -> {
      s"""WITH ${nbMarginOracleChain},
         |ne AS MATERIALIZED (SELECT bucket_lo, n_docs, n_correct,
         |    CAST(row_number() OVER (ORDER BY bucket_lo) AS BIGINT)
         |      AS ix
         |  FROM full_ WHERE n_docs > 0),
         |iv AS MATERIALIZED (SELECT a.ix AS i, b.ix AS j,
         |    (CAST(sum(c.n_correct) AS HUGEINT)
         |      * 1000000000000000000)
         |      // CAST(sum(c.n_docs) AS HUGEINT) AS surr
         |  FROM ne a JOIN ne b ON b.ix >= a.ix
         |  JOIN ne c ON c.ix BETWEEN a.ix AND b.ix
         |  GROUP BY 1, 2),
         |mn AS (SELECT iv.i, k.ix AS k, min(iv.surr) AS m
         |  FROM iv JOIN ne k ON iv.i <= k.ix AND iv.j >= k.ix
         |  GROUP BY 1, 2),
         |cal AS (SELECT mn.k, max(mn.m) AS v FROM mn GROUP BY 1),
         |out_ AS (SELECT f.bucket_lo, f.n_docs, f.n_correct,
         |    CASE WHEN f.n_docs = 0 THEN -1
         |      ELSE (f.n_correct * 1000000) // f.n_docs END AS acc_ppm,
         |    CASE WHEN f.n_docs = 0 THEN CAST(-1 AS HUGEINT)
         |      ELSE cal.v // 1000000000000 END AS calib_ppm
         |  FROM full_ f LEFT JOIN ne ON ne.bucket_lo = f.bucket_lo
         |  LEFT JOIN cal ON cal.k = ne.ix)
         |SELECT bucket_lo, n_docs, n_correct,
         |  CAST(acc_ppm AS BIGINT) AS acc_ppm,
         |  CAST(calib_ppm AS BIGINT) AS calib_ppm,
         |  (n_docs > 0 AND calib_ppm <> acc_ppm) AS adjusted
         |FROM out_ ORDER BY bucket_lo""".stripMargin
    },
    // the shared chain over BOTH folds (bk >= 80), the identical
    // nonconformity with the explicit unseen-class sentinel (Spark
    // sorts nulls first, DuckDB last — never a null in the sort), the
    // exact k-th-smallest threshold, and the same set/coverage algebra
    "q358_nb_conformal" -> {
      s"""WITH ${nbOracleChain(80)},
         |pd AS MATERIALIZED (SELECT doc_id, bk,
         |    coalesce(max(score)
         |      - max(CASE WHEN cls = true_lang THEN score END),
         |      ${Long.MaxValue}) AS nc
         |  FROM scored GROUP BY doc_id, true_lang, bk),
         |kq AS MATERIALIZED (SELECT count(*) AS n,
         |    (9 * (count(*) + 1) + 9) // 10 AS k
         |  FROM pd WHERE bk < 90),
         |qh AS MATERIALIZED (SELECT
         |    CASE WHEN kq.k > kq.n THEN ${Long.MaxValue}
         |    ELSE (SELECT nc FROM (SELECT nc,
         |        row_number() OVER (ORDER BY nc) AS rn
         |      FROM pd WHERE bk < 90) WHERE rn = kq.k) END AS qhat
         |  FROM kq),
         |ts AS (SELECT s.doc_id, s.true_lang, s.cls, s.score,
         |    max(s.score) OVER (PARTITION BY s.doc_id) AS s1
         |  FROM scored s WHERE s.bk >= 90),
         |td AS (SELECT doc_id, true_lang,
         |    CAST(sum(CASE WHEN s1 - score <= (SELECT qhat FROM qh)
         |      THEN 1 ELSE 0 END) AS BIGINT) AS set_size,
         |    max(CASE WHEN cls = true_lang
         |      AND s1 - score <= (SELECT qhat FROM qh)
         |      THEN 1 ELSE 0 END) AS cov
         |  FROM ts GROUP BY 1, 2),
         |gl AS (SELECT CAST(count(*) AS BIGINT) AS n_test,
         |    CAST(sum(cov) AS BIGINT) AS n_covered FROM td)
         |SELECT td.set_size, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(kq.n AS BIGINT) AS n_cal,
         |  CAST(qh.qhat AS BIGINT) AS qhat_micro,
         |  gl.n_test, gl.n_covered,
         |  CAST(CASE WHEN gl.n_test = 0 THEN -1
         |    ELSE (gl.n_covered * 1000000) // gl.n_test END AS BIGINT)
         |    AS coverage_ppm
         |FROM td, gl, kq, qh
         |GROUP BY 1, 3, 4, 5, 6, 7 ORDER BY 1""".stripMargin
    },
    // q358's per-doc nonconformity frame with the quantile PARTITIONED
    // by true class (rank value at k_c is well-defined under nc ties,
    // so the row_number tie-break cannot drift cross-engine), the
    // class universe as trained-taxonomy ∪ observed true classes, the
    // threshold joined on the CANDIDATE class, and the same −1
    // empty-test sentinels
    "q360_nb_mondrian" -> {
      s"""WITH ${nbOracleChain(80)},
         |pd AS MATERIALIZED (SELECT doc_id, true_lang, bk,
         |    coalesce(max(score)
         |      - max(CASE WHEN cls = true_lang THEN score END),
         |      ${Long.MaxValue}) AS nc
         |  FROM scored GROUP BY doc_id, true_lang, bk),
         |cnt AS MATERIALIZED (SELECT true_lang AS class,
         |    CAST(count(*) AS BIGINT) AS n_cal
         |  FROM pd WHERE bk < 90 GROUP BY 1),
         |rk AS (SELECT true_lang AS class, nc,
         |    row_number() OVER (PARTITION BY true_lang ORDER BY nc)
         |      AS rn
         |  FROM pd WHERE bk < 90),
         |qh AS MATERIALIZED (SELECT rk.class, rk.nc AS qhat
         |  FROM rk JOIN cnt ON cnt.class = rk.class
         |  WHERE rk.rn = (9 * (cnt.n_cal + 1) + 9) // 10),
         |classes AS MATERIALIZED (SELECT DISTINCT cls AS class
         |    FROM scored
         |  UNION SELECT DISTINCT true_lang FROM pd),
         |cq AS MATERIALIZED (SELECT c.class,
         |    coalesce(cnt.n_cal, 0) AS n_cal,
         |    coalesce(qh.qhat, ${Long.MaxValue}) AS qhat
         |  FROM classes c LEFT JOIN cnt ON cnt.class = c.class
         |  LEFT JOIN qh ON qh.class = c.class),
         |ts AS (SELECT s.doc_id, s.true_lang, s.cls, s.score,
         |    max(s.score) OVER (PARTITION BY s.doc_id) AS s1
         |  FROM scored s WHERE s.bk >= 90),
         |td AS (SELECT t.doc_id, t.true_lang,
         |    CAST(sum(CASE WHEN t.s1 - t.score <= q.qhat
         |      THEN 1 ELSE 0 END) AS BIGINT) AS set_size,
         |    max(CASE WHEN t.cls = t.true_lang
         |      AND t.s1 - t.score <= q.qhat
         |      THEN 1 ELSE 0 END) AS cov
         |  FROM ts t JOIN cq q ON q.class = t.cls GROUP BY 1, 2),
         |pc AS (SELECT true_lang AS class,
         |    CAST(count(*) AS BIGINT) AS n_test,
         |    CAST(sum(cov) AS BIGINT) AS n_covered,
         |    CAST(sum(set_size) AS BIGINT) AS sum_set_size
         |  FROM td GROUP BY 1)
         |SELECT cq.class, cq.n_cal,
         |  CAST(cq.qhat AS BIGINT) AS qhat_micro,
         |  coalesce(pc.n_test, 0) AS n_test,
         |  coalesce(pc.n_covered, 0) AS n_covered,
         |  coalesce(pc.sum_set_size, 0) AS sum_set_size,
         |  CAST(CASE WHEN coalesce(pc.n_test, 0) = 0 THEN -1
         |    ELSE (pc.n_covered * 1000000) // pc.n_test END AS BIGINT)
         |    AS coverage_ppm,
         |  CAST(CASE WHEN coalesce(pc.n_test, 0) = 0 THEN -1
         |    ELSE (pc.sum_set_size * 1000000) // pc.n_test END
         |    AS BIGINT) AS avg_set_ppm
         |FROM cq LEFT JOIN pc ON pc.class = cq.class
         |ORDER BY cq.class""".stripMargin
    },
    "q199_containment" ->
      raw"""WITH ${OracleSql.docShingles},
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
         |    count(*) AS common
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |sc AS (SELECT
         |    CASE WHEN s1.n_sh <= s2.n_sh THEN d1 ELSE d2 END AS contained,
         |    CASE WHEN s1.n_sh <= s2.n_sh THEN d2 ELSE d1 END AS container,
         |    common,
         |    common * 1000000 // least(s1.n_sh, s2.n_sh) AS containment_ppm
         |  FROM inter JOIN sz s1 ON d1 = s1.doc_id
         |             JOIN sz s2 ON d2 = s2.doc_id)
         |SELECT contained, container, common, containment_ppm
         |FROM sc WHERE containment_ppm >= 800000
         |ORDER BY contained, container""".stripMargin,
    "q200_zipf_fit" ->
      raw"""WITH tk AS (SELECT
         |    unnest(list_filter(string_split_regex(text, '\s+'),
         |      t -> len(t) > 0)) AS term FROM documents),
         |freq AS (SELECT term, count(*) AS cnt FROM tk GROUP BY 1),
         |top AS (SELECT cnt, row_number()
         |    OVER (ORDER BY cnt DESC, term) AS rank
         |  FROM freq ORDER BY cnt DESC, term LIMIT 1000),
         |pts AS (SELECT
         |    CAST(round(ln(CAST(rank AS DOUBLE)) * 1000) AS BIGINT) AS x,
         |    CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000) AS BIGINT) AS y
         |  FROM top),
         |sums AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
         |    CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx FROM pts)
         |SELECT n,
         |  CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
         |    / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000) AS BIGINT)
         |    AS slope_micro,
         |  CAST(round((CAST(sy AS DOUBLE)
         |    - CAST(n * sxy - sx * sy AS DOUBLE)
         |      / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |    / CAST(n AS DOUBLE) * 1000) AS BIGINT) AS intercept_micro
         |FROM sums""".stripMargin,
    "q192_retrieval_metrics" ->
      raw"""WITH ${OracleSql.bm25Scores},
         |pd AS (SELECT doc_id, count(*) AS g,
         |    CAST(sum(ppm) AS BIGINT) AS score_ppm,
         |    CAST(sum(tf) AS BIGINT) AS tf_sum
         |  FROM sc GROUP BY 1),
         |la AS (SELECT 'bm25' AS ranker, doc_id, g, row_number()
         |    OVER (ORDER BY score_ppm DESC, doc_id) AS r
         |  FROM pd ORDER BY score_ppm DESC, doc_id LIMIT 50),
         |lb AS (SELECT 'tf' AS ranker, doc_id, g, row_number()
         |    OVER (ORDER BY tf_sum DESC, doc_id) AS r
         |  FROM pd ORDER BY tf_sum DESC, doc_id LIMIT 50),
         |ls AS (SELECT * FROM la UNION ALL SELECT * FROM lb),
         |ideal AS (SELECT CAST(sum(CAST(round((pow(2.0, CAST(g AS DOUBLE)) - 1.0)
         |      * 1000000.0 / (ln(CAST(r + 1 AS DOUBLE)) / ln(2.0))) AS BIGINT))
         |    AS BIGINT) AS idcg_micro
         |  FROM (SELECT g, row_number() OVER (ORDER BY g DESC, doc_id) AS r
         |        FROM pd ORDER BY g DESC, doc_id LIMIT 10)),
         |m AS (SELECT ranker,
         |    CAST(sum(CASE WHEN r <= 10 THEN
         |        CAST(round((pow(2.0, CAST(g AS DOUBLE)) - 1.0)
         |          * 1000000.0 / (ln(CAST(r + 1 AS DOUBLE)) / ln(2.0)))
         |        AS BIGINT) ELSE 0 END) AS BIGINT) AS dcg_micro,
         |    CAST(max(CASE WHEN g >= 3 THEN 1000000 // r ELSE 0 END)
         |      AS BIGINT) AS mrr_ppm,
         |    CAST(sum(CASE WHEN r <= 10 AND g >= 3 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_rel_top10
         |  FROM ls GROUP BY 1)
         |SELECT ranker, dcg_micro * 1000000 // idcg_micro AS ndcg10_ppm,
         |  mrr_ppm, n_rel_top10
         |FROM m CROSS JOIN ideal ORDER BY ranker""".stripMargin,
    "q188_cross_lingual" ->
      raw"""WITH t AS (SELECT doc_id, lang,
         |  list_filter(string_split_regex(text, '\s+'),
         |    x -> len(x) > 0) AS tk FROM documents),
         |sh AS (SELECT DISTINCT lang, unnest(list_transform(
         |    range(1, greatest(len(tk) - 7, 0) + 1),
         |    i -> md5(array_to_string(tk[i:i+7], ' ')))) AS sh FROM t)
         |SELECT a.lang AS lang_a, b.lang AS lang_b,
         |  count(*) AS n_shared_shingles
         |FROM sh a JOIN sh b ON a.sh = b.sh AND a.lang < b.lang
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q178_heaps_law" ->
      raw"""WITH tk AS (SELECT source, doc_id,
         |    unnest(list_filter(string_split_regex(text, '\s+'),
         |      t -> len(t) > 0)) AS term FROM documents),
         |fst AS (SELECT source, term, min(doc_id) AS first_doc
         |  FROM tk GROUP BY 1, 2),
         |cuts AS (SELECT source, pct,
         |    lo + ((hi - lo) * pct) // 100 AS cutoff
         |  FROM (SELECT source, min(doc_id) AS lo, max(doc_id) AS hi,
         |          unnest([20, 40, 60, 80, 100]) AS pct
         |        FROM documents GROUP BY source)),
         |seen AS (SELECT d.source, pct, count(*) AS docs_seen
         |  FROM documents d JOIN cuts c
         |    ON d.source = c.source AND d.doc_id <= c.cutoff
         |  GROUP BY 1, 2),
         |vc AS (SELECT f.source, pct, count(*) AS vocab
         |  FROM fst f JOIN cuts c
         |    ON f.source = c.source AND f.first_doc <= c.cutoff
         |  GROUP BY 1, 2)
         |SELECT source, pct, docs_seen, vocab
         |FROM seen JOIN vc USING (source, pct)
         |ORDER BY source, pct""".stripMargin,
    "q181_ngram_novelty" ->
      raw"""WITH ${OracleSql.docShingles},
         |dfq AS (SELECT sh, count(*) AS df FROM sh GROUP BY 1),
         |per AS (SELECT doc_id, count(*) AS n_shingles,
         |    CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_unique
         |  FROM sh JOIN dfq USING (sh) GROUP BY 1)
         |SELECT d.doc_id, COALESCE(n_shingles, 0) AS n_shingles,
         |  COALESCE(n_unique, 0) AS n_unique,
         |  COALESCE(n_unique, 0) * 1000000
         |    // greatest(COALESCE(n_shingles, 0), 1) AS novelty_ppm
         |FROM documents d LEFT JOIN per USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "q185_perplexity_buckets" ->
      raw"""WITH tk AS (SELECT doc_id,
         |    unnest(list_filter(string_split_regex(text, '\s+'),
         |      t -> len(t) > 0)) AS term FROM documents),
         |freq AS (SELECT term, count(*) AS cnt FROM tk GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM freq),
         |mu AS (SELECT doc_id,
         |    CAST(round(ln(CAST(t AS DOUBLE) / cnt) * 1000000) AS BIGINT)
         |      AS mu
         |  FROM tk JOIN freq USING (term) CROSS JOIN tot),
         |per AS (SELECT doc_id, count(*) AS n_tokens,
         |    CAST(sum(mu) AS BIGINT) AS sum_mu FROM mu GROUP BY 1),
         |sc AS (SELECT d.doc_id, d.lang, sum_mu // n_tokens AS ce_micro
         |  FROM documents d JOIN per USING (doc_id)),
         |rk AS (SELECT lang, ce_micro,
         |    ntile(3) OVER (PARTITION BY lang ORDER BY ce_micro, doc_id)
         |      AS tier FROM sc)
         |SELECT lang, CAST(tier AS INT) AS tier,
         |  CASE tier WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
         |    ELSE 'tail' END AS bucket,
         |  count(*) AS n_docs, min(ce_micro) AS min_ce,
         |  max(ce_micro) AS max_ce,
         |  CAST(sum(ce_micro) AS BIGINT) // count(*) AS avg_ce_micro
         |FROM rk GROUP BY lang, tier ORDER BY lang, tier""".stripMargin,
    "q176_source_overlap" ->
      raw"""WITH st AS (SELECT DISTINCT source, term FROM
         |  (SELECT source,
         |    unnest(list_filter(string_split_regex(text, '\s+'),
         |      t -> len(t) > 0)) AS term
         |  FROM documents)),
         |sz AS (SELECT source, count(*) AS sz FROM st GROUP BY 1),
         |pr AS (SELECT a.source AS src_a, b.source AS src_b,
         |    count(*) AS inter
         |  FROM st a JOIN st b
         |    ON a.term = b.term AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, CAST(inter AS BIGINT) AS inter,
         |  CAST(x.sz + y.sz - inter AS BIGINT) AS uni,
         |  CAST(inter * 1000000 // (x.sz + y.sz - inter) AS BIGINT)
         |    AS jaccard_ppm
         |FROM pr JOIN sz x ON pr.src_a = x.source
         |JOIN sz y ON pr.src_b = y.source
         |ORDER BY src_a, src_b""".stripMargin,
    // shared winnowing CTEs for the sketch leg; q74's shingle CTEs
    // verbatim for the exact leg; same bench split at doc_id 10
    "q240_fp_decontam" ->
      raw"""WITH $duckWinnowCte,
         |fpd AS MATERIALIZED (SELECT DISTINCT doc_id, fh FROM fps),
         |bfp AS (SELECT DISTINCT fh FROM fpd WHERE doc_id < 10),
         |fph AS (SELECT doc_id, count(DISTINCT fh) AS n_fp_hits
         |  FROM fpd WHERE doc_id >= 10 AND fh IN (SELECT fh FROM bfp)
         |  GROUP BY 1),
         |sh AS MATERIALIZED (SELECT doc_id, unnest(list_transform(
         |    range(1, greatest(len(tk) - 7, 0) + 1),
         |    i -> md5(array_to_string(tk[i:i+7], ' ')))) AS sh FROM t),
         |bsh AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 10),
         |exh AS (SELECT doc_id, count(DISTINCT sh) AS n_exact_hits
         |  FROM sh WHERE doc_id >= 10 AND sh IN (SELECT sh FROM bsh)
         |  GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(COALESCE(f.n_fp_hits, 0) AS BIGINT) AS n_fp_hits,
         |  CAST(COALESCE(e.n_exact_hits, 0) AS BIGINT) AS n_exact_hits,
         |  (COALESCE(f.n_fp_hits, 0) > 0) AS fp_flag,
         |  (COALESCE(e.n_exact_hits, 0) > 0) AS exact_flag
         |FROM documents d LEFT JOIN fph f ON d.doc_id = f.doc_id
         |LEFT JOIN exh e ON d.doc_id = e.doc_id
         |WHERE d.doc_id >= 10 ORDER BY d.doc_id""".stripMargin,
    // the identical seed grams, diagonal arithmetic, gaps-and-islands
    // run grouping, and tie order
    "q291_exact_substring" ->
      raw"""WITH t AS MATERIALIZED (SELECT doc_id,
         |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)
         |      AS tk FROM documents),
         |g AS (SELECT doc_id,
         |    unnest(range(1, greatest(len(tk) - ${lcsSeed - 1}, 0) + 1))
         |      AS i, tk
         |  FROM t),
         |h AS MATERIALIZED (SELECT doc_id, i,
         |    md5(array_to_string(tk[i:i+${lcsSeed - 1}], ' ')) AS sh
         |  FROM g),
         |b AS (SELECT doc_id AS b_doc, i AS j, sh FROM h WHERE doc_id < 10),
         |m AS MATERIALIZED (SELECT h.doc_id, h.i, b.b_doc, h.i - b.j AS diag
         |  FROM h JOIN b USING (sh) WHERE h.doc_id >= 10),
         |r AS (SELECT doc_id, b_doc, diag, i,
         |    i - row_number() OVER (
         |      PARTITION BY doc_id, b_doc, diag ORDER BY i) AS grp
         |  FROM m),
         |runs AS MATERIALIZED (SELECT doc_id, b_doc, diag, grp,
         |    count(*) + ${lcsSeed - 1} AS match_len, min(i) AS start_i
         |  FROM r GROUP BY 1, 2, 3, 4),
         |best AS (SELECT doc_id, match_len AS longest_match,
         |    b_doc AS best_bench_doc, start_i AS best_start
         |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
         |      ORDER BY match_len DESC, b_doc, start_i, diag) AS rn
         |    FROM runs)
         |  WHERE rn = 1),
         |nr AS (SELECT doc_id, count(*) AS n_runs FROM runs GROUP BY 1),
         |hp AS (SELECT doc_id, count(DISTINCT i) AS n_hit_positions
         |  FROM m GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(COALESCE(longest_match, 0) AS BIGINT) AS longest_match,
         |  CAST(COALESCE(best_bench_doc, -1) AS BIGINT) AS best_bench_doc,
         |  CAST(COALESCE(best_start, 0) AS BIGINT) AS best_start,
         |  CAST(COALESCE(n_runs, 0) AS BIGINT) AS n_runs,
         |  CAST(COALESCE(n_hit_positions, 0) AS BIGINT) AS n_hit_positions,
         |  (COALESCE(longest_match, 0) >= $lcsSeed) AS contaminated
         |FROM documents d LEFT JOIN best USING (doc_id)
         |LEFT JOIN nr USING (doc_id) LEFT JOIN hp USING (doc_id)
         |WHERE d.doc_id >= 10 ORDER BY d.doc_id""".stripMargin,
    // the identical df cut, posting self-join, and min-side
    // containment normalization over the shared winnowing CTEs
    "q238_winnow_pairs" ->
      raw"""WITH $duckWinnowCte,
         |rare AS (SELECT fh FROM (
         |    SELECT fh, count(DISTINCT doc_id) AS df FROM fps GROUP BY 1)
         |  WHERE df <= $winnowMaxDf),
         |posting AS MATERIALIZED (SELECT DISTINCT doc_id, fh FROM fps
         |  WHERE fh IN (SELECT fh FROM rare)),
         |pd AS (SELECT doc_id, count(*) AS n_fp FROM posting GROUP BY 1),
         |pr AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared
         |  FROM posting a JOIN posting b
         |  ON a.fh = b.fh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2)
         |SELECT pr.d1, pr.d2, pr.n_shared,
         |  x.n_fp AS fp1, y.n_fp AS fp2,
         |  CAST(pr.n_shared * 1000000 // least(x.n_fp, y.n_fp) AS BIGINT)
         |    AS overlap_ppm
         |FROM pr JOIN pd x ON x.doc_id = pr.d1 JOIN pd y ON y.doc_id = pr.d2
         |ORDER BY n_shared DESC, d1, d2 LIMIT 20""".stripMargin,
    // the identical packed-key window-min: same gram hash family, same
    // 2^21 position slot, same rightmost-on-ties decode
    "q237_winnow_fingerprints" ->
      raw"""WITH $duckWinnowCte,
         |pd AS (SELECT doc_id, count(*) AS n_grams,
         |    CAST(sum(CASE WHEN filled THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_windows
         |  FROM sel GROUP BY 1),
         |pf AS (SELECT doc_id, count(*) AS n_fp,
         |    CAST(sum(fh) AS BIGINT) AS h_checksum,
         |    CAST(sum(fpos) AS BIGINT) AS pos_checksum
         |  FROM fps GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(COALESCE(pd.n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(COALESCE(pd.n_windows, 0) AS BIGINT) AS n_windows,
         |  CAST(COALESCE(pf.n_fp, 0) AS BIGINT) AS n_fp,
         |  CAST(COALESCE(pf.h_checksum, 0) AS BIGINT) AS h_checksum,
         |  CAST(COALESCE(pf.pos_checksum, 0) AS BIGINT) AS pos_checksum
         |FROM documents d LEFT JOIN pd USING (doc_id)
         |LEFT JOIN pf USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // the identical merge chain: DuckDB's replace() is the same
    // non-overlapping left-to-right scan, regexp_replace needs the 'g'
    // flag (and \1 backreference syntax) to match Spark's replace-all.
    // The U+0001 delimiter is embedded as the raw byte in the SQL string
    // (DuckDB literals accept control chars; Verify.jstr escapes the JSON
    // dump) — see the bpeDelim Scaladoc for the collision/BMP contract.
    "q236_bpe_encode" -> {
      raw"""WITH wds AS (SELECT source,
         |    unnest(list_filter(string_split_regex(text, '\s+'),
         |      t -> len(t) > 0)) AS w
         |  FROM documents),
         |wf AS (SELECT source, w, count(*) AS f FROM wds GROUP BY 1, 2),
         |${OracleSql.bpeWordTokens}
         |SELECT source, CAST(sum(f) AS BIGINT) AS n_words,
         |  count(*) AS n_word_types,
         |  CAST(sum(f * length(w)) AS BIGINT) AS n_chars,
         |  CAST(sum(f * n_bpe) AS BIGINT) AS n_tokens,
         |  CAST(sum(f * length(w)) * 1000000 // sum(f * n_bpe) AS BIGINT)
         |    AS chars_per_token_ppm
         |FROM wf JOIN enc USING (w) GROUP BY source ORDER BY source""".stripMargin
    },
    // identical per-cell ln rounding (the q213 micro-nat discipline) over
    // the identical substring-by-index char cells
    "q270_char_entropy" ->
      s"""WITH ch AS (SELECT doc_id, lang, CAST(len(text) AS BIGINT) AS n,
         |    unnest(list_transform(range(1, len(text) + 1),
         |      i -> substr(text, i, 1))) AS ch
         |  FROM documents WHERE len(text) > 0),
         |cc AS (SELECT doc_id, lang, n, ch, count(*) AS c
         |  FROM ch GROUP BY 1, 2, 3, 4),
         |pd AS MATERIALIZED (SELECT doc_id, lang,
         |    CAST(sum(c * CAST(round(ln(CAST(n AS DOUBLE) / c) * 1000000)
         |      AS BIGINT)) // n AS BIGINT) AS e
         |  FROM cc GROUP BY 1, 2, n)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(e) // count(*) AS BIGINT) AS mean_entropy_micro,
         |  min(e) AS min_entropy_micro,
         |  CAST(sum(CASE WHEN e < $entropyLowMicro THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_low_entropy
         |FROM pd GROUP BY lang ORDER BY lang""".stripMargin,
    // q236's encode machinery re-read per LANGUAGE, the premium via a
    // scalar-subquery min — same raw-byte delimiter contract
    "q269_tokenizer_fertility" -> {
      raw"""WITH wds AS (SELECT lang,
         |    unnest(list_filter(string_split_regex(text, '\s+'),
         |      t -> len(t) > 0)) AS w
         |  FROM documents),
         |wf AS (SELECT lang, w, count(*) AS f FROM wds GROUP BY 1, 2),
         |${OracleSql.bpeWordTokens},
         |pl AS MATERIALIZED (SELECT lang,
         |    CAST(sum(f) AS BIGINT) AS n_words,
         |    CAST(sum(f * n_bpe) AS BIGINT) AS n_tokens,
         |    CAST(sum(f * length(w)) AS BIGINT) AS n_chars,
         |    CAST(sum(f * n_bpe) * 1000 // sum(f) AS BIGINT)
         |      AS fertility_milli
         |  FROM wf JOIN enc USING (w) GROUP BY lang)
         |SELECT lang, n_words, n_tokens, n_chars, fertility_milli,
         |  n_chars * 1000000 // n_tokens AS chars_per_token_ppm,
         |  fertility_milli * 1000000
         |    // (SELECT min(fertility_milli) FROM pl) AS premium_ppm
         |FROM pl ORDER BY lang""".stripMargin
    },
    // the identical trainer loop, rounds unrolled: each round's argmax
    // pair is DATA (a 1-row CTE cross-joined into the next re-encode),
    // not a literal — DuckDB learns its own merge table and every round
    // must agree with the Spark loop's driver-synced pick
    // the identical lead()-window pairs, canonical weighted edges, and
    // q106's fixed-point integer rounds unrolled; per-edge floor division
    // before the exact integer sum
    "q289_textrank_keywords" -> {
      val rounds = (1 to textrankIters).map { k =>
        s"""m$k AS (SELECT e.v, CAST(sum(r.pr * e.wt // e.wsum) AS BIGINT) AS m
           |  FROM ed e JOIN r${k - 1} r ON e.u = r.node GROUP BY 1),
           |r$k AS MATERIALIZED (SELECT n.node,
           |  CAST(150000 + (85 * coalesce(m$k.m, 0)) // 100 AS BIGINT) AS pr
           |  FROM nodes n LEFT JOIN m$k ON n.node = m$k.v)""".stripMargin
      }.mkString(",\n")
      raw"""WITH tk AS (SELECT doc_id,
         |    CAST(generate_subscripts(ts, 1) - 1 AS BIGINT) AS i,
         |    unnest(ts) AS w
         |  FROM (SELECT doc_id, list_filter(
         |      string_split_regex(text, '\s+'), t -> len(t) > 0) AS ts
         |    FROM documents)),
         |wl AS (SELECT w,
         |    lead(w, 1) OVER (PARTITION BY doc_id ORDER BY i) AS n1,
         |    lead(w, 2) OVER (PARTITION BY doc_id ORDER BY i) AS n2
         |  FROM tk),
         |rp AS (SELECT w AS x, n1 AS y FROM wl WHERE n1 IS NOT NULL AND w <> n1
         |  UNION ALL SELECT w, n2 FROM wl WHERE n2 IS NOT NULL AND w <> n2),
         |und AS (SELECT least(x, y) AS l, greatest(x, y) AS r,
         |    count(*) AS wt FROM rp GROUP BY 1, 2),
         |bi AS (SELECT l AS u, r AS v, wt FROM und
         |  UNION ALL SELECT r AS u, l AS v, wt FROM und),
         |ed AS MATERIALIZED (SELECT bi.u, bi.v, bi.wt, ws.wsum FROM bi
         |  JOIN (SELECT u, CAST(sum(wt) AS BIGINT) AS wsum FROM bi
         |    GROUP BY 1) ws ON bi.u = ws.u),
         |nodes AS MATERIALIZED (SELECT DISTINCT u AS node FROM ed),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes),
         |$rounds
         |SELECT node AS word, pr AS rank_micro FROM r$textrankIters
         |ORDER BY pr DESC, node LIMIT 15""".stripMargin
    },
    // both trainer rounds replayed CTE-for-CTE: the same seed (top-48
    // weighted substrings + the single-char floor), the same packed-string
    // Viterbi DP unrolled to the loud cap (rounds past a word's length
    // are no-ops), the same usage-ranked prune; DuckDB range() is
    // end-exclusive where Spark sequence() is inclusive, hence the +1s
    "q279_unigram_train" -> {
      val m = bpeDelim
      def dp(rnd: Int) = (1 to unigramMaxWordLen).map { k =>
        s"""dp${rnd}_$k AS MATERIALIZED (SELECT w, pos, min(packed) AS packed FROM (
           |  SELECT w, pos, packed FROM dp${rnd}_${k - 1}
           |  UNION ALL
           |  SELECT p.w, e.j AS pos,
           |    lpad(CAST(CAST(substr(p.packed, 1, 2) AS INT) + 1 AS VARCHAR), 2, '0') ||
           |      substr(p.packed, 3) || '$m' || e.piece AS packed
           |  FROM dp${rnd}_${k - 1} p JOIN e$rnd e ON p.w = e.w AND p.pos = e.i
           |) GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      def round(rnd: Int) =
        s"""e$rnd AS MATERIALIZED (SELECT w, u.i AS i, u.j AS j,
           |    u.piece AS piece
           |  FROM (SELECT w, unnest(flatten(list_transform(range(1, len(w) + 1), i ->
           |    list_transform(range(1, least($unigramPieceMaxLen, len(w) - i + 1) + 1), L ->
           |      {'i': i, 'j': i + L, 'piece': substr(w, i, L)})))) AS u
           |    FROM wf)
           |  JOIN v$rnd vv ON u.piece = vv.piece),
           |dp${rnd}_0 AS (SELECT w, 1 AS pos, '00' AS packed FROM wf),
           |${dp(rnd)},
           |fin$rnd AS (SELECT w, CAST(substr(packed, 1, 2) AS INT) AS n,
           |    string_split(substr(packed, 4), '$m') AS ps
           |  FROM dp${rnd}_$unigramMaxWordLen WHERE pos = len(w) + 1),
           |us$rnd AS MATERIALIZED (SELECT piece, CAST(sum(f) AS BIGINT) AS usage
           |  FROM (SELECT wf.f, unnest(fin$rnd.ps) AS piece
           |    FROM fin$rnd JOIN wf USING (w)) GROUP BY 1),
           |st$rnd AS (SELECT CAST($rnd AS INT) AS round,
           |    (SELECT count(*) FROM v$rnd) AS vocab_size,
           |    count(*) AS n_word_types,
           |    CAST(sum(wf.f) AS BIGINT) AS n_words,
           |    CAST(sum(wf.f * fin$rnd.n) AS BIGINT) AS total_pieces,
           |    CAST((sum(wf.f * fin$rnd.n) * 1000000) // sum(wf.f) AS BIGINT)
           |      AS avg_pieces_ppm,
           |    (SELECT count(*) FROM us$rnd) AS distinct_pieces_used,
           |    (SELECT CAST(sum(usage * len(piece)) AS BIGINT) FROM us$rnd)
           |      AS usage_len_checksum
           |  FROM fin$rnd JOIN wf USING (w))""".stripMargin
      raw"""WITH ${OracleSql.wordFrequencies},
         |pw AS MATERIALIZED (SELECT piece, CAST(sum(f) AS BIGINT) AS wfreq
         |  FROM (SELECT f, unnest(flatten(list_transform(range(1, len(w) + 1), i ->
         |    list_transform(range(1, least($unigramPieceMaxLen, len(w) - i + 1) + 1), L ->
         |      substr(w, i, L))))) AS piece FROM wf) GROUP BY 1),
         |chars AS (SELECT piece FROM pw WHERE len(piece) = 1),
         |v1 AS MATERIALIZED (SELECT DISTINCT piece FROM (
         |  SELECT piece FROM (SELECT piece FROM pw
         |    ORDER BY wfreq DESC, piece LIMIT $unigramSeedSize)
         |  UNION ALL SELECT piece FROM chars)),
         |${round(1)},
         |v2 AS MATERIALIZED (SELECT DISTINCT piece FROM (
         |  SELECT piece FROM (SELECT piece FROM us1
         |    ORDER BY usage DESC, piece LIMIT $unigramPrunedSize)
         |  UNION ALL SELECT piece FROM chars)),
         |${round(2)}
         |SELECT * FROM st1 UNION ALL SELECT * FROM st2 ORDER BY round"""
        .stripMargin
    },
    "q247_bpe_train" -> {
      val m = bpeDelim
      val rounds = (1 to bpeTrainRounds).map { k =>
        val encPrev = if (k == 1) "e0" else s"e${k - 1}"
        s"""t$k AS (SELECT w, string_split(substr(enc, 2, length(enc) - 2),
           |    '$m$m') AS tk FROM $encPrev),
           |x$k AS (SELECT wf.f, t.tk,
           |    unnest(range(1, len(t.tk))) AS i
           |  FROM t$k t JOIN wf USING (w) WHERE len(t.tk) >= 2),
           |p$k AS (SELECT tk[i] AS l, tk[i + 1] AS r,
           |    CAST(sum(f) AS BIGINT) AS cnt
           |  FROM x$k GROUP BY 1, 2),
           |b$k AS (SELECT l, r, cnt FROM p$k
           |  ORDER BY cnt DESC, l, r LIMIT 1),
           |e$k AS MATERIALIZED (SELECT e.w,
           |    replace(e.enc, '$m' || b.l || '$m$m' || b.r || '$m',
           |      '$m' || b.l || b.r || '$m') AS enc
           |  FROM $encPrev e CROSS JOIN b$k b)""".stripMargin
      }.mkString(",\n")
      val out = (1 to bpeTrainRounds)
        .map(k => s"SELECT $k AS round, l AS left_tok, r AS right_tok, " +
          s"cnt AS n_occurrences FROM b$k")
        .mkString("\nUNION ALL ")
      raw"""WITH ${OracleSql.wordFrequencies},
         |e0 AS (SELECT w, regexp_replace(w, '(.)', '$m\1$m', 'g') AS enc
         |  FROM wf),
         |$rounds
         |SELECT CAST(round AS INT) AS round, left_tok, right_tok,
         |  n_occurrences
         |FROM ($out)
         |ORDER BY round""".stripMargin
    },
    "q171_bpe_pairs" ->
      raw"""WITH wds AS (SELECT
         |    unnest(list_filter(string_split_regex(text, '\s+'),
         |      t -> len(t) > 0)) AS w
         |  FROM documents),
         |wf AS (SELECT w, count(*) AS wf FROM wds GROUP BY 1),
         |pr AS (SELECT w, wf,
         |    unnest(list_transform(range(1, len(w)),
         |      i -> substr(w, i, 2))) AS pair
         |  FROM wf WHERE len(w) >= 2)
         |SELECT pair, CAST(sum(wf) AS BIGINT) AS n_occurrences,
         |  count(DISTINCT w) AS n_types
         |FROM pr GROUP BY 1
         |ORDER BY n_occurrences DESC, pair LIMIT 20""".stripMargin,
    "q170_trigram_lm" -> {
      raw"""WITH ${OracleSql.trigrams},
         |tg AS (SELECT doc_id, source, bk, g3,
         |    array_to_string((string_split(g3, ' '))[1:2], ' ') AS g2
         |  FROM tri),
         |c3 AS (SELECT g2, g3, count(*) AS c3 FROM tg
         |  WHERE bk < 80 GROUP BY 1, 2),
         |c2 AS (SELECT g2, sum(c3) AS c2 FROM c3 GROUP BY 1),
         |vc AS (SELECT count(DISTINCT term) AS v FROM
         |  (SELECT unnest(tk) AS term FROM base WHERE bk < 80)),
         |sc AS (SELECT tg.doc_id, tg.source,
         |    CAST(round(ln(CAST(COALESCE(c2.c2, 0) + v AS DOUBLE)
         |      / (COALESCE(c3.c3, 0) + 1)) * 1000000) AS BIGINT) AS mu
         |  FROM tg LEFT JOIN c3 ON tg.g3 = c3.g3
         |  LEFT JOIN c2 ON tg.g2 = c2.g2 CROSS JOIN vc
         |  WHERE tg.bk >= 90)
         |SELECT source, count(DISTINCT doc_id) AS n_docs,
         |  count(*) AS n_trigrams,
         |  CAST(sum(mu) // count(*) AS BIGINT) AS xent_micro
         |FROM sc GROUP BY 1 ORDER BY source""".stripMargin
    },
    // same trigram plumbing as q170; the quarter-unit KN rationals ride
    // HUGEINT ≡ the Spark side's DECIMAL(38,0), the two backoff CASEs
    // mirror exactly, and ONE ln per trigram converts the identical
    // rational (exact-int-to-double, correctly-rounded divide) to µnats
    "q311_kneser_ney" -> {
      raw"""WITH ${OracleSql.trigrams},
         |tg AS (SELECT doc_id, source, bk, g3,
         |    array_to_string((string_split(g3, ' '))[1:2], ' ') AS g2,
         |    array_to_string((string_split(g3, ' '))[2:3], ' ') AS s23,
         |    (string_split(g3, ' '))[2] AS w2,
         |    (string_split(g3, ' '))[3] AS w3
         |  FROM tri),
         |c3 AS MATERIALIZED (SELECT g2, g3, count(*) AS c3 FROM tg
         |  WHERE bk < 80 GROUP BY 1, 2),
         |ctx AS (SELECT g2, CAST(sum(c3) AS BIGINT) AS c2,
         |    count(*) AS n3 FROM c3 GROUP BY 1),
         |suf AS MATERIALIZED (SELECT
         |    array_to_string((string_split(g3, ' '))[2:3], ' ') AS s23,
         |    count(*) AS nc
         |  FROM c3 GROUP BY 1),
         |mid AS (SELECT (string_split(s23, ' '))[1] AS w2,
         |    CAST(sum(nc) AS BIGINT) AS ncc, count(*) AS nm
         |  FROM suf GROUP BY 1),
         |uni AS MATERIALIZED (SELECT (string_split(s23, ' '))[2] AS w3,
         |    count(*) AS n1 FROM suf GROUP BY 1),
         |gl AS (SELECT CAST(sum(n1) AS BIGINT) AS t, count(*) AS v
         |  FROM uni),
         |sc AS (SELECT tg.doc_id, tg.source,
         |    CAST(4 * COALESCE(uni.n1, 0) + 1 AS HUGEINT) AS n1q,
         |    CAST(4 * gl.t + gl.v + 1 AS HUGEINT) AS d1q,
         |    COALESCE(mid.ncc, 0) AS ncc, mid.nm AS nm,
         |    COALESCE(suf.nc, 0) AS nc,
         |    COALESCE(ctx.c2, 0) AS c2, ctx.n3 AS n3,
         |    COALESCE(c3.c3, 0) AS c3
         |  FROM tg LEFT JOIN c3 ON tg.g3 = c3.g3
         |  LEFT JOIN ctx ON tg.g2 = ctx.g2
         |  LEFT JOIN suf ON tg.s23 = suf.s23
         |  LEFT JOIN mid ON tg.w2 = mid.w2
         |  LEFT JOIN uni ON tg.w3 = uni.w3
         |  CROSS JOIN gl
         |  WHERE tg.bk >= 90),
         |lv AS (SELECT doc_id, source,
         |    CASE WHEN ncc = 0 THEN n1q
         |      ELSE greatest(4 * nc - 3, 0) * d1q + 3 * nm * n1q
         |      END AS num2,
         |    CASE WHEN ncc = 0 THEN d1q ELSE 4 * ncc * d1q END AS den2,
         |    c2, c3, n3
         |  FROM sc),
         |mu AS (SELECT doc_id, source,
         |    CAST(round(ln(
         |      CAST(CASE WHEN c2 = 0 THEN den2
         |        ELSE 4 * c2 * den2 END AS DOUBLE)
         |      / CAST(CASE WHEN c2 = 0 THEN num2
         |        ELSE greatest(4 * c3 - 3, 0) * den2 + 3 * n3 * num2
         |        END AS DOUBLE)) * 1000000) AS BIGINT) AS mu
         |  FROM lv)
         |SELECT source, count(DISTINCT doc_id) AS n_docs,
         |  count(*) AS n_trigrams,
         |  CAST(sum(mu) // count(*) AS BIGINT) AS kn_xent_micro
         |FROM mu GROUP BY 1 ORDER BY source""".stripMargin
    },
    "q158_rrf_fusion" ->
      raw"""WITH ${OracleSql.bm25Scores},
         |pd AS (SELECT doc_id, CAST(sum(ppm) AS BIGINT) AS score_ppm,
         |    CAST(sum(tf) AS BIGINT) AS tf_sum FROM sc GROUP BY 1),
         |ta AS (SELECT doc_id, CAST(row_number() OVER
         |    (ORDER BY score_ppm DESC, doc_id) AS INT) AS rank_bm25
         |  FROM pd ORDER BY score_ppm DESC, doc_id LIMIT 50),
         |tb AS (SELECT doc_id, CAST(row_number() OVER
         |    (ORDER BY tf_sum DESC, doc_id) AS INT) AS rank_tf
         |  FROM pd ORDER BY tf_sum DESC, doc_id LIMIT 50),
         |f AS (SELECT COALESCE(ta.doc_id, tb.doc_id) AS doc_id,
         |    COALESCE(rank_bm25, 0) AS rank_bm25,
         |    COALESCE(rank_tf, 0) AS rank_tf
         |  FROM ta FULL OUTER JOIN tb ON ta.doc_id = tb.doc_id)
         |SELECT doc_id, rank_bm25, rank_tf,
         |  CAST((CASE WHEN rank_bm25 > 0 THEN 1000000 // (60 + rank_bm25) ELSE 0 END
         |      + CASE WHEN rank_tf > 0 THEN 1000000 // (60 + rank_tf) ELSE 0 END)
         |    AS BIGINT) AS rrf_ppm
         |FROM f ORDER BY rrf_ppm DESC, doc_id LIMIT 20""".stripMargin,
    "q149_bm25" ->
      raw"""WITH ${OracleSql.bm25Stats},
         |sc AS (SELECT tf.doc_id,
         |  CAST(round(ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
         |    * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * n_docs / sum_dl))))
         |    * 1000000) AS BIGINT) AS ppm
         |  FROM tf JOIN terms USING (t) JOIN dl USING (doc_id) CROSS JOIN st)
         |SELECT doc_id, count(*) AS n_terms_hit,
         |  CAST(sum(ppm) AS BIGINT) AS score_ppm
         |FROM sc GROUP BY 1 ORDER BY score_ppm DESC, doc_id LIMIT 50""".stripMargin,
    "q146_collocations" ->
      """WITH tk AS (SELECT doc_id, t, pos FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split_regex(text, '\s+'),
        |        x -> len(x) > 0)) AS t,
        |      generate_subscripts(list_filter(string_split_regex(text, '\s+'),
        |        x -> len(x) > 0), 1) AS pos
        |    FROM documents)),
        |bg AS (SELECT t AS a, lead(t) OVER (PARTITION BY doc_id ORDER BY pos)
        |    AS b FROM tk),
        |bgf AS (SELECT a, b, count(*) AS c_ab FROM bg WHERE b IS NOT NULL
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |un AS (SELECT t, count(*) AS c FROM tk GROUP BY 1),
        |n AS (SELECT count(*) AS nn FROM bg WHERE b IS NOT NULL)
        |SELECT bgf.a, bgf.b, c_ab,
        |  CAST((c_ab::HUGEINT * 1000000 * nn) // (ua.c::HUGEINT * ub.c)
        |    AS BIGINT) AS lift_ppm
        |FROM bgf JOIN un ua ON bgf.a = ua.t JOIN un ub ON bgf.b = ub.t, n
        |ORDER BY lift_ppm DESC, a, b LIMIT 50""".stripMargin,
    // the index answers must equal the direct document-scan answers —
    // index math ≡ corpus truth is the whole contract of an index
    "q139_inverted_index" ->
      """WITH dt AS (SELECT DISTINCT doc_id, t FROM (
        |    SELECT doc_id, unnest(list_filter(
        |      string_split_regex(text, '\s+'), x -> length(x) > 0)) AS t
        |    FROM documents)),
        |df AS (SELECT t, count(*) AS df FROM dt GROUP BY 1 HAVING count(*) >= 2),
        |terms AS (SELECT t, df FROM df ORDER BY df DESC, t LIMIT 4),
        |pairs AS (SELECT a.t AS ta, a.df AS dfa, b.t AS tb, b.df AS dfb
        |  FROM terms a JOIN terms b ON a.t < b.t),
        |cand AS (SELECT dt.doc_id, dt.t FROM dt JOIN terms ON dt.t = terms.t),
        |bth AS (SELECT x.t AS ta, y.t AS tb, count(*) AS n
        |  FROM cand x JOIN cand y ON x.doc_id = y.doc_id AND x.t < y.t
        |  GROUP BY 1, 2)
        |SELECT p.ta AS term_a, p.tb AS term_b, p.dfa AS df_a, p.dfb AS df_b,
        |  CAST(coalesce(b.n, 0) AS INT) AS n_both
        |FROM pairs p LEFT JOIN bth b ON p.ta = b.ta AND p.tb = b.tb
        |ORDER BY term_a, term_b""".stripMargin,
    "q94_unigram_logprob" ->
      s"""WITH terms AS (SELECT doc_id,
         |  unnest(list_filter($duckToks, t -> len(t) > 0)) AS term FROM documents),
         |freq AS (SELECT term, count(*) AS cnt FROM terms GROUP BY 1),
         |tot AS (SELECT count(*) AS t FROM terms),
         |mu AS (SELECT doc_id,
         |  CAST(round(ln(CAST(t AS DOUBLE) / cnt) * 1000000) AS BIGINT) AS mu
         |  FROM terms JOIN freq USING (term) CROSS JOIN tot),
         |per AS (SELECT doc_id, count(*) AS n_tokens, sum(mu) AS sum_mu
         |  FROM mu GROUP BY 1)
         |SELECT d.doc_id, COALESCE(p.n_tokens, 0) AS n_tokens,
         |  round(COALESCE(p.sum_mu, 0) / 1000000.0
         |    / greatest(COALESCE(p.n_tokens, 0), 1), 6) AS cross_entropy
         |FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "q73_quality_filter" ->
      s"""WITH v AS (SELECT doc_id,
         |  CASE WHEN length(text) < 50 THEN 'too_short'
         |       WHEN length(text) > 5000 THEN 'too_long'
         |       WHEN len($duckToks) < 10 THEN 'too_few_tokens'
         |       WHEN CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE)
         |            / length(text) > 0.2 THEN 'too_much_punct'
         |       WHEN CAST(len(list_filter($duckToks,
         |            t -> t IN ('the','a','and','of','el','la','de','que'))) AS DOUBLE)
         |            / len($duckToks) < 0.01 THEN 'no_stopwords'
         |       ELSE 'ok' END AS reason
         |  FROM documents)
         |SELECT doc_id, reason, (reason = 'ok') AS keep FROM v
         |ORDER BY doc_id""".stripMargin,
    // the identical fixed-order rule cascade, every threshold the same
    // cross-multiplied integer comparison, the same ASCII bullet subset
    "q338_gopher_rules" -> {
      val stopsIn = gopherStops.map(s => s"'$s'").mkString(", ")
      raw"""WITH v AS (SELECT doc_id,
         |    list_filter($duckToks, t -> len(t) > 0) AS w,
         |    string_split(text, chr(10)) AS ln,
         |    CAST(len(regexp_extract_all(text, '#'))
         |      + len(regexp_extract_all(text, '\.\.\.')) AS BIGINT) AS nsym
         |  FROM documents),
         |m AS (SELECT doc_id,
         |    CAST(len(w) AS BIGINT) AS nw,
         |    CAST(COALESCE(list_sum(list_transform(w, t -> len(t))), 0)
         |      AS BIGINT) AS chars,
         |    nsym,
         |    CAST(len(ln) AS BIGINT) AS nlines,
         |    CAST(len(list_filter(ln,
         |      l -> regexp_matches(l, '^\s*[-*]'))) AS BIGINT) AS bullets,
         |    CAST(len(list_filter(ln,
         |      l -> regexp_matches(l, '\.\.\.\s*$$'))) AS BIGINT) AS ells,
         |    CAST(len(list_filter(w,
         |      t -> regexp_matches(t, '[a-zA-Z]'))) AS BIGINT) AS alphaw,
         |    CAST(len(list_filter(list_distinct(w),
         |      t -> t IN ($stopsIn))) AS BIGINT) AS stops
         |  FROM v),
         |r AS (SELECT doc_id, nw,
         |    CASE WHEN nw < 50 OR nw > 100000 THEN 'word_count'
         |      WHEN chars < 3 * nw OR chars > 10 * nw
         |        THEN 'mean_word_length'
         |      WHEN nsym * 10 > nw THEN 'symbol_ratio'
         |      WHEN bullets * 10 > 9 * nlines THEN 'bullet_lines'
         |      WHEN ells * 10 > 3 * nlines THEN 'ellipsis_lines'
         |      WHEN alphaw * 5 < 4 * nw THEN 'alpha_ratio'
         |      WHEN stops < 2 THEN 'stopwords'
         |      ELSE 'ok' END AS reason
         |  FROM m)
         |SELECT doc_id, nw AS n_words, reason, (reason = 'ok') AS keep
         |FROM r ORDER BY doc_id""".stripMargin
    },
    // the same unit-dup and one-explode n-gram passes, the identical
    // cross-multiplied Table-A1 thresholds and first-failing cascade,
    // ppm columns as reads with the zero-total guard
    "q357_gopher_repetition" -> {
      def ppm(mass: String, total: String) =
        s"CAST(CASE WHEN $total <= 0 THEN 0" +
          s" ELSE ($mass * 1000000) // $total END AS BIGINT)"
      val gpCols = ((2 to 4).map(n =>
        s"max(CASE WHEN n = $n THEN top_mass END) AS top$n") ++
        (5 to 10).map(n =>
          s"max(CASE WHEN n = $n THEN dup_mass END) AS dup$n"))
        .mkString(", ")
      val jCols = (Seq("n_line", "dup_line", "dupc_line", "n_para",
        "dup_para", "dupc_para").map(c => s"coalesce($c, 0) AS $c") ++
        (2 to 4).map(n => s"coalesce(top$n, 0) AS top$n") ++
        (5 to 10).map(n => s"coalesce(dup$n, 0) AS dup$n"))
        .mkString(", ")
      val charRules = Seq(
        ("dupc_line", repCharPct(0), "dup_line_char_frac"),
        ("dupc_para", repCharPct(1), "dup_para_char_frac"),
        ("top2", repCharPct(2), "top_2_gram"),
        ("top3", repCharPct(3), "top_3_gram"),
        ("top4", repCharPct(4), "top_4_gram"),
        ("dup5", repCharPct(5), "dup_5_gram"),
        ("dup6", repCharPct(6), "dup_6_gram"),
        ("dup7", repCharPct(7), "dup_7_gram"),
        ("dup8", repCharPct(8), "dup_8_gram"),
        ("dup9", repCharPct(9), "dup_9_gram"),
        ("dup10", repCharPct(10), "dup_10_gram")).map {
        case (m, p, tag) => s"WHEN $m * 100 > c_total * $p THEN '$tag'"
      }.mkString(" ")
      raw"""WITH t AS (SELECT doc_id, text,
         |    CAST(length(text) AS BIGINT) AS c_total,
         |    list_filter(string_split_regex(text, '\s+'),
         |      x -> len(x) > 0) AS tk
         |  FROM documents),
         |ln_ AS (SELECT doc_id, unnest(string_split(text, chr(10)))
         |    AS u FROM t),
         |la AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_line,
         |    CAST(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END)
         |      AS BIGINT) AS dup_line,
         |    CAST(sum(CASE WHEN cnt >= 2 THEN cnt * length(u)
         |      ELSE 0 END) AS BIGINT) AS dupc_line
         |  FROM (SELECT doc_id, u, count(*) AS cnt FROM ln_
         |    GROUP BY 1, 2) GROUP BY 1),
         |pn_ AS (SELECT doc_id,
         |    unnest(string_split(text, chr(10) || chr(10))) AS u FROM t),
         |pa AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_para,
         |    CAST(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END)
         |      AS BIGINT) AS dup_para,
         |    CAST(sum(CASE WHEN cnt >= 2 THEN cnt * length(u)
         |      ELSE 0 END) AS BIGINT) AS dupc_para
         |  FROM (SELECT doc_id, u, count(*) AS cnt FROM pn_
         |    GROUP BY 1, 2) GROUP BY 1),
         |gr AS (SELECT t.doc_id, rn.n,
         |    unnest(list_transform(
         |      range(1, greatest(len(tk) - rn.n + 1, 0) + 1),
         |      i -> array_to_string(tk[i:i+rn.n-1], ' '))) AS g
         |  FROM t, range(2, 11) rn(n)),
         |gm AS (SELECT doc_id, n,
         |    CAST(max(cnt * len) AS BIGINT) AS top_mass,
         |    CAST(sum(CASE WHEN cnt >= 2 THEN cnt * len
         |      ELSE 0 END) AS BIGINT) AS dup_mass
         |  FROM (SELECT doc_id, n, md5(g) AS gh, count(*) AS cnt,
         |    max(length(g)) AS len FROM gr
         |    GROUP BY 1, 2, 3) GROUP BY 1, 2),
         |gp AS (SELECT doc_id, $gpCols FROM gm GROUP BY 1),
         |j AS (SELECT t.doc_id, t.c_total, $jCols
         |  FROM t LEFT JOIN la USING (doc_id)
         |  LEFT JOIN pa USING (doc_id)
         |  LEFT JOIN gp USING (doc_id)),
         |r AS (SELECT *,
         |    CASE WHEN dup_line * 100 > n_line * 30 THEN 'dup_line_frac'
         |      WHEN dup_para * 100 > n_para * 30 THEN 'dup_para_frac'
         |      $charRules
         |      ELSE 'ok' END AS reason
         |  FROM j)
         |SELECT doc_id,
         |  ${ppm("dup_line", "n_line")} AS dup_line_ppm,
         |  ${ppm("dup_para", "n_para")} AS dup_para_ppm,
         |  ${ppm("dupc_line", "c_total")} AS dup_line_char_ppm,
         |  ${ppm("dupc_para", "c_total")} AS dup_para_char_ppm,
         |  ${ppm("top2", "c_total")} AS top2_ppm,
         |  ${ppm("top3", "c_total")} AS top3_ppm,
         |  ${ppm("top4", "c_total")} AS top4_ppm,
         |  ${ppm("dup5", "c_total")} AS dup5_ppm,
         |  ${ppm("dup6", "c_total")} AS dup6_ppm,
         |  ${ppm("dup7", "c_total")} AS dup7_ppm,
         |  ${ppm("dup8", "c_total")} AS dup8_ppm,
         |  ${ppm("dup9", "c_total")} AS dup9_ppm,
         |  ${ppm("dup10", "c_total")} AS dup10_ppm,
         |  reason, reason = 'ok' AS keep
         |FROM r ORDER BY doc_id""".stripMargin
    },
    "q74_decontaminate" ->
      s"""WITH ${OracleSql.benchShingles},
         |hits AS (SELECT c.doc_id, CAST(count(DISTINCT c.sh) AS BIGINT) AS n_hits
         |  FROM sh c JOIN bench b ON c.sh = b.sh
         |  WHERE c.doc_id >= 10 GROUP BY c.doc_id)
         |SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
         |  (COALESCE(h.n_hits, 0) > 0) AS contaminated
         |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
         |WHERE d.doc_id >= 10
         |ORDER BY d.doc_id""".stripMargin,
    "q120_prefix_join" ->
      raw"""WITH t AS (SELECT doc_id,
         |  list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS tk
         |  FROM documents),
         |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(
         |    range(1, greatest(len(tk) - 7, 0) + 1),
         |    i -> md5(array_to_string(tk[i:i+7], ' ')))) AS sh FROM t),
         |f AS (SELECT sh, count(*) AS f FROM sh GROUP BY sh),
         |r AS (SELECT s.doc_id, s.sh,
         |    count(*) OVER (PARTITION BY s.doc_id) AS n,
         |    row_number() OVER (PARTITION BY s.doc_id ORDER BY f.f, s.sh) AS rk
         |  FROM sh s JOIN f USING (sh)),
         |p AS (SELECT doc_id, sh, n FROM r WHERE rk <= n - (n + 1) // 2 + 1),
         |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM p a JOIN p b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |   AND 2 * b.n >= a.n AND 2 * a.n >= b.n),
         |th AS (SELECT doc_id,
         |    list_sort(list(('0x' || substr(sh, 1, 15))::BIGINT)) AS hs
         |  FROM sh GROUP BY doc_id),
         |pairs AS (SELECT d1, d2 FROM cand
         |  JOIN th x ON x.doc_id = d1 JOIN th y ON y.doc_id = d2
         |  WHERE 3 * len(list_intersect(x.hs, y.hs)) >= len(x.hs) + len(y.hs)),
         |deg AS (SELECT doc_id, count(*) AS n_sim, min(nb) AS min_nb FROM
         |  (SELECT d1 AS doc_id, d2 AS nb FROM pairs
         |   UNION ALL SELECT d2 AS doc_id, d1 AS nb FROM pairs)
         |  GROUP BY doc_id)
         |SELECT d.doc_id, COALESCE(deg.n_sim, 0) AS n_sim,
         |  COALESCE(deg.min_nb, -1) AS nearest
         |FROM documents d LEFT JOIN deg USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q99_bloom_filter" -> {
      def duckPositions(sh: String) = (0 until bloomK)
        .map(j => s"('0x' || substr($sh, ${j * 4 + 1}, 4))::BIGINT")
        .mkString("[", ", ", "]")
      s"""WITH ${OracleSql.benchShingles},
         |bits AS (SELECT DISTINCT unnest(${duckPositions("sh")}) AS bit FROM bench),
         |probe AS (SELECT DISTINCT doc_id, sh FROM sh WHERE doc_id >= 10),
         |pb AS (SELECT doc_id, sh, unnest(${duckPositions("sh")}) AS bit FROM probe),
         |ks AS (SELECT p.doc_id, p.sh,
         |  CAST(sum(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS k_hit
         |  FROM pb p LEFT JOIN bits b ON p.bit = b.bit GROUP BY 1, 2),
         |verdict AS (SELECT k.doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN k.k_hit = $bloomK THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
         |  CAST(sum(CASE WHEN be.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
         |  FROM ks k LEFT JOIN bench be ON k.sh = be.sh GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(v.n_shingles, 0) AS n_shingles,
         |  COALESCE(v.n_maybe, 0) AS n_maybe,
         |  COALESCE(v.n_exact, 0) AS n_exact,
         |  COALESCE(v.n_maybe, 0) - COALESCE(v.n_exact, 0) AS n_false_pos,
         |  (COALESCE(v.n_maybe, 0) > 0) AS flagged
         |FROM documents d LEFT JOIN verdict v ON d.doc_id = v.doc_id
         |WHERE d.doc_id >= 10
         |ORDER BY d.doc_id""".stripMargin
    },
    "q75_hash_split" ->
      s"""WITH v AS (SELECT lang,
         |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT lang,
         |    ${graft.functions.Hashing.duckMd5Bucket("doc_id", 100)} AS b
         |    FROM documents))
         |SELECT lang, split, count(*) AS n FROM v
         |GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,
    // identical integer weight table (milli-nat idf), identical final
    // IEEE expression tree — ×, /, sqrt, floor are correctly rounded in
    // both engines, so the ppm floor matches bit-for-bit
    "q205_tfidf_cosine" ->
      s"""WITH t AS (SELECT doc_id,
         |  unnest(list_filter($duckToks, x -> len(x) > 0)) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1
         |  HAVING count(*) <= $cosDfCut),
         |nd AS (SELECT count(*) AS nd FROM documents),
         |w AS (SELECT doc_id, tf.term,
         |    tf * CAST(round(ln(CAST(nd AS DOUBLE) / df) * 1000) AS BIGINT)
         |      AS w
         |  FROM tf JOIN df USING (term), nd),
         |nrm AS (SELECT doc_id, sum(w * w) AS n2 FROM w GROUP BY 1),
         |dt AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
         |    sum(a.w * b.w) AS dot, count(*) AS n_shared
         |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT d1, d2, n_shared,
         |  CAST(floor(CAST(dot AS DOUBLE) * 1000000.0
         |    / sqrt(CAST(x.n2 AS DOUBLE) * CAST(y.n2 AS DOUBLE))) AS BIGINT)
         |    AS cos_ppm
         |FROM dt JOIN nrm x ON x.doc_id = d1 JOIN nrm y ON y.doc_id = d2
         |ORDER BY cos_ppm DESC, d1, d2 LIMIT 20""".stripMargin,
    "q61_tfidf_top" ->
      s"""WITH terms AS (SELECT doc_id,
         |  unnest(list_filter($duckToks, t -> len(t) > 0)) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (SELECT doc_id, term, tf, df,
         |  round(tf * ln(CAST(n_docs AS DOUBLE) / df), 9) AS tfidf9,
         |  row_number() OVER (PARTITION BY doc_id
         |    ORDER BY round(tf * ln(CAST(n_docs AS DOUBLE) / df), 9) DESC, term) AS rn
         |  FROM tf JOIN dfq USING (term) CROSS JOIN n)
         |SELECT doc_id, CAST(rn AS INT) AS rn, term, tf, df,
         |  round(tfidf9, 4) AS tfidf
         |FROM scored WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,
    "q25_dedup_exact" ->
      """SELECT lang, CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
        | count(*) AS n_docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q26_text_stats" ->
      s"""SELECT doc_id, CAST(length(text) AS INT) AS len_chars,
         | CAST(len($duckToks) AS INT) AS n_tokens,
         | CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS INT) AS n_bpe_tokens,
         | CAST(len(list_filter($duckToks, t -> t IN ('the','a','and','of'))) AS DOUBLE)
         |   / len($duckToks) AS stop_ratio,
         | CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE)
         |   / length(text) AS punct_ratio
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q27_lang_profile" ->
      s"""SELECT lang, count(*) AS n_docs, avg(n_chars) AS avg_chars,
         | avg(len($duckToks)) AS avg_tokens
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q28_fingerprint" ->
      s"""SELECT doc_id, substr(md5(text), 1, 16) AS fp_md5,
         | md5(array_to_string($duckToks[1:5], ' ')) AS fp_shingle,
         | list_reduce([CAST(0 AS BIGINT)] || list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
         |             (acc, c) -> (acc * 31 + c) % 1000000007) AS fp_roll
         |FROM documents ORDER BY doc_id""".stripMargin,
    // identical micro-nat terms over the same (source, term) counts
    "q231_source_kl" ->
      s"""WITH st AS (SELECT source, term, count(*) AS cst FROM (
         |    SELECT source,
         |      unnest(list_filter($duckToks, x -> len(x) > 0)) AS term
         |    FROM documents) GROUP BY 1, 2),
         |corpus AS (SELECT term, CAST(sum(cst) AS BIGINT) AS ct
         |  FROM st GROUP BY 1),
         |ps AS (SELECT source, CAST(sum(cst) AS BIGINT) AS ns,
         |    count(*) AS vocab FROM st GROUP BY 1),
         |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS n FROM corpus),
         |terms AS (SELECT st.source, ps.ns, ps.vocab,
         |    cst * CAST(round(ln(CAST(cst AS DOUBLE) * n
         |      / (CAST(ns AS DOUBLE) * ct)) * 1000000) AS BIGINT) AS t
         |  FROM st JOIN corpus USING (term) JOIN ps USING (source), tot)
         |SELECT source, max(ns) AS n_tokens, max(vocab) AS vocab,
         |  CAST(CASE WHEN sum(t) >= 0 THEN sum(t) // max(ns)
         |    ELSE -((-sum(t)) // max(ns)) END AS BIGINT) AS kl_micro
         |FROM terms GROUP BY 1 ORDER BY source""".stripMargin,
    // the q208 fold chain (recursive CC + snake) joined to the q29
    // heuristic — fold math and labeler both shared with their queries
    "q229_cv_accuracy" -> {
      val k = Dedup.kFolds
      s"""WITH RECURSIVE ${OracleSql.dupClusterRanks},
         |fd AS (SELECT label, CAST(CASE WHEN ((rank - 1) // $k) % 2 = 0
         |    THEN (rank - 1) % $k
         |    ELSE ${k - 1} - (rank - 1) % $k
         |  END AS BIGINT) AS fold FROM rk),
         |lab AS (SELECT doc_id, lang,
         |    CASE WHEN len(list_filter($duckToks, t -> t IN ('the','a','and','of')))
         |           > len(list_filter($duckToks, t -> t IN ('el','la','de','que'))) THEN 'en'
         |         WHEN len(list_filter($duckToks, t -> t IN ('el','la','de','que')))
         |           > len(list_filter($duckToks, t -> t IN ('the','a','and','of'))) THEN 'es'
         |         ELSE 'und' END AS g
         |  FROM documents)
         |SELECT fd.fold, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN g = lang THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_correct,
         |  CAST(sum(CASE WHEN g = lang THEN 1 ELSE 0 END) AS BIGINT)
         |    * 1000000 // count(*) AS acc_ppm
         |FROM final JOIN fd USING (label) JOIN lab USING (doc_id)
         |GROUP BY 1 ORDER BY fold""".stripMargin
    },
    // q146's lift chain with the pair stream widened to distances 1..2
    "q230_skipgram_lift" ->
      s"""WITH tk AS (SELECT doc_id, t, pos FROM (
         |    SELECT doc_id,
         |      unnest(list_filter($duckToks, x -> len(x) > 0)) AS t,
         |      generate_subscripts(list_filter($duckToks,
         |        x -> len(x) > 0), 1) AS pos
         |    FROM documents)),
         |pr AS (SELECT a, b FROM (
         |    SELECT t AS a,
         |      lead(t, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS b
         |    FROM tk
         |  UNION ALL
         |    SELECT t AS a,
         |      lead(t, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS b
         |    FROM tk)
         |  WHERE b IS NOT NULL),
         |cab AS (SELECT a, b, count(*) AS c_ab FROM pr GROUP BY 1, 2
         |  HAVING count(*) >= 5),
         |un AS (SELECT t, count(*) AS c FROM tk GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM pr)
         |SELECT cab.a, cab.b, cab.c_ab,
         |  CAST((CAST(c_ab AS HUGEINT) * 1000000 * nn)
         |    // (CAST(ua.c AS HUGEINT) * ub.c) AS BIGINT) AS lift_ppm
         |FROM cab JOIN un ua ON cab.a = ua.t JOIN un ub ON cab.b = ub.t, n
         |ORDER BY lift_ppm DESC, a, b LIMIT 30""".stripMargin,
    // one global (cnt desc, term) rank at oracle scale; the Spark side
    // reproduces the identical rank and cumulative mass via the
    // two-phase count-group offsets
    "q219_vocab_coverage" ->
      s"""WITH freq AS (SELECT term, count(*) AS cnt FROM (
         |    SELECT unnest(list_filter($duckToks, x -> len(x) > 0)) AS term
         |    FROM documents) GROUP BY 1),
         |rk AS (SELECT cnt, row_number()
         |    OVER (ORDER BY cnt DESC, term) AS rank,
         |    sum(cnt) OVER (ORDER BY cnt DESC, term
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_mass
         |  FROM freq),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens,
         |    count(*) AS vocab_size FROM freq)
         |SELECT total_tokens, vocab_size,
         |  min(CASE WHEN cum_mass * 100 >= total_tokens * 50 THEN rank END)
         |    AS v50,
         |  min(CASE WHEN cum_mass * 100 >= total_tokens * 90 THEN rank END)
         |    AS v90,
         |  min(CASE WHEN cum_mass * 100 >= total_tokens * 95 THEN rank END)
         |    AS v95,
         |  min(CASE WHEN cum_mass * 100 >= total_tokens * 99 THEN rank END)
         |    AS v99
         |FROM rk, tot GROUP BY 1, 2""".stripMargin,
    // the identical distinct-length percentile table joined back
    "q216_length_bias" ->
      """WITH docs AS (SELECT source, n_chars FROM documents),
        |vc AS (SELECT n_chars, count(*) AS c FROM docs GROUP BY 1),
        |rk AS (SELECT n_chars, c,
        |    sum(c) OVER (ORDER BY n_chars
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM vc),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vc),
        |pct AS (SELECT n_chars,
        |    CAST(cum * 1000000 // n AS BIGINT) AS pct_ppm FROM rk, tot)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(pct_ppm) // count(*) AS BIGINT) AS mean_pct_ppm,
        |  min(pct_ppm) AS min_pct_ppm, max(pct_ppm) AS max_pct_ppm
        |FROM docs JOIN pct USING (n_chars)
        |GROUP BY 1 ORDER BY source""".stripMargin,
    // same confusion cells, same cross-multiplied kappa rational
    "q214_kappa_agreement" ->
      s"""WITH lab AS (SELECT lang AS a,
         |    CASE WHEN len(list_filter($duckToks, t -> t IN ('the','a','and','of')))
         |           > len(list_filter($duckToks, t -> t IN ('el','la','de','que'))) THEN 'en'
         |         WHEN len(list_filter($duckToks, t -> t IN ('el','la','de','que')))
         |           > len(list_filter($duckToks, t -> t IN ('the','a','and','of'))) THEN 'es'
         |         ELSE 'und' END AS b
         |  FROM documents),
         |cells AS (SELECT a, b, count(*) AS c FROM lab GROUP BY 1, 2),
         |ca AS (SELECT a, CAST(sum(c) AS BIGINT) AS ca FROM cells GROUP BY 1),
         |cb AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM cells GROUP BY 1),
         |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
         |agr AS (SELECT CAST(COALESCE(sum(c), 0) AS BIGINT) AS agree
         |  FROM cells WHERE a = b),
         |pe AS (SELECT CAST(COALESCE(sum(CAST(ca AS HUGEINT) * cb), 0)
         |    AS HUGEINT) AS penum
         |  FROM ca JOIN cb ON ca.a = cb.b)
         |SELECT n, agree,
         |  agree * 1000000 // n AS po_ppm,
         |  CAST(penum * 1000000 // (CAST(n AS HUGEINT) * n) AS BIGINT)
         |    AS pe_ppm,
         |  CAST(CASE
         |    WHEN CAST(n AS HUGEINT) * n - penum = 0 THEN 0
         |    WHEN CAST(n AS HUGEINT) * agree >= penum
         |    THEN (CAST(n AS HUGEINT) * agree - penum) * 1000000
         |         // (CAST(n AS HUGEINT) * n - penum)
         |    ELSE -((penum - CAST(n AS HUGEINT) * agree) * 1000000
         |         // (CAST(n AS HUGEINT) * n - penum))
         |    END AS BIGINT) AS kappa_ppm
         |FROM n, agr, pe""".stripMargin,
    "q29_lang_id" ->
      s"""SELECT doc_id,
         | CASE WHEN len(list_filter($duckToks, t -> t IN ('the','a','and','of')))
         |        > len(list_filter($duckToks, t -> t IN ('el','la','de','que'))) THEN 'en'
         |      WHEN len(list_filter($duckToks, t -> t IN ('el','la','de','que')))
         |        > len(list_filter($duckToks, t -> t IN ('the','a','and','of'))) THEN 'es'
         |      ELSE 'und' END AS lang_guess,
         | lang
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q30_jaccard_pairs" ->
      s"""WITH t AS (SELECT doc_id, lang, n_chars,
         |  list_distinct($duckToks) AS tokset FROM documents)
         |SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         |  CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
         |    / len(list_distinct(a.tokset || b.tokset)) AS jaccard
         |FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |  AND abs(a.n_chars - b.n_chars) <= 2
         |ORDER BY doc_id_1, doc_id_2""".stripMargin,
    "q65_simhash_neardup" ->
      s"""WITH sh AS (SELECT doc_id, CAST($duckSimhashBits AS INT) AS simhash FROM documents),
         |bands AS (SELECT doc_id, simhash, band, (simhash >> (band * 4)) & 15 AS nib
         |  FROM sh, (SELECT unnest([0, 1, 2, 3]) AS band)),
         |cand AS (SELECT DISTINCT a.doc_id AS d1, a.simhash AS s1,
         |    b.doc_id AS d2, b.simhash AS s2
         |  FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id)
         |SELECT d1 AS doc_id_1, d2 AS doc_id_2,
         |  CAST(bit_count(xor(s1, s2)) AS INT) AS hamming
         |FROM cand WHERE bit_count(xor(s1, s2)) <= 2
         |ORDER BY doc_id_1, doc_id_2""".stripMargin,
    "q38_simhash16" -> {
      s"SELECT doc_id, CAST($duckSimhashBits AS INT) AS simhash FROM documents ORDER BY doc_id"
    })
}
