package graft.operators

import graft.{OracleSql, Q, QueryModule}
import graft.functions.Exact._
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators a large-scale training-data pipeline runs
  * between ingestion and training — the slice of the mandate (SURVEY.md §7
  * M5) that curates WHAT goes into a training mix rather than finding
  * near-duplicates: PII redaction, per-source quota capping, token-budget
  * sequence packing, common-token quality scoring, n-gram repetition
  * scoring, deterministic stratified sampling, and fixed-size chunking.
  *
  * All of them are stateless projections, windows, or two-pass
  * (aggregate-then-join) plans over the `documents` table: no UDFs, no
  * driver-side loops, every shuffle keyed on a real partition key (lang /
  * source / term), so each holds its shape at 100 TB. Every query has a
  * DuckDB oracle.
  */
object Pipeline extends QueryModule {

  private def toks = filter(split(col("text"), "\\s+"), t => length(t) > 0)
  private val duckToks = raw"list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)"

  /** The fixture corpus is synthetic lowercase prose with no contact info,
    * so the redaction input appends a deterministic PII-ish tail (an email
    * and a phone-shaped number derived from the row) — the operator's
    * regexes then have real matches to count and mask. Both engines build
    * the identical string.
    */
  private def withPii = concat(col("text"),
    lit(" contact user"), col("doc_id"), lit("@mail.example or +1-555-"),
    col("n_chars"), lit(" now"))
  private val duckWithPii =
    "text || ' contact user' || doc_id || '@mail.example or +1-555-' || n_chars || ' now'"

  private val emailRe = "[a-zA-Z0-9._]+@[a-zA-Z0-9.]+"
  private val numRe = "[0-9]{3,}"

  /** q83 — PII redaction: mask emails then long digit runs, count what was
    * masked, fingerprint the redacted text. One codegen'd projection — the
    * shape of every regex-scrub pass (PII, boilerplate, markup): linear
    * scan, no shuffle, safe to run before anything else touches the bytes.
    */
  val piiRedact: Q = (s, d) => {
    val redacted = regexp_replace(
      regexp_replace(withPii, emailRe, "<EMAIL>"), numRe, "<NUM>")
    Tables.documents(s, d).select(
      col("doc_id"),
      size(regexp_extract_all(withPii, lit(emailRe), lit(0))).as("n_emails"),
      // digit-run count AFTER email masking — an address's digits must not
      // double-count
      size(regexp_extract_all(
        regexp_replace(withPii, emailRe, "<EMAIL>"), lit(numRe), lit(0))).as("n_nums"),
      md5(redacted).as("redacted_fp"),
      (length(withPii) - length(redacted)).cast("int").as("len_delta"))
      .orderBy("doc_id")
  }

  /** q84 — per-source quota cap: keep at most 5 documents per source (by
    * doc_id — deterministic, not "first seen"). The dominance cap every
    * web-scale mix applies so one crawl domain cannot swamp the corpus;
    * row_number + filter plans with the WindowGroupLimit pushdown, so each
    * source's excess rows are dropped before the final shuffle.
    */
  val sourceCap: Q = (s, d) => {
    val w = Window.partitionBy("source").orderBy("doc_id")
    Tables.documents(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("source"), col("doc_id"), col("rn").cast("int").as("rn"))
      .orderBy("source", "doc_id")
  }

  /** q85 — token-budget sequence packing: documents are packed into
    * 2048-token bins in doc_id order WITHIN each language (the
    * pack-per-shard discipline — a global packing order would serialize
    * the corpus through one sort; per-partition packing is what training
    * pipelines actually do). bin = (running total before this doc) / 2048,
    * from one cumulative-sum window: a document straddling a boundary
    * STAYS in the bin it starts in, so a bin may exceed the budget by at
    * most one document's tokens — exactly the overshoot the per-bin
    * occupancy output exists to audit (padding efficiency vs truncation).
    */
  val packBudget: Q = (s, d) => {
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), size(toks).cast("long").as("n_tok"))
      .withColumn("cum", sum("n_tok").over(w))
      .withColumn("bin", expr("(cum - n_tok) div 2048"))
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("bin_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("lang", "bin")
  }

  /** q86 — common-token ratio: the fraction of each document's tokens that
    * fall in the corpus's top-100 token list (by total frequency, term as
    * tiebreak). The integer-exact cousin of a unigram-LM quality score — a
    * low ratio flags gibberish exactly as high perplexity would, but every
    * number here is a count or an exact rational, so the cross-engine
    * compare is bit-stable. Two hash aggregates over the exploded token
    * stream + one broadcast join of the (fixed-size) top list: the same
    * plan at any corpus size.
    */
  val commonTokenRatio: Q = (s, d) => {
    val docs = Tables.fanOut(Tables.documents(s, d), "doc_id")
    val tokens = docs.select(col("doc_id"), explode(toks).as("term"))
    // TakeOrderedAndProject, not a global row_number window: a window with
    // no PARTITION BY funnels the whole vocabulary through one task
    val top = tokens.groupBy("term").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term")).limit(100)
      .select("term")
    val perDoc = tokens.join(broadcast(top), Seq("term"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_common"))
    docs.select(col("doc_id"), size(toks).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(coalesce(col("n_common"), lit(0L)).cast("double") / col("n_tokens"), 6)
          .as("common_ratio"))
      .orderBy("doc_id")
  }

  /** q87 — n-gram repetition score: how much of the document is repeated
    * word-trigrams (1 − distinct/total). The standard repetition filter
    * (templated/spam text scores high); trigram generation is the same
    * windowed-slice expression as q74's shingles, fully map-side.
    */
  val repetitionScore: Q = (s, d) => {
    val t = Tables.fanOut(Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), toks.as("tk"))
    val idx = when(size(col("tk")) >= 3, sequence(lit(1), size(col("tk")) - 2))
      .otherwise(array().cast("array<int>"))
    val grams = transform(idx, i => concat_ws(" ", slice(col("tk"), i, lit(3))))
    t.select(col("doc_id"),
        size(grams).as("n_trigrams"),
        size(array_distinct(grams)).as("n_distinct"))
      .select(col("doc_id"), col("n_trigrams"), col("n_distinct"),
        when(col("n_trigrams") > 0,
          round(lit(1.0) - col("n_distinct").cast("double") / col("n_trigrams"), 6))
          .otherwise(lit(0.0)).as("rep_ratio"))
      .orderBy("doc_id")
  }

  /** q88 — z-score outlier audit over order totals per priority: mean and
    * variance from EXACT decimal sums (Σx, Σx² — one pass, map-side
    * combinable), then per-row standardization against the broadcast
    * per-group stats. Two-pass outlier flagging is the scale shape: no
    * window over the whole fact table, just one aggregate + one broadcast
    * join. Output aggregates the flags, so the result is small and exact.
    */
  val zscoreOutliers: Q = (s, d) => {
    val o = Tables.orders(s, d)
      .select(col("o_orderpriority").as("prio"), dec2(col("o_totalprice")).as("x"))
    val stats = o.groupBy("prio").agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"),
      sum(col("x") * col("x")).as("sxx"))
    // identical double formula in both engines over identical decimal sums
    val mean = col("sx").cast("double") / col("n")
    val variance = (col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double") / col("n")) / (col("n") - 1)
    val z = (col("x").cast("double") - mean) / sqrt(variance)
    o.join(broadcast(stats), "prio")
      .select(col("prio"), round(z, 4).as("z"))
      .groupBy("prio")
      .agg(count(lit(1)).as("n"),
        sum(when(abs(col("z")) > 2, 1L).otherwise(0L)).as("n_outliers"),
        min("z").as("min_z"), max("z").as("max_z"))
      .orderBy("prio")
  }

  /** q89 — deterministic stratified downsample: an exact 10% hash slice
    * WITHIN each language (the md5 bucket reused from q75's split). The
    * audit output (per-lang before/after counts) is how a mix designer
    * verifies the sample preserved strata — and the hash gate makes the
    * sample reproducible under any repartitioning, which seeded `sample()`
    * is not.
    */
  val stratifiedSample: Q = (s, d) => {
    val bucket = graft.functions.Hashing.md5Bucket(col("doc_id"), 10)
    Tables.documents(s, d)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(bucket === 0, 1L).otherwise(0L)).as("n_kept"))
      .orderBy("lang")
  }

  private val mixBudget = 200L

  /** q103 — temperature-rebalanced language mix (α = 0.5): per-language
    * quotas ∝ count^α, the standard upsampling of low-resource languages
    * in a pretraining mix (α = 1 is proportional, α = 0 uniform). The
    * budget splits by INTEGER arithmetic end to end — weights are
    * floor(sqrt(count)) (IEEE sqrt of a bigint is correctly rounded in
    * both engines, and the nearest integer is never within an ulp, so the
    * floor is engine-exact), the quota is a bigint multiply + integer
    * division — because a double Σ√c would be partial-aggregation-order
    * dependent and could flip a floor at the boundary. Selection within
    * each language is the md5 rank order (reproducible under any
    * repartitioning, like q75/q89): one rank window per language, one
    * broadcast quota join, one filter. Output audits the realized mix:
    * per-lang quota, sampled count, and an id checksum that pins WHICH
    * documents were taken, not just how many.
    */
  val temperatureMix: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val weights = docs.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("wgt", floor(sqrt(col("n_docs").cast("double"))).cast("long"))
    val total = weights.agg(sum("wgt").as("total_wgt"))
    val quotas = weights.crossJoin(broadcast(total))
      .withColumn("quota",
        least(col("n_docs"), expr(s"($mixBudget * wgt) div total_wgt")))
      .select("lang", "n_docs", "quota")
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs.select(col("lang"), col("doc_id"))
      .withColumn("rk", row_number().over(w))
      .join(broadcast(quotas), Seq("lang"))
      .filter(col("rk") <= col("quota"))
      .groupBy("lang")
      .agg(max(col("n_docs")).as("n_docs"), max(col("quota")).as("quota"),
        count(lit(1)).as("n_sampled"), sum("doc_id").as("id_checksum"))
      .orderBy("lang")
  }

  /** q90 — fixed-size chunking: every document split into 500-char chunks
    * (context-window preparation). posexplode of a computed chunk index —
    * purely map-side, output linear in total characters; each chunk
    * carries its md5 so a downstream exact-dedup can run per-chunk.
    */
  val chunk500: Q = (s, d) => {
    val nChunks = expr("(n_chars + 499) div 500")
    // guard: sequence(0, n-1) for n = 0 DESCENDS to [0, -1] (default step
    // -1 when start > stop) — an empty document must yield zero chunks,
    // matching the oracle's empty range(0, 0)
    val idx = when(nChunks > 0, sequence(lit(0L), nChunks - 1))
      .otherwise(array().cast("array<bigint>"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), explode(idx).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        length(expr("substring(text, cast(chunk_idx * 500 + 1 as int), 500)"))
          .as("chunk_len"),
        md5(expr("substring(text, cast(chunk_idx * 500 + 1 as int), 500)"))
          .as("chunk_fp"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** q91 — latest record per key: each (user_id, event_type)'s most recent
    * event — CDC/log compaction as a query (the read-side of every
    * upsert-log table format). row_number over (key, ts DESC) + filter
    * plans with the WindowGroupLimit pushdown, so per-key history is
    * pruned before the final shuffle; ties on ts break by event_id for a
    * deterministic winner on both engines.
    */
  val latestPerKey: Q = (s, d) => {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts").as("latest_ts"), col("value"))
      .orderBy("user_id", "event_type")
  }

  /** q92 — data-quality audit (the Deequ-style constraint gate a pipeline
    * runs before accepting a batch): null checks, key uniqueness, a value
    * range, a domain check, and referential integrity of orders→customer —
    * each constraint one aggregate or anti-join, unioned into a
    * (constraint, violations, pass) report. Scale shape: every check is a
    * scan-local aggregate or a broadcast/shuffle anti-join keyed on the
    * constraint's column; nothing is row-expanded.
    */
  val dqAudit: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val checks = Seq(
      ("orderkey_not_null", o.filter(col("o_orderkey").isNull)),
      ("orderkey_unique", o.groupBy("o_orderkey").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1)),
      ("totalprice_positive", o.filter(col("o_totalprice") <= 0)),
      ("status_in_domain", o.filter(!col("o_orderstatus").isin("F", "O", "P"))),
      ("custkey_in_customer", o.join(Tables.customer(s, d),
        o("o_custkey") === col("c_custkey"), "left_anti")))
    checks.map { case (name, viol) =>
      viol.agg(count(lit(1)).as("violations"))
        .select(lit(name).as("rule"), col("violations"),
          (col("violations") === 0).as("pass"))
    }.reduce(_.unionByName(_)).orderBy("rule")
  }

  private val negK = 3
  private val negOversample = 8

  /** q127 — deterministic NEGATIVE SAMPLING: for every customer, [[negK]]
    * parts they never ordered — the contrastive-pair generation step of
    * every recommender / embedding / retrieval training set. Candidates
    * come from a hash, not an RNG (md5 of customer:i, mod the broadcast
    * max part key — reproducible under any repartitioning, the same
    * discipline as q75/q89), oversampled ×[[negOversample]] then
    * anti-joined against the positive set and ranked by draw index, so a
    * candidate that collides with a true positive is skipped
    * deterministically. Scale shape: candidates are customers×8 rows
    * (linear), the anti join is one hash shuffle on (customer, part), and
    * the per-customer rank window holds ≤ 8 rows — nothing quadratic,
    * no rejection loop. Output audits per customer: positive count,
    * negatives kept, and the id checksum pinning WHICH negatives.
    */
  val negativeSampling: Q = (s, d) => {
    val pos = Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      .distinct()
    val mp = Tables.part(s, d).agg(max("p_partkey").as("mp"))
    val cand = Tables.customer(s, d).select(col("c_custkey").as("cust"))
      .crossJoin(broadcast(mp))
      .select(col("cust"), col("mp"),
        explode(sequence(lit(0), lit(negOversample - 1))).as("i"))
      .withColumn("part", pmod(
        conv(substring(md5(concat(col("cust").cast("string"), lit(":"),
          col("i").cast("string"))), 1, 8), 16, 10).cast("long"),
        col("mp")) + 1)
      // two draws can land on the same part — keep the earliest draw so
      // the final rank order is draw order, exactly once per candidate
      .groupBy("cust", "part").agg(min("i").as("i"))
    val w = Window.partitionBy("cust").orderBy("i")
    val neg = cand.join(pos, Seq("cust", "part"), "left_anti")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= negK)
    val posCounts = pos.groupBy("cust").agg(count(lit(1)).as("n_pos"))
    neg.groupBy("cust")
      .agg(count(lit(1)).as("n_neg"), sum("part").as("neg_checksum"))
      .join(posCounts, Seq("cust"), "left")
      .select(col("cust"), coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        col("n_neg"), col("neg_checksum"))
      .orderBy("cust")
  }

  /** q128 — PREFERENCE-PAIR construction (DPO/RLHF-style chosen/rejected
    * pairing): within each language, documents rank by a deterministic
    * quality proxy (distinct-token count — integer-exact, doc_id
    * tiebreak) and rank r pairs with rank r + n/2: top half chosen,
    * bottom half rejected, monotone alignment so every pair's margin is
    * non-negative BY CONSTRUCTION (the spec pins it). One window per
    * language + one self-join on the computed rank key — the pairing
    * never compares documents pairwise, so it stays O(n log n) per
    * shard where a quality-delta-threshold pairing would be O(n²).
    */
  val preferencePairs: Q = (s, d) => {
    val scored = Tables.documents(s, d).select(col("lang"), col("doc_id"),
      size(array_distinct(toks)).cast("long").as("score"))
    val w = Window.partitionBy("lang").orderBy(col("score").desc, col("doc_id"))
    val wn = Window.partitionBy("lang")
    val ranked = scored
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
      .withColumn("half", expr("n div 2"))
    val top = ranked.filter(col("rk") <= col("half"))
      .select(col("lang"), col("rk").as("pair_rank"),
        col("doc_id").as("chosen_id"), col("score").as("chosen_score"))
    val bottom = ranked
      .select(col("lang"), (col("rk") - col("half")).as("pair_rank"),
        col("doc_id").as("rejected_id"), col("score").as("rejected_score"))
      .filter(col("pair_rank") >= 1)
    top.join(bottom, Seq("lang", "pair_rank"))
      .select(col("lang"), col("pair_rank").cast("int").as("pair_rank"),
        col("chosen_id"), col("rejected_id"),
        col("chosen_score"), col("rejected_score"),
        (col("chosen_score") - col("rejected_score")).as("margin"))
      .orderBy("lang", "pair_rank")
  }

  /** q143 — WEIGHTED sampling without replacement by ticket lottery: each
    * document holds w integer "tickets" (w = 1 + n_chars div 128, a
    * quality-ish weight in 1..5 — positive, so Spark div ≡ DuckDB //),
    * each ticket's key is a fixed-width md5 slice of (salt, doc_id, i),
    * and the sample is the 64 documents with the LEAST per-document
    * minimum ticket. More tickets → stochastically smaller minimum →
    * selection probability rising with weight, the integer-exact cousin
    * of Efraimidis–Spirakis u^(1/w) keys (whose pow/ln would not compare
    * bit-stably across engines). The per-doc minimum is `array_min` over
    * a generated in-row array — NO explode, NO shuffle — and the global
    * cut is orderBy+limit, which plans as TakeOrderedAndProject: each
    * partition forwards its top 64, the driver merges P·64 rows. Changing
    * the salt redraws the whole sample (PropertySpec uses that to verify
    * the weighting law statistically); the fixed default keeps the oracle
    * deterministic.
    */
  private[graft] def weightedSampleRun(s: org.apache.spark.sql.SparkSession,
      d: String, salt: String): org.apache.spark.sql.DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"), expr("1 + n_chars div 128").as("weight"))
      .withColumn("ticket", array_min(transform(
        sequence(lit(1), col("weight").cast("int")),
        i => substring(md5(concat_ws(":", lit(salt), col("doc_id"), i)), 1, 16))))
      .orderBy("ticket", "doc_id")
      .limit(64)
  }

  val weightedSample: Q = (s, d) => weightedSampleRun(s, d, "g")

  /** Shard count for q172. */
  private val nShards = 8

  /** q172 — BALANCED SHARD ASSIGNMENT by snake packing: order documents
    * by token mass (heaviest first), deal rank r to shard
    * boustrophedon-style (block of 8 forward, next block backward), and
    * publish the per-shard manifest — the data-loader prep step that
    * keeps every training shard the same token weight, where naive
    * `doc_id % 8` leaves shards lopsided and a greedy bin-packer isn't
    * deterministic under distribution. Snake over a descending sort
    * bounds shard spread by ONE document's mass per block pair.
    *
    * Scale shape — the global rank WITHOUT a single-partition window
    * (the q16/q57 anti-pattern): phase 1 aggregates per-token-count
    * frequencies (domain-bounded, like q160's value histogram) and
    * turns them into per-value rank OFFSETS with a window over the
    * distinct-value frame only; phase 2 ranks WITHIN each token-count
    * (window partitioned by n_tok — parallel, skew bounded by ties)
    * and adds the broadcast offset. rank = offset + within-rank
    * reproduces row_number() over (n_tok DESC, doc_id) exactly — the
    * two-phase distributed ranking every sort-based shard writer uses.
    */
  val shardBalance: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.fanOut(Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), size(toks).as("n_tok"))
    val offs = docs.groupBy("n_tok").agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(
        sum("c").over(Window.orderBy(col("n_tok").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("n_tok", "off")
    val w = Window.partitionBy("n_tok").orderBy("doc_id")
    docs.withColumn("rn", row_number().over(w))
      .join(broadcast(offs), "n_tok")
      .withColumn("rank", col("off") + col("rn"))
      .withColumn("shard", expr(
        s"""CAST(CASE WHEN ((rank - 1) div $nShards) % 2 = 0
           |  THEN (rank - 1) % $nShards
           |  ELSE ${nShards - 1} - (rank - 1) % $nShards
           |END AS BIGINT)""".stripMargin))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tokens"))
      .orderBy("shard")
  }

  /** q293 selection budget and stage count — the training-subset size
    * and the number of curriculum epochs (= difficulty tertiles). */
  private[graft] val curriculumBudget = 300L
  private[graft] val curriculumEpochs = 3

  /** q293 — CURRICULUM SCHEDULE COMPOSER: the deterministic
    * difficulty-ramped epoch schedule that turns a curated corpus into a
    * training run (Bengio et al. 2009's curriculum regime) — the last
    * unclaimed step between the corpus ops and a trainer. Composes the
    * library against itself: difficulty is q185's unigram cross-entropy
    * in exact micro-nats; the training subset is a q103-style
    * temperature mix (α = 0.5, floor-sqrt integer weights) with quotas
    * on the SOURCE axis; the selected set cuts into
    * [[curriculumEpochs]] global difficulty tertiles (ntile — both
    * engines deal floor(n/k)+extras from the front), and epoch e trains
    * on tiers 1..e — the EXPANDING-WINDOW ramp, so each epoch's
    * difficulty ceiling is monotone by construction; within an epoch the
    * order is q207's salted-md5 rank (a different deterministic
    * permutation each epoch, no RNG).
    *
    * Scale: corpus-sized work is exactly q185's scoring pass (linear,
    * map-side combinable); every window after selection runs on the
    * BUDGET-bounded subset (the trainer's sample, hundreds–thousands of
    * rows by construction — a corpus-scale budget would swap in q207's
    * two-phase distributed rank at the seam). Output: one row per
    * (epoch, source) — docs scheduled, the source's quota, exact ce
    * stats, and q207's order-sensitive checksum pinning WHICH docs run
    * in WHAT order. The spec pins the two laws: the per-epoch max
    * difficulty ramps monotonically, and every source's epoch-3 count
    * equals its quota exactly (conservation).
    */
  /** The (doc_id, source, ce_micro) difficulty table — q185's scoring
    * pass memoized per input dir and shared by q293 (three
    * consumers: weights, quotas, selection — PlanSpec caught 3 copies of
    * the corpus-sized scoring subtree before staging, the q286 lesson)
    * and q296 (domain losses). */
  private val ceScoredCache = new graft.Scratch.PerDir[String]

  private def ceScoredDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    ceScoredCache(d) {
      val docs = Tables.fanOut(Tables.documents(s, d), "doc_id")
      val terms = docs.select(col("doc_id"), explode(toks).as("term"))
      graft.Scratch.write("graft_ce_scored",
        docs.select("doc_id", "source").join(Text.docSurprisal(terms), Seq("doc_id"))
          .select(col("doc_id"), col("source"),
            expr("sum_mu div n_tokens").as("ce_micro")))
    }

  val curriculum: Q = (s, d) => {
    val scored = graft.Scratch.read(s, ceScoredDir(s, d))
    val weights = scored.groupBy("source").agg(count(lit(1)).as("n_src"))
      .withColumn("wgt",
        floor(sqrt(col("n_src").cast("double"))).cast("long"))
    val totW = weights.agg(sum("wgt").as("total_wgt"))
    val quotas = weights.crossJoin(broadcast(totW))
      .withColumn("quota", least(col("n_src"),
        expr(s"($curriculumBudget * wgt) div total_wgt")))
      .select("source", "quota")
    val wSel = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val sel = scored.withColumn("srk", row_number().over(wSel))
      .join(broadcast(quotas), Seq("source"))
      .filter(col("srk") <= col("quota"))
      .select("doc_id", "source", "ce_micro", "quota")
    val tiered = sel.withColumn("tier",
      ntile(curriculumEpochs).over(
        Window.orderBy(col("ce_micro"), col("doc_id"))))
    val epochs = s.range(1, curriculumEpochs + 1)
      .select(col("id").cast("int").as("epoch"))
    val sched = tiered.crossJoin(broadcast(epochs))
      .filter(col("tier") <= col("epoch"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("epoch")
          .orderBy(md5(concat_ws(":", col("epoch"), col("doc_id"))),
            col("doc_id"))))
    sched.groupBy("epoch", "source")
      .agg(count(lit(1)).as("n_docs"), max("quota").as("quota"),
        min("ce_micro").as("min_ce"), max("ce_micro").as("max_ce"),
        expr("sum(ce_micro) div count(1)").as("avg_ce_micro"),
        expr("""CAST(sum(CAST(rk AS DECIMAL(38,0)) * doc_id)
                % 2305843009213693951 AS BIGINT)""").as("order_checksum"))
      .orderBy("epoch", "source")
  }

  /** q296 rounds and learning rate: 5 multiplicative-weights rounds;
    * per-round multiplier = 1e6 + excess_micro/10 ppm (η = 0.1 per
    * micro-nat of excess loss). */
  private[graft] val reweightRounds = 5

  /** q296 — DOMAIN REWEIGHTING for the training mix (the DoReMi regime,
    * Xie et al. 2023, with the LINEARIZED multiplicative-weights update
    * of the Arora–Hazan–Kale MW framework instead of the exponentiated
    * gradient — stated openly: (1 + η·excess) keeps every round in
    * exact integer arithmetic where exp() would gamble on libm ulp
    * parity): domains whose mean loss exceeds the corpus baseline gain
    * weight round over round, domains at or below it decay relatively —
    * the reference-free reweighting that up-trains hard domains. Losses
    * are q185's unigram cross-entropy per source (the proxy-model seam:
    * a real pipeline swaps in per-domain model losses, the algebra is
    * unchanged), read from the SESSION-STAGED ce leaf shared with q293.
    *
    * Exactness ledger: excess = max(0, loss − baseline) in micro-nats;
    * multiplier = 1e6 + excess/10 ppm; raw weights start at 1e6 and
    * floor-divide by 1e6 each round (deterministic, mirrored in the
    * oracle); normalized weights are (w·1e6) div Σw with the remainder
    * assigned to the first sources in name order — so every round's
    * weight column sums to EXACTLY 1e6 ppm (the q292 closed-ledger
    * discipline). Everything after the staged scoring read is
    * source-count-sized (dozens of rows at 100 TB); the spec pins the
    * conservation law, the max-excess domain's monotone rise, and
    * zero-excess domains' monotone decay.
    */
  val domainReweight: Q = (s, d) => {
    val scored = graft.Scratch.read(s, ceScoredDir(s, d))
    val loss = scored.groupBy("source").agg(count(lit(1)).as("n_docs"),
      expr("sum(ce_micro) div count(1)").as("loss_micro"))
    val base = scored.agg(expr("sum(ce_micro) div count(1)")
      .as("base_micro"))
    val m = loss.crossJoin(broadcast(base))
      .withColumn("excess_micro",
        greatest(col("loss_micro") - col("base_micro"), lit(0L)))
      .withColumn("mult_ppm", lit(1000000L) + expr("excess_micro div 10"))
      .select("source", "n_docs", "loss_micro", "excess_micro", "mult_ppm")
    val rounds = (1 to reweightRounds).scanLeft(
      m.withColumn("w_raw", lit(1000000L))) { (prev, _) =>
      prev.withColumn("w_raw", expr("w_raw * mult_ppm div 1000000"))
    }.zipWithIndex.drop(1)
    rounds.map { case (w, r) =>
      val withTot = w
        .crossJoin(broadcast(w.agg(sum("w_raw").as("tw"))))
        .withColumn("floor_ppm", expr("w_raw * 1000000 div tw"))
      val rem = withTot.agg((lit(1000000L) - sum("floor_ppm")).as("rem"))
      withTot
        .withColumn("rk", row_number().over(Window.orderBy("source")))
        .crossJoin(broadcast(rem))
        .select(lit(r).as("round"), col("source"), col("n_docs"),
          col("loss_micro"), col("excess_micro"), col("mult_ppm"),
          (col("floor_ppm") +
            when(col("rk") <= col("rem"), 1L).otherwise(0L))
            .as("weight_ppm"))
    }.reduce(_.unionByName(_))
      .orderBy("round", "source")
  }

  /** q310 hashed-feature space: 4096 md5 buckets — fixed-size by
    * construction, so BOTH bucket LMs are ≤4096-row tables at any
    * corpus scale (the whole point of DSIR's hashing step). */
  private[graft] val dsirBuckets = 4096

  /** q310 — DSIR IMPORTANCE WEIGHTS (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling" — the companion to
    * q296's DoReMi: DoReMi reweights DOMAINS, DSIR scores individual
    * DOCUMENTS): estimate a target-distribution LM and a raw-pool LM
    * over hashed unigram buckets, and weight each document by
    * Σ_tokens [ln p̂_target(bucket) − ln p̂_raw(bucket)] — positive
    * means "more target-like than the pool average", the resampling
    * key for building a target-flavored training subset. Target here:
    * the `lang = 'en'` slice (language-targeted selection, DSIR's own
    * headline use); raw: the whole corpus.
    *
    * Scale shape: ONE tokenize+hash pass to (doc, bucket) counts,
    * STAGED to a scratch leaf so the raw LM, target LM, and scoring
    * branches read it rather than re-tokenizing (q307's staging
    * lesson); the raw bucket LM re-aggregates that leaf (q170's
    * c2-from-c3 move — never a second corpus pass) and both LMs are
    * ≤[[dsirBuckets]]-row tables BROADCAST to the scoring join, so
    * scoring is map-side; the
    * output is the per-source rollup (source-count-sized). Selection is
    * the w > 0 filter — a pure predicate, no global rank (the
    * resampling-threshold variant; a top-K build would swap in q207's
    * two-phase rank). Exactness: the add-1 smoothed log ratio
    * ln((ct+1)(Nr+B) / ((cr+1)(Nt+B))) is evaluated once per BUCKET in
    * double and rounded to integer µnats (q94's discipline — operands
    * enter the double domain as exactly-converted integers), per-doc
    * sums are BIGINT, per-source sums ride DECIMAL(38,0), and the mean
    * is the sign-safe toward-zero div.
    */
  val dsirWeights: Q = (s, d) => {
    // stage the (doc, bucket) counts ONCE: the raw LM, the target LM,
    // and the scoring join are three plan branches — against the raw
    // frame Spark would re-run the corpus tokenize per branch (the
    // q307 staging lesson)
    val db = graft.Scratch.stage("graft_dsir",
      Tables.fanOut(Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), col("source"), col("lang"),
          explode(toks).as("term"))
        .select(col("doc_id"), col("source"), col("lang"),
          graft.functions.Hashing.md5Bucket(col("term"), dsirBuckets).as("b"))
        .groupBy("doc_id", "source", "lang", "b")
        .agg(count(lit(1)).as("cnt")))
    val raw = db.groupBy("b").agg(sum("cnt").as("cr"))
    val tgt = db.filter(col("lang") === "en")
      .groupBy("b").agg(sum("cnt").as("ct"))
    val lam = raw.join(tgt, Seq("b"), "left")
      .select(col("b"), col("cr"), coalesce(col("ct"), lit(0L)).as("ct"))
      .crossJoin(broadcast(raw.agg(sum("cr").as("nr"))))
      .crossJoin(broadcast(tgt.agg(sum("ct").as("nt"))))
      .select(col("b"), expr(
        s"""CAST(round(ln((CAST(ct + 1 AS DOUBLE) * (nr + $dsirBuckets))
           / (CAST(cr + 1 AS DOUBLE) * (nt + $dsirBuckets))) * 1000000)
           AS BIGINT)""").as("lam"))
    db.join(broadcast(lam), "b")
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("cnt") * col("lam")).as("w"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("w") > 0, 1L).otherwise(0L)).as("n_selected"),
        sum(expr("CAST(w AS DECIMAL(38,0))")).as("sw"))
      .select(col("source"), col("n_docs"), col("n_selected"),
        expr("(n_selected * 1000000) div n_docs").as("sel_ppm"),
        expr("""CAST(CASE WHEN sw >= 0 THEN sw div n_docs
                ELSE -((-sw) div n_docs) END AS BIGINT)""")
          .as("mean_w_micro"))
      .orderBy("source")
  }

  /** Epoch count for the q207 training-order generator. */
  private val shuffleEpochs = 3

  /** q207 — deterministic EPOCH SHUFFLE order: the per-epoch permutation a
    * training loop consumes — epoch e's order is the global rank of
    * md5(e:doc_id), so every re-run (and every worker) derives the
    * IDENTICAL order with no RNG, no seed plumbing, and a different
    * permutation each epoch (the salt is the epoch number — q143's ticket
    * discipline applied to ordering). The global rank is two-phase
    * (q172's distributed-ranking shape, never a single-partition window):
    * 256 hash-prefix buckets give per-(epoch, bucket) offsets from a
    * 768-row window, within-bucket ranks come from a partitioned
    * row_number, and bucket-prefix order is consistent with full-hash
    * order because fixed-width lowercase hex sorts identically as text
    * and as its numeric value. Output one audit row per epoch: count, an
    * order-SENSITIVE checksum (Σ rank·doc_id mod 2⁶¹−1 — any swap of two
    * docs changes it), and the first three doc ids of the epoch's order.
    */
  val epochShuffle: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.fanOut(Tables.documents(s, d), "doc_id").select("doc_id")
    val epochs = s.range(0, shuffleEpochs).select(col("id").cast("int").as("epoch"))
    val keyed = docs.crossJoin(broadcast(epochs))
      .select(col("epoch"), col("doc_id"),
        md5(concat_ws(":", col("epoch"), col("doc_id"))).as("h"))
      .withColumn("b", conv(substring(col("h"), 1, 2), 16, 10).cast("int"))
    val offs = keyed.groupBy("epoch", "b").agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(
        sum("c").over(Window.partitionBy("epoch").orderBy("b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("epoch", "b", "off")
    keyed
      .withColumn("rn", row_number().over(
        Window.partitionBy("epoch", "b").orderBy("h", "doc_id")))
      .join(broadcast(offs), Seq("epoch", "b"))
      .select(col("epoch"), col("doc_id"), (col("off") + col("rn")).as("rk"))
      .groupBy("epoch").agg(
        count(lit(1)).as("n"),
        expr("""CAST(sum(CAST(rk AS DECIMAL(38,0)) * doc_id)
                % 2305843009213693951 AS BIGINT)""").as("order_checksum"),
        min(when(col("rk") === 1, col("doc_id"))).as("first_doc"),
        min(when(col("rk") === 2, col("doc_id"))).as("second_doc"),
        min(when(col("rk") === 3, col("doc_id"))).as("third_doc"))
      .orderBy("epoch")
  }

  /** q186 — DATASET CARD per source: the one-table summary a training-data
    * release ships — doc count, token mass, distinct vocabulary, exact-dup
    * surplus (docs removable by md5-exact dedup), mean length, and the
    * language-mix entropy. Five independent per-source reductions joined
    * on the 5-row source key: docs/chars/lang-counts are ONE scan of the
    * metadata columns, tokens+vocab one scan of the exploded stream, dup
    * surplus one digest-keyed aggregate — every stage map-side combines
    * to source-bounded (or vocabulary-bounded) frames, so the card costs
    * ~two corpus reads at 100 TB and shuffles almost nothing.
    *
    * Determinism: counts and `div` means are exact integers; the entropy
    * is the only transcendental and is micro-integerized PER LANGUAGE TERM
    * before the (integer) sum — the q94 discipline, immune to both float
    * summation order and engine ln differences at the output precision.
    */
  val datasetCard: Q = (s, d) => {
    val docs = Tables.fanOut(Tables.documents(s, d), "doc_id")
    val meta = docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum("n_chars").as("sum_chars"))
    val toks = docs.select(col("source"),
        explode(filter(split(col("text"), "\\s+"), t => length(t) > 0))
          .as("term"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"), countDistinct("term").as("vocab"))
    val dup = docs.groupBy(col("source"), md5(col("text")).as("dg"))
      .agg(count(lit(1)).as("c"))
      .groupBy("source").agg(sum(col("c") - 1).as("dup_extra"))
    val langEnt = docs.groupBy("source", "lang").agg(count(lit(1)).as("nl"))
      .withColumn("n", sum("nl").over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")))
      .groupBy("source").agg(sum(
        round(-(col("nl").cast("double") / col("n").cast("double"))
          * log(col("nl").cast("double") / col("n").cast("double")) * 1e6)
          .cast("long")).as("lang_entropy_micro"))
    meta.join(toks, "source").join(dup, "source").join(langEnt, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("vocab"),
        col("dup_extra"),
        expr("dup_extra * 1000000 div n_docs").as("dup_ppm"),
        expr("sum_chars * 100 div n_docs").as("mean_chars_x100"),
        col("lang_entropy_micro"))
      .orderBy("source")
  }

  /** q234 — END-TO-END pipeline COMPOSITION: every stage of the LLM
    * training-data pipeline exists here as an independent oracled query;
    * this is the integration receipt that they COMPOSE — share staged
    * artifacts, agree on keys — rather than merely coexist. One dataflow
    * over `documents`:
    *
    *   quality filter (q73's C4 rules — first, it discards the most
    *   bytes for the least work) → exact dedup (q25's md5 canonical,
    *   min doc_id per digest wins) → near dedup (cluster-canonical over
    *   the SAME staged CC label table q59/q123/q198/q208 share — the
    *   integration point is the artifact, not a recomputation) →
    *   decontaminate (q74's 8-token shingle join against the doc_id<10
    *   benchmark; the benchmark docs themselves drop here) → temperature
    *   mix (q103's integer √-quota per language, md5 rank selection) →
    *   pack (q85's 2048-token bins per language) → leakage-safe split
    *   (q123's md5 bucket on the CLUSTER label, so near-dups of a kept
    *   canonical can never straddle splits).
    *
    * Stage verdicts are monotone booleans on ONE per-document frame
    * (each stage's flag conjoins the previous), staged to parquet once
    * so the three consumers (audit aggregate, pack, split) read a leaf
    * instead of re-running the chain. Output is the per-stage audit —
    * (stage, n_units, n_tokens, id_checksum): doc counts, surviving
    * token mass, and an id checksum pinning WHICH documents survived —
    * plus one pack row (n_units = bins, checksum = Σ first_doc) and one
    * row per realized split. O(stages + splits) rows at any corpus
    * size; every stage is the already-audited plan shape of its
    * standalone query, so the composition adds joins, not new scans of
    * unbounded intermediates.
    */
  val pipelineE2e: Q = (s, d) => {
    val qualityStop = Seq("the", "a", "and", "of", "el", "la", "de", "que")
    val docs = Tables.documents(s, d)
    // q73's rules verbatim: UNFILTERED whitespace split (empty tokens
    // count) for the token floor and stopword ratio
    val rawToks = split(col("text"), "\\s+")
    val punct = size(regexp_extract_all(col("text"), lit("[^a-zA-Z0-9\\s]"), lit(0)))
      .cast("double") / length(col("text"))
    val stop = size(filter(rawToks, t => t.isin(qualityStop: _*)))
      .cast("double") / size(rawToks)
    val reason = when(length(col("text")) < 50, "too_short")
      .when(length(col("text")) > 5000, "too_long")
      .when(size(rawToks) < 10, "too_few_tokens")
      .when(punct > 0.2, "too_much_punct")
      .when(stop < 0.01, "no_stopwords")
      .otherwise("ok")
    val base = docs.select(col("doc_id"), col("lang"),
        size(toks).cast("long").as("n_tok"),
        (reason === "ok").as("s_q"), md5(col("text")).as("th"))
      .join(Dedup.clusterLabels(s, d), "doc_id")
    // exact dedup among quality survivors: min doc_id per content digest
    val exKeep = base.filter(col("s_q")).groupBy("th")
      .agg(min("doc_id").as("ex_keep"))
    val f1 = base.join(exKeep, Seq("th"), "left")
      .withColumn("s_e",
        coalesce(col("s_q") && col("doc_id") === col("ex_keep"), lit(false)))
    // near dedup among exact survivors: min doc_id per CC cluster label
    val nrKeep = f1.filter(col("s_e")).groupBy("label")
      .agg(min("doc_id").as("nr_keep"))
    val f2 = f1.join(nrKeep, Seq("label"), "left")
      .withColumn("s_n",
        coalesce(col("s_e") && col("doc_id") === col("nr_keep"), lit(false)))
    // q74's decontamination: 8-token shingles, benchmark = doc_id < 10
    val tkd = Tables.fanOut(docs, "doc_id").select(col("doc_id"), toks.as("tk"))
    val idx = when(size(col("tk")) >= 8, sequence(lit(1), size(col("tk")) - 7))
      .otherwise(array().cast("array<int>"))
    val shingled = tkd.select(col("doc_id"),
      explode(transform(idx,
        i => md5(concat_ws(" ", slice(col("tk"), i, lit(8)))))).as("sh"))
    val bench = shingled.filter(col("doc_id") < 10).select("sh").distinct()
    val contaminated = shingled.filter(col("doc_id") >= 10)
      .join(broadcast(bench), Seq("sh"), "left_semi")
      .select("doc_id").distinct().withColumn("is_cont", lit(true))
    val f3 = f2.join(contaminated, Seq("doc_id"), "left")
      .withColumn("s_de",
        col("s_n") && col("doc_id") >= 10 && col("is_cont").isNull)
    // stage the chain verdicts ONCE: the expensive scans (quality,
    // digests, shingles, label join) must not re-run per consumer
    val f = graft.Scratch.stage("graft_e2e_verdict",
      f3.select("doc_id", "lang", "n_tok", "label", "s_q", "s_e", "s_n", "s_de"))
    // q103's temperature mix over the decontaminated survivors
    val surv = f.filter(col("s_de"))
    val weights = surv.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("wgt", floor(sqrt(col("n_docs").cast("double"))).cast("long"))
    val total = weights.agg(sum("wgt").as("total_wgt"))
    val quotas = weights.crossJoin(broadcast(total))
      .withColumn("quota",
        least(col("n_docs"), expr(s"($mixBudget * wgt) div total_wgt")))
      .select("lang", "quota")
    val wMix = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val mixedFlags = surv.withColumn("rk", row_number().over(wMix))
      .join(broadcast(quotas), Seq("lang"))
      .filter(col("rk") <= col("quota"))
      .select(col("doc_id"), lit(true).as("s_m"))
    // second (small) staging: the FULL verdict frame including the mix
    // flag — audit, pack, and split all read this ONE leaf, so the mix
    // window and its 1-row quota broadcast run once, not once per
    // consumer (the plan would otherwise recompute the subtree 3x:
    // Catalyst reuses exchanges, not twice-referenced subtrees — the
    // q37 lesson)
    val fm = graft.Scratch.stage("graft_e2e_final",
      f.join(mixedFlags, Seq("doc_id"), "left"))
    val mixed = fm.filter(coalesce(col("s_m"), lit(false)))
      .select("doc_id", "lang", "n_tok", "label")
    def cnt(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    def tks(c: org.apache.spark.sql.Column) =
      coalesce(sum(when(c, col("n_tok"))), lit(0L))
    def ck(c: org.apache.spark.sql.Column) =
      coalesce(sum(when(c, col("doc_id"))), lit(0L))
    val sm = coalesce(col("s_m"), lit(false))
    val audit = fm.agg(
        count(lit(1)).as("c0"), coalesce(sum("n_tok"), lit(0L)).as("t0"),
        coalesce(sum("doc_id"), lit(0L)).as("i0"),
        cnt(col("s_q")).as("c1"), tks(col("s_q")).as("t1"), ck(col("s_q")).as("i1"),
        cnt(col("s_e")).as("c2"), tks(col("s_e")).as("t2"), ck(col("s_e")).as("i2"),
        cnt(col("s_n")).as("c3"), tks(col("s_n")).as("t3"), ck(col("s_n")).as("i3"),
        cnt(col("s_de")).as("c4"), tks(col("s_de")).as("t4"), ck(col("s_de")).as("i4"),
        cnt(sm).as("c5"), tks(sm).as("t5"), ck(sm).as("i5"))
      .selectExpr(
        """stack(6,
          | '00_raw', c0, t0, i0,
          | '01_quality', c1, t1, i1,
          | '02_exact_dedup', c2, t2, i2,
          | '03_near_dedup', c3, t3, i3,
          | '04_decontam', c4, t4, i4,
          | '05_mix', c5, t5, i5
          |) AS (stage, n_units, n_tokens, id_checksum)""".stripMargin)
    // q85's packing over the mixed survivors, reduced to one audit row
    val wPack = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packRow = mixed
      .withColumn("cum", sum("n_tok").over(wPack))
      .withColumn("bin", expr("(cum - n_tok) div 2048"))
      .groupBy("lang", "bin")
      .agg(sum("n_tok").as("bt"), min("doc_id").as("fd"))
      .agg(count(lit(1)).as("n_units"),
        coalesce(sum("bt"), lit(0L)).as("n_tokens"),
        coalesce(sum("fd"), lit(0L)).as("id_checksum"))
      .select(lit("06_pack").as("stage"), col("n_units"), col("n_tokens"),
        col("id_checksum"))
    // q123's leakage-safe split on the CLUSTER label
    val b = graft.functions.Hashing.md5Bucket(col("label"), 100)
    val splitRows = mixed
      .select(col("doc_id"), col("n_tok"),
        when(b < 80, "train").when(b < 90, "val").otherwise("test").as("spl"))
      .groupBy("spl")
      .agg(count(lit(1)).as("n_units"), sum("n_tok").as("n_tokens"),
        sum("doc_id").as("id_checksum"))
      .select(concat(lit("07_split_"), col("spl")).as("stage"),
        col("n_units"), col("n_tokens"), col("id_checksum"))
    audit.unionByName(packRow).unionByName(splitRows).orderBy("stage")
  }

  /** q264 publishing threshold: classes smaller than k must be suppressed
    * (HIPAA-style k-anonymity; 8 is a conventional release bar). */
  private[graft] val kAnonK = 8L

  /** q264 — k-ANONYMITY GENERALIZATION-LADDER audit: the privacy
    * compliance twin to q248's RTBF delete — before releasing (or
    * training on) user-adjacent records, measure how identifiable each
    * row is under its quasi-identifiers, and how much generalization
    * buys anonymity. Three nested QI levels over customer:
    * level 0 (nation, segment, $100 balance band) → level 1 (nation,
    * $1,000 band) → level 2 (region, $10,000 band). Each level is a TRUE
    * coarsening of the previous (mkt dropped, nation→region is a
    * function, truncating division nests: trunc(trunc(x/a)/b) =
    * trunc(x/ab)), so k-anonymity is monotone non-decreasing and the
    * suppressed mass monotone non-increasing down the ladder — both
    * pinned as theorems in PipelineSpec, not tuning. The sensitive
    * attribute (for l-diversity of the PUBLISHABLE classes) is the
    * customer's modal order priority — behavior, never part of any QI.
    *
    * Spark-first mechanics: the enriched base (QI atoms in exact integer
    * cents via the Exact DECIMAL pattern + the window-argmax sensitive
    * label) stages ONCE to a narrow parquet leaf; each level is then one
    * two-stage hash aggregate over that leaf (class sizes, then the
    * 1-row summary), all map-side combinable — three metadata-sized rows
    * out, no driver loop, no collect. All arithmetic BIGINT (`div`
    * truncates toward zero in BOTH engines, so negative balance bands
    * agree); l_diversity is −1 when no class is publishable rather than
    * NULL (engine-neutral sentinel).
    */
  val kAnonymity: Q = (s, d) => {
    val mode = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("c_custkey"),
        col("o_orderpriority").as("sens"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("c_custkey")
      .orderBy(col("n").desc, col("sens"))
    val sens = mode.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1).select("c_custkey", "sens")
    val base = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(sens, Seq("c_custkey"), "left")
      .select(col("c_nationkey").as("nat"), col("n_regionkey").as("reg"),
        col("c_mktsegment").as("mkt"),
        (dec2(col("c_acctbal")) * 100).cast("long").as("cents"),
        coalesce(col("sens"), lit("NONE")).as("sens"))
    val st = graft.Scratch.stage("graft_kanon", base)
    def level(lv: Int, width: Int, qi: org.apache.spark.sql.Column) =
      st.groupBy(qi.as("qi"))
        .agg(count(lit(1)).as("n"), countDistinct("sens").as("ldiv"))
        .agg(count(lit(1)).as("n_classes"), sum("n").as("n_rows"),
          min("n").as("k_anonymity"),
          sum(when(col("n") < kAnonK, 1L).otherwise(0L))
            .as("violating_classes"),
          sum(when(col("n") < kAnonK, col("n")).otherwise(0L))
            .as("suppressed_rows"),
          coalesce(min(when(col("n") >= kAnonK, col("ldiv"))), lit(-1L))
            .as("l_diversity"))
        .select(lit(lv).as("level"), lit(width).as("band_width"),
          col("n_classes"), col("n_rows"), col("k_anonymity"),
          col("violating_classes"), col("suppressed_rows"),
          expr("suppressed_rows * 1000000 div n_rows").as("suppressed_ppm"),
          col("l_diversity"))
    level(0, 100, concat_ws("|", col("nat"), col("mkt"),
        expr("cents div 10000")))
      .unionByName(level(1, 1000, concat_ws("|", col("nat"),
        expr("cents div 100000"))))
      .unionByName(level(2, 10000, concat_ws("|", col("reg"),
        expr("cents div 1000000"))))
      .orderBy("level")
  }

  /** q273 window geometry: 24-token chunks advancing by a 20-token
    * stride, so 4 tokens of leading overlap stitch retrieval context
    * across boundaries — scaled to the fixtures' 10–99-token documents
    * (production dials ~512/64). Overlap < stride keeps every token in
    * at most TWO chunks, the property the assignment rule exploits. */
  private[graft] val chunkBudget = 24L
  private[graft] val chunkStride = 20L

  /** q273 — OVERLAPPING TOKEN-WINDOW CHUNKING: the RAG sliding-window
    * indexer — q90 cuts at a fixed CHARACTER offset (mid-word, no
    * overlap); this cuts at whitespace-token boundaries into
    * [[chunkBudget]]-token windows advancing by [[chunkStride]], so
    * consecutive chunks share budget−stride tokens of context (the
    * stitching that keeps an answer spanning a boundary retrievable).
    * (A sentence-boundary packer is the next refinement, but the fixture
    * corpus contains zero sentence terminators — boundary-awareness here
    * means never splitting a word.) Fully declarative assignment: token i
    * belongs to chunk i div stride, plus chunk (i div stride)−1 when
    * i mod stride < overlap — each token lands in ≤2 chunks because
    * overlap < stride, so the fan-out is a 2-way union of projections,
    * never a range join. One posexplode is the corpus-sized pass;
    * everything shuffles on doc_id once. Output: one row per (doc,
    * chunk) with token counts, overlap count, token span, and a length
    * checksum — the manifest a RAG indexer embeds from.
    */
  val tokenWindows: Q = (s, d) => {
    val over = chunkBudget - chunkStride
    val toksIdx = Tables.fanOut(Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), posexplode(toks).as(Seq("i", "tok")))
      .select(col("doc_id"), col("i").cast("long").as("i"),
        length(col("tok")).cast("long").as("w"))
    val main = toksIdx.select(col("doc_id"),
      expr(s"i div $chunkStride").as("chunk"), col("i"), col("w"),
      lit(false).as("is_overlap"))
    val overlap = toksIdx
      .filter(col("i") % chunkStride < over && col("i") >= chunkStride)
      .select(col("doc_id"), expr(s"i div $chunkStride - 1").as("chunk"),
        col("i"), col("w"), lit(true).as("is_overlap"))
    main.unionByName(overlap)
      .groupBy("doc_id", "chunk")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("is_overlap"), 1L).otherwise(0L)).as("n_overlap"),
        min("i").as("first_tok"), max("i").as("last_tok"),
        sum("w").as("len_checksum"))
      .orderBy("doc_id", "chunk")
  }

  /** q278 — PASSAGE RETRIEVAL over the q273 windows: the RAG serving
    * read — BM25 ranks PASSAGES (24-token overlapping windows), not
    * whole documents, because the answer's location inside a long doc is
    * what retrieval must return. Composes the library against itself:
    * q273's ≤2-chunk assignment rule (overlap tokens score in BOTH
    * windows — exactly why the overlap exists), q149's BM25 formula with
    * passage-level tf/length/df (same constants, same single-ln-rounding
    * ppm discipline), and the top-3 passages per query term via one
    * WindowGroupLimit. Queries are the 4 highest-passage-df terms — the
    * q149 deterministic pick at passage granularity. Output: 12 rows
    * (term, pos, doc, chunk, score) — the serving table a RAG stack
    * fetches context from. Scale: the token fan-out is ≤2× the corpus,
    * every aggregate is map-side-combinable on (doc, chunk), and the
    * scoring join probes a broadcast 4-term set — candidate rows scale
    * with passage df, never corpus².
    */
  /** The staged (doc_id, chunk, tok) passage assignment — q273's ≤2-chunk
    * rule memoized per input dir and shared by q278's serving read and
    * q259's sparse leg.
    * STAGED, not shared lineage: tf and pl both derive from asg, and
    * joining them re-resolves the shared union subtree per consumer —
    * observed: pl's aggregate came back SPLIT BY UNION LEG (two rows
    * pl=4/pl=20 for one (doc, chunk) instead of 24), silently wrong
    * scores. A parquet leaf gives every consumer the same, final rows
    * (and the token fan-out is scanned four times per query anyway). */
  private val passageAsgCache = new graft.Scratch.PerDir[String]

  private def passageAsgDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    passageAsgCache(d) {
      val over = chunkBudget - chunkStride
      val tk = Tables.fanOut(Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), posexplode(toks).as(Seq("i", "tok")))
        .select(col("doc_id"), col("i").cast("long").as("i"), col("tok"))
      val asgRaw = tk.select(col("doc_id"),
          expr(s"i div $chunkStride").as("chunk"), col("tok"))
        .unionByName(tk
          .filter(col("i") % chunkStride < over && col("i") >= chunkStride)
          .select(col("doc_id"), expr(s"i div $chunkStride - 1").as("chunk"),
            col("tok")))
      graft.Scratch.write("graft_passage_asg", asgRaw)
    }

  val passageRetrieval: Q = (s, d) => {
    val asg = graft.Scratch.read(s, passageAsgDir(s, d))
    val tf = asg.groupBy("doc_id", "chunk", "tok")
      .agg(count(lit(1)).as("tf"))
    val pl = asg.groupBy("doc_id", "chunk").agg(count(lit(1)).as("pl"))
    val dfq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val terms = dfq.orderBy(col("df").desc, col("tok")).limit(4)
    val stats = pl.agg(count(lit(1)).as("n_p"), sum("pl").as("sum_pl"))
    val scored = tf.join(broadcast(terms), "tok")
      .join(pl, Seq("doc_id", "chunk"))
      .crossJoin(broadcast(stats))
      .select(col("tok").as("term"), col("doc_id"), col("chunk"),
        expr("""CAST(round(ln((CAST(n_p AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
               * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * (CAST(pl AS DOUBLE) * n_p / sum_pl))))
               * 1000000) AS BIGINT)""").as("score_ppm"))
    val w = Window.partitionBy("term")
      .orderBy(col("score_ppm").desc, col("doc_id"), col("chunk"))
    scored.withColumn("pos", row_number().over(w)).filter(col("pos") <= 3)
      .select(col("term"), col("pos"), col("doc_id"), col("chunk"),
        col("score_ppm"))
      .orderBy("term", "pos")
  }

  /** q259 sample size: 8 md5-ranked query documents (the q149/q257
    * deterministic-pick discipline), and the per-leg rank-list depth RRF
    * consumes (the q158 top-k convention — RRF over top-k lists is the
    * textbook formulation). */
  private[graft] val hybridQ = 8
  private[graft] val hybridDepth = 10

  /** q259 — HYBRID DENSE+SPARSE RETRIEVAL with RRF fusion: the production
    * RAG serving shape (BM25 + ANN + reciprocal-rank fusion) closed into
    * one operator from pieces the library already stages. Queries are
    * [[hybridQ]] md5-ranked sample documents, each asking "what else in
    * the corpus is like me" — the query-by-example eval every hybrid
    * stack runs before wiring a real query log.
    *
    * Sparse leg: each query's top-4 own-tf terms (deterministic; corpus
    * df is flat here, so tf is the discriminative signal) scored against
    * the q278 PASSAGE index — per-term BM25 ppm over (doc, chunk) with
    * passage-level tf/length/df, summed per passage, then each candidate
    * doc is represented by its BEST passage (the chunk the serving layer
    * would actually fetch — passage evidence, doc-level fusion). Dense
    * leg: [[graft.operators.Similarity.ivfProbeTopK]] — q47's IVF probe
    * (64 cells, top-2 multi-probe) over the real document embeddings
    * (vec_id ≡ doc_id), cut at rank ≤ [[hybridDepth]]. (When passage- or
    * token-level embeddings exist, a passage-mean dense leg drops into
    * the same q_id/doc_id/rank contract; the fixtures carry one embedding
    * per document.) Fusion: q158's formula — rrf = Σ 1e6 div (60 + rank)
    * over the two ≤[[hybridDepth]]-deep rank lists (exact integer; absent
    * leg contributes 0, surfaced as rank 0), top-5 per query.
    *
    * Scale shape: candidate rows are bounded by query-term passage-df
    * (sparse) and 2·n/64 probe cells (dense), never corpus²; every window
    * runs per-query over ≤depth frames after a WindowGroupLimit cut; both
    * legs and the fusion shuffle on (q_id, doc_id). The self-match is
    * excluded in BOTH legs (it is the one known-irrelevant answer).
    * PropertySpec pins the consensus law: fused top-5 recall of the
    * dual-confirmed set is never below either single leg's.
    */
  /** The q259 query sample, exposed with the sparse leg so the
    * PropertySpec consensus law evaluates the REAL legs. */
  private[graft] def hybridSample(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, d).select(col("doc_id"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .limit(hybridQ).select(col("doc_id").as("q_id"))

  /** q259's sparse leg: per-query passage-BM25, each candidate doc
    * represented by its best passage — (q_id, doc_id, rank_sparse,
    * best_chunk) with rank_sparse ≤ [[hybridDepth]]. */
  private[graft] def hybridSparseLeg(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val asg = graft.Scratch.read(s, passageAsgDir(s, d))
    val tf = asg.groupBy("doc_id", "chunk", "tok")
      .agg(count(lit(1)).as("tf"))
    val pl = asg.groupBy("doc_id", "chunk").agg(count(lit(1)).as("pl"))
    val dfq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val stats = pl.agg(count(lit(1)).as("n_p"), sum("pl").as("sum_pl"))
    val sample = hybridSample(s, d)
    // query terms: the query doc's 4 highest-tf WHOLE-DOC tokens (raw
    // token stream, not the overlap-fanned passage rows)
    val qtok = Tables.fanOut(Tables.documents(s, d), "doc_id")
      .join(broadcast(sample), col("doc_id") === col("q_id"), "left_semi")
      .select(col("doc_id").as("q_id"), explode(toks).as("tok"))
      .groupBy("q_id", "tok").agg(count(lit(1)).as("qtf"))
    val wTerm = Window.partitionBy("q_id")
      .orderBy(col("qtf").desc, col("tok"))
    val qterms = qtok.withColumn("tr", row_number().over(wTerm))
      .filter(col("tr") <= 4).select(col("q_id"), col("tok"))
    // per-passage BM25 (q278's formula and single-ln-rounding ppm), per
    // query: candidates = tf rows matching any of the 8×4 broadcast terms
    val scored = tf.join(broadcast(qterms), "tok")
      .filter(col("doc_id") =!= col("q_id"))
      .join(broadcast(dfq), "tok")
      .join(pl, Seq("doc_id", "chunk"))
      .crossJoin(broadcast(stats))
      .groupBy("q_id", "doc_id", "chunk")
      .agg(sum(expr("""CAST(round(ln((CAST(n_p AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
             * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * (CAST(pl AS DOUBLE) * n_p / sum_pl))))
             * 1000000) AS BIGINT)""")).as("pscore"))
    val wBest = Window.partitionBy("q_id", "doc_id")
      .orderBy(col("pscore").desc, col("chunk"))
    val best = scored.withColumn("rb", row_number().over(wBest))
      .filter(col("rb") === 1)
      .select(col("q_id"), col("doc_id"), col("pscore"),
        col("chunk").as("best_chunk"))
    val wSparse = Window.partitionBy("q_id")
      .orderBy(col("pscore").desc, col("doc_id"))
    best.withColumn("rank_sparse", row_number().over(wSparse))
      .filter(col("rank_sparse") <= hybridDepth)
      .select(col("q_id"), col("doc_id"), col("rank_sparse"),
        col("best_chunk"))
  }

  val hybridRetrieval: Q = (s, d) => {
    val sample = hybridSample(s, d)
    val sparse = hybridSparseLeg(s, d)
    val dense = Similarity.ivfProbeTopK(s, d, sample, hybridDepth)
    val fused = sparse.join(dense, Seq("q_id", "doc_id"), "full_outer")
      .select(col("q_id"), col("doc_id"),
        coalesce(col("rank_sparse"), lit(0)).as("rank_sparse"),
        coalesce(col("rank_dense"), lit(0)).as("rank_dense"),
        coalesce(col("best_chunk"), lit(-1L)).as("best_chunk"))
      .withColumn("rrf_ppm", expr(
        """CAST(CASE WHEN rank_sparse > 0 THEN 1000000 div (60 + rank_sparse) ELSE 0 END
          |   + CASE WHEN rank_dense > 0 THEN 1000000 div (60 + rank_dense) ELSE 0 END
          | AS BIGINT)""".stripMargin))
    val wPos = Window.partitionBy("q_id")
      .orderBy(col("rrf_ppm").desc, col("doc_id"))
    fused.withColumn("pos", row_number().over(wPos))
      .filter(col("pos") <= 5)
      .select(col("q_id"), col("pos"), col("doc_id"), col("rank_sparse"),
        col("rank_dense"), col("best_chunk"), col("rrf_ppm"))
      .orderBy("q_id", "pos")
  }

  def queries: Map[String, Q] = Map(
    "q259_hybrid_retrieval" -> hybridRetrieval,
    "q278_passage_retrieval" -> passageRetrieval,
    "q273_token_windows" -> tokenWindows,
    "q264_kanonymity" -> kAnonymity,
    "q234_pipeline_e2e" -> pipelineE2e,
    "q186_dataset_card" -> datasetCard,
    "q207_epoch_shuffle" -> epochShuffle,
    "q293_curriculum" -> curriculum,
    "q296_domain_reweight" -> domainReweight,
    "q310_dsir_weights" -> dsirWeights,
    "q172_shard_balance" -> shardBalance,
    "q143_weighted_sample" -> weightedSample,
    "q127_negative_sampling" -> negativeSampling,
    "q128_preference_pairs" -> preferencePairs,
    "q91_latest_per_key" -> latestPerKey,
    "q92_dq_audit" -> dqAudit,
    "q83_pii_redact" -> piiRedact,
    "q84_source_cap" -> sourceCap,
    "q85_pack_budget" -> packBudget,
    "q86_common_token_ratio" -> commonTokenRatio,
    "q87_repetition" -> repetitionScore,
    "q88_zscore_outliers" -> zscoreOutliers,
    "q89_stratified_sample" -> stratifiedSample,
    "q103_temperature_mix" -> temperatureMix,
    "q90_chunk500" -> chunk500)

  /** Shared q293/q296 oracle CTEs: the q185 ce-scoring chain ending in
    * sc = (doc_id, source, ce_micro). */
  private def duckCeCtes: String =
    raw"""tk AS (SELECT doc_id,
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
       |sc AS MATERIALIZED (SELECT d.doc_id, d.source,
       |    sum_mu // n_tokens AS ce_micro
       |  FROM documents d JOIN per USING (doc_id))""".stripMargin

  /** q296 oracle: the same staged losses, the same linearized MW rounds
    * unrolled as CTEs, the same floor-division and remainder-to-first-
    * sources normalization. Assembled WITHOUT stripMargin so generated
    * lines never start with a margin character. */
  private def duckReweightSql: String = {
    val head =
      s"""WITH $duckCeCtes,
loss AS (SELECT source, count(*) AS n_docs,
    CAST(sum(ce_micro) AS BIGINT) // count(*) AS loss_micro
  FROM sc GROUP BY 1),
base AS (SELECT CAST(sum(ce_micro) AS BIGINT) // count(*) AS base_micro
  FROM sc),
w0 AS (SELECT source, n_docs, loss_micro,
    greatest(loss_micro - base_micro, 0) AS excess_micro,
    1000000 + greatest(loss_micro - base_micro, 0) // 10 AS mult_ppm,
    CAST(1000000 AS HUGEINT) AS w_raw
  FROM loss CROSS JOIN base)"""
    val rounds = (1 to reweightRounds).map { k =>
      s"""w$k AS (SELECT source, n_docs, loss_micro, excess_micro, mult_ppm,
    (w_raw * mult_ppm) // 1000000 AS w_raw FROM w${k - 1}),
n$k AS (SELECT CAST($k AS INT) AS round, source, n_docs, loss_micro,
    excess_micro, mult_ppm,
    CAST(f.floor_ppm + CASE WHEN f.rk <= r.rem THEN 1 ELSE 0 END
      AS BIGINT) AS weight_ppm
  FROM (SELECT *,
      CAST(w_raw * 1000000 // (SELECT sum(w_raw) FROM w$k) AS BIGINT)
        AS floor_ppm,
      row_number() OVER (ORDER BY source) AS rk FROM w$k) f
  CROSS JOIN (SELECT 1000000 - sum(
      CAST(w_raw * 1000000 // (SELECT sum(w_raw) FROM w$k) AS BIGINT))
    AS rem FROM w$k) r)"""
    }.mkString(",\n")
    val sel = (1 to reweightRounds).map(k => s"SELECT * FROM n$k")
      .mkString("\nUNION ALL ")
    s"$head,\n$rounds\n$sel\nORDER BY round, source"
  }

  def oracles: Map[String, String] = Map(
    "q296_domain_reweight" -> duckReweightSql,
    // same hash buckets (md5 first-8-hex, non-negative so % ≡ pmod),
    // same add-1 smoothed per-BUCKET double log rounded once to µnats,
    // HUGEINT source sums ≡ DECIMAL(38,0), sign-safe toward-zero mean
    "q310_dsir_weights" -> {
      val B = dsirBuckets
      raw"""WITH db AS MATERIALIZED (SELECT doc_id, source, lang,
         |    ${graft.functions.Hashing.duckMd5Bucket("term", B)} AS b,
         |    count(*) AS cnt
         |  FROM (SELECT doc_id, source, lang, unnest($duckToks) AS term
         |    FROM documents)
         |  GROUP BY 1, 2, 3, 4),
         |raw AS MATERIALIZED (SELECT b, CAST(sum(cnt) AS BIGINT) AS cr
         |  FROM db GROUP BY 1),
         |tgt AS MATERIALIZED (SELECT b, CAST(sum(cnt) AS BIGINT) AS ct
         |  FROM db WHERE lang = 'en' GROUP BY 1),
         |tot AS (SELECT (SELECT CAST(sum(cr) AS BIGINT) FROM raw) AS nr,
         |    (SELECT CAST(sum(ct) AS BIGINT) FROM tgt) AS nt),
         |lam AS MATERIALIZED (SELECT raw.b,
         |    CAST(round(ln((CAST(COALESCE(tgt.ct, 0) + 1 AS DOUBLE)
         |        * (tot.nr + $B))
         |      / (CAST(raw.cr + 1 AS DOUBLE) * (tot.nt + $B))) * 1000000)
         |      AS BIGINT) AS lam
         |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tot),
         |w AS (SELECT doc_id, source, CAST(sum(cnt * lam) AS BIGINT) AS w
         |  FROM db JOIN lam USING (b) GROUP BY 1, 2)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_selected,
         |  CAST((sum(CASE WHEN w > 0 THEN 1 ELSE 0 END) * 1000000)
         |    // count(*) AS BIGINT) AS sel_ppm,
         |  CAST(CASE WHEN sum(CAST(w AS HUGEINT)) >= 0
         |    THEN sum(CAST(w AS HUGEINT)) // count(*)
         |    ELSE -((-sum(CAST(w AS HUGEINT))) // count(*))
         |    END AS BIGINT) AS mean_w_micro
         |FROM w GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // both legs re-derived verbatim: the q278 passage-BM25 CTEs with the
    // per-query term pick, the q47 IVF assignment with the sample-
    // restricted probe (WHERE before window = the semi-join before the
    // rank, same order as Spark), and the q158 fusion formula; ranks CAST
    // to INT (row_number is BIGINT in DuckDB, INT in Spark)
    "q259_hybrid_retrieval" -> {
      val cosLP = "round(list_cosine_similarity(l.embedding::DOUBLE[], r.embedding::DOUBLE[]), 9)"
      val cosVP = "round(list_cosine_similarity(v.embedding::DOUBLE[], p.embedding::DOUBLE[]), 9)"
      raw"""WITH ${OracleSql.passageTermStats},
         |st AS (SELECT (SELECT count(*) FROM pl) AS n_p,
         |  (SELECT CAST(sum(pl) AS BIGINT) FROM pl) AS sum_pl),
         |qs AS MATERIALIZED (SELECT doc_id AS q_id FROM documents
         |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT $hybridQ),
         |qtok AS (SELECT doc_id AS q_id, tok, count(*) AS qtf FROM tk
         |  WHERE doc_id IN (SELECT q_id FROM qs) GROUP BY 1, 2),
         |qterms AS MATERIALIZED (SELECT q_id, tok FROM (
         |  SELECT q_id, tok, row_number() OVER (PARTITION BY q_id
         |    ORDER BY qtf DESC, tok) AS tr FROM qtok) WHERE tr <= 4),
         |psc AS (SELECT qt.q_id, f.doc_id, f.chunk,
         |    CAST(sum(CAST(round(ln((CAST(st.n_p AS DOUBLE) - g.df + 0.5)
         |        / (g.df + 0.5) + 1.0)
         |      * (f.tf * 2.2 / (f.tf + 1.2 * (0.25 + 0.75
         |        * (CAST(p.pl AS DOUBLE) * st.n_p / st.sum_pl))))
         |      * 1000000) AS BIGINT)) AS BIGINT) AS pscore
         |  FROM tf f JOIN qterms qt ON f.tok = qt.tok AND f.doc_id <> qt.q_id
         |  JOIN dfq g ON f.tok = g.tok
         |  JOIN pl p ON f.doc_id = p.doc_id AND f.chunk = p.chunk
         |  CROSS JOIN st GROUP BY 1, 2, 3),
         |best AS (SELECT q_id, doc_id, pscore, chunk AS best_chunk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id, doc_id
         |    ORDER BY pscore DESC, chunk) AS rb FROM psc) WHERE rb = 1),
         |sp AS MATERIALIZED (SELECT q_id, doc_id, rank_sparse, best_chunk
         |  FROM (SELECT q_id, doc_id, best_chunk,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY pscore DESC, doc_id) AS INT) AS rank_sparse
         |  FROM best) WHERE rank_sparse <= $hybridDepth),
         |assigned AS MATERIALIZED (SELECT vec_id, embedding, cell_id, arn
         |  FROM (SELECT v.vec_id, v.embedding, p.vec_id AS cell_id,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY $cosVP DESC, p.vec_id) AS arn
         |  FROM embeddings v CROSS JOIN
         |    (SELECT * FROM embeddings WHERE vec_id < 64) p) WHERE arn <= 2),
         |dn AS MATERIALIZED (SELECT q_id, doc_id, rank_dense FROM (
         |  SELECT l.vec_id AS q_id, r.vec_id AS doc_id,
         |    CAST(row_number() OVER (PARTITION BY l.vec_id
         |      ORDER BY $cosLP DESC, r.vec_id) AS INT) AS rank_dense
         |  FROM assigned l JOIN (SELECT * FROM assigned WHERE arn = 1) r
         |    ON l.cell_id = r.cell_id AND l.vec_id <> r.vec_id
         |  WHERE l.vec_id IN (SELECT q_id FROM qs))
         |  WHERE rank_dense <= $hybridDepth),
         |fused AS (SELECT coalesce(s.q_id, d.q_id) AS q_id,
         |    coalesce(s.doc_id, d.doc_id) AS doc_id,
         |    coalesce(s.rank_sparse, 0) AS rank_sparse,
         |    coalesce(d.rank_dense, 0) AS rank_dense,
         |    coalesce(s.best_chunk, -1) AS best_chunk,
         |    CAST((CASE WHEN s.rank_sparse IS NOT NULL
         |        THEN 1000000 // (60 + s.rank_sparse) ELSE 0 END)
         |      + (CASE WHEN d.rank_dense IS NOT NULL
         |        THEN 1000000 // (60 + d.rank_dense) ELSE 0 END)
         |      AS BIGINT) AS rrf_ppm
         |  FROM sp s FULL OUTER JOIN dn d
         |    ON s.q_id = d.q_id AND s.doc_id = d.doc_id)
         |SELECT q_id, pos, doc_id, rank_sparse, rank_dense, best_chunk,
         |  rrf_ppm FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY rrf_ppm DESC, doc_id) AS INT) AS pos FROM fused)
         |WHERE pos <= 5 ORDER BY q_id, pos""".stripMargin
    },
    // q273's assignment + q149's formula at passage granularity, the same
    // single-ln-rounding ppm and the same deterministic term pick
    "q278_passage_retrieval" -> {
      raw"""WITH ${OracleSql.passageTermStats},
         |terms AS MATERIALIZED (SELECT tok, df FROM dfq
         |  ORDER BY df DESC, tok LIMIT 4),
         |st AS (SELECT (SELECT count(*) FROM pl) AS n_p,
         |  (SELECT CAST(sum(pl) AS BIGINT) FROM pl) AS sum_pl),
         |sc AS (SELECT t.tok AS term, f.doc_id,
         |    CAST(f.chunk AS BIGINT) AS chunk,
         |    CAST(round(ln((CAST(st.n_p AS DOUBLE) - t.df + 0.5)
         |        / (t.df + 0.5) + 1.0)
         |      * (f.tf * 2.2 / (f.tf + 1.2 * (0.25 + 0.75
         |        * (CAST(p.pl AS DOUBLE) * st.n_p / st.sum_pl))))
         |      * 1000000) AS BIGINT) AS score_ppm
         |  FROM tf f JOIN terms t ON f.tok = t.tok
         |  JOIN pl p ON f.doc_id = p.doc_id AND f.chunk = p.chunk
         |  CROSS JOIN st)
         |SELECT term, pos, doc_id, chunk, score_ppm FROM (
         |  SELECT term, doc_id, chunk, score_ppm,
         |    CAST(row_number() OVER (PARTITION BY term
         |      ORDER BY score_ppm DESC, doc_id, chunk) AS INT) AS pos
         |  FROM sc)
         |WHERE pos <= 3 ORDER BY term, pos""".stripMargin
    },
    // the identical ≤2-chunk assignment rule (i div stride, plus the
    // previous chunk when i mod stride < overlap) over the identical
    // whitespace token index
    "q273_token_windows" -> {
      val over = chunkBudget - chunkStride
      raw"""WITH tk AS (SELECT doc_id,
         |    CAST(generate_subscripts(ts, 1) - 1 AS BIGINT) AS i,
         |    CAST(len(unnest(ts)) AS BIGINT) AS w
         |  FROM (SELECT doc_id, list_filter(
         |      string_split_regex(text, '\s+'), t -> len(t) > 0) AS ts
         |    FROM documents)),
         |uni AS (
         |  SELECT doc_id, i // $chunkStride AS chunk, i, w,
         |    false AS is_overlap FROM tk
         |  UNION ALL
         |  SELECT doc_id, i // $chunkStride - 1, i, w, true FROM tk
         |  WHERE i % $chunkStride < $over AND i >= $chunkStride)
         |SELECT doc_id, CAST(chunk AS BIGINT) AS chunk,
         |  count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN is_overlap THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_overlap,
         |  min(i) AS first_tok, max(i) AS last_tok,
         |  CAST(sum(w) AS BIGINT) AS len_checksum
         |FROM uni GROUP BY 1, 2 ORDER BY doc_id, chunk""".stripMargin
    },
    // the identical ladder: modal-priority sensitive label via the same
    // window argmax, exact DECIMAL→cents banding, BIGINT `//` (both
    // engines truncate toward zero, so negative bands agree), and the
    // same −1 no-publishable-class sentinel
    "q264_kanonymity" -> {
      def lvl(lv: Int, width: Int, qi: String) =
        s"""SELECT CAST($lv AS INT) AS level, CAST($width AS INT) AS band_width,
           |  count(*) AS n_classes, CAST(sum(n) AS BIGINT) AS n_rows,
           |  min(n) AS k_anonymity,
           |  CAST(sum(CASE WHEN n < $kAnonK THEN 1 ELSE 0 END) AS BIGINT)
           |    AS violating_classes,
           |  CAST(sum(CASE WHEN n < $kAnonK THEN n ELSE 0 END) AS BIGINT)
           |    AS suppressed_rows,
           |  CAST((sum(CASE WHEN n < $kAnonK THEN n ELSE 0 END) * 1000000)
           |    // sum(n) AS BIGINT) AS suppressed_ppm,
           |  coalesce(min(CASE WHEN n >= $kAnonK THEN ldiv END),
           |    CAST(-1 AS BIGINT)) AS l_diversity
           |FROM (SELECT $qi AS qi, count(*) AS n,
           |    count(DISTINCT sens) AS ldiv
           |  FROM base GROUP BY 1)""".stripMargin
      s"""WITH md AS (SELECT o_custkey AS c_custkey, o_orderpriority AS sens,
         |    row_number() OVER (PARTITION BY o_custkey
         |      ORDER BY count(*) DESC, o_orderpriority) AS rk
         |  FROM orders GROUP BY 1, 2),
         |base AS MATERIALIZED (SELECT c.c_nationkey AS nat,
         |    n.n_regionkey AS reg, c.c_mktsegment AS mkt,
         |    CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         |    coalesce(s.sens, 'NONE') AS sens
         |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
         |  LEFT JOIN (SELECT c_custkey, sens FROM md WHERE rk = 1) s
         |    ON c.c_custkey = s.c_custkey)
         |${lvl(0, 100, "concat_ws('|', nat, mkt, cents // 10000)")}
         |UNION ALL
         |${lvl(1, 1000, "concat_ws('|', nat, cents // 100000)")}
         |UNION ALL
         |${lvl(2, 10000, "concat_ws('|', reg, cents // 1000000)")}
         |ORDER BY level""".stripMargin
    },
    // the identical stage chain in one statement: q73's quality CASE,
    // md5-canonical exact dedup, the recursive-CC labels (q123's CTE)
    // for near dedup + split, q74's shingle decontamination, q103's
    // integer sqrt quotas, q85's bins — every verdict a monotone flag
    "q234_pipeline_e2e" ->
      s"""WITH RECURSIVE ${OracleSql.dupReach},
         |lbl AS MATERIALIZED (SELECT doc_id, min(label) AS label FROM reach GROUP BY doc_id),
         |fb AS MATERIALIZED (SELECT d.doc_id, d.lang,
         |    CAST(len($duckToks) AS BIGINT) AS n_tok,
         |    md5(text) AS th, l.label,
         |    (CASE WHEN length(text) < 50 THEN 'too_short'
         |         WHEN length(text) > 5000 THEN 'too_long'
         |         WHEN len(string_split_regex(text, '\\s+')) < 10
         |           THEN 'too_few_tokens'
         |         WHEN CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE)
         |              / length(text) > 0.2 THEN 'too_much_punct'
         |         WHEN CAST(len(list_filter(string_split_regex(text, '\\s+'),
         |              t -> t IN ('the','a','and','of','el','la','de','que'))) AS DOUBLE)
         |              / len(string_split_regex(text, '\\s+')) < 0.01
         |           THEN 'no_stopwords'
         |         ELSE 'ok' END = 'ok') AS s_q
         |  FROM documents d JOIN lbl l USING (doc_id)),
         |ex AS (SELECT th, min(doc_id) AS ex_keep FROM fb WHERE s_q GROUP BY 1),
         |f1 AS MATERIALIZED (SELECT fb.*, coalesce(s_q AND doc_id = ex.ex_keep, false) AS s_e
         |  FROM fb LEFT JOIN ex USING (th)),
         |nr AS (SELECT label, min(doc_id) AS nr_keep FROM f1 WHERE s_e GROUP BY 1),
         |f2 AS MATERIALIZED (SELECT f1.*, coalesce(s_e AND doc_id = nr.nr_keep, false) AS s_n
         |  FROM f1 LEFT JOIN nr USING (label)),
         |tkd AS (SELECT doc_id, $duckToks AS tk FROM documents),
         |shg AS MATERIALIZED (SELECT doc_id, unnest(list_transform(
         |    range(1, greatest(len(tk) - 7, 0) + 1),
         |    i -> md5(array_to_string(tk[i:i+7], ' ')))) AS sh FROM tkd),
         |bench AS (SELECT DISTINCT sh FROM shg WHERE doc_id < 10),
         |cont AS (SELECT DISTINCT c.doc_id FROM shg c
         |  JOIN bench b ON c.sh = b.sh WHERE c.doc_id >= 10),
         |f3 AS MATERIALIZED (SELECT f2.*, (s_n AND f2.doc_id >= 10 AND NOT EXISTS
         |    (SELECT 1 FROM cont WHERE cont.doc_id = f2.doc_id)) AS s_de
         |  FROM f2),
         |sv AS MATERIALIZED (SELECT * FROM f3 WHERE s_de),
         |w2 AS (SELECT lang, count(*) AS n_docs,
         |    CAST(floor(sqrt(count(*))) AS BIGINT) AS wgt FROM sv GROUP BY 1),
         |t2 AS (SELECT CAST(sum(wgt) AS BIGINT) AS total_wgt FROM w2),
         |q2 AS (SELECT lang,
         |    CAST(least(n_docs, ($mixBudget * wgt) // total_wgt) AS BIGINT) AS quota
         |  FROM w2 CROSS JOIN t2),
         |r2 AS (SELECT sv.*, row_number() OVER (PARTITION BY lang
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM sv),
         |mx AS MATERIALIZED (SELECT r2.doc_id, r2.lang, r2.n_tok, r2.label
         |  FROM r2 JOIN q2 USING (lang) WHERE rk <= q2.quota),
         |f4 AS MATERIALIZED (SELECT f3.*, EXISTS
         |    (SELECT 1 FROM mx WHERE mx.doc_id = f3.doc_id) AS s_m FROM f3),
         |audit AS (
         |  SELECT '00_raw' AS stage, count(*) AS n_units,
         |    CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS n_tokens,
         |    CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_checksum FROM f4
         |  UNION ALL SELECT '01_quality', count(*),
         |    CAST(coalesce(sum(n_tok), 0) AS BIGINT),
         |    CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM f4 WHERE s_q
         |  UNION ALL SELECT '02_exact_dedup', count(*),
         |    CAST(coalesce(sum(n_tok), 0) AS BIGINT),
         |    CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM f4 WHERE s_e
         |  UNION ALL SELECT '03_near_dedup', count(*),
         |    CAST(coalesce(sum(n_tok), 0) AS BIGINT),
         |    CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM f4 WHERE s_n
         |  UNION ALL SELECT '04_decontam', count(*),
         |    CAST(coalesce(sum(n_tok), 0) AS BIGINT),
         |    CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM f4 WHERE s_de
         |  UNION ALL SELECT '05_mix', count(*),
         |    CAST(coalesce(sum(n_tok), 0) AS BIGINT),
         |    CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM f4 WHERE s_m),
         |pk AS (SELECT lang, doc_id, n_tok,
         |    (sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok) // 2048
         |      AS bin
         |  FROM mx),
         |bins AS (SELECT lang, bin, CAST(sum(n_tok) AS BIGINT) AS bt,
         |    min(doc_id) AS fd FROM pk GROUP BY 1, 2),
         |packrow AS (SELECT '06_pack' AS stage, count(*) AS n_units,
         |    CAST(coalesce(sum(bt), 0) AS BIGINT) AS n_tokens,
         |    CAST(coalesce(sum(fd), 0) AS BIGINT) AS id_checksum FROM bins),
         |spl AS (SELECT CASE WHEN b < 80 THEN 'train'
         |      WHEN b < 90 THEN 'val' ELSE 'test' END AS sp, doc_id, n_tok
         |  FROM (SELECT doc_id, n_tok,
         |    ${graft.functions.Hashing.duckMd5Bucket("label", 100)} AS b FROM mx)),
         |sprow AS (SELECT '07_split_' || sp AS stage, count(*) AS n_units,
         |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |    CAST(sum(doc_id) AS BIGINT) AS id_checksum FROM spl GROUP BY 1)
         |SELECT * FROM audit UNION ALL SELECT * FROM packrow
         |UNION ALL SELECT * FROM sprow ORDER BY stage""".stripMargin,
    "q186_dataset_card" ->
      raw"""WITH meta AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |  FROM documents GROUP BY 1),
         |tk AS (SELECT source,
         |    unnest(list_filter(string_split_regex(text, '\s+'),
         |      t -> len(t) > 0)) AS term FROM documents),
         |toks AS (SELECT source, count(*) AS n_tokens,
         |    count(DISTINCT term) AS vocab FROM tk GROUP BY 1),
         |dup AS (SELECT source,
         |    CAST(sum(c - 1) AS BIGINT) AS dup_extra
         |  FROM (SELECT source, md5(text) AS dg, count(*) AS c
         |        FROM documents GROUP BY 1, 2) GROUP BY 1),
         |le AS (SELECT source, lang, count(*) AS nl,
         |    CAST(sum(count(*)) OVER (PARTITION BY source) AS BIGINT) AS n
         |  FROM documents GROUP BY 1, 2),
         |ent AS (SELECT source, CAST(sum(CAST(round(
         |      -(CAST(nl AS DOUBLE) / CAST(n AS DOUBLE))
         |      * ln(CAST(nl AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000)
         |    AS BIGINT)) AS BIGINT) AS lang_entropy_micro
         |  FROM le GROUP BY 1)
         |SELECT source, n_docs, n_tokens, vocab, dup_extra,
         |  dup_extra * 1000000 // n_docs AS dup_ppm,
         |  sum_chars * 100 // n_docs AS mean_chars_x100,
         |  lang_entropy_micro
         |FROM meta JOIN toks USING (source) JOIN dup USING (source)
         |  JOIN ent USING (source)
         |ORDER BY source""".stripMargin,
    // one global row_number at oracle scale; the Spark side reproduces
    // the identical rank via the two-phase bucket offsets (hex-prefix
    // order is consistent with full-hash order)
    // the identical ce scoring, floor-sqrt quotas, md5 selection ranks,
    // ntile tiers, expanding epochs, and salted order checksum
    "q293_curriculum" ->
      raw"""WITH $duckCeCtes,
         |wt AS (SELECT source, count(*) AS n_src,
         |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS wgt
         |  FROM sc GROUP BY 1),
         |tw AS (SELECT CAST(sum(wgt) AS BIGINT) AS total_wgt FROM wt),
         |qt AS (SELECT source,
         |    least(n_src, ($curriculumBudget * wgt) // total_wgt) AS quota
         |  FROM wt CROSS JOIN tw),
         |sel AS MATERIALIZED (SELECT doc_id, source, ce_micro, quota FROM
         |  (SELECT sc.doc_id, sc.source, sc.ce_micro, quota,
         |      row_number() OVER (PARTITION BY sc.source
         |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS srk
         |    FROM sc JOIN qt USING (source))
         |  WHERE srk <= quota),
         |td AS (SELECT sel.*, ntile($curriculumEpochs)
         |    OVER (ORDER BY ce_micro, doc_id) AS tier FROM sel),
         |ep AS (SELECT unnest(range(1, ${curriculumEpochs + 1}))::INT
         |    AS epoch),
         |sch AS (SELECT epoch, doc_id, source, ce_micro, quota,
         |    row_number() OVER (PARTITION BY epoch
         |      ORDER BY md5(epoch || ':' || doc_id), doc_id) AS rk
         |  FROM td, ep WHERE tier <= epoch)
         |SELECT epoch, source, count(*) AS n_docs, max(quota) AS quota,
         |  min(ce_micro) AS min_ce, max(ce_micro) AS max_ce,
         |  CAST(sum(ce_micro) AS BIGINT) // count(*) AS avg_ce_micro,
         |  CAST(sum(CAST(rk AS HUGEINT) * doc_id)
         |    % 2305843009213693951 AS BIGINT) AS order_checksum
         |FROM sch GROUP BY 1, 2 ORDER BY epoch, source""".stripMargin,
    "q207_epoch_shuffle" ->
      s"""WITH e AS (SELECT unnest(range(0, $shuffleEpochs))::INT AS epoch),
         |k AS (SELECT epoch, doc_id,
         |    md5(epoch || ':' || doc_id) AS h FROM documents, e),
         |r AS (SELECT epoch, doc_id, row_number()
         |    OVER (PARTITION BY epoch ORDER BY h, doc_id) AS rk FROM k)
         |SELECT epoch, count(*) AS n,
         |  CAST(sum(CAST(rk AS HUGEINT) * doc_id)
         |    % 2305843009213693951 AS BIGINT) AS order_checksum,
         |  min(CASE WHEN rk = 1 THEN doc_id END) AS first_doc,
         |  min(CASE WHEN rk = 2 THEN doc_id END) AS second_doc,
         |  min(CASE WHEN rk = 3 THEN doc_id END) AS third_doc
         |FROM r GROUP BY 1 ORDER BY epoch""".stripMargin,
    // the oracle ranks with one global row_number — fine at oracle scale;
    // the Spark side reproduces the same rank via the two-phase offset
    "q172_shard_balance" ->
      s"""WITH dk AS (SELECT doc_id, len($duckToks) AS n_tok
         |  FROM documents),
         |rk AS (SELECT doc_id, n_tok,
         |    row_number() OVER (ORDER BY n_tok DESC, doc_id) AS rank
         |  FROM dk),
         |sh AS (SELECT n_tok,
         |    CASE WHEN ((rank - 1) // $nShards) % 2 = 0
         |      THEN (rank - 1) % $nShards
         |      ELSE ${nShards - 1} - (rank - 1) % $nShards END AS shard
         |  FROM rk)
         |SELECT shard, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens
         |FROM sh GROUP BY 1 ORDER BY shard""".stripMargin,
    "q143_weighted_sample" ->
      """SELECT doc_id, 1 + n_chars // 128 AS weight,
        |  list_min(list_transform(generate_series(1, 1 + n_chars // 128),
        |    i -> substr(md5('g:' || doc_id || ':' || i), 1, 16))) AS ticket
        |FROM documents ORDER BY ticket, doc_id LIMIT 64""".stripMargin,
    "q127_negative_sampling" ->
      s"""WITH pos AS (SELECT DISTINCT o_custkey AS cust, l_partkey AS part
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |mp AS (SELECT max(p_partkey) AS mp FROM part),
         |cand0 AS (SELECT c_custkey AS cust, mp, unnest(range(0, $negOversample)) AS i
         |  FROM customer CROSS JOIN mp),
         |cand AS (SELECT cust, part, min(i) AS i FROM (
         |    SELECT cust, i,
         |      ('0x' || substr(md5(CAST(cust AS VARCHAR) || ':'
         |        || CAST(i AS VARCHAR)), 1, 8))::BIGINT % mp + 1 AS part
         |    FROM cand0) GROUP BY cust, part),
         |neg AS (SELECT cust, part,
         |    row_number() OVER (PARTITION BY cust ORDER BY i) AS rk
         |  FROM cand c WHERE NOT EXISTS (
         |    SELECT 1 FROM pos p WHERE p.cust = c.cust AND p.part = c.part)),
         |agg AS (SELECT cust, count(*) AS n_neg,
         |    CAST(sum(part) AS BIGINT) AS neg_checksum
         |  FROM neg WHERE rk <= $negK GROUP BY cust),
         |pc AS (SELECT cust, count(*) AS n_pos FROM pos GROUP BY cust)
         |SELECT a.cust, COALESCE(pc.n_pos, 0) AS n_pos, a.n_neg, a.neg_checksum
         |FROM agg a LEFT JOIN pc ON a.cust = pc.cust
         |ORDER BY a.cust""".stripMargin,
    "q128_preference_pairs" ->
      s"""WITH scored AS (SELECT lang, doc_id,
         |    CAST(len(list_distinct($duckToks)) AS BIGINT) AS score
         |  FROM documents),
         |ranked AS (SELECT lang, doc_id, score,
         |    row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id)
         |      AS rk,
         |    count(*) OVER (PARTITION BY lang) AS n
         |  FROM scored),
         |t AS (SELECT lang, rk AS pair_rank, doc_id AS chosen_id,
         |    score AS chosen_score
         |  FROM ranked WHERE rk <= n // 2),
         |b AS (SELECT lang, rk - n // 2 AS pair_rank, doc_id AS rejected_id,
         |    score AS rejected_score
         |  FROM ranked WHERE rk - n // 2 >= 1)
         |SELECT t.lang, CAST(t.pair_rank AS INT) AS pair_rank,
         |  chosen_id, rejected_id, chosen_score, rejected_score,
         |  chosen_score - rejected_score AS margin
         |FROM t JOIN b ON t.lang = b.lang AND t.pair_rank = b.pair_rank
         |ORDER BY t.lang, pair_rank""".stripMargin,
    "q103_temperature_mix" ->
      s"""WITH w AS (SELECT lang, count(*) AS n_docs,
         |    CAST(floor(sqrt(count(*))) AS BIGINT) AS wgt FROM documents GROUP BY 1),
         |t AS (SELECT CAST(sum(wgt) AS BIGINT) AS total_wgt FROM w),
         |q AS (SELECT lang, n_docs,
         |    CAST(least(n_docs, ($mixBudget * wgt) // total_wgt) AS BIGINT) AS quota
         |  FROM w CROSS JOIN t),
         |r AS (SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM documents)
         |SELECT q.lang, q.n_docs, q.quota,
         |  count(*) AS n_sampled, CAST(sum(r.doc_id) AS BIGINT) AS id_checksum
         |FROM r JOIN q ON r.lang = q.lang
         |WHERE r.rk <= q.quota
         |GROUP BY 1, 2, 3 ORDER BY q.lang""".stripMargin,
    "q91_latest_per_key" -> OracleSql.latestPerKeyQuery,
    "q92_dq_audit" ->
      """SELECT * FROM (
        |  SELECT 'orderkey_not_null' AS rule, count(*) AS violations,
        |    count(*) = 0 AS pass FROM orders WHERE o_orderkey IS NULL
        |  UNION ALL
        |  SELECT 'orderkey_unique', count(*), count(*) = 0 FROM (
        |    SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)
        |  UNION ALL
        |  SELECT 'totalprice_positive', count(*), count(*) = 0
        |  FROM orders WHERE o_totalprice <= 0
        |  UNION ALL
        |  SELECT 'status_in_domain', count(*), count(*) = 0
        |  FROM orders WHERE o_orderstatus NOT IN ('F', 'O', 'P')
        |  UNION ALL
        |  SELECT 'custkey_in_customer', count(*), count(*) = 0
        |  FROM orders WHERE NOT EXISTS (
        |    SELECT 1 FROM customer WHERE c_custkey = o_custkey)
        |) ORDER BY rule""".stripMargin,
    "q83_pii_redact" ->
      s"""WITH p AS (SELECT doc_id, $duckWithPii AS t FROM documents),
         |m AS (SELECT doc_id, t,
         |  regexp_replace(t, '$emailRe', '<EMAIL>', 'g') AS t1 FROM p),
         |r AS (SELECT doc_id, t, t1,
         |  regexp_replace(t1, '$numRe', '<NUM>', 'g') AS t2 FROM m)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$emailRe')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(t1, '$numRe')) AS INT) AS n_nums,
         |  md5(t2) AS redacted_fp,
         |  CAST(length(t) - length(t2) AS INT) AS len_delta
         |FROM r ORDER BY doc_id""".stripMargin,
    "q84_source_cap" ->
      """SELECT source, doc_id, CAST(rn AS INT) AS rn FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 5 ORDER BY source, doc_id""".stripMargin,
    "q85_pack_budget" ->
      s"""WITH t AS (SELECT lang, doc_id,
         |  CAST(len($duckToks) AS BIGINT) AS n_tok FROM documents),
         |c AS (SELECT lang, doc_id, n_tok,
         |  CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM t)
         |SELECT lang, (cum - n_tok) // 2048 AS bin, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM c GROUP BY 1, 2 ORDER BY lang, bin""".stripMargin,
    "q86_common_token_ratio" ->
      s"""WITH tokens AS (SELECT doc_id, unnest($duckToks) AS term FROM documents),
         |freqs AS (SELECT term, count(*) AS freq FROM tokens GROUP BY 1),
         |top AS (SELECT term FROM (
         |  SELECT term, row_number() OVER (ORDER BY freq DESC, term) AS rk FROM freqs)
         |  WHERE rk <= 100),
         |per_doc AS (SELECT doc_id, count(*) AS n_common FROM tokens
         |  WHERE term IN (SELECT term FROM top) GROUP BY 1)
         |SELECT d.doc_id, CAST(len($duckToks) AS BIGINT) AS n_tokens,
         |  COALESCE(p.n_common, 0) AS n_common,
         |  round(CAST(COALESCE(p.n_common, 0) AS DOUBLE) / len($duckToks), 6)
         |    AS common_ratio
         |FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "q87_repetition" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS tk FROM documents),
         |g AS (SELECT doc_id,
         |  list_transform(range(1, greatest(len(tk) - 2, 0) + 1),
         |    i -> array_to_string(tk[i:i+2], ' ')) AS grams FROM t)
         |SELECT doc_id,
         |  CAST(len(grams) AS INT) AS n_trigrams,
         |  CAST(len(list_distinct(grams)) AS INT) AS n_distinct,
         |  CASE WHEN len(grams) > 0
         |    THEN round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
         |    ELSE 0.0 END AS rep_ratio
         |FROM g ORDER BY doc_id""".stripMargin,
    "q88_zscore_outliers" ->
      """WITH o AS (SELECT o_orderpriority AS prio,
        |  CAST(o_totalprice AS DECIMAL(18,2)) AS x FROM orders),
        |stats AS (SELECT prio, count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx
        |  FROM o GROUP BY 1),
        |z AS (SELECT o.prio,
        |  round((CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / n)
        |    / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
        |           / (n - 1)), 4) AS z
        |  FROM o JOIN stats USING (prio))
        |SELECT prio, count(*) AS n,
        |  CAST(sum(CASE WHEN abs(z) > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  min(z) AS min_z, max(z) AS max_z
        |FROM z GROUP BY 1 ORDER BY prio""".stripMargin,
    "q89_stratified_sample" ->
      s"""SELECT lang, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN ${graft.functions.Hashing.duckMd5Bucket("doc_id", 10)} = 0
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin,
    "q90_chunk500" ->
      """SELECT doc_id, chunk_idx,
        |  CAST(length(substr(text, CAST(chunk_idx * 500 + 1 AS INT), 500)) AS INT)
        |    AS chunk_len,
        |  md5(substr(text, CAST(chunk_idx * 500 + 1 AS INT), 500)) AS chunk_fp
        |FROM (SELECT doc_id, text,
        |  unnest(range(0, (n_chars + 499) // 500)) AS chunk_idx FROM documents)
        |ORDER BY doc_id, chunk_idx""".stripMargin)
}
