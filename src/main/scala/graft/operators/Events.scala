package graft.operators

import graft.{OracleSql, Q, QueryModule}
import graft.functions.Exact._
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Event-time windowed aggregation over the `events` table (SURVEY.md §2.9
  * — the reference has no streaming; this is the batch-verifiable subset of
  * the Structured Streaming slice in graft.streaming). `F.window` is a
  * stateless projection (each row maps to its window starts) followed by an
  * ordinary hash aggregate — it scales exactly like a group-by and the
  * grouping key (window, type) is shuffle-balanced even when one type is hot.
  */
object Events extends QueryModule {

  /** q22 — tumbling 1-hour window: count + exact sum per (window, type).
    * Oracle: DuckDB time_bucket.
    */
  val tumbling: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total"))
      .orderBy("window_start", "event_type")

  /** q23 — sliding window (1 hour, slide 30 min): each event lands in
    * exactly size/slide = 2 windows. Oracle reproduces Spark's window
    * assignment as a two-bucket UNION ALL.
    */
  val sliding: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))
      .orderBy("window_start", "event_type")

  /** q24 — JSON field extraction from the string `props` column
    * (get_json_object is codegen'd; no UDF).
    */
  val jsonExtract: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy("event_id")

  /** q45 — gap-based sessionization via the built-in `session_window`
    * (30-minute inactivity gap per user). Window end = last event + gap,
    * new session when the gap is ≥ 30 min (session intervals are
    * half-open, so an event at exactly prev+gap starts a new session).
    * Oracle: classic gaps-and-islands SQL (lag → island id → group).
    */
  val sessionWindows: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))
      .orderBy("user_id", "session_start")

  /** q46 — the same sessionization through the typed custom-state API
    * (`KeyValueGroupedDataset.flatMapGroups`): per-user event times are
    * folded into sessions imperatively — the batch twin of a streaming
    * `flatMapGroupsWithState` sessionizer (StreamingSpec exercises the
    * GroupState form). Timestamps travel as epoch-micros longs so the
    * typed encoders stay primitive. Scale shape: state is per-user and
    * the shuffle is on user_id; the in-group sort is bounded by a single
    * user's event count — q53 is the secondary-sort variant that removes
    * even that bound.
    */
  val statefulSessions: Q = (s, d) => {
    import s.implicits._
    val gapUs = 30L * 60 * 1000000
    Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (uid: Long, it: Iterator[(Long, Long)]) =>
        val ts = it.map(_._2).toArray
        java.util.Arrays.sort(ts)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
        var start = ts(0)
        var prev = ts(0)
        var n = 1L
        var i = 1
        while (i < ts.length) {
          if (ts(i) - prev >= gapUs) {
            out += ((uid, start, prev + gapUs, n)); start = ts(i); n = 0L
          }
          prev = ts(i); n += 1; i += 1
        }
        out += ((uid, start, prev + gapUs, n))
        out.iterator
      }
      .toDF("user_id", "start_us", "end_us", "n_events")
      .select(col("user_id"),
        expr("timestamp_micros(start_us)").as("session_start"),
        expr("timestamp_micros(end_us)").as("session_end"), col("n_events"))
      .orderBy("user_id", "session_start")
  }

  /** q53 — the same sessionization via SECONDARY SORT: repartition on
    * user_id, sortWithinPartitions(user_id, ts), then one forward pass per
    * partition with O(1) state. q46's flatMapGroups must buffer and sort a
    * user's entire history in memory; here the shuffle delivers rows
    * already ordered and no history is ever materialized — the shape that
    * survives a single hot user with a billion events. Same oracle as
    * q45/q46: three implementations, one semantics.
    */
  val sortedSessions: Q = (s, d) => {
    import s.implicits._
    val gapUs = 30L * 60 * 1000000
    Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .repartition(col("user_id"))
      .sortWithinPartitions("user_id", "ts_us")
      .as[(Long, Long)]
      .mapPartitions { it =>
        val rows = it.buffered
        // each next() consumes exactly one session's rows — no buffering
        new Iterator[(Long, Long, Long, Long)] {
          def hasNext: Boolean = rows.hasNext
          def next(): (Long, Long, Long, Long) = {
            val (uid, first) = rows.next()
            val start = first
            var prev = first
            var n = 1L
            var open = true
            while (open && rows.hasNext) {
              val (u2, t2) = rows.head
              if (u2 != uid || t2 - prev >= gapUs) open = false
              else { rows.next(); prev = t2; n += 1 }
            }
            (uid, start, prev + gapUs, n)
          }
        }
      }
      .toDF("user_id", "start_us", "end_us", "n_events")
      .select(col("user_id"),
        expr("timestamp_micros(start_us)").as("session_start"),
        expr("timestamp_micros(end_us)").as("session_end"), col("n_events"))
      .orderBy("user_id", "session_start")
  }

  /** q129 — temporal rate-anomaly detection: each hour's event count
    * z-scored against its trailing 24-hour baseline (RANGE frame ending
    * one hour BEFORE the current row — the hour under test never
    * contaminates its own baseline), flagged at |z| > 2. The monitoring
    * pass every ingestion pipeline runs on its own throughput. Scale
    * shape: event volume collapses to the hourly series in ONE map-side-
    * combining aggregate; the unpartitioned window then runs over hours —
    * cardinality = wall-clock range, independent of event volume (a year
    * is 8 760 rows), so the single-partition window is over the SERIES,
    * never the data. Baseline mean/variance come from exact integer sums
    * (Σn, Σn²) inside the frame; one double division + sqrt at the end,
    * identical formula in both engines, rounded to 4 dp. Hours with
    * fewer than 6 trailing observations are withheld (a z-score against
    * a 2-point baseline is noise, and the guard is deterministic).
    */
  val rateAnomaly: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    // date_trunc floors toward -inf (matching DuckDB's `//` floor
    // division) where a bare `unix_micros(ts) div 3.6e9` truncates toward
    // zero — pre-epoch timestamps would land in different hour buckets.
    // The truncated micros are an exact multiple of the divisor, so the
    // remaining div is exact, not a rounding.
    val hourly = Tables.events(s, d)
      .select(expr("unix_micros(date_trunc('hour', ts)) div 3600000000")
        .as("hr"))
      .groupBy("hr").agg(count(lit(1)).as("n"))
    val w = Window.orderBy("hr").rangeBetween(-24, -1)
    val stats = hourly
      .withColumn("n_prev", count(lit(1)).over(w))
      .withColumn("sx", sum("n").over(w))
      .withColumn("sxx", sum(col("n") * col("n")).over(w))
      .filter(col("n_prev") >= 6)
    val mean = col("sx").cast("double") / col("n_prev")
    val variance = (col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double") / col("n_prev")) /
      (col("n_prev") - 1)
    val z = when(variance > 0,
      round((col("n").cast("double") - mean) / sqrt(variance), 4))
      .otherwise(lit(0.0))
    stats.select(
        expr("timestamp_micros(hr * 3600000000)").as("hour"),
        col("n"), col("n_prev"), z.as("z"),
        (abs(z) > 2).as("is_anomaly"))
      .orderBy("hour")
  }

  /** q145 — MULTI-TOUCH ATTRIBUTION: for every purchase, the first touch,
    * last touch, and touch count among the user's click/view events in a
    * strict 7-day lookback, plus linear credit in integer basis points
    * (10000 div n — floor on positives, so Spark div ≡ DuckDB //). ONE
    * window pass over the per-user time-ordered stream with a RANGE frame
    * ([-7d, -1µs) on the epoch-micros axis — q78's value-axis discipline),
    * so there is exactly one shuffle (by user_id) and NO events×events
    * self-join: the naive formulation joins every conversion to every
    * candidate touch and explodes with activity skew, while the frame
    * holds only the 7-day slice per user however hot the user. An as-of
    * join (q60) would surface the LAST touch only; first + count need the
    * frame. Touches travel through min/max as one sortable string
    * (zero-padded epoch micros : event_id : type) — first/last and their
    * ids/types/gaps come from slicing that key, and the event_id tiebreak
    * makes equal-timestamp touches deterministic in both engines.
    */
  val attribution: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val sevenDaysUs = 7L * 86400L * 1000000L
    val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("ts_us"))
    val w = Window.partitionBy("user_id").orderBy("ts_us")
      .rangeBetween(-sevenDaysUs, -1L)
    ev.withColumn("tk",
        when(col("event_type").isin("click", "view"),
          concat_ws(":", lpad(col("ts_us").cast("string"), 20, "0"),
            col("event_id"), col("event_type"))))
      .withColumn("first_tk", min("tk").over(w))
      .withColumn("last_tk", max("tk").over(w))
      .withColumn("n_touches", count("tk").over(w))
      .filter(col("event_type") === "purchase" && col("n_touches") >= 1)
      .select(col("event_id").as("conv_id"), col("user_id"), col("n_touches"),
        split(col("first_tk"), ":").getItem(1).cast("long").as("first_touch_id"),
        split(col("first_tk"), ":").getItem(2).as("first_touch_type"),
        split(col("last_tk"), ":").getItem(1).cast("long").as("last_touch_id"),
        split(col("last_tk"), ":").getItem(2).as("last_touch_type"),
        expr("(ts_us - cast(substring(first_tk, 1, 20) as bigint)) div 1000000")
          .as("first_gap_s"),
        expr("(ts_us - cast(substring(last_tk, 1, 20) as bigint)) div 1000000")
          .as("last_gap_s"),
        expr("10000 div n_touches").as("linear_bp"))
      .orderBy("conv_id")
  }

  /** q292 — MULTI-TOUCH ATTRIBUTION REPORT: the per-CHANNEL credit
    * rollup a growth analyst reads (q145 emits the per-conversion
    * manifest; this allocates each conversion's one unit of credit
    * across channels under four standard models and aggregates).
    * Touches are view/click/signup events in the strict 7-day lookback
    * before each purchase (q145's RANGE frame, signup added as the
    * third channel); models: FIRST-touch, LAST-touch, LINEAR (equal
    * split), U-SHAPE (position-based 40/40/20; n=2 → 50/50, n=1 →
    * 100%). All credit is exact integer ppm with the division remainder
    * assigned to the FIRST touch (deterministic largest-position rule),
    * so every model's column sums to n_conversions × 1e6 EXACTLY — the
    * conservation law the spec pins. Conversions with no touch in the
    * window land in the "(none)" channel at full credit, keeping the
    * ledger closed.
    *
    * Scale shape: NO conversion×touch pair expansion (the naive join
    * q145's Scaladoc warns about — quadratic under activity skew).
    * Per-channel frame counts + the min/max touch keys make every
    * model's channel credit CLOSED-FORM per conversion: linear =
    * (1e6 div n)·n_ch + remainder·[first=ch]; U-shape needs only
    * n_ch, n, and the first/last channel flags (mid count = n_ch −
    * flags). One user-partitioned window pass (the q145 shuffle), one
    * 3-struct explode per conversion, one ≤4-row hash aggregate.
    */
  /** The shared q292/q297 per-conversion frame: for every purchase, the
    * per-channel touch counts in the strict 7-day lookback plus the
    * first/last touch channels — one user-partitioned window pass, no
    * conversion×touch expansion. */
  private def convTouches(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sevenDaysUs = 7L * 86400L * 1000000L
    val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("ts_us"))
    val w = Window.partitionBy("user_id").orderBy("ts_us")
      .rangeBetween(-sevenDaysUs, -1L)
    // Same-microsecond ties order by the UNPADDED event-id STRING
    // ("10" < "9") — a deliberate shared convention, not a bug: q294's
    // stream key (StreamingJobs f"$t%020d:$eid:$tpe") builds the
    // IDENTICAL string, so batch ≡ stream holds exactly; "fixing" the
    // ordering on one side only would break that proven parity.
    ev.withColumn("tk",
        when(col("event_type").isin("view", "click", "signup"),
          concat_ws(":", lpad(col("ts_us").cast("string"), 20, "0"),
            col("event_id"), col("event_type"))))
      .withColumn("n_view",
        count(when(col("event_type") === "view", lit(1))).over(w))
      .withColumn("n_click",
        count(when(col("event_type") === "click", lit(1))).over(w))
      .withColumn("n_signup",
        count(when(col("event_type") === "signup", lit(1))).over(w))
      .withColumn("first_tk", min("tk").over(w))
      .withColumn("last_tk", max("tk").over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("conv_id"),
        (col("n_view") + col("n_click") + col("n_signup")).as("n"),
        col("n_view"), col("n_click"), col("n_signup"),
        split(col("first_tk"), ":").getItem(2).as("fty"),
        split(col("last_tk"), ":").getItem(2).as("lty"))
  }

  /** q318 — TIME-DECAY ATTRIBUTION: the fifth classic credit model,
    * completing q292's first/last/linear/U-shape set — touches closer
    * to the conversion earn exponentially more, the model every ads
    * platform defaults to for considered purchases. Weight halves per
    * full day of gap: w(g) = 10⁶ div 2^g for g = 0..6 inside the 7-day
    * lookback — EXACT integers throughout, because 10⁶ = 2⁶·5⁶·...
    * divides cleanly through six halvings (15625 at g = 6); per-channel
    * raw mass = Σ touches·w(gap), credits = truncated ppm shares with
    * the remainder assigned to the LARGEST-raw channel (alphabetical
    * first on ties — a touched channel by construction, so the ledger
    * closes at exactly 10⁶ per conversion without ever crediting an
    * untouched channel). Zero-touch purchases credit "(none)" in full,
    * q292's convention.
    *
    * Plan: NO JOIN — one user-partitioned sort feeds 21 conditional
    * RANGE-window counts (3 channels × 7 one-day gap frames; one
    * exchange, the frames share the partition ordering), then explode +
    * rollup, exactly q292's scale shape (PlanSpec pins the no-join
    * claim). The oracle replays the gap arithmetic as an explicit
    * purchase × touch range join — fine at oracle scale, the shape the
    * window pass exists to avoid.
    */
  val timeDecay: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val dayUs = 86400L * 1000000L
    val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("ts_us"))
    val channels = Seq("view", "click", "signup")
    val counted = (0 to 6).foldLeft(ev) { (acc, g) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us")
        .rangeBetween(-(g + 1) * dayUs, -g.toLong * dayUs - 1L)
      channels.foldLeft(acc) { (a, ch) =>
        a.withColumn(s"${ch}_$g",
          count(when(col("event_type") === ch, lit(1))).over(w))
      }
    }
    def raw(ch: String) = (0 to 6)
      .map(g => col(s"${ch}_$g") * lit(1000000L / (1L << g)))
      .reduce(_ + _)
    val per = counted.filter(col("event_type") === "purchase")
      .select(col("event_id").as("conv_id"),
        raw("view").as("vraw"), raw("click").as("craw"),
        raw("signup").as("sraw"))
      .withColumn("t", col("vraw") + col("craw") + col("sraw"))
      .withColumn("vppm", when(col("t") === 0, 0L)
        .otherwise(expr("vraw * 1000000 div t")))
      .withColumn("cppm", when(col("t") === 0, 0L)
        .otherwise(expr("craw * 1000000 div t")))
      .withColumn("sppm", when(col("t") === 0, 0L)
        .otherwise(expr("sraw * 1000000 div t")))
      .withColumn("rem",
        when(col("t") === 0, 0L)
          .otherwise(lit(1000000L) - col("vppm") - col("cppm")
            - col("sppm")))
      // remainder to the largest-raw channel, alphabetical first on ties
      .withColumn("winner", expr(
        """CASE WHEN craw >= sraw AND craw >= vraw THEN 'click'
          |WHEN sraw >= vraw THEN 'signup' ELSE 'view' END""".stripMargin))
    per.select(col("conv_id"), explode(array(
        struct(lit("view").as("ch"),
          (col("vppm") + when(col("winner") === "view", col("rem"))
            .otherwise(lit(0L))).as("ppm"), col("vraw").as("rw")),
        struct(lit("click").as("ch"),
          (col("cppm") + when(col("winner") === "click", col("rem"))
            .otherwise(lit(0L))).as("ppm"), col("craw").as("rw")),
        struct(lit("signup").as("ch"),
          (col("sppm") + when(col("winner") === "signup", col("rem"))
            .otherwise(lit(0L))).as("ppm"), col("sraw").as("rw")),
        struct(lit("(none)").as("ch"),
          when(col("t") === 0, lit(1000000L)).otherwise(lit(0L)).as("ppm"),
          when(col("t") === 0, lit(1L)).otherwise(lit(0L)).as("rw"))))
        .as("e"))
      .filter(col("e.rw") > 0)
      .groupBy(col("e.ch").as("channel"))
      .agg(count(lit(1)).as("n_convs"), sum("e.ppm").as("decay_ppm"))
      .orderBy("channel")
  }

  val multiTouch: Q = (s, d) => {
    val conv = convTouches(s, d)
    val credits = conv.select(col("conv_id"), col("n"), col("fty"), col("lty"),
        explode(array(
          struct(lit("view").as("ch"), col("n_view").as("n_ch")),
          struct(lit("click").as("ch"), col("n_click").as("n_ch")),
          struct(lit("signup").as("ch"), col("n_signup").as("n_ch")),
          struct(lit("(none)").as("ch"),
            when(col("n") === 0, lit(1L)).otherwise(lit(0L)).as("n_ch"))))
          .as("e"))
      .select(col("conv_id"), col("n"), col("fty"), col("lty"),
        col("e.ch").as("ch"), col("e.n_ch").as("n_ch"))
      .filter(col("n_ch") > 0)
      .withColumn("first_ppm", when(col("n") === 0, lit(1000000L))
        .otherwise(when(col("fty") === col("ch"), lit(1000000L))
          .otherwise(lit(0L))))
      .withColumn("last_ppm", when(col("n") === 0, lit(1000000L))
        .otherwise(when(col("lty") === col("ch"), lit(1000000L))
          .otherwise(lit(0L))))
      .withColumn("linear_ppm", when(col("n") === 0, lit(1000000L))
        .otherwise(expr("""(1000000 div n) * n_ch
          + CASE WHEN fty = ch THEN 1000000 % n ELSE 0 END""")))
      .withColumn("ushape_ppm", when(col("n") === 0, lit(1000000L))
        .otherwise(when(col("n") === 1,
            when(col("fty") === col("ch"), lit(1000000L)).otherwise(lit(0L)))
          .otherwise(when(col("n") === 2,
              when(col("fty") === col("ch"), lit(500000L)).otherwise(lit(0L))
                + when(col("lty") === col("ch"), lit(500000L))
                  .otherwise(lit(0L)))
            .otherwise(
              when(col("fty") === col("ch"),
                  lit(400000L) + expr("200000 % (n - 2)"))
                .otherwise(lit(0L))
              + when(col("lty") === col("ch"), lit(400000L))
                .otherwise(lit(0L))
              + expr("""(200000 div (n - 2))
                * (n_ch - CASE WHEN fty = ch THEN 1 ELSE 0 END
                        - CASE WHEN lty = ch THEN 1 ELSE 0 END)""")))))
    creditLedger(credits, col("ch").as("channel"))
  }

  /** The q292/q294 ledger: per-(conversion, channel) credit rows (n_ch,
    * first_ppm, last_ppm, linear_ppm, ushape_ppm) summed per `channel`
    * (a column named channel). q294's stream folds into this same
    * aggregate, so its parity with q292 is built, not asserted. */
  private[graft] def creditLedger(credits: org.apache.spark.sql.DataFrame,
      channel: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame =
    credits.groupBy(channel)
      .agg(count(lit(1)).as("n_convs"), sum("n_ch").as("n_touches"),
        sum("first_ppm").as("first_ppm"), sum("last_ppm").as("last_ppm"),
        sum("linear_ppm").as("linear_ppm"),
        sum("ushape_ppm").as("ushape_ppm"))
      .orderBy("channel")

  /** q297 — SHAPLEY ATTRIBUTION (Shapley 1953; the "data-driven
    * attribution" model production ad platforms run next to the
    * rule-based q292 ledger): each channel's credit is its average
    * marginal contribution across all orderings of the 3-channel
    * coalition game, where v(S) = conversions whose touched-channel set
    * is contained in S (the standard journey-coalition characteristic
    * function). With 3 channels the game is CLOSED-FORM: 8 coalition
    * values from one mask histogram, 12 weighted marginals, weights
    * |S|!·(2−|S|)! ∈ {2,1,1,2} over denominator 3! = 6 — so φ is EXACT
    * in integer SIXTHS, and the efficiency axiom Σφ = 6·v(full) is an
    * arithmetic identity the spec pins (monotone v ⇒ φ ≥ 0, so the ppm
    * share ledger closes at exactly 1e6 via the q292 remainder rule).
    *
    * Scale: the corpus-sized work is q292's shared window pass
    * (convTouches); everything after is an 8-row mask histogram, an
    * 8-row coalition table, and a 12-row term join — constant-size
    * frames at any corpus. A k-channel generalization enumerates 2^k
    * coalitions (the exact-Shapley cost; sampling permutations is the
    * standard k>10 fallback, out of scope while the event taxonomy has
    * 3 touch channels).
    */
  val shapleyAttribution: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val conv = convTouches(s, d)
    val masks = conv.select(
        ((col("n_view") > 0).cast("long")
          + (col("n_click") > 0).cast("long") * 2
          + (col("n_signup") > 0).cast("long") * 4).as("mask"))
      .groupBy("mask").agg(count(lit(1)).as("cnt"))
    val coalitions = s.range(0, 8).select(col("id").as("s_mask"))
    val vLineage = coalitions.join(broadcast(masks),
        (col("mask").bitwiseAND(col("s_mask")) === col("mask"))
          && col("mask") =!= 0, "left")
      .groupBy("s_mask").agg(coalesce(sum("cnt"), lit(0L)).as("v"))
    // LOCALIZED, not shared lineage: the 8-row coalition table feeds
    // four consumers (both phi joins, solo, vFull) — each would
    // re-derive the corpus-sized convTouches window pass if left as a
    // plan subtree (the q293 lesson, caught in review); 8 rows is the
    // q298 metadata-bounded sync class
    val v = s.createDataFrame(
      java.util.Arrays.asList(vLineage.collect(): _*), vLineage.schema)
    val terms = Seq(
      ("view", 1L, 0L, 2L), ("view", 1L, 2L, 1L),
      ("view", 1L, 4L, 1L), ("view", 1L, 6L, 2L),
      ("click", 2L, 0L, 2L), ("click", 2L, 1L, 1L),
      ("click", 2L, 4L, 1L), ("click", 2L, 5L, 2L),
      ("signup", 4L, 0L, 2L), ("signup", 4L, 1L, 1L),
      ("signup", 4L, 2L, 1L), ("signup", 4L, 3L, 2L))
      .toDF("channel", "bit", "s_mask", "coeff")
    val phi = terms
      .join(broadcast(v.select(col("s_mask").as("sm"), col("v").as("v_s"))),
        col("s_mask") === col("sm"))
      .join(broadcast(v.select(col("s_mask").as("smc"), col("v").as("v_sc"))),
        col("s_mask") + col("bit") === col("smc"))
      .groupBy("channel", "bit")
      .agg(sum(col("coeff") * (col("v_sc") - col("v_s"))).as("phi_sixths"))
    val vFull = v.filter(col("s_mask") === 7).select(col("v").as("v_full"))
    val solo = v.select(col("s_mask").as("bit"), col("v").as("v_solo"))
    val fl = phi.join(broadcast(solo), "bit").crossJoin(broadcast(vFull))
      .withColumn("floor_ppm", expr(
        "CASE WHEN v_full > 0 THEN phi_sixths * 1000000 div (6 * v_full) ELSE 0 END"))
    val rem = fl.agg(expr(
      "CASE WHEN max(v_full) > 0 THEN 1000000 - sum(floor_ppm) ELSE 0 END")
      .as("rem"))
    fl.withColumn("rk", row_number().over(Window.orderBy("channel")))
      .crossJoin(broadcast(rem))
      .select(col("channel"), col("v_solo"), col("v_full"),
        col("phi_sixths"),
        (col("floor_ppm") + when(col("rk") <= col("rem"), 1L)
          .otherwise(0L)).as("share_ppm"))
      .orderBy("channel")
  }

  /** q298 iteration count: value iteration accounts conversion paths of
    * ≤ 25 touches — parity needs only that BOTH engines run the same
    * fixed count (the q148 fixed-unroll discipline). */
  private[graft] val markovRounds = 25

  /** q298 — MARKOV REMOVAL-EFFECT ATTRIBUTION (Anderl et al. 2014; the
    * third member of the attribution trio: rule-based q292, cooperative-
    * game q297, and this — the path-model credit production stacks call
    * "data-driven"): build the first-order journey chain (start →
    * touches → purchase/null, truncated at the FIRST purchase), compute
    * the chain's conversion probability from start by value iteration,
    * then each channel's REMOVAL EFFECT = how much that probability
    * drops when the channel's node is deleted (transitions into it
    * rerouted to null) — credit ∝ removal effect, the counterfactual
    * the rule-based models can't express.
    *
    * Scale + exactness: the corpus-sized work is ONE user-partitioned
    * rank/lead pass building transitions (the q150 shuffle); the chain
    * itself is |event-type taxonomy|² ≤ 36 rows, collected under the
    * Graph-family metadata-bounded sync rule, and solved driver-side:
    * [[markovRounds]] rounds of v(i) ← (Σ_j p_ij·w_j) div 1e6 in exact
    * ppm longs (w pins purchase = 1e6, null = 0, removed channel = 0 —
    * pointwise-monotone, so removal effects are provably ≥ 0), floors
    * identical to the oracle's unrolled 25-CTE iteration. Shares close
    * the 1e6 ledger via the q292 remainder rule.
    */
  val markovAttribution: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("view", "click", "signup", "purchase"))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("user_id").orderBy("ts_us", "event_id")))
    val pr = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min("rk").as("pr"))
    val kept = ev.join(pr, Seq("user_id"), "left")
      .filter(col("pr").isNull || col("rk") <= col("pr"))
    val nx = kept.withColumn("nxt", lead("event_type", 1).over(
      Window.partitionBy("user_id").orderBy("rk")))
    val tr = nx.filter(col("event_type") =!= "purchase")
      .select(col("event_type").as("src"),
        coalesce(col("nxt"), lit("null")).as("dst"))
      .unionByName(nx.filter(col("rk") === 1)
        .select(lit("start").as("src"), col("event_type").as("dst")))
    val cnt = tr.groupBy("src", "dst").agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy("src").agg(sum("c").as("t"))
    // the metadata-bounded sync: ≤ (taxonomy+1)² transition rows
    val pm = cnt.join(tot, "src")
      .select(col("src"), col("dst"), expr("c * 1000000 div t").as("p"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    def solve(removed: Option[String]): Long = {
      var v = Map.empty[String, Long].withDefaultValue(0L)
      (1 to markovRounds).foreach { _ =>
        v = pm.groupBy(_._1).map { case (src, es) =>
          src -> es.map { case (_, dst, pp) =>
            pp * (dst match {
              case "purchase" => 1000000L
              case "null" => 0L
              case x if removed.contains(x) => 0L
              case x => v(x)
            })
          }.sum / 1000000L
        }.withDefaultValue(0L)
      }
      v("start")
    }
    val vBase = solve(None)
    val res = Seq("click", "signup", "view").sorted.map { ch =>
      val vr = solve(Some(ch))
      (ch, vBase, vr, vBase - vr)
    }
    val reTot = res.map(_._4).sum
    val floors = res.map { case (ch, b, r, re) =>
      (ch, b, r, re, if (reTot > 0) re * 1000000L / reTot else 0L)
    }
    val rem = if (reTot > 0) 1000000L - floors.map(_._5).sum else 0L
    floors.zipWithIndex.map { case ((ch, b, r, re, f), i) =>
      (ch, b, r, re, f + (if (i < rem) 1L else 0L))
    }.toDF("channel", "v_base_ppm", "v_removed_ppm", "re_ppm", "share_ppm")
      .orderBy("channel")
  }

  /** q150 — first-order Markov transition matrix over each user's
    * time-ordered event-type sequence: counts of src→dst adjacent pairs
    * plus the per-src transition probability, the sequence-model summary
    * behind next-action prediction and session-path dashboards.
    *
    * Plan: ONE user-partitioned window (lead) builds adjacent pairs —
    * the same shuffle key the stream's sessionization already uses — then
    * one hash aggregate reduces the stream to the |types|² transition
    * matrix, after which everything (the per-src row-sum window included)
    * runs on a bounded few-dozen-row frame. Event volume only ever passes
    * through map-side-combinable stages; no self-join of the stream.
    *
    * Determinism: sequence order is (µs timestamp, event_id) in BOTH
    * engines (the oracle orders by epoch_us(ts), matching Spark's
    * nanos→micros truncation — raw TIMESTAMP_NS order could break ties
    * differently); probabilities are integer ppm via `div` on positive
    * counts, so div ≡ floor-division.
    */
  val markovTransitions: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("nxt", lead("event_type", 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("src"), col("nxt").as("dst"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p_ppm",
        expr("n * 1000000 div sum(n) OVER (PARTITION BY src)"))
      .orderBy("src", "dst")
  }

  /** q164 — TIME-WEIGHTED AVERAGE (TWAP) of purchase values per user
    * over the irregular event series: each value weighted by how long it
    * "held" (the gap to the user's next purchase, the step-function
    * integral ÷ span) — the metric finance and monitoring both use when
    * plain AVG would let burst samples swamp sparse ones.
    *
    * Plan: ONE user-partitioned lead() window (the stream's native
    * shuffle key) then a hash aggregate — no self-join of the series.
    * Determinism: timestamps in integer µs with an event_id tie-break
    * (equal-µs ties get zero weight on the first of the pair — harmless
    * and engine-independent); values micro-integerized once (q94's
    * pattern), the Σ(v·Δt) accumulated in DECIMAL(38,0) (v·Δt can reach
    * ~10²⁰ — past BIGINT), and the final twap is one integer `div` on
    * positive operands (fixture values are positive; a signed variant
    * would switch to round-half-away like q151). Users whose purchases
    * all share one microsecond carry zero span and are excluded in both
    * engines.
    */
  val twap: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("t"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("vq"))
    val w = Window.partitionBy("user_id").orderBy("t", "event_id")
    ev.withColumn("t2", lead("t", 1).over(w))
      .filter(col("t2").isNotNull)
      .select(col("user_id"), (col("t2") - col("t")).as("dt"), col("vq"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum("dt").as("span_us"),
        sum(col("vq").cast("decimal(38,0)") * col("dt")).as("num"))
      .filter(col("span_us") > 0)
      .select(col("user_id"), col("n_intervals"), col("span_us"),
        expr("CAST(num div span_us AS BIGINT)").as("twap_ppm"))
      .orderBy("user_id")
  }

  /** Activity-interval half-width (q168): each event opens a 30-minute
    * presence window. */
  private val coverHoldUs = 1800L * 1000000L

  /** q168 — INTERVAL-UNION COVERAGE per user: every event opens a
    * 30-minute presence interval; overlapping intervals merge, and the
    * answer is each user's total covered time plus how many disjoint
    * activity islands it splits into — the gaps-and-islands computation
    * behind uptime/SLA accounting, ad-exposure accumulation, and "active
    * minutes" metrics, where naive n_events × 30min double-counts every
    * overlap.
    *
    * Plan: ONE user-partitioned window pass (running max of interval end
    * over PRECEDING rows — an island starts exactly where the start
    * exceeds it) + one hash aggregate; no self-join of the series, no
    * interval explosion into minutes (the classic O(n·duration) mistake).
    * The window is partitioned by user_id — the stream's natural shuffle
    * key, so the sort is per-user-bounded at any scale. All arithmetic in
    * integer µs with an event_id tie-break; equal-timestamp events merge
    * into the same island in both engines by construction.
    */
  val intervalCoverage: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("t"))
      .withColumn("e", col("t") + lit(coverHoldUs))
    val w = Window.partitionBy("user_id").orderBy("t", "event_id")
    val prevMax = max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    val isl = ev
      .withColumn("new_island",
        when(col("t") > coalesce(prevMax, lit(Long.MinValue)), 1L)
          .otherwise(0L))
      .withColumn("island",
        sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    isl.groupBy("user_id", "island")
      .agg(min("t").as("st"), max("e").as("en"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_islands"),
        sum(col("en") - col("st")).as("covered_us"))
      .orderBy("user_id")
  }

  /** q175 — OHLC BARS (candlestick downsampling): per UTC day, the
    * open/high/low/close of purchase values plus trade count and volume
    * — the canonical time-series reduction that turns an unbounded tick
    * stream into a bounded bar table (finance's daily bars, monitoring's
    * roll-ups). ONE hash aggregate: open/close are `min_by`/`max_by`
    * over a zero-padded (timestamp, event_id) string key — the q145
    * total-order pack, so first/last are deterministic even on
    * equal-microsecond ticks — high/low/volume are plain min/max/sum.
    * No window, no sort: map-side combine reduces each partition to one
    * candidate bar per day before the day-keyed shuffle, so 100 TB of
    * ticks moves O(days × partitions) rows. Values micro-integerized
    * once (q94's pattern); every output column is exact.
    */
  val ohlcBars: Q = (s, d) => {
    val ev = Tables.events(s, d).filter(col("event_type") === "purchase")
      .select(to_date(col("ts")).as("day"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("vq"),
        concat(lpad(expr("CAST(unix_micros(ts) AS STRING)"), 20, "0"),
          lit(":"), col("event_id")).as("tk"))
    ev.groupBy("day")
      .agg(min_by(col("vq"), col("tk")).as("open"),
        max("vq").as("high"), min("vq").as("low"),
        max_by(col("vq"), col("tk")).as("close"),
        count(lit(1)).as("n_trades"), sum("vq").as("volume"))
      .orderBy("day")
  }

  /** q222 — repeated SESSION-SHAPE mining (bot signatures): sessionize
    * every user's stream (q45's 30-minute-gap semantics, derived
    * declaratively — lag + running break-sum, one user-keyed window
    * pass), fingerprint each session's ORDERED event-type sequence, and
    * surface shapes that recur across sessions — organic behavior
    * rarely replays the exact same click path, so high-multiplicity
    * shapes spanning many users are the classic scripted-traffic
    * signature. Ordering is total and engine-identical: Spark has no
    * ordered string_agg, so the sequence is rebuilt by array_sort over
    * (t, event_id, event_type) STRUCTS — struct comparison is field-by-
    * field, the exact (t, event_id) numeric order DuckDB's ordered
    * string_agg walks. (An earlier padded-string key truncated ids past
    * the pad width — Spark's lpad CUTS over-length input — and a
    * delimiter round-trip mis-split types containing ':'; the struct
    * sort has neither failure mode at any id width or type alphabet.)
    * Per-session state is session-bounded; the shape aggregate runs on
    * one row per session; output is the top-10 recurring shapes.
    */
  val botSignatures: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val gapUs = 30L * 60 * 1000000
    val w = Window.partitionBy("user_id").orderBy("t", "event_id")
    val sess = Tables.events(s, d)
      .select(col("user_id"), expr("unix_micros(ts)").as("t"),
        col("event_id"), col("event_type"))
      .withColumn("brk",
        when(col("t") - lag("t", 1).over(w) >= gapUs, 1).otherwise(0))
      .withColumn("sid", sum("brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val shapes = sess.groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_events"),
        md5(concat_ws(",", transform(
          array_sort(collect_list(
            struct(col("t"), col("event_id"), col("event_type")))),
          x => x.getField("event_type")))).as("fp"))
    shapes.groupBy(substring(col("fp"), 1, 16).as("signature"))
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct("user_id").as("n_users"),
        min("n_events").as("session_len"))
      .filter(col("n_sessions") >= 2)
      .orderBy(col("n_sessions").desc, col("signature"))
      .limit(10)
  }

  /** q233 — semi-structured JSON PROFILING of the `props` column: the
    * schema-on-read report a lake produces before promoting a JSON blob
    * to typed columns — per key: presence count, inferred-type histogram
    * (integer / fractional / boolean / other, by full-match regex over
    * the extracted string value) and distinct-value count. Keys are
    * discovered from the DATA (`from_json` to a string map + explode —
    * no schema declared anywhere, which is the point), and the aggregate
    * runs on the keys×values frame. The q24 extraction assumed the key;
    * this is the query that tells you which keys exist to extract.
    * MALFORMED rows are excluded IDENTICALLY in both engines: Spark's
    * from_json returns NULL on invalid JSON (it never throws) while
    * DuckDB's json_keys RAISES — so the profile is defined only over
    * valid-JSON OBJECT rows, and both engines filter to them explicitly
    * (isnotnull(from_json(...)) here — null for malformed AND for valid
    * non-object JSON — json_valid + json_type = 'OBJECT' in the oracle)
    * rather than letting one engine drop what crashes the other.
    */
  val jsonProfile: Q = (s, d) => {
    // Parse ONCE: project the map column, filter on it, then explode the
    // projected column. Filtering on a fresh from_json and exploding
    // another would JSON-parse every row twice — subexpression
    // elimination doesn't span the Filter and the Generate operators.
    val kv = Tables.events(s, d)
      .select(expr("from_json(props, 'map<string,string>')").as("m"))
      .filter(col("m").isNotNull)
      .select(explode(col("m")).as(Seq("key", "v")))
    kv.groupBy("key").agg(count(lit(1)).as("n_present"),
        sum(when(col("v").rlike("^-?[0-9]+$"), 1L).otherwise(0L)).as("n_int"),
        sum(when(col("v").rlike("^-?[0-9]*\\.[0-9]+$"), 1L).otherwise(0L))
          .as("n_frac"),
        sum(when(col("v").isin("true", "false"), 1L).otherwise(0L))
          .as("n_bool"),
        countDistinct("v").as("n_distinct"))
      .select(col("key"), col("n_present"), col("n_int"), col("n_frac"),
        col("n_bool"),
        (col("n_present") - col("n_int") - col("n_frac") - col("n_bool"))
          .as("n_other"),
        col("n_distinct"))
      .orderBy("key")
  }

  /** q225 — top EVENT TRIGRAMS (sequential pattern mining): the most
    * frequent length-3 event-type sequences across user streams — the
    * order-sensitive step up from q150's first-order transition matrix
    * (a Markov chain can't see that view→click→purchase outruns
    * view→click→view without the third position). TWO lead() columns on
    * ONE user-partitioned window pass (same shuffle, same sort — q150's
    * shape with one more projected column), then a hash aggregate over
    * the |types|³-bounded trigram space with distinct-user support.
    * Top-10 via TakeOrderedAndProject with full tiebreaks.
    */
  val eventTrigrams: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("t", "event_id")
    Tables.events(s, d)
      .select(col("user_id"), expr("unix_micros(ts)").as("t"),
        col("event_id"), col("event_type"))
      .withColumn("e2", lead("event_type", 1).over(w))
      .withColumn("e3", lead("event_type", 2).over(w))
      .filter(col("e3").isNotNull)
      .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n"), countDistinct("user_id").as("n_users"))
      .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
      .limit(10)
  }

  /** q226 — COHORT LTV curve: cumulative revenue per acquisition cohort
    * by month offset — q112 counts retained users; this tracks the MONEY
    * (the lifetime-value curve every "payback period" decision reads).
    * Cohort = month of the user's first purchase (one conditional-min
    * aggregate); month offsets in exact integer month codes
    * (y·12+(m−1), ZERO-based so mcode div 12 / mcode % 12 are genuine
    * calendar year / 0-based month — a 1-based code would export every
    * December cohort as (year+1, month0=0); no months_between float);
    * the cumulative sum runs per cohort over
    * the OFFSET frame (wall-clock-bounded, never event-bounded), and
    * LTV cents per user is one exact div against the fixed cohort size.
    * Output is cohorts × offsets — calendar², independent of volume.
    */
  val cohortLtv: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val p = Tables.events(s, d).filter(col("event_type") === "purchase")
      .select(col("user_id"),
        expr("year(ts) * 12 + (month(ts) - 1)").as("mcode"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val first = p.groupBy("user_id").agg(min("mcode").as("cohort_mcode"))
    val sizes = first.groupBy("cohort_mcode")
      .agg(count(lit(1)).as("n_users"))
    val grid = p.join(first, "user_id")
      .groupBy(col("cohort_mcode"),
        (col("mcode") - col("cohort_mcode")).cast("long").as("month_offset"))
      .agg(sum("cents").as("rev_cents"),
        countDistinct("user_id").as("n_active"))
    grid.join(sizes, "cohort_mcode")
      .withColumn("cum_rev", sum("rev_cents").over(
        Window.partitionBy("cohort_mcode").orderBy("month_offset")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(
        expr("CAST(cohort_mcode div 12 AS INT)").as("cohort_year"),
        expr("CAST(cohort_mcode % 12 AS INT)").as("cohort_month0"),
        col("month_offset"), col("n_users"), col("n_active"),
        col("rev_cents"), col("cum_rev"),
        expr("cum_rev div n_users").as("ltv_cents_per_user"))
      .orderBy("cohort_year", "cohort_month0", "month_offset")
  }

  /** q305 retention triangle width: offsets 0..8 (the classic 8-period
    * retention dashboard); cells beyond a cohort's observable horizon
    * carry the −1 sentinel, NOT 0 — "too young to know" must never read
    * as "churned". */
  private[graft] val retentionMaxOffset = 8

  /** q305 — COHORT RETENTION RATE TRIANGLE (the other half of every
    * cohort dashboard next to q226's LTV curve; q112 emits the
    * long-form all-event daily COUNT grid — this is the
    * dashboard-facing purchase-cohort RATE matrix: pivoted wide,
    * normalized by cohort size, with the beyond-horizon sentinel a
    * count grid cannot carry). For each acquisition cohort, the share
    * of its users active again N periods later — the matrix whose
    * diagonal-truncated shape gives the "triangle" its name. Cohort =
    * period of the user's first purchase (q226's cohort key); a user
    * is "active at offset k" if they purchased in period cohort+k
    * (distinct user-period, so multiple purchases in one period count
    * once).
    *
    * Grain: WEEKS (epoch-week = days-since-1970 div 7 — deterministic
    * in both engines for the fixture's post-1970 range), because the
    * events fixture spans ONE calendar month (measured r14) — a
    * monthly triangle would be a single cell; swapping the week
    * expression for q226's month code gives the monthly variant, the
    * operator is grain-agnostic. Rates are exact ppm (·1e6 div cohort
    * size); offset 0 is 1e6 BY CONSTRUCTION (the first purchase IS
    * week-0 activity — the row-conservation law the spec pins).
    *
    * Scale shape: one distinct (user, week) projection, one per-user
    * min aggregate, one (cohort, offset) count — all map-side
    * combinable hash aggregates on user- or calendar-keyed frames —
    * then A6's pivot over the FIXED offset list 0..[[retentionMaxOffset]]
    * on the calendar²-bounded (cohort × offset) grid; the output is
    * cohorts × 9 cells, independent of event volume.
    */
  val retentionTriangle: Q = (s, d) => {
    val pu = Tables.events(s, d).filter(col("event_type") === "purchase")
      .select(col("user_id"),
        expr("datediff(CAST(ts AS DATE), DATE '1970-01-01') div 7")
          .cast("long").as("wk"))
      .distinct()
    val first = pu.groupBy("user_id").agg(min("wk").as("cohort_wk"))
    val sizes = first.groupBy("cohort_wk").agg(count(lit(1)).as("n_users"))
    val act = pu.join(first, "user_id")
      .groupBy(col("cohort_wk"),
        (col("wk") - col("cohort_wk")).cast("long").as("off"))
      .agg(count(lit(1)).as("n_active"))
    val grid = act.groupBy("cohort_wk")
      .pivot("off", (0 to retentionMaxOffset).map(_.toLong))
      .agg(sum("n_active"))
    val mx = pu.agg(max("wk").as("mx_wk"))
    val cells = (0 to retentionMaxOffset).map { k =>
      expr(s"""CASE WHEN mx_wk - cohort_wk < $k THEN CAST(-1 AS BIGINT)
        ELSE coalesce(`$k`, 0) * 1000000 div n_users END""")
        .as(s"ret_w${k}_ppm")
    }
    sizes.join(grid, Seq("cohort_wk"), "left")
      .crossJoin(broadcast(mx))
      .select(col("cohort_wk") +: col("n_users") +: cells: _*)
      .orderBy("cohort_wk")
  }

  /** q220 — CONVERSION LATENCY distribution: time from each user's FIRST
    * view to their FIRST purchase — the funnel's missing time axis (q111
    * counts who converts; this says how long conversion takes, the
    * number an attribution-window choice like q145's 7 days must be
    * justified against). One per-user aggregate (two conditional mins,
    * map-side combining), the never-converted and purchase-before-view
    * users dropped explicitly, then the latency distribution reduces to
    * an HOUR-bucketed value histogram (domain-bounded — q209's caveat:
    * quantiles read off the bucketed frame, so they are hour-resolution
    * by design) with cross-multiplied integer p50/p90 reads; the mean
    * stays exact in µs (DECIMAL(38) sum, one final div).
    */
  val conversionLatency: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val perUser = Tables.events(s, d).groupBy("user_id").agg(
      min(when(col("event_type") === "view", expr("unix_micros(ts)")))
        .as("v"),
      min(when(col("event_type") === "purchase", expr("unix_micros(ts)")))
        .as("p"))
    val lat = perUser
      .filter(col("v").isNotNull && col("p").isNotNull && col("p") >= col("v"))
      .select(expr("(p - v) div 3600000000").as("hours"),
        (col("p") - col("v")).as("us"))
    val vc = lat.groupBy("hours").agg(count(lit(1)).as("c"))
    val cum = vc.withColumn("cum", sum("c").over(
      Window.orderBy("hours")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = lat.agg(count(lit(1)).as("n"),
      sum(col("us").cast("decimal(38,0)")).as("sum_us"))
    cum.crossJoin(broadcast(tot)).agg(
      max("n").as("n_converted"),
      expr("CAST(max(sum_us) div max(n) AS BIGINT)").as("mean_latency_us"),
      min(when(col("cum") * 2 >= col("n"), col("hours"))).as("p50_hours"),
      min(when(col("cum") * 10 >= col("n") * 9, col("hours")))
        .as("p90_hours"))
  }

  /** q180 — ROLLING 7-DAY DISTINCT USERS per day (the "rolling MAU"
    * dashboard line): count users active in [day−6, day]. Distinct-over-
    * a-sliding-window is the canonical hard aggregate — COUNT(DISTINCT)
    * admits no merge across window panes, so naive plans either self-join
    * 7 days of events per day or hold per-day user sets. This plan never
    * does either: reduce events to DISTINCT (user, day) once (map-side
    * combinable), fan each user-day into the ≤ 7 target days it can serve
    * (a bounded constant-factor explode of the ALREADY-reduced frame, not
    * of the event stream), dedup (user, target) — a user active twice
    * inside one window must count once — and finish with a plain count per
    * day. Three hash aggregates, zero joins against the stream; windows
    * running past the last day are dropped as partial (leading partial
    * windows are kept — the dashboard convention).
    */
  val rollingMau: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(expr("datediff(to_date(ts), DATE'1970-01-01')").as("day"),
        col("user_id"))
      .distinct()
    val span = Tables.events(s, d)
      .agg(expr("datediff(max(to_date(ts)), DATE'1970-01-01')").as("hi"))
    ev.select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("t"))
      .distinct()
      .crossJoin(broadcast(span))
      .filter(col("t") <= col("hi"))
      .groupBy("t").agg(count(lit(1)).as("mau7"))
      .select(expr("date_add(DATE'1970-01-01', CAST(t AS INT))").as("day"),
        col("mau7"))
      .orderBy("day")
  }

  /** q196 — WATERMARK LATENESS AUDIT: for candidate watermark delays
    * (1 / 5 / 15 minutes), how many events would a streaming job DROP —
    * the number that decides the lateness-vs-latency trade before any
    * `withWatermark` ships. An event is late by (max event-time seen so
    * far in ARRIVAL order) − (its own event time); arrival order is
    * event_id (the generator's append sequence).
    *
    * The running max is a PREFIX SCAN, which a naive window computes on
    * one task for the whole stream. Two-phase form (the q172 ranking
    * trick applied to max): bucket arrivals by event_id div 1024,
    * per-bucket maxima roll up on the BUCKET frame (stream/1024 rows),
    * each event then needs only its bucket's PRIOR-bucket prefix
    * (broadcast-joined) and a within-bucket running max (window
    * PARTITIONED by bucket — parallel, bounded frames). One scan, one
    * tiny frame, no single-task stage.
    */
  val latenessAudit: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
      .select(col("event_id"), expr("unix_micros(ts)").as("us"),
        expr("event_id div 1024").as("bk"))
    val buckets = ev.groupBy("bk").agg(max("us").as("bmax"))
    val prefix = buckets
      .withColumn("pmax", max("bmax").over(Window.orderBy("bk")
        .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("bk"), col("pmax"))
    val wIn = Window.partitionBy("bk").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.join(broadcast(prefix), "bk")
      .withColumn("runmax",
        greatest(max("us").over(wIn), coalesce(col("pmax"), lit(Long.MinValue))))
      .select((col("runmax") - col("us")).as("late_us"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_us") > 60L * 1000000L, 1L).otherwise(0L))
          .as("n_late_1m"),
        sum(when(col("late_us") > 300L * 1000000L, 1L).otherwise(0L))
          .as("n_late_5m"),
        sum(when(col("late_us") > 900L * 1000000L, 1L).otherwise(0L))
          .as("n_late_15m"),
        max("late_us").as("max_late_us"))
  }

  /** q282 per-step window: a later funnel step only counts within 7 days
    * of the PREVIOUS step (the standard product-analytics horizon). */
  private[graft] val funnelWindowUs = 7L * 24 * 3600 * 1000000

  /** q282 — ORDERED FUNNEL (view → click → purchase): the product-
    * analytics staple q220's single-hop latency doesn't cover — each
    * step is the user's FIRST qualifying event STRICTLY AFTER the
    * previous step and within [[funnelWindowUs]] of it, so a purchase
    * before the first view (or a stale one months later) does NOT
    * convert. The strict ordering is exactly what windowed min-CASE
    * aggregation (q220's shape) cannot express — it needs the previous
    * step's timestamp as a per-user join input, hence the step-chained
    * plan: one type-pruned aggregate for step 1, then per later step ONE
    * user-keyed equi-join against the prior step's (user, t) table + one
    * min aggregate. Everything shuffles on user_id; step tables only
    * shrink. Output: 3 rows (step, event type, users reaching it,
    * conversion from the previous step in exact ppm, mean inter-step
    * latency in µs; sums pass through DECIMAL(38,0) so the mean is exact
    * at any user count, the q220 discipline) — the funnel dashboard
    * table. Empty steps report -1 latency and 0 conversion rather than a
    * null-vs-error engine divergence.
    */
  val funnelSteps: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("t"))
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("t").as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, "user_id")
      .filter(col("t") > col("t1") && col("t") <= col("t1") + funnelWindowUs)
      .groupBy("user_id").agg(min("t").as("t2"), max("t1").as("t1"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, "user_id")
      .filter(col("t") > col("t2") && col("t") <= col("t2") + funnelWindowUs)
      .groupBy("user_id").agg(min("t").as("t3"), max("t2").as("t2"))
    val j = s1.agg(count(lit(1)).as("n1"))
      .crossJoin(s2.agg(count(lit(1)).as("n2"),
        sum((col("t2") - col("t1")).cast("decimal(38,0)")).as("l2")))
      .crossJoin(s3.agg(count(lit(1)).as("n3"),
        sum((col("t3") - col("t2")).cast("decimal(38,0)")).as("l3")))
    funnelReport(j)
  }

  /** The q282/q285 funnel table from the one-row step totals `j` (n1;
    * n2, l2; n3, l3 — users reaching each step and the summed latency
    * from the step before): one row per step. q285's stream folds into
    * this same tail, so its parity with q282 is built, not asserted. */
  private[graft] def funnelReport(j: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    def row(step: Int, name: String, n: String, prev: String, lat: String) =
      j.select(lit(step).as("step"), lit(name).as("event_type"),
        col(n).as("n_users"),
        expr(s"CASE WHEN $prev > 0 THEN $n * 1000000 div $prev ELSE 0 END")
          .as("conv_from_prev_ppm"),
        expr(if (lat.isEmpty) "CAST(-1 AS BIGINT)"
          else s"CASE WHEN $n > 0 THEN CAST($lat div $n AS BIGINT) ELSE -1 END")
          .as("mean_latency_us"))
    row(1, "view", "n1", "n1", "")
      .unionByName(row(2, "click", "n2", "n1", "l2"))
      .unionByName(row(3, "purchase", "n3", "n2", "l3"))
      .orderBy("step")
  }

  /** q316 — SEQUENTIAL PATTERN MINING (existential subsequence support;
    * the discovery half GSP/PrefixSpan fill in the literature — where
    * q111/q282 check ONE fixed funnel, this mines the support of EVERY
    * ordered event-type pair and triple): a user supports a → b when
    * some a-event strictly precedes some b-event, and a → b → c when a
    * b-event sits strictly between the user's FIRST a and LAST c — the
    * existential semantics, decided entirely by per-(user, type)
    * extrema:
    *   a → b      ⇔  tmin(a) < tmax(b)
    *   a → b → c  ⇔  min{t_b : t_b > tmin(a)} < tmax(c)
    * (strict timestamp inequality; equal-µs events never order each
    * other — documented, identical in the oracle).
    *
    * Scale shape: ONE per-(user, type) extrema aggregate (map-side
    * combinable), STAGED — four branches read it (pair a-side, pair
    * b-side, the triple's a-anchor, the triple's c-cap); the only other
    * corpus touch is the triple's middle-element pass, a user-keyed
    * join of events against the a-anchor frame (× taxonomy — the
    * semantically required second scan, q309's pattern). Every frame
    * after the user-keyed joins is taxonomy-bounded (≤ |types|² +
    * |types|³ output rows); nothing is ever user × user.
    */
  val seqPatterns: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("user_id"),
      col("event_type").as("t"), unix_micros(col("ts")).as("ts"))
    val ut = graft.Scratch.stage("graft_seq",
      ev.groupBy("user_id", "t")
        .agg(min("ts").as("tmin"), max("ts").as("tmax")))
    val nu = ut.select("user_id").distinct()
      .agg(count(lit(1)).as("n_users"))
    val a = ut.select(col("user_id"), col("t").as("ta"),
      col("tmin").as("amin"))
    val b = ut.select(col("user_id"), col("t").as("tb"),
      col("tmax").as("bmax"))
    val pairs = a.join(b, "user_id")
      .filter(col("amin") < col("bmax"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("sup"))
      .select(concat(col("ta"), lit(">"), col("tb")).as("pattern"),
        lit(2).as("len"), col("sup"))
    val mab = ev.join(a, "user_id")
      .filter(col("ts") > col("amin"))
      .groupBy(col("user_id"), col("ta"), col("t").as("tb"))
      .agg(min("ts").as("m"))
    val triples = mab
      .join(ut.select(col("user_id"), col("t").as("tc"),
        col("tmax").as("cmax")), "user_id")
      .filter(col("m") < col("cmax"))
      .groupBy("ta", "tb", "tc").agg(count(lit(1)).as("sup"))
      .select(concat(col("ta"), lit(">"), col("tb"), lit(">"), col("tc"))
        .as("pattern"), lit(3).as("len"), col("sup"))
    pairs.unionByName(triples)
      .crossJoin(broadcast(nu))
      .select(col("pattern"), col("len"), col("sup"),
        expr("(sup * 1000000) div n_users").as("sup_ppm"))
      .orderBy(col("sup").desc, col("pattern"))
  }

  /** q321 event-type taxonomy — a plan-time constant (q318's channel
    * convention): the gap-frame pass needs one conditional count per
    * type (and per type pair), so the taxonomy is code, not data. */
  private[graft] val seqTypes =
    Seq("click", "error", "purchase", "signup", "view")

  /** q321 maximum inter-step gap: 7 days (q282's funnel horizon). */
  private[graft] val seqGapUs = 7L * 24 * 3600 * 1000000

  /** q321 — GAP-CONSTRAINED SEQUENTIAL PATTERNS (GSP maxgap, Srikant &
    * Agrawal 1996): q316's existential subsequences with the
    * constraint real funnel miners run — each step must follow the
    * previous within [[seqGapUs]]. A user supports a →₇ b when some
    * b-event has an a-event in its strict 7-day lookback, and
    * a →₇ b →₇ c when some c-event has, in ITS lookback, a b-event
    * that itself had an a in range — pairwise gaps, strict timestamp
    * order (equal-µs events never chain, q316's rule).
    *
    * The gap bound breaks q316's extrema shortcut (tmin/tmax can't see
    * windows), and the honest scale shape is q318's: NO user×user and
    * NO event self-join — ONE user-partitioned time sort carries two
    * chained window passes over the same frame spec ([−7d, −1µs]
    * RANGE): pass 1 computes |types| "had an a in range" flags per
    * row; pass 2 counts, per row, in-range predecessors of type b
    * WITH flag a (|types|² conditional counts reading pass-1 columns —
    * same sort, no new exchange). Every row then emits its supported
    * (a, ·) pair and (a, b, ·) triple evidence through ONE explode
    * (pairs and triples share it, so the window pass is never re-run
    * per plan branch — the q307 staging lesson without a staged leaf),
    * followed by a distinct + taxonomy-bounded rollup (≤ |T|²+|T|³
    * output rows). The second corpus touch is the map-side-combinable
    * distinct-user denominator, q316's convention. The oracle replays
    * the semantics as explicit gap range joins — fine at oracle scale,
    * the shape the window pass exists to avoid; a randomized law
    * replays support against a driver-side brute-force subsequence
    * walk.
    */
  val seqPatternsGap: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d).select(col("user_id"),
      col("event_type").as("t"), unix_micros(col("ts")).as("ts_us"))
    val w = Window.partitionBy("user_id").orderBy("ts_us")
      .rangeBetween(-seqGapUs, -1L)
    // both passes as ONE select each (a 30-deep withColumn chain makes
    // the analyzer re-walk the plan per column — same exprs, flat)
    val withA = ev.select(col("user_id") +: col("t") +: col("ts_us") +:
      seqTypes.map(a =>
        (count(when(col("t") === a, lit(1))).over(w) > 0).as(s"f_$a")): _*)
    val withAB = withA.select(col("user_id") +: col("t") +:
      seqTypes.map(a => col(s"f_$a")) ++:
      seqTypes.flatMap(a => seqTypes.map(b =>
        (count(when(col("t") === b && col(s"f_$a"), lit(1))).over(w) > 0)
          .as(s"g_${a}_$b"))): _*)
    val entries =
      seqTypes.map(a => when(col(s"f_$a"),
        struct(lit(a).as("pa"), lit("").as("pb"), lit(2).as("ln")))) ++
      seqTypes.flatMap(a => seqTypes.map(b => when(col(s"g_${a}_$b"),
        struct(lit(a).as("pa"), lit(b).as("pb"), lit(3).as("ln")))))
    val nu = ev.select("user_id").distinct()
      .agg(count(lit(1)).as("n_users"))
    withAB.select(col("user_id"), col("t").as("e"),
        explode(array(entries: _*)).as("p"))
      .filter(col("p").isNotNull)
      .select(col("user_id"), col("p.pa").as("pa"), col("p.pb").as("pb"),
        col("e"), col("p.ln").as("len"))
      .distinct()
      .groupBy("pa", "pb", "e", "len").agg(count(lit(1)).as("sup"))
      .crossJoin(broadcast(nu))
      .select(
        when(col("len") === 2, concat(col("pa"), lit(">"), col("e")))
          .otherwise(concat(col("pa"), lit(">"), col("pb"), lit(">"),
            col("e"))).as("pattern"),
        col("len"), col("sup"),
        expr("(sup * 1000000) div n_users").as("sup_ppm"))
      .orderBy(col("sup").desc, col("pattern"))
  }

  def queries: Map[String, Q] = Map(
    "q316_seq_patterns" -> seqPatterns,
    "q321_seq_patterns_gap" -> seqPatternsGap,
    "q318_time_decay" -> timeDecay,
    "q282_funnel_steps" -> funnelSteps,
    "q196_lateness_audit" -> latenessAudit,
    "q220_conversion_latency" -> conversionLatency,
    "q225_event_trigrams" -> eventTrigrams,
    "q233_json_profile" -> jsonProfile,
    "q226_cohort_ltv" -> cohortLtv,
    "q305_retention_triangle" -> retentionTriangle,
    "q222_bot_signatures" -> botSignatures,
    "q180_rolling_mau" -> rollingMau,
    "q175_ohlc_bars" -> ohlcBars,
    "q168_interval_coverage" -> intervalCoverage,
    "q164_twap" -> twap,
    "q150_markov_transitions" -> markovTransitions,
    "q145_attribution" -> attribution,
    "q292_multi_touch" -> multiTouch,
    "q297_shapley_attribution" -> shapleyAttribution,
    "q298_markov_attribution" -> markovAttribution,
    "q129_rate_anomaly" -> rateAnomaly,
    "q22_window_tumbling" -> tumbling,
    "q23_window_sliding" -> sliding,
    "q24_json_extract" -> jsonExtract,
    "q45_session_windows" -> sessionWindows,
    "q46_stateful_sessions" -> statefulSessions,
    "q53_sorted_sessions" -> sortedSessions,
    "q111_funnel" -> funnel,
    "q112_cohort_retention" -> cohortRetention)

  /** q111 — ordered three-stage funnel (view → click → purchase): the
    * product-analytics staple. Progressive conditional minima — t1 = first
    * view; t2 = first click strictly after t1; t3 = first purchase strictly
    * after t2 — computed as three per-user hash aggregates chained by
    * broadcast-size equi-joins on user_id (the user dimension is tiny
    * relative to the event stream; at 100 TB of events the per-user
    * aggregates still map-side-combine to one row per user before any
    * join). No window over the full stream, no self-join of events to
    * events — each stage scans once and reduces immediately.
    */
  val funnel: Q = (s, d) => {
    val ev = Tables.events(s, d).select("user_id", "event_type", "ts")
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val t2 = ev.filter(col("event_type") === "click").join(t1, "user_id")
      .filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val t3 = ev.filter(col("event_type") === "purchase").join(t2, "user_id")
      .filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    t1.join(t2, Seq("user_id"), "left").join(t3, Seq("user_id"), "left")
      .agg(count(lit(1)).as("n_view"),
        count(col("t2")).as("n_view_click"),
        count(col("t3")).as("n_full_funnel"))
  }

  /** q112 — daily cohort retention: users cohorted by first-active day,
    * activity counted per (cohort_day, day_offset) as distinct users — the
    * retention triangle every growth dashboard is built on. One per-user
    * aggregate for the cohort assignment, one equi-join back to the
    * stream, one distinct-count aggregate: the join key (user_id) is the
    * natural shuffle key, and the output is O(days²), independent of
    * event volume.
    */
  val cohortRetention: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val cohort = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
    ev.join(cohort, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** q298 oracle: the identical journey truncation, transition ppm, and
    * value iteration unrolled as [[markovRounds]] generated CTEs (the
    * q296 pattern — assembled without stripMargin so generated lines
    * never start with a margin character), then the same removal
    * effects and remainder-closed shares. */
  private def duckMarkovSql: String = {
    val head = """WITH ev AS (SELECT user_id, event_type,
    epoch_us(ts) AS ts_us, event_id
  FROM events
  WHERE event_type IN ('view', 'click', 'signup', 'purchase')),
rk AS (SELECT user_id, event_type,
    row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
      AS rk
  FROM ev),
pr AS (SELECT user_id, min(rk) AS pr FROM rk
  WHERE event_type = 'purchase' GROUP BY 1),
kept AS (SELECT r.user_id, r.event_type, r.rk
  FROM rk r LEFT JOIN pr USING (user_id)
  WHERE pr IS NULL OR r.rk <= pr),
nx AS (SELECT user_id, event_type, rk,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY rk) AS nxt
  FROM kept),
tr AS (SELECT event_type AS src, coalesce(nxt, 'null') AS dst
  FROM nx WHERE event_type <> 'purchase'
  UNION ALL SELECT 'start' AS src, event_type AS dst FROM nx WHERE rk = 1),
cnt AS (SELECT src, dst, count(*) AS c FROM tr GROUP BY 1, 2),
tt AS (SELECT src, CAST(sum(c) AS BIGINT) AS t FROM cnt GROUP BY 1),
p AS MATERIALIZED (SELECT cnt.src, cnt.dst,
    CAST(c * 1000000 // t AS BIGINT) AS p
  FROM cnt JOIN tt ON cnt.src = tt.src),
scen(scen) AS (VALUES ('base'), ('click'), ('signup'), ('view')),
v0 AS MATERIALIZED (SELECT scen, src AS st, CAST(0 AS BIGINT) AS v
  FROM scen CROSS JOIN (SELECT DISTINCT src FROM p))"""
    val iters = (1 to markovRounds).map { k =>
      s"""v$k AS MATERIALIZED (SELECT s.scen, p.src AS st,
  CAST(sum(p.p * (CASE WHEN p.dst = 'purchase' THEN 1000000
    WHEN p.dst = 'null' THEN 0
    WHEN p.dst = s.scen THEN 0
    ELSE coalesce(w.v, 0) END)) // 1000000 AS BIGINT) AS v
FROM scen s CROSS JOIN p
LEFT JOIN v${k - 1} w ON w.scen = s.scen AND w.st = p.dst
GROUP BY 1, 2)"""
    }.mkString(",\n")
    val fin = s"""
vb AS (SELECT v AS v_base_ppm FROM v$markovRounds
  WHERE scen = 'base' AND st = 'start'),
vr AS (SELECT scen AS channel, v AS v_removed_ppm FROM v$markovRounds
  WHERE scen <> 'base' AND st = 'start'),
re AS MATERIALIZED (SELECT channel, v_base_ppm, v_removed_ppm,
    v_base_ppm - v_removed_ppm AS re_ppm
  FROM vr CROSS JOIN vb),
fl AS MATERIALIZED (SELECT channel, v_base_ppm, v_removed_ppm, re_ppm,
    CASE WHEN (SELECT sum(re_ppm) FROM re) > 0
      THEN CAST(re_ppm * 1000000 // (SELECT sum(re_ppm) FROM re)
        AS BIGINT) ELSE 0 END AS floor_ppm,
    row_number() OVER (ORDER BY channel) AS rk2
  FROM re),
rm AS (SELECT CASE WHEN (SELECT sum(re_ppm) FROM re) > 0
    THEN 1000000 - sum(floor_ppm) ELSE 0 END AS rem FROM fl)
SELECT channel, v_base_ppm, v_removed_ppm, re_ppm,
  CAST(floor_ppm + CASE WHEN rk2 <= rem THEN 1 ELSE 0 END AS BIGINT)
    AS share_ppm
FROM fl CROSS JOIN rm ORDER BY channel"""
    s"$head,\n$iters,$fin"
  }

  def oracles: Map[String, String] = Map(
    // the gap arithmetic replayed as an explicit purchase × touch range
    // join (the shape the engine's window pass avoids); g = (Δ−1)//day
    // matches the engine's (g·day, (g+1)·day] frames exactly, and the
    // remainder-to-largest-raw rule is the identical CASE
    "q318_time_decay" ->
      """WITH ev AS (SELECT event_id, user_id, event_type,
        |    epoch_us(ts) AS ts FROM events),
        |tc AS (SELECT p.event_id AS conv_id, t.event_type AS ch,
        |    CAST((p.ts - t.ts - 1) // 86400000000 AS INT) AS g
        |  FROM ev p JOIN ev t ON p.user_id = t.user_id
        |    AND p.event_type = 'purchase'
        |    AND t.event_type IN ('view', 'click', 'signup')
        |    AND t.ts >= p.ts - 604800000000 AND t.ts < p.ts),
        |piv AS (SELECT conv_id,
        |    CAST(coalesce(sum(CASE WHEN ch = 'view'
        |      THEN 1000000 // (1 << g) END), 0) AS BIGINT) AS vraw,
        |    CAST(coalesce(sum(CASE WHEN ch = 'click'
        |      THEN 1000000 // (1 << g) END), 0) AS BIGINT) AS craw,
        |    CAST(coalesce(sum(CASE WHEN ch = 'signup'
        |      THEN 1000000 // (1 << g) END), 0) AS BIGINT) AS sraw
        |  FROM tc GROUP BY 1),
        |base AS (SELECT p.event_id AS conv_id,
        |    coalesce(piv.vraw, 0) AS vraw, coalesce(piv.craw, 0) AS craw,
        |    coalesce(piv.sraw, 0) AS sraw
        |  FROM (SELECT event_id FROM ev WHERE event_type = 'purchase') p
        |  LEFT JOIN piv ON p.event_id = piv.conv_id),
        |cr AS (SELECT *, vraw + craw + sraw AS t FROM base),
        |cd AS (SELECT conv_id, vraw, craw, sraw, t,
        |    CASE WHEN t = 0 THEN 0 ELSE (vraw * 1000000) // t END AS vppm,
        |    CASE WHEN t = 0 THEN 0 ELSE (craw * 1000000) // t END AS cppm,
        |    CASE WHEN t = 0 THEN 0 ELSE (sraw * 1000000) // t END AS sppm,
        |    CASE WHEN craw >= sraw AND craw >= vraw THEN 'click'
        |      WHEN sraw >= vraw THEN 'signup' ELSE 'view' END AS winner
        |  FROM cr),
        |ex AS (
        |  SELECT conv_id, 'view' AS ch, vppm + CASE WHEN winner = 'view'
        |      AND t > 0 THEN 1000000 - vppm - cppm - sppm ELSE 0 END
        |      AS ppm, vraw AS rw FROM cd
        |  UNION ALL
        |  SELECT conv_id, 'click', cppm + CASE WHEN winner = 'click'
        |      AND t > 0 THEN 1000000 - vppm - cppm - sppm ELSE 0 END,
        |    craw FROM cd
        |  UNION ALL
        |  SELECT conv_id, 'signup', sppm + CASE WHEN winner = 'signup'
        |      AND t > 0 THEN 1000000 - vppm - cppm - sppm ELSE 0 END,
        |    sraw FROM cd
        |  UNION ALL
        |  SELECT conv_id, '(none)', 1000000, 1 FROM cd WHERE t = 0)
        |SELECT ch AS channel, count(*) AS n_convs,
        |  CAST(sum(ppm) AS BIGINT) AS decay_ppm
        |FROM ex WHERE rw > 0 GROUP BY 1 ORDER BY 1""".stripMargin,
    // same extrema algebra: pair via tmin/tmax cross, triple via the
    // earliest-b-after-first-a join, strict inequalities throughout
    "q316_seq_patterns" ->
      """WITH ev AS (SELECT user_id, event_type AS t, epoch_us(ts) AS ts
        |  FROM events),
        |ut AS MATERIALIZED (SELECT user_id, t, min(ts) AS tmin,
        |    max(ts) AS tmax FROM ev GROUP BY 1, 2),
        |nu AS (SELECT count(DISTINCT user_id) AS n FROM ut),
        |pairs AS (SELECT a.t AS ta, b.t AS tb, count(*) AS sup
        |  FROM ut a JOIN ut b
        |    ON a.user_id = b.user_id AND a.tmin < b.tmax
        |  GROUP BY 1, 2),
        |mab AS (SELECT e.user_id, a.t AS ta, e.t AS tb, min(e.ts) AS m
        |  FROM ev e JOIN ut a
        |    ON e.user_id = a.user_id AND e.ts > a.tmin
        |  GROUP BY 1, 2, 3),
        |tri AS (SELECT m.ta, m.tb, c.t AS tc, count(*) AS sup
        |  FROM mab m JOIN ut c
        |    ON m.user_id = c.user_id AND m.m < c.tmax
        |  GROUP BY 1, 2, 3)
        |SELECT pattern, len, sup,
        |  CAST((sup * 1000000) // (SELECT n FROM nu) AS BIGINT) AS sup_ppm
        |FROM (
        |  SELECT ta || '>' || tb AS pattern, 2 AS len,
        |    CAST(sup AS BIGINT) AS sup FROM pairs
        |  UNION ALL
        |  SELECT ta || '>' || tb || '>' || tc, 3, CAST(sup AS BIGINT)
        |  FROM tri)
        |ORDER BY sup DESC, pattern""".stripMargin,
    // the gap semantics replayed as explicit range self-joins (strict
    // after, <= 7d per step) — the naive shape the engine's window pass
    // avoids, exact at oracle scale; same support-desc/pattern order
    "q321_seq_patterns_gap" ->
      s"""WITH ev AS (SELECT user_id, event_type AS t, epoch_us(ts) AS ts
         |  FROM events),
         |nu AS (SELECT count(DISTINCT user_id) AS n FROM ev),
         |p2 AS (SELECT e1.t AS a, e2.t AS b,
         |    count(DISTINCT e1.user_id) AS sup
         |  FROM ev e1 JOIN ev e2 ON e2.user_id = e1.user_id
         |    AND e2.ts > e1.ts AND e2.ts <= e1.ts + $seqGapUs
         |  GROUP BY 1, 2),
         |p3 AS (SELECT e1.t AS a, e2.t AS b, e3.t AS c,
         |    count(DISTINCT e1.user_id) AS sup
         |  FROM ev e1
         |  JOIN ev e2 ON e2.user_id = e1.user_id
         |    AND e2.ts > e1.ts AND e2.ts <= e1.ts + $seqGapUs
         |  JOIN ev e3 ON e3.user_id = e2.user_id
         |    AND e3.ts > e2.ts AND e3.ts <= e2.ts + $seqGapUs
         |  GROUP BY 1, 2, 3)
         |SELECT pattern, len, sup,
         |  CAST((sup * 1000000) // (SELECT n FROM nu) AS BIGINT) AS sup_ppm
         |FROM (
         |  SELECT a || '>' || b AS pattern, 2 AS len,
         |    CAST(sup AS BIGINT) AS sup FROM p2
         |  UNION ALL
         |  SELECT a || '>' || b || '>' || c, 3, CAST(sup AS BIGINT)
         |  FROM p3)
         |ORDER BY sup DESC, pattern""".stripMargin,
    "q298_markov_attribution" -> duckMarkovSql,
    // the identical step chain: strict-after + 7-day window per step,
    // DECIMAL-safe latency sums (HUGEINT here), the same -1/0 sentinels
    "q282_funnel_steps" -> {
      val w = funnelWindowUs
      s"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t
         |  FROM events),
         |s1 AS (SELECT user_id, min(t) AS t1 FROM ev
         |  WHERE event_type = 'view' GROUP BY 1),
         |s2 AS (SELECT e.user_id, min(e.t) AS t2, max(s.t1) AS t1
         |  FROM ev e JOIN s1 s ON e.user_id = s.user_id
         |  WHERE e.event_type = 'click' AND e.t > s.t1
         |    AND e.t <= s.t1 + $w GROUP BY 1),
         |s3 AS (SELECT e.user_id, min(e.t) AS t3, max(s.t2) AS t2
         |  FROM ev e JOIN s2 s ON e.user_id = s.user_id
         |  WHERE e.event_type = 'purchase' AND e.t > s.t2
         |    AND e.t <= s.t2 + $w GROUP BY 1),
         |j AS (SELECT
         |  (SELECT count(*) FROM s1) AS n1,
         |  (SELECT count(*) FROM s2) AS n2,
         |  (SELECT sum(CAST(t2 - t1 AS HUGEINT)) FROM s2) AS l2,
         |  (SELECT count(*) FROM s3) AS n3,
         |  (SELECT sum(CAST(t3 - t2 AS HUGEINT)) FROM s3) AS l3)
         |SELECT CAST(1 AS INT) AS step, 'view' AS event_type,
         |  n1 AS n_users,
         |  CAST(CASE WHEN n1 > 0 THEN n1 * 1000000 // n1 ELSE 0 END
         |    AS BIGINT) AS conv_from_prev_ppm,
         |  CAST(-1 AS BIGINT) AS mean_latency_us FROM j
         |UNION ALL SELECT CAST(2 AS INT), 'click', n2,
         |  CAST(CASE WHEN n1 > 0 THEN n2 * 1000000 // n1 ELSE 0 END
         |    AS BIGINT),
         |  CASE WHEN n2 > 0 THEN CAST(l2 // n2 AS BIGINT)
         |    ELSE CAST(-1 AS BIGINT) END FROM j
         |UNION ALL SELECT CAST(3 AS INT), 'purchase', n3,
         |  CAST(CASE WHEN n2 > 0 THEN n3 * 1000000 // n2 ELSE 0 END
         |    AS BIGINT),
         |  CASE WHEN n3 > 0 THEN CAST(l3 // n3 AS BIGINT)
         |    ELSE CAST(-1 AS BIGINT) END FROM j
         |ORDER BY step""".stripMargin
    },
    // the oracle computes the prefix max directly — it need not scale
    "q196_lateness_audit" ->
      """WITH ev AS (SELECT epoch_us(ts)
        |      - max(epoch_us(ts)) OVER (ORDER BY event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS neg_late FROM events)
        |SELECT count(*) AS n_events,
        |  CAST(sum(CASE WHEN -neg_late > 60000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_late_1m,
        |  CAST(sum(CASE WHEN -neg_late > 300000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_late_5m,
        |  CAST(sum(CASE WHEN -neg_late > 900000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_late_15m,
        |  CAST(max(-neg_late) AS BIGINT) AS max_late_us
        |FROM ev""".stripMargin,
    // data-discovered keys, full-match type regexes in both engines;
    // json_valid mirrors Spark's from_json-is-null malformed-row drop
    "q233_json_profile" ->
      """WITH kv AS (SELECT unnest(json_keys(props)) AS key, props
        |  FROM events
        |  WHERE json_valid(props) AND json_type(props) = 'OBJECT'),
        |vals AS (SELECT key,
        |    json_extract_string(props, '$.' || key) AS v FROM kv)
        |SELECT key, count(*) AS n_present,
        |  CAST(sum(CASE WHEN regexp_full_match(v, '-?[0-9]+')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_int,
        |  CAST(sum(CASE WHEN regexp_full_match(v, '-?[0-9]*\.[0-9]+')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_frac,
        |  CAST(sum(CASE WHEN v IN ('true', 'false') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_bool,
        |  CAST(count(*)
        |    - sum(CASE WHEN regexp_full_match(v, '-?[0-9]+') THEN 1 ELSE 0 END)
        |    - sum(CASE WHEN regexp_full_match(v, '-?[0-9]*\.[0-9]+') THEN 1 ELSE 0 END)
        |    - sum(CASE WHEN v IN ('true', 'false') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_other,
        |  count(DISTINCT v) AS n_distinct
        |FROM vals GROUP BY 1 ORDER BY key""".stripMargin,
    // one window pass with two leads, the identical (t, event_id) order
    "q225_event_trigrams" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS t, event_id,
        |    event_type FROM events),
        |sq AS (SELECT user_id, event_type AS e1,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
        |SELECT e1, e2, e3, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users
        |FROM sq WHERE e3 IS NOT NULL GROUP BY 1, 2, 3
        |ORDER BY n DESC, e1, e2, e3 LIMIT 10""".stripMargin,
    // the identical epoch-week key, distinct user-week activity,
    // conditional-sum expansion of the pivot (A6's documented oracle
    // shape), the same −1 beyond-horizon sentinel and exact ppm div
    "q305_retention_triangle" -> {
      // CAST the whole cell: DuckDB's sum() is HUGEINT, which the strict
      // gate's dtype compare reads as float64 against Spark's int64
      val cells = (0 to retentionMaxOffset).map { k =>
        s"  CAST(CASE WHEN mx_wk - s.cohort_wk < $k THEN -1\n" +
          s"    ELSE coalesce(sum(CASE WHEN a.off = $k THEN a.n END), 0)\n" +
          s"      * 1000000 // s.n_users END AS BIGINT) AS ret_w${k}_ppm"
      }.mkString(",\n")
      s"""WITH pu AS (SELECT DISTINCT user_id,
         |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
         |      AS wk
         |  FROM events WHERE event_type = 'purchase'),
         |frst AS (SELECT user_id, min(wk) AS cohort_wk FROM pu GROUP BY 1),
         |sizes AS (SELECT cohort_wk, count(*) AS n_users FROM frst
         |  GROUP BY 1),
         |act AS (SELECT f.cohort_wk, p.wk - f.cohort_wk AS off,
         |    count(*) AS n
         |  FROM pu p JOIN frst f ON p.user_id = f.user_id GROUP BY 1, 2),
         |mx AS (SELECT max(wk) AS mx_wk FROM pu)
         |SELECT s.cohort_wk, s.n_users,
         |$cells
         |FROM sizes s LEFT JOIN act a ON s.cohort_wk = a.cohort_wk
         |CROSS JOIN mx
         |GROUP BY s.cohort_wk, s.n_users, mx_wk
         |ORDER BY s.cohort_wk""".stripMargin
    },
    // exact 0-based integer month codes (y*12+(m-1)), cohort-frame
    // cumulative sums
    "q226_cohort_ltv" ->
      """WITH p AS (SELECT user_id,
        |    year(ts) * 12 + (month(ts) - 1) AS mcode,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |fst AS (SELECT user_id, min(mcode) AS cohort_mcode
        |  FROM p GROUP BY 1),
        |sz AS (SELECT cohort_mcode, count(*) AS n_users FROM fst GROUP BY 1),
        |grid AS (SELECT f.cohort_mcode,
        |    p.mcode - f.cohort_mcode AS month_offset,
        |    CAST(sum(cents) AS BIGINT) AS rev_cents,
        |    count(DISTINCT p.user_id) AS n_active
        |  FROM p JOIN fst f USING (user_id) GROUP BY 1, 2),
        |cum AS (SELECT g.*, sz.n_users,
        |    CAST(sum(rev_cents) OVER (PARTITION BY g.cohort_mcode
        |      ORDER BY month_offset ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS cum_rev
        |  FROM grid g JOIN sz USING (cohort_mcode))
        |SELECT CAST(cohort_mcode // 12 AS INT) AS cohort_year,
        |  CAST(cohort_mcode % 12 AS INT) AS cohort_month0,
        |  CAST(month_offset AS BIGINT) AS month_offset, n_users, n_active,
        |  rev_cents, cum_rev, cum_rev // n_users AS ltv_cents_per_user
        |FROM cum ORDER BY cohort_year, cohort_month0, month_offset""".stripMargin,
    // identical session breaks, identical ordered sequences (ordered
    // string_agg mirrors the padded-key sort)
    "q222_bot_signatures" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS t, event_id,
        |    event_type FROM events),
        |mk AS (SELECT *, CASE WHEN t - lag(t)
        |      OVER (PARTITION BY user_id ORDER BY t, event_id)
        |      >= 1800000000 THEN 1 ELSE 0 END AS brk FROM ev),
        |sid AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
        |    ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM mk),
        |shp AS (SELECT user_id, sid, count(*) AS n_events,
        |    md5(string_agg(event_type, ',' ORDER BY t, event_id)) AS fp
        |  FROM sid GROUP BY 1, 2)
        |SELECT substr(fp, 1, 16) AS signature, count(*) AS n_sessions,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(min(n_events) AS BIGINT) AS session_len
        |FROM shp GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY n_sessions DESC, signature LIMIT 10""".stripMargin,
    // identical per-user conditional mins, identical hour-bucketed
    // quantile reads; mean exact in microseconds
    "q220_conversion_latency" ->
      """WITH pu AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
        |      AS p
        |  FROM events GROUP BY 1),
        |lat AS (SELECT (p - v) // 3600000000 AS hours, p - v AS us
        |  FROM pu WHERE v IS NOT NULL AND p IS NOT NULL AND p >= v),
        |vc AS (SELECT hours, count(*) AS c FROM lat GROUP BY 1),
        |cu AS (SELECT hours, c, sum(c) OVER (ORDER BY hours
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM vc),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(us AS HUGEINT)) AS HUGEINT) AS sum_us FROM lat)
        |SELECT max(n) AS n_converted,
        |  CAST(max(sum_us) // max(n) AS BIGINT) AS mean_latency_us,
        |  min(CASE WHEN cum * 2 >= n THEN hours END) AS p50_hours,
        |  min(CASE WHEN cum * 10 >= n * 9 THEN hours END) AS p90_hours
        |FROM cu, tot""".stripMargin,
    "q180_rolling_mau" ->
      """WITH ev AS (SELECT DISTINCT
        |    CAST(ts AS DATE) - DATE '1970-01-01' AS day, user_id
        |  FROM events),
        |sp AS (SELECT max(CAST(ts AS DATE) - DATE '1970-01-01') AS hi
        |  FROM events),
        |tg AS (SELECT DISTINCT user_id, day + u AS t
        |  FROM ev, unnest([0, 1, 2, 3, 4, 5, 6]) AS s(u))
        |SELECT DATE '1970-01-01' + CAST(t AS INT) AS day,
        |  count(*) AS mau7
        |FROM tg, sp WHERE t <= hi GROUP BY 1 ORDER BY 1""".stripMargin,
    "q175_ohlc_bars" -> OracleSql.ohlcQuery,
    "q168_interval_coverage" ->
      s"""WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS t,
        |    epoch_us(ts) + $coverHoldUs AS e
        |  FROM events),
        |mk AS (SELECT user_id, event_id, t, e,
        |    max(e) OVER (PARTITION BY user_id ORDER BY t, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM ev),
        |fl AS (SELECT user_id, event_id, t, e,
        |    CASE WHEN pm IS NULL OR t > pm THEN 1 ELSE 0 END AS nw
        |  FROM mk),
        |il AS (SELECT user_id, t, e,
        |    sum(nw) OVER (PARTITION BY user_id ORDER BY t, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM fl),
        |sp AS (SELECT user_id, island, min(t) AS st, max(e) AS en
        |  FROM il GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_islands,
        |  CAST(sum(en - st) AS BIGINT) AS covered_us
        |FROM sp GROUP BY 1 ORDER BY user_id""".stripMargin,
    "q164_twap" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS t,
        |    CAST(round(value * 1000000) AS BIGINT) AS vq
        |  FROM events WHERE event_type = 'purchase'),
        |iv AS (SELECT user_id, vq,
        |    lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) - t AS dt
        |  FROM ev),
        |ag AS (SELECT user_id, count(*) AS n_intervals,
        |    CAST(sum(dt) AS BIGINT) AS span_us,
        |    sum(vq::HUGEINT * dt) AS num
        |  FROM iv WHERE dt IS NOT NULL GROUP BY 1)
        |SELECT user_id, n_intervals, span_us,
        |  CAST(num // span_us AS BIGINT) AS twap_ppm
        |FROM ag WHERE span_us > 0 ORDER BY user_id""".stripMargin,
    "q150_markov_transitions" ->
      """WITH sq AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS nxt
        |  FROM events),
        |tr AS (SELECT event_type AS src, nxt AS dst, count(*) AS n
        |  FROM sq WHERE nxt IS NOT NULL GROUP BY 1, 2)
        |SELECT src, dst, n,
        |  CAST(n * 1000000 // sum(n) OVER (PARTITION BY src) AS BIGINT) AS p_ppm
        |FROM tr ORDER BY src, dst""".stripMargin,
    // the identical mask histogram, coalition values, sixths-exact
    // Shapley terms, and remainder rule over the shared q292 frame CTEs
    "q297_shapley_attribution" ->
      s"""WITH ${OracleSql.touchKeys},
        |wn AS (SELECT event_id, event_type,
        |    count(CASE WHEN event_type = 'view' THEN 1 END)
        |      OVER w AS n_view,
        |    count(CASE WHEN event_type = 'click' THEN 1 END)
        |      OVER w AS n_click,
        |    count(CASE WHEN event_type = 'signup' THEN 1 END)
        |      OVER w AS n_signup
        |  FROM tk WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |    RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)),
        |mk AS (SELECT CASE WHEN n_view > 0 THEN 1 ELSE 0 END
        |    + CASE WHEN n_click > 0 THEN 2 ELSE 0 END
        |    + CASE WHEN n_signup > 0 THEN 4 ELSE 0 END AS mask
        |  FROM wn WHERE event_type = 'purchase'),
        |cnt AS (SELECT mask, count(*) AS cnt FROM mk GROUP BY 1),
        |co AS (SELECT unnest(range(0, 8)) AS s_mask),
        |v AS MATERIALIZED (SELECT s_mask,
        |    CAST(coalesce(sum(cnt), 0) AS BIGINT) AS v
        |  FROM co LEFT JOIN cnt ON (mask & s_mask) = mask AND mask <> 0
        |  GROUP BY 1),
        |terms(channel, bit, s_mask, coeff) AS (VALUES
        |  ('view', 1, 0, 2), ('view', 1, 2, 1),
        |  ('view', 1, 4, 1), ('view', 1, 6, 2),
        |  ('click', 2, 0, 2), ('click', 2, 1, 1),
        |  ('click', 2, 4, 1), ('click', 2, 5, 2),
        |  ('signup', 4, 0, 2), ('signup', 4, 1, 1),
        |  ('signup', 4, 2, 1), ('signup', 4, 3, 2)),
        |phi AS (SELECT channel, bit,
        |    CAST(sum(coeff * (vc.v - vs.v)) AS BIGINT) AS phi_sixths
        |  FROM terms JOIN v vs ON terms.s_mask = vs.s_mask
        |  JOIN v vc ON terms.s_mask + terms.bit = vc.s_mask
        |  GROUP BY 1, 2),
        |vf AS (SELECT v AS v_full FROM v WHERE s_mask = 7),
        |fl AS (SELECT channel, bit, phi_sixths, v_full,
        |    CASE WHEN v_full > 0
        |      THEN phi_sixths * 1000000 // (6 * v_full) ELSE 0 END
        |      AS floor_ppm,
        |    row_number() OVER (ORDER BY channel) AS rk
        |  FROM phi CROSS JOIN vf),
        |rm AS (SELECT CASE WHEN max(v_full) > 0
        |    THEN 1000000 - sum(floor_ppm) ELSE 0 END AS rem FROM fl)
        |SELECT channel, sv.v AS v_solo, v_full, phi_sixths,
        |  CAST(floor_ppm + CASE WHEN rk <= rem THEN 1 ELSE 0 END
        |    AS BIGINT) AS share_ppm
        |FROM fl JOIN v sv ON fl.bit = sv.s_mask CROSS JOIN rm
        |ORDER BY channel""".stripMargin,
    // the identical frame, touch keys, closed-form per-channel credits,
    // and remainder-to-first rule
    "q292_multi_touch" ->
      s"""WITH ${OracleSql.touchKeys},
        |wn AS (SELECT event_id, event_type,
        |    count(CASE WHEN event_type = 'view' THEN 1 END)
        |      OVER w AS n_view,
        |    count(CASE WHEN event_type = 'click' THEN 1 END)
        |      OVER w AS n_click,
        |    count(CASE WHEN event_type = 'signup' THEN 1 END)
        |      OVER w AS n_signup,
        |    min(tk) OVER w AS first_tk, max(tk) OVER w AS last_tk
        |  FROM tk WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |    RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)),
        |conv AS (SELECT event_id AS conv_id,
        |    n_view + n_click + n_signup AS n, n_view, n_click, n_signup,
        |    split_part(first_tk, ':', 3) AS fty,
        |    split_part(last_tk, ':', 3) AS lty
        |  FROM wn WHERE event_type = 'purchase'),
        |ex AS (SELECT conv_id, n, fty, lty, ch, n_ch FROM conv,
        |  LATERAL (VALUES ('view', n_view), ('click', n_click),
        |    ('signup', n_signup),
        |    ('(none)', CASE WHEN n = 0 THEN 1 ELSE 0 END)) AS v(ch, n_ch)
        |  WHERE n_ch > 0),
        |cr AS (SELECT ch, n_ch,
        |    CASE WHEN n = 0 THEN 1000000
        |      WHEN fty = ch THEN 1000000 ELSE 0 END AS first_ppm,
        |    CASE WHEN n = 0 THEN 1000000
        |      WHEN lty = ch THEN 1000000 ELSE 0 END AS last_ppm,
        |    CASE WHEN n = 0 THEN 1000000
        |      ELSE (1000000 // n) * n_ch
        |        + CASE WHEN fty = ch THEN 1000000 % n ELSE 0 END
        |    END AS linear_ppm,
        |    CASE WHEN n = 0 THEN 1000000
        |      WHEN n = 1 THEN
        |        CASE WHEN fty = ch THEN 1000000 ELSE 0 END
        |      WHEN n = 2 THEN
        |        CASE WHEN fty = ch THEN 500000 ELSE 0 END
        |        + CASE WHEN lty = ch THEN 500000 ELSE 0 END
        |      ELSE
        |        CASE WHEN fty = ch THEN 400000 + 200000 % (n - 2)
        |          ELSE 0 END
        |        + CASE WHEN lty = ch THEN 400000 ELSE 0 END
        |        + (200000 // (n - 2))
        |          * (n_ch - CASE WHEN fty = ch THEN 1 ELSE 0 END
        |                  - CASE WHEN lty = ch THEN 1 ELSE 0 END)
        |    END AS ushape_ppm
        |  FROM ex)
        |SELECT ch AS channel, count(*) AS n_convs,
        |  CAST(sum(n_ch) AS BIGINT) AS n_touches,
        |  CAST(sum(first_ppm) AS BIGINT) AS first_ppm,
        |  CAST(sum(last_ppm) AS BIGINT) AS last_ppm,
        |  CAST(sum(linear_ppm) AS BIGINT) AS linear_ppm,
        |  CAST(sum(ushape_ppm) AS BIGINT) AS ushape_ppm
        |FROM cr GROUP BY 1 ORDER BY 1""".stripMargin,
    "q145_attribution" ->
      """WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events),
        |tk AS (SELECT event_id, user_id, event_type, ts_us,
        |    CASE WHEN event_type IN ('click', 'view') THEN
        |      lpad(CAST(ts_us AS VARCHAR), 20, '0') || ':' || event_id
        |        || ':' || event_type END AS tk
        |  FROM ev),
        |wn AS (SELECT event_id, user_id, event_type, ts_us,
        |    min(tk) OVER w AS first_tk, max(tk) OVER w AS last_tk,
        |    count(tk) OVER w AS n_touches
        |  FROM tk WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |    RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING))
        |SELECT event_id AS conv_id, user_id, n_touches,
        |  CAST(split_part(first_tk, ':', 2) AS BIGINT) AS first_touch_id,
        |  split_part(first_tk, ':', 3) AS first_touch_type,
        |  CAST(split_part(last_tk, ':', 2) AS BIGINT) AS last_touch_id,
        |  split_part(last_tk, ':', 3) AS last_touch_type,
        |  (ts_us - CAST(substring(first_tk, 1, 20) AS BIGINT)) // 1000000
        |    AS first_gap_s,
        |  (ts_us - CAST(substring(last_tk, 1, 20) AS BIGINT)) // 1000000
        |    AS last_gap_s,
        |  10000 // n_touches AS linear_bp
        |FROM wn WHERE event_type = 'purchase' AND n_touches >= 1
        |ORDER BY conv_id""".stripMargin,
    "q129_rate_anomaly" ->
      """WITH hourly AS (
        |  SELECT epoch_us(ts) // 3600000000 AS hr, count(*) AS n
        |  FROM events GROUP BY 1),
        |st AS (
        |  SELECT hr, n,
        |    count(*) OVER w AS n_prev,
        |    CAST(sum(n) OVER w AS BIGINT) AS sx,
        |    CAST(sum(n * n) OVER w AS BIGINT) AS sxx
        |  FROM hourly
        |  WINDOW w AS (ORDER BY hr RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |z AS (
        |  SELECT hr, n, n_prev,
        |    CASE WHEN (CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n_prev)
        |        / (n_prev - 1) > 0
        |      THEN round((CAST(n AS DOUBLE) - CAST(sx AS DOUBLE) / n_prev)
        |        / sqrt((CAST(sxx AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n_prev)
        |          / (n_prev - 1)), 4)
        |      ELSE 0.0 END AS z
        |  FROM st WHERE n_prev >= 6)
        |SELECT make_timestamp(hr * 3600000000) AS hour, n, n_prev, z,
        |  (abs(z) > 2) AS is_anomaly
        |FROM z ORDER BY hour""".stripMargin,
    "q111_funnel" ->
      """WITH t1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN t1 ON e.user_id = t1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1),
        |t3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN t2 ON e.user_id = t2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1)
        |SELECT count(*) AS n_view,
        |  count(t2.t2) AS n_view_click,
        |  count(t3.t3) AS n_full_funnel
        |FROM t1
        |LEFT JOIN t2 ON t1.user_id = t2.user_id
        |LEFT JOIN t3 ON t1.user_id = t3.user_id""".stripMargin,
    "q112_cohort_retention" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        |  FROM events),
        |cohort AS (
        |  SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1)
        |SELECT c.cohort_day,
        |  CAST(date_diff('day', c.cohort_day, e.day) AS INT) AS day_offset,
        |  count(DISTINCT e.user_id) AS n_users
        |FROM ev e JOIN cohort c ON e.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin,
    "q22_window_tumbling" ->
      """SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP) AS window_start,
        | event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "q23_window_sliding" ->
      """WITH assigned AS (
        |  SELECT CAST(time_bucket(INTERVAL '30 minutes', ts) AS TIMESTAMP) AS window_start,
        |         event_type FROM events
        |  UNION ALL
        |  SELECT CAST(time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' AS TIMESTAMP),
        |         event_type FROM events
        |)
        |SELECT window_start, event_type, count(*) AS n
        |FROM assigned GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "q24_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "q45_session_windows" -> sessionOracle,
    // q46/q53 compute the same sessions through the typed state API and a
    // secondary sort respectively — same oracle
    "q46_stateful_sessions" -> sessionOracle,
    "q53_sorted_sessions" -> sessionOracle)

  /** Gaps-and-islands sessionization, DuckDB side: new-session marker via
    * lag, island id via running sum (ROWS frame; ties on ts share a
    * session either way), session end = last event + gap.
    */
  private val sessionOracle: String =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |marked AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_sess
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |sess AS (
      |  SELECT user_id, ts,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM marked)
      |SELECT user_id, min(ts) AS session_start,
      |  max(ts) + INTERVAL '30 minutes' AS session_end, count(*) AS n_events
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin
}
