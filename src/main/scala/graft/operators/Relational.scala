package graft.operators

import graft.{OracleSql, Q, QueryModule}
import graft.functions.Exact._
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Projection / filter / scalar-expression / aggregation / window operators
  * — the reference's core analytic surface (SURVEY.md §2.2–§2.5), transposed
  * from the Chicago Crimes table to the fixture star schema per FIXTURES.md.
  *
  * Scale notes (100 TB posture):
  *  - every query is a declarative DataFrame plan: filters and projections
  *    reach the parquet scan (PushedFilters/ReadSchema), group-bys get
  *    partial+final hash aggregation (map-side combine) from Catalyst;
  *  - top-k = orderBy+limit planned as TakeOrderedAndProject (no full sort);
  *  - the one unpartitioned window (q16) runs over an already-aggregated
  *    ~1 row/month frame, never over raw rows.
  */
object Relational extends QueryModule {

  /** q01 — flagship: TPC-H-Q1-shaped pricing summary. Reference shape:
    * group-count + multi-aggregate (Dataset.py:214, 272-276) widened to the
    * canonical returnflag/linestatus rollup.
    */
  val pricingSummary: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    li.filter(col("l_shipdate") < lit("2001-01-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsumRevenue(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** q02 — per-column null tally in one pass (Dataset.py:79, §2.2 P6). */
  val nullCounts: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    li.select(li.columns.map(c => sum(col(c).isNull.cast("long")).as(c)): _*)
  }

  /** q03 — cleaning pipeline: na.drop + dropDuplicates + count
    * (Dataset.py:83-85, §2.2 P4/P5). dropDuplicates shuffles on all columns;
    * at scale prefer the md5-keyed dedup in Text.exactDedup (hash key, not
    * full-row compare).
    */
  val cleanDedupCount: Q = (s, d) =>
    Tables.lineitem(s, d).na.drop().dropDuplicates()
      .agg(count(lit(1)).as("n"))

  /** q04 — regex clean of a text column (Dataset.py:87, §2.2 P7). */
  val regexClean: Q = (s, d) =>
    Tables.part(s, d)
      .select(col("p_partkey"),
        regexp_replace(lower(col("p_name")), "[-/:]", " ").as("p_name_clean"))
      .orderBy("p_partkey")

  /** q05 — date-part derivation (Dataset.py:95-99, §2.2 P9).
    * Spark dayofweek is 1=Sunday; oracle uses dayofweek()+1 (0=Sunday).
    */
  val dateParts: Q = (s, d) =>
    Tables.orders(s, d).select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("y"),
      month(col("o_orderdate")).as("m"),
      dayofmonth(col("o_orderdate")).as("dom"),
      hour(col("o_orderdate")).as("h"),
      dayofweek(col("o_orderdate")).as("dow"))
      .orderBy("o_orderkey")

  /** q06 — CASE WHEN season bucketing (Dataset.py:123-129, §2.2 P10),
    * month(o_orderdate) standing in for the crime month.
    */
  val seasonBucket: Q = (s, d) => {
    val m = month(col("o_orderdate"))
    Tables.orders(s, d)
      .withColumn("season",
        when(m.isin(12, 1, 2), "Winter")
          .when(m.isin(3, 4, 5), "Spring")
          .when(m.isin(6, 7, 8), "Summer")
          .otherwise("Autumn"))
      .groupBy("season").agg(count(lit(1)).as("cnt"))
      .orderBy("season")
  }

  /** q07 — modulo + range + IN filters (Dataset.py:101-103, 507;
    * §2.2 P13/P14/P15): the reference's leap-year sample over order years.
    */
  val filterSample: Q = (s, d) => {
    val y = year(col("o_orderdate"))
    Tables.orders(s, d)
      .filter(y % 4 === 0 && y > 1995 && y < 2001 &&
        col("o_orderstatus").isin("F", "O"))
      .select(col("o_orderkey"), col("o_orderstatus"), y.cast("int").as("y"))
      .orderBy("o_orderkey")
  }

  /** q08 — global conditional aggregate: percentage of 'F' orders
    * (arrest-percentage shape, Dataset.py:463-465, §2.3 A5).
    */
  val statusPct: Q = (s, d) =>
    Tables.orders(s, d).select(
      (sum(when(col("o_orderstatus") === "F", 1).otherwise(0)) * 100.0 /
        count(lit(1))).as("pct_f"))

  /** q09 — NOT IN filter + top-k group-count (Dataset.py:143-145, 477;
    * §2.2 P15 + §2.5 O3). orderBy+limit plans as TakeOrderedAndProject.
    */
  val notinTopk: Q = (s, d) =>
    Tables.orders(s, d)
      .filter(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("o_orderpriority"))
      .limit(10)

  /** q10 — multi-key group-count per (year, month) (Dataset.py:521, §2.3 A2). */
  val multikeyCount: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("y", "m")

  /** q11 — two-level aggregate: max-of-count per priority
    * (Dataset.py:180-181, §2.3 A3). Both levels are hash aggregates; the
    * second reuses the first's shuffle partitioning on the prefix key.
    */
  val maxOfCount: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"), year(col("o_orderdate")).as("y"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("o_orderpriority").agg(max("cnt").as("max_cnt"))
      .orderBy("o_orderpriority")

  /** q12 — multi-aggregate per group (avg/avg/count — Dataset.py:272-276,
    * §2.3 A4), with deterministic decimal-backed averages.
    */
  val multiAgg: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")

  /** q13 — pivot with explicit values + fill(0) (Dataset.py:382-390,
    * §2.3 A6). Explicit value list skips the extra distinct job the
    * reference pays for (SURVEY.md §4).
    */
  val pivotQuarters: Q = (s, d) =>
    Tables.orders(s, d)
      .withColumn("y", year(col("o_orderdate")))
      .withColumn("q", concat(lit("Q"), quarter(col("o_orderdate"))))
      .groupBy("y")
      .pivot("q", Seq("Q1", "Q2", "Q3", "Q4"))
      .count()
      .na.fill(0)
      .orderBy("y")

  /** q14 — DISTINCT (Dataset.py:210, §2.3 A7). */
  val distinctPriorities: Q = (s, d) =>
    Tables.orders(s, d).select("o_orderpriority").distinct()
      .orderBy("o_orderpriority")

  /** q15 — avg-of-counts: daily counts → monthly average
    * (Dataset.py:443-448, §2.3 A8).
    */
  val avgOfCounts: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dom"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("y", "m").agg(avg("cnt").as("avg_daily"))
      .orderBy("y", "m")

  /** q16 — frame-bounded trailing moving average (Dataset.py:516-524,
    * §2.4 W1) with the *intended* semantics: a trailing 3-month window over
    * the monthly series (the reference's partitionBy(year,month) makes every
    * partition a single row — documented divergence, SURVEY.md §2.4).
    *
    * Partitioned by YEAR with a 2-row halo: each year's last two observed
    * months are replicated into the next year's partition (picked by
    * row_number, so within-year sparsity can't desynchronize the trailing
    * rows-frame from the unpartitioned formulation), the frame is computed
    * per partition, and the helper rows are dropped. A decades-long series
    * therefore never serializes into one WindowExec partition — the
    * halo-exchange formulation SURVEY §2.4 names as the scale variant.
    * Bound: the frame reaches back 2 rows, so a halo of 2 is exact
    * whenever consecutive years in the series are adjacent (an entirely
    * observation-free YEAR would reset the frame — impossible here, and
    * a wider halo is the general fix).
    */
  val movingAvg: Q = (s, d) => {
    val monthly = Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("cnt"))
    val lastTwo = Window.partitionBy("y").orderBy(col("m").desc)
    val halo = monthly.withColumn("rn", row_number().over(lastTwo))
      .filter(col("rn") <= 2).drop("rn")
      .withColumn("py", col("y") + 1).withColumn("helper", lit(true))
    val own = monthly.withColumn("py", col("y")).withColumn("helper", lit(false))
    val w = Window.partitionBy("py").orderBy("y", "m").rowsBetween(-2, 0)
    own.unionByName(halo)
      .withColumn("mavg", avg("cnt").over(w))
      .filter(!col("helper"))
      .select(col("y"), col("m"), col("cnt"), col("mavg"))
      .orderBy("y", "m")
  }

  /** q17 — top-k per group via row_number, the dual formulation of q11's
    * max-of-count (SURVEY.md §2.4): top-3 suppliers per returnflag,
    * tie-broken on suppkey for determinism.
    */
  val topkPerGroup: Q = (s, d) => {
    val counts = Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_suppkey").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("cnt").desc, col("l_suppkey"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy("l_returnflag", "rn")
  }

  /** q49 — the flagship behind the [[Memo]] combinator: the reference's
    * central architectural idea (existence-gated parquet materialization,
    * Dataset.py:50-56 with 12 call sites) exercised on a real query path.
    * First call computes q01 and publishes it atomically; subsequent calls
    * (re-runs, other sessions on the same host) serve the parquet. The
    * cache key fingerprints the input file (length + mtime), so a changed
    * fixture can never be served a stale result. Row order is re-imposed
    * after the read — a multi-file parquet read has no order guarantee.
    */
  val memoPricing: Q = (s, d) => {
    val p = new org.apache.hadoop.fs.Path(s"$d/lineitem.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val cache = s"${System.getProperty("java.io.tmpdir")}/graft_memo/" +
      s"pricing_${st.getLen}_${st.getModificationTime}"
    Memo.memoize(s, cache)(pricingSummary(s, d))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** q54 — exact percentiles per group as ORDER STATISTICS: rank the values
    * per (group, metric) with a window sort, pick the two boundary rows of
    * each requested quantile, and interpolate with exactly Spark's
    * `percentile` formula (lower + (higher − lower)·frac — bit-identical to
    * the builtin and to DuckDB's quantile_cont, which the oracle uses).
    *
    * The builtin `percentile` aggregate buffers EVERY value of a group into
    * one (value → count) map per partial and merges all partials on the
    * group's single reducer — measured 4.5s at sf0.1, and a straight OOM
    * for a 100 TB group. The rank formulation sorts once per (group,
    * metric) shard, prunes to ≤2 rows per quantile map-side, and the
    * interpolation aggregate is trivially small. (The fully-scalable
    * variant range-partitions each group and ranks via per-partition
    * offsets; the plan here keeps the one-shard-per-group window, which is
    * the right trade until a single group outgrows one task's sort.)
    */
  val percentiles: Q = (s, d) => {
    val lf = Tables.lineitem(s, d).select(col("l_returnflag").as("flag"),
      explode(map(
        lit("price"), col("l_extendedprice").cast("double"),
        lit("qty"), col("l_quantity").cast("double"))).as(Seq("metric", "v")))
    val wRank = Window.partitionBy("flag", "metric").orderBy("v")
    val wAll = Window.partitionBy("flag", "metric")
    val wanted = array(
      struct(lit("price").as("pm"), lit(0.5).as("p"), lit("p50_price").as("out")),
      struct(lit("price").as("pm"), lit(0.9).as("p"), lit("p90_price").as("out")),
      struct(lit("qty").as("pm"), lit(0.5).as("p"), lit("p50_qty").as("out")))
    // rows at the floor/ceil rank of each quantile position; everything
    // else drops before any shuffle
    val picked = lf
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wAll))
      .select(col("flag"), col("metric"), col("v"), col("rn"), col("n"),
        explode(filter(wanted, pp => pp("pm") === col("metric"))).as("pp"))
      .withColumn("pos", (col("n") - 1) * col("pp.p"))
      .filter(col("rn") === floor(col("pos")) + 1 ||
        col("rn") === ceil(col("pos")) + 1)
    picked
      .groupBy("flag", "pp.out")
      .agg(
        max(when(col("rn") === floor(col("pos")) + 1, col("v"))).as("vlo"),
        max(when(col("rn") === ceil(col("pos")) + 1, col("v"))).as("vhi"),
        max(col("pos") - floor(col("pos"))).as("frac"))
      .withColumn("q", round(col("vlo") + (col("vhi") - col("vlo")) * col("frac"), 4))
      .groupBy(col("flag").as("l_returnflag"))
      .agg(
        max(when(col("out") === "p50_price", col("q"))).as("p50_price"),
        max(when(col("out") === "p90_price", col("q"))).as("p90_price"),
        max(when(col("out") === "p50_qty", col("q"))).as("p50_qty"))
      .orderBy("l_returnflag")
  }

  /** q55 — ROLLUP subtotals: per (flag, status), per flag, and grand
    * total in one pass (Catalyst expands to a single Expand + hash
    * aggregate — one shuffle, not three queries). Subtotal NULLs are
    * coalesced to a sentinel so ordering is total and engine-agnostic.
    */
  val rollupRevenue: Q = (s, d) =>
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("n"), col("sum_qty"))
      .orderBy("flag", "status")

  /** q62 — CUBE: all four grouping combinations of (status, priority) in
    * one pass — like q55's ROLLUP, Catalyst plans a single Expand + hash
    * aggregate (one shuffle for all 2ᵏ grouping sets). `grouping_id`
    * disambiguates a subtotal row from a genuine NULL key, which the
    * coalesce sentinel alone cannot.
    */
  val cubeOrders: Q = (s, d) =>
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("gid"), col("n"), col("total"))
      .orderBy("gid", "status", "priority")

  /** q161 — explicit GROUPING SETS, completing the multi-dimensional
    * aggregation trio (q55 ROLLUP: hierarchy prefixes; q62 CUBE: every
    * subset): the ARBITRARY set list a reporting layer actually asks
    * for — here the two single-axis marginals plus the grand total,
    * deliberately NOT the (status, priority) cross that CUBE would
    * force. One scan, one Expand: Spark plans grouping sets exactly like
    * rollup/cube — each input row replicated once per set with
    * non-grouped keys nulled, then a single hash aggregate — so the cost
    * is sets×rows map-side, not one pass per set (the naive UNION ALL
    * formulation scans the table |sets| times). grouping_id
    * disambiguates genuine NULL keys from subtotal rows, same contract
    * as q55/q62.
    */
  val groupingSetsOrders: Q = (s, d) =>
    Tables.orders(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq.empty),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("gid"), col("n"), col("total"))
      .orderBy("gid", "status", "priority")

  /** q64 — ranking-function pack over a partitioned window: ntile
    * quartiles, percent_rank, cume_dist, and first/last order key of each
    * priority class by (price, key). One shuffle on the partition key,
    * one per-partition sort, all five functions evaluated in a single
    * Window operator — adding functions to a frame is free once the sort
    * is paid, which is why a scale-minded pipeline batches them. The
    * first/last frame is pinned to the WHOLE partition explicitly:
    * the default frame stops at the current row, which makes last_value
    * a no-op — standard SQL footgun, same in DuckDB, so both engines get
    * the explicit frame.
    */
  val windowPack: Q = (s, d) => {
    val order = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val whole = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority").as("priority"),
        ntile(4).over(order).as("quartile"),
        round(percent_rank().over(order), 9).as("pct_rank"),
        round(cume_dist().over(order), 9).as("cdist"),
        first(col("o_orderkey")).over(whole).as("cheapest_key"),
        last(col("o_orderkey")).over(whole).as("priciest_key"))
      .orderBy("o_orderkey")
  }

  /** q76 — time-series gap fill + forward fill: daily event revenue
    * re-gridded onto a complete date spine (a `sequence` between min and
    * max date, exploded — generated distributed, never on the driver),
    * missing days carry the last seen value forward via
    * `last(ignoreNulls)` over an unbounded-preceding frame. The spine join
    * is a broadcast (a date spine is bounded by the time range, not the
    * data volume) and the fill is one window pass — the canonical
    * resampling shape for feature pipelines. The unpartitioned fill
    * window runs over the daily SPINE, never the events — wall-clock-
    * bounded (a decade is 3,653 rows); an unbounded span would partition
    * by year with q16's halo trick.
    */
  val gapFill: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(dsum(col("value")).as("revenue"), count(lit(1)).as("n"))
    val bounds = daily.agg(min("day").as("lo"), max("day").as("hi"))
    val spine = bounds.select(
      explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
    spine.join(daily, Seq("day"), "left")
      .withColumn("filled_revenue",
        last(col("revenue"), ignoreNulls = true).over(
          Window.orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("day"), coalesce(col("n"), lit(0L)).as("n"),
        col("revenue"), col("filled_revenue"))
      .orderBy("day")
  }

  /** q201 — LINEAR interpolation resampling: the missing-day completion of
    * q76's forward fill. Forward fill repeats the last observation — right
    * for state-like series (a price that holds until requoted); linear
    * interpolation reconstructs a flow-like series (daily revenue) whose
    * gaps mean "unobserved", the resampling a feature pipeline applies
    * before windowed models. Same spine join as q76 (broadcast — bounded
    * by the time range, not the data volume), then ONE window pass
    * carrying the bracketing observations both ways: last(ignoreNulls)
    * over the preceding frame gives (prev_day, prev_cents),
    * first(ignoreNulls) over the following frame gives (next_day,
    * next_cents), and the interior estimate is the convex combination
    *   (prev·(span−off) + next·off) div span
    * held entirely in non-negative BIGINT cents — truncating `div` on
    * non-negative operands is identical in Spark and DuckDB, where a
    * signed delta formulation (prev + delta·off div span) would hit their
    * truncate-vs-floor disagreement. Observed days pass through verbatim;
    * days outside the observed bracket stay null (interpolation never
    * extrapolates). The unpartitioned window runs over the daily SPINE —
    * wall-clock-bounded — never the events (q76's discipline).
    */
  val linearInterp: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg((sum(dec2(col("value"))) * 100).cast("long").as("cents"))
    val bounds = daily.agg(min("day").as("lo"), max("day").as("hi"))
    val spine = bounds.select(
      explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
    val w = Window.orderBy("day")
    val before = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val after = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    spine.join(daily, Seq("day"), "left")
      .withColumn("prev_day",
        last(when(col("cents").isNotNull, col("day")), ignoreNulls = true).over(before))
      .withColumn("prev_v",
        last(col("cents"), ignoreNulls = true).over(before))
      .withColumn("next_day",
        first(when(col("cents").isNotNull, col("day")), ignoreNulls = true).over(after))
      .withColumn("next_v",
        first(col("cents"), ignoreNulls = true).over(after))
      .select(col("day"), col("cents"),
        expr("""CASE WHEN cents IS NOT NULL THEN cents
                WHEN prev_v IS NULL OR next_v IS NULL THEN CAST(NULL AS BIGINT)
                ELSE (prev_v * (datediff(next_day, prev_day)
                        - datediff(day, prev_day))
                      + next_v * datediff(day, prev_day))
                     div datediff(next_day, prev_day) END""").as("interp_cents"),
        col("cents").isNotNull.as("observed"))
      .orderBy("day")
  }

  /** q224 — SEASONAL INDEX: each calendar month's average monthly revenue
    * against the overall monthly average, in ppm — the classical
    * seasonality readout (index 1.2e6 = "Decembers run 20% hot") that
    * q154's seasonal-naive forecast implicitly assumes; this measures
    * it. Exact end to end: revenue in BIGINT cents, the index as the
    * cross-multiplied rational rev_m·n_total div (n_m·rev_total) in
    * DECIMAL(38) — no per-month division before the ratio. One (year,
    * month) aggregate (map-side combining), then everything runs on the
    * ≤ 12·years frame.
    */
  val seasonalIndex: Q = (s, d) => {
    val ym = Tables.orders(s, d).select(
      expr("year(o_orderdate)").as("y"), expr("month(o_orderdate)").as("m"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .groupBy("y", "m").agg(sum("cents").as("rev"))
    val tot = ym.agg(sum("rev").as("trev"), count(lit(1)).as("tn"))
    ym.groupBy("m").agg(count(lit(1)).as("n_months"), sum("rev").as("rev_cents"))
      .crossJoin(broadcast(tot))
      .select(col("m").as("month"), col("n_months"), col("rev_cents"),
        expr("""CAST(CAST(rev_cents AS DECIMAL(38,0)) * tn * 1000000
                div (CAST(n_months AS DECIMAL(38,0)) * trev) AS BIGINT)""")
          .as("index_ppm"))
      .orderBy("month")
  }

  /** q228 — TRENDING ITEMS (velocity detection): parts whose weekly order
    * count most outruns their own trailing 4-week baseline — the
    * "rising star" feed a merchandising or anomaly dashboard serves, and
    * the per-key twin of q129's global rate anomaly. Weeks are integer
    * epoch-day div 7 codes (engine-identical); the baseline is a RANGE
    * frame [wk−4, wk−1] on the per-part weekly SERIES (each partition's
    * frame is weeks-bounded, never order-bounded), parts without a full
    * 4-week baseline are withheld (a lift against one observed week is
    * noise, and the guard is deterministic), and the lift is the
    * cross-multiplied integer cnt·4·10⁶ div Σbaseline. Top-10 via
    * TakeOrderedAndProject with full tiebreaks.
    */
  val trendingItems: Q = (s, d) => {
    val weekly = Tables.lineitem(s, d)
      .join(Tables.orders(s, d).select(col("o_orderkey").as("l_orderkey"),
        expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01') div 7")
          .as("wk")), "l_orderkey")
      .groupBy(col("l_partkey").as("part"), col("wk"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("part").orderBy("wk").rangeBetween(-4, -1)
    weekly
      .withColumn("base_sum", sum("cnt").over(w))
      .withColumn("base_n", count(lit(1)).over(w))
      .filter(col("base_n") === 4)
      .select(col("part"), col("wk"), col("cnt"), col("base_sum"),
        expr("cnt * 4 * 1000000 div base_sum").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("part"), col("wk"))
      .limit(10)
  }

  /** q77 — equal-width histogram of order totals: 10 buckets between the
    * global min/max, one aggregation after a broadcast of the two-value
    * bounds row; empty buckets materialize as zeros via the same spine
    * trick as q76. Bucket arithmetic stays in plain DOUBLE on both
    * engines: IEEE ops are bit-identical, while decimal division rounds
    * differently per engine and a boundary value would flip buckets.
    */
  val histogram: Q = (s, d) => {
    val o = Tables.orders(s, d).select(col("o_totalprice").as("p"))
    val b = o.agg(min("p").as("lo"), max("p").as("hi"))
    val binned = o.crossJoin(broadcast(b))
      .select(least(floor((col("p") - col("lo")) * 10 / (col("hi") - col("lo"))), lit(9L))
        .cast("int").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
    val spine = s.range(0, 10).select(col("id").cast("int").as("bucket"))
    spine.join(binned, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("bucket")
  }

  /** q78 — RANGE-frame trailing window: revenue in the trailing 7 DAYS
    * (not 7 rows) per day of the daily series — the frame is defined on
    * the ORDER-BY value axis, so gaps in the series shrink the window
    * instead of silently widening it like a rows frame would. Ordered on
    * integer days-since-epoch with rangeBetween(-6, 0); one shuffle to
    * the (coarse) day grain, one window pass. The unpartitioned window
    * runs over the daily SERIES, never the events — wall-clock-bounded
    * (a decade is 3,653 rows); an unbounded span would partition by year
    * with a 6-day halo, q16's pattern.
    */
  val trailing7d: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(dsum(col("value")).as("revenue"))
      .withColumn("epoch_day", datediff(col("day"), lit("1970-01-01").cast("date")))
    val w = Window.orderBy("epoch_day").rangeBetween(-6, 0)
    daily
      .select(col("day"),
        col("revenue"),
        round(sum(col("revenue")).over(w), 2).as("rev_7d"),
        count(lit(1)).over(w).cast("int").as("days_present_7d"))
      .orderBy("day")
  }

  /** q56 — set operations on key sets: customers that placed BOTH an
    * urgent and a low-priority order (INTERSECT), with EXCEPT/UNION
    * covered by the same distinct-set machinery (hash aggregate + shuffle
    * on the key, no row payload carried).
    */
  val setOps: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
    val low = o.filter(col("o_orderpriority") === "5-LOW").select("o_custkey")
    urgent.intersect(low).orderBy("o_custkey")
  }

  /** q57 — lag/lead analytics over the monthly series: month-over-month
    * delta and percent change, next month's count, and revenue quartile
    * via ntile. The window runs over the monthly SERIES, never raw rows —
    * wall-clock-bounded (a century is 1,200 rows). lag/lead would take
    * q16's year-partitioned halo if the series grew unbounded; the ntile
    * quartile is a GLOBAL rank over the series by definition and stays
    * series-sized with it.
    */
  val monthOverMonth: Q = (s, d) => {
    val monthly = Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy("y", "m")
    monthly
      .withColumn("prev_cnt", lag("cnt", 1).over(w))
      .withColumn("next_cnt", lead("cnt", 1).over(w))
      .withColumn("delta", col("cnt") - col("prev_cnt"))
      .withColumn("pct_change",
        round((col("cnt") - col("prev_cnt")) * 100.0 / col("prev_cnt"), 4))
      .withColumn("quartile", ntile(4).over(Window.orderBy(col("cnt"), col("y"), col("m"))))
      .orderBy("y", "m")
  }

  /** q58 — q17's top-3-per-group through the bounded [[graft.functions.TopK]]
    * aggregator instead of window+row_number: partial buffers cap at k
    * per group map-side, so the shuffle carries O(groups·k) rows — the
    * formulation that wins when groups are huge and k small. Flattened to
    * plain rows; the oracle is the window SQL, pinning the equivalence of
    * the two formulations on the gate itself.
    */
  val topkViaAgg: Q = (s, d) => {
    import graft.functions.TopK
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_suppkey").agg(count(lit(1)).as("cnt"))
      .groupBy("l_returnflag")
      .agg(TopK.topK(3)(col("cnt").cast("double"), col("l_suppkey")).as("top"))
      .select(col("l_returnflag"), posexplode(col("top")).as(Seq("i", "p")))
      .select(col("l_returnflag"), (col("i") + 1).cast("int").as("rn"),
        col("p._2").as("l_suppkey"), col("p._1").cast("long").as("cnt"))
      .orderBy("l_returnflag", "rn")
  }

  /** q109 — SCD Type-2 dimension build from a change log: each customer's
    * order-status history collapses to versioned validity intervals
    * (valid_from, valid_to, is_current) — the standard
    * slowly-changing-dimension shape every warehouse maintains, and a pure
    * two-window plan: one `lag` to drop no-op changes (consecutive equal
    * states), one `lead` to close each interval at its successor's start.
    * Both windows share the SAME partitioning+ordering (o_custkey;
    * o_orderdate, o_orderkey), so the whole query is ONE shuffle and one
    * sort — no join of the table to itself, which is the naive SCD2
    * formulation and doubles the shuffle. Ties are broken by the unique
    * order key, keeping both engines deterministic.
    */
  val scd2: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_orderstatus"))
      .withColumn("prev", lag("o_orderstatus", 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("o_orderstatus"))
      .withColumn("version", row_number().over(w))
      .withColumn("valid_to", lead("o_orderdate", 1).over(w))
      .select(col("o_custkey"), col("version"),
        col("o_orderstatus").as("status"),
        col("o_orderdate").as("valid_from"), col("valid_to"),
        when(col("valid_to").isNull, 1).otherwise(0).as("is_current"))
      .orderBy("o_custkey", "version")
  }

  /** q193 — GROUPED 2-D SKYLINE (Pareto front): per order priority, the
    * orders no other order dominates on (price, recency) — multi-criteria
    * shortlisting (candidate selection, negotiation frontiers) where a
    * single ORDER BY can't express "best trade-offs". Standard skyline
    * dominance: A dominates B iff A ≥ B on BOTH axes and > on at least
    * one; exact duplicates never dominate each other, so coincident
    * points all survive (reported once with their multiplicity).
    *
    * Scalable form — never the O(n²) dominance self-join: reduce to the
    * per-(priority, price) max date (domain-bounded frame, q173's
    * cardinality discipline), take the running max of that date over
    * STRICTLY-greater prices (a lag-1 running max over the distinct-price
    * frame — rows preceding in price-desc order have strictly greater
    * price BECAUSE the frame is distinct), and keep price levels whose
    * max date beats it. A point at a surviving price level is in the
    * skyline iff it carries that level's max date. Output: the skyline
    * points with their order multiplicity.
    */
  val skyline: Q = (s, d) => {
    val o = Tables.orders(s, d).select(
      col("o_orderpriority").as("prio"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("pq"),
      to_date(col("o_orderdate")).as("dt"))
    val lvl = o.groupBy("prio", "pq")
      .agg(max("dt").as("mx"), count(lit(1)).as("n_at_level"))
    val w = Window.partitionBy("prio").orderBy(col("pq").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val sky = lvl.withColumn("beat", max("mx").over(w))
      .filter(col("beat").isNull || col("mx") > col("beat"))
      .select(col("prio"), col("pq"), col("mx"))
    o.join(sky, Seq("prio", "pq")).filter(col("dt") === col("mx"))
      .groupBy("prio", "pq", "dt")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("prio"), col("pq").desc)
  }

  /** q284 — CUBE / GROUPING SETS revenue summary: the multi-granularity
    * aggregate surface (§2.3's missing classic) — revenue by (region,
    * nation) with ALL four grouping sets in ONE pass: detail, per-region
    * subtotal, per-nation margin, grand total, disambiguated by the
    * grouping_id bit vector (Spark and DuckDB agree on the convention:
    * first listed column = high bit; a real NULL in a grouping column
    * would be indistinguishable from a subtotal row without it — the
    * dimension names here are non-null, but the id rides the output
    * because downstream consumers key on it, not on 'ALL' sentinels).
    *
    * Plan shape: Spark lowers cube() to ONE Expand (4× the aggregate
    * input rows, map-side) + one hash aggregate — one shuffle on the
    * grouping-set key, NOT four separate aggregations unioned; at 100 TB
    * the expand factor is the declared cost of asking for 4
    * granularities and partial aggregation still combines map-side.
    * Revenue stays exact integer cents (DECIMAL sum → BIGINT).
    */
  val revenueCube: Q = (s, d) => {
    val rev = Tables.orders(s, d)
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("n_name"),
        (dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
    rev.cube(col("r_name"), col("n_name"))
      .agg(grouping_id().as("grp_id"), count(lit(1)).as("n_orders"),
        sum("cents").as("revenue_cents"))
      .select(col("grp_id").cast("int").as("grp_id"),
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("n_orders"), col("revenue_cents"))
      .orderBy("grp_id", "region", "nation")
  }

  /** q302 minimum pair support: rules need ≥ 3 co-baskets — the noise
    * floor below which confidence/lift are single-event artifacts. */
  private[graft] val ruleMinCo = 3L

  /** q302 — ASSOCIATION RULES (Agrawal–Srikant 1994's support/
    * confidence plus lift — market-basket mining's one-hop case, the
    * "customers who bought X also bought Y" table): item pairs scored
    * by support (co-baskets / baskets), both directed confidences
    * (co / item baskets), and lift (observed co-rate over the
    * independence expectation), top-20 by lift. The co-purchase graph
    * family (q138/q148/q255/q276) consumes these same pairs
    * structurally; this is the probabilistic read.
    *
    * Scale shape: one DISTINCT (basket, item) projection, then the
    * basket-keyed self-join with the q148 shuffle_hash discipline
    * (both sides corpus-sized — broadcast is impossible at scale, and
    * per-basket fan-out is bounded by basket size², the classic
    * market-basket bound), a pair hash aggregate with the
    * [[ruleMinCo]] support cut, and two broadcast joins of the
    * ITEM-count table back onto the surviving pairs. All integer ppm;
    * lift rides DECIMAL(38,0) on BOTH sides of the division (co ·
    * n_baskets · 1e6 passes 2⁶³ once baskets reach ~10⁹, and c1 · c2
    * does once two items each reach ~3e9 baskets — HUGEINT in the
    * oracle, so engine and oracle stay exact together).
    */
  val assocRules: Q = (s, d) => {
    val items = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val nb = items.agg(countDistinct("o").as("nb"))
    val cnt = items.groupBy("p").agg(count(lit(1)).as("c"))
    val co = items.alias("a")
      .join(items.alias("b").hint("shuffle_hash"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("p1"), col("b.p").as("p2"))
      .agg(count(lit(1)).as("co"))
      .filter(col("co") >= ruleMinCo)
    co.join(broadcast(cnt.select(col("p").as("p1"), col("c").as("c1"))), "p1")
      .join(broadcast(cnt.select(col("p").as("p2"), col("c").as("c2"))), "p2")
      .crossJoin(broadcast(nb))
      .select(col("p1"), col("p2"), col("co"), col("c1"), col("c2"),
        expr("co * 1000000 div nb").as("support_ppm"),
        expr("co * 1000000 div c1").as("conf_1to2_ppm"),
        expr("co * 1000000 div c2").as("conf_2to1_ppm"),
        // divisor widened too (advisor r13): c1 * c2 as a Long product
        // wraps once two items each reach ~3e9 baskets while the HUGEINT
        // oracle errors — numerator and divisor must widen together
        expr("""CAST(CAST(co AS DECIMAL(38,0)) * nb * 1000000
          div (CAST(c1 AS DECIMAL(38,0)) * c2) AS BIGINT)""").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("p1"), col("p2"))
      .limit(20)
  }

  /** q304 — APRIORI TRIPLES (Agrawal–Srikant 1994's level-wise step —
    * the rung a market-basket user hits immediately after q302's
    * lift-ranked pairs): frequent 3-itemsets with support, all three
    * pair→item confidences, and the pair-floor lifts
    * (conf{AB→C} / P(C) — the "given this pair, how much likelier is
    * the third item" read).
    *
    * Item axis: part BRAND, not partkey — measured (r14): at TPC-H
    * uniformity the max partkey triple co-basket count is 1 at sf0.1
    * and 2 at sf0.01, i.e. the partkey triple lattice is VOID above
    * the support floor at every gate scale, while the 25-brand axis
    * keeps 1731–2300 triples ≥ [[ruleMinCo]] at all three. The coarser
    * merchandising axis is what a real basket miner rolls up to when
    * SKU-level support collapses; the operator is axis-agnostic.
    *
    * Scale shape — the classic level-wise candidate join, never
    * Σ basket³: (1) q302's distinct (basket, item) projection and
    * support-cut PAIR table; (2) pair OCCURRENCES rebuilt per basket
    * and left-semi-pruned to frequent pairs (the Apriori downward-
    * closure guarantee: every frequent triple's prefix pair is
    * frequent, so nothing is lost); (3) ONE more basket-keyed join
    * against the item table extends each surviving pair occurrence by
    * p3 > p2 — the intermediate is (frequent-pair occurrence mass) ×
    * basket width, the level-wise bound; (4) two more left-semi prunes
    * on (p1,p3)/(p2,p3) before the triple aggregate and support cut.
    * Lift numerator AND divisor ride DECIMAL(38,0)/HUGEINT (the q302
    * r13 lesson). Vocabulary-bounded tables (pairs, counts) broadcast.
    */
  val assocTriples: Q = (s, d) => {
    val items = Tables.lineitem(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("o"), col("p_brand").as("p"))
      .distinct()
    val nb = items.agg(countDistinct("o").as("nb"))
    val cnt = items.groupBy("p").agg(count(lit(1)).as("c"))
    val pairs = items.alias("a")
      .join(items.alias("b").hint("shuffle_hash"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("p1"), col("b.p").as("p2"))
      .agg(count(lit(1)).as("co"))
      .filter(col("co") >= ruleMinCo)
    val pb = items.alias("a")
      .join(items.alias("b").hint("shuffle_hash"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.o").as("o"), col("a.p").as("p1"), col("b.p").as("p2"))
      .join(pairs.select("p1", "p2"), Seq("p1", "p2"), "left_semi")
    val tri = pb.alias("pb")
      .join(items.alias("c").hint("shuffle_hash"),
        col("pb.o") === col("c.o") && col("c.p") > col("pb.p2"))
      .select(col("pb.p1").as("p1"), col("pb.p2").as("p2"),
        col("c.p").as("p3"))
      .join(pairs.select(col("p1"), col("p2").as("p3")),
        Seq("p1", "p3"), "left_semi")
      .join(pairs.select(col("p1").as("p2"), col("p2").as("p3")),
        Seq("p2", "p3"), "left_semi")
      .groupBy("p1", "p2", "p3").agg(count(lit(1)).as("co3"))
      .filter(col("co3") >= ruleMinCo)
    tri
      .join(broadcast(pairs.select(col("p1"), col("p2"),
        col("co").as("c12"))), Seq("p1", "p2"))
      .join(broadcast(pairs.select(col("p1"), col("p2").as("p3"),
        col("co").as("c13"))), Seq("p1", "p3"))
      .join(broadcast(pairs.select(col("p1").as("p2"), col("p2").as("p3"),
        col("co").as("c23"))), Seq("p2", "p3"))
      .join(broadcast(cnt.select(col("p").as("p1"), col("c").as("c1"))), "p1")
      .join(broadcast(cnt.select(col("p").as("p2"), col("c").as("c2"))), "p2")
      .join(broadcast(cnt.select(col("p").as("p3"), col("c").as("c3"))), "p3")
      .crossJoin(broadcast(nb))
      .select(col("p1"), col("p2"), col("p3"), col("co3"),
        col("c12"), col("c13"), col("c23"),
        expr("co3 * 1000000 div nb").as("support_ppm"),
        expr("co3 * 1000000 div c12").as("conf_12to3_ppm"),
        expr("co3 * 1000000 div c13").as("conf_13to2_ppm"),
        expr("co3 * 1000000 div c23").as("conf_23to1_ppm"),
        expr("""CAST(CAST(co3 AS DECIMAL(38,0)) * nb * 1000000
          div (CAST(c12 AS DECIMAL(38,0)) * c3) AS BIGINT)""")
          .as("lift_12to3_ppm"),
        expr("""CAST(CAST(co3 AS DECIMAL(38,0)) * nb * 1000000
          div (CAST(c13 AS DECIMAL(38,0)) * c2) AS BIGINT)""")
          .as("lift_13to2_ppm"),
        expr("""CAST(CAST(co3 AS DECIMAL(38,0)) * nb * 1000000
          div (CAST(c23 AS DECIMAL(38,0)) * c1) AS BIGINT)""")
          .as("lift_23to1_ppm"))
      .orderBy(col("lift_12to3_ppm").desc, col("p1"), col("p2"), col("p3"))
      .limit(20)
  }

  def queries: Map[String, Q] = Map(
    "q304_assoc_triples" -> assocTriples,
    "q302_assoc_rules" -> assocRules,
    "q284_revenue_cube" -> revenueCube,
    "q193_skyline" -> skyline,
    "q109_scd2" -> scd2,
    "q01_pricing_summary" -> pricingSummary,
    "q49_memo_pricing" -> memoPricing,
    "q58_topk_agg" -> topkViaAgg,
    "q54_percentiles" -> percentiles,
    "q55_rollup" -> rollupRevenue,
    "q62_cube" -> cubeOrders,
    "q161_grouping_sets" -> groupingSetsOrders,
    "q64_window_pack" -> windowPack,
    "q76_gap_fill" -> gapFill,
    "q201_linear_interp" -> linearInterp,
    "q224_seasonal_index" -> seasonalIndex,
    "q228_trending_items" -> trendingItems,
    "q77_histogram" -> histogram,
    "q78_trailing_7d" -> trailing7d,
    "q56_setops" -> setOps,
    "q57_month_over_month" -> monthOverMonth,
    "q02_null_counts" -> nullCounts,
    "q03_clean_dedup_count" -> cleanDedupCount,
    "q04_regex_clean" -> regexClean,
    "q05_date_parts" -> dateParts,
    "q06_season_bucket" -> seasonBucket,
    "q07_filter_sample" -> filterSample,
    "q08_status_pct" -> statusPct,
    "q09_notin_topk" -> notinTopk,
    "q10_multikey_count" -> multikeyCount,
    "q11_max_of_count" -> maxOfCount,
    "q12_multi_agg" -> multiAgg,
    "q13_pivot_quarters" -> pivotQuarters,
    "q14_distinct_priorities" -> distinctPriorities,
    "q15_avg_of_counts" -> avgOfCounts,
    "q16_moving_avg" -> movingAvg,
    "q17_topk_per_group" -> topkPerGroup)

  private val lineitemCols = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate")

  private val pricingSql =
    """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        | CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '2001-01-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin

  def oracles: Map[String, String] = Map(
    // the identical level-wise lattice: brand-axis distinct projection,
    // frequent-pair EXISTS prunes before the triple count, the same
    // support cut, HUGEINT on both sides of every lift division, and
    // the (lift_12to3 DESC, p1, p2, p3) top-20
    "q304_assoc_triples" ->
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS o, p_brand AS p
         |  FROM lineitem l JOIN part pt ON l.l_partkey = pt.p_partkey),
         |nb AS (SELECT count(DISTINCT o) AS nb FROM items),
         |cnt AS (SELECT p, count(*) AS c FROM items GROUP BY 1),
         |pairs AS MATERIALIZED (SELECT a.p AS p1, b.p AS p2,
         |    count(*) AS co
         |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
         |  GROUP BY 1, 2 HAVING count(*) >= $ruleMinCo),
         |tri AS (SELECT a.p AS p1, b.p AS p2, c.p AS p3,
         |    count(*) AS co3
         |  FROM items a
         |  JOIN items b ON a.o = b.o AND a.p < b.p
         |  JOIN items c ON a.o = c.o AND b.p < c.p
         |  WHERE EXISTS (SELECT 1 FROM pairs f
         |      WHERE f.p1 = a.p AND f.p2 = b.p)
         |    AND EXISTS (SELECT 1 FROM pairs f
         |      WHERE f.p1 = a.p AND f.p2 = c.p)
         |    AND EXISTS (SELECT 1 FROM pairs f
         |      WHERE f.p1 = b.p AND f.p2 = c.p)
         |  GROUP BY 1, 2, 3 HAVING count(*) >= $ruleMinCo)
         |SELECT t.p1, t.p2, t.p3, t.co3,
         |  f12.co AS c12, f13.co AS c13, f23.co AS c23,
         |  CAST(co3 * 1000000 // nb AS BIGINT) AS support_ppm,
         |  CAST(co3 * 1000000 // f12.co AS BIGINT) AS conf_12to3_ppm,
         |  CAST(co3 * 1000000 // f13.co AS BIGINT) AS conf_13to2_ppm,
         |  CAST(co3 * 1000000 // f23.co AS BIGINT) AS conf_23to1_ppm,
         |  CAST(CAST(co3 AS HUGEINT) * nb * 1000000
         |    // (CAST(f12.co AS HUGEINT) * c3.c) AS BIGINT)
         |    AS lift_12to3_ppm,
         |  CAST(CAST(co3 AS HUGEINT) * nb * 1000000
         |    // (CAST(f13.co AS HUGEINT) * c2.c) AS BIGINT)
         |    AS lift_13to2_ppm,
         |  CAST(CAST(co3 AS HUGEINT) * nb * 1000000
         |    // (CAST(f23.co AS HUGEINT) * c1.c) AS BIGINT)
         |    AS lift_23to1_ppm
         |FROM tri t
         |JOIN pairs f12 ON t.p1 = f12.p1 AND t.p2 = f12.p2
         |JOIN pairs f13 ON t.p1 = f13.p1 AND t.p3 = f13.p2
         |JOIN pairs f23 ON t.p2 = f23.p1 AND t.p3 = f23.p2
         |JOIN cnt c1 ON t.p1 = c1.p
         |JOIN cnt c2 ON t.p2 = c2.p
         |JOIN cnt c3 ON t.p3 = c3.p
         |CROSS JOIN nb
         |ORDER BY lift_12to3_ppm DESC, t.p1, t.p2, t.p3
         |LIMIT 20""".stripMargin,
    // identical distinct projection, support cut, ppm arithmetic with
    // the lift numerator in HUGEINT, and (lift DESC, p1, p2) top-20
    "q302_assoc_rules" ->
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
         |  FROM lineitem),
         |nb AS (SELECT count(DISTINCT o) AS nb FROM items),
         |cnt AS (SELECT p, count(*) AS c FROM items GROUP BY 1),
         |co AS (SELECT a.p AS p1, b.p AS p2, count(*) AS co
         |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
         |  GROUP BY 1, 2 HAVING count(*) >= $ruleMinCo)
         |SELECT p1, p2, co, x.c AS c1, y.c AS c2,
         |  CAST(co * 1000000 // nb AS BIGINT) AS support_ppm,
         |  CAST(co * 1000000 // x.c AS BIGINT) AS conf_1to2_ppm,
         |  CAST(co * 1000000 // y.c AS BIGINT) AS conf_2to1_ppm,
         |  CAST(CAST(co AS HUGEINT) * nb * 1000000
         |    // (CAST(x.c AS HUGEINT) * y.c) AS BIGINT) AS lift_ppm
         |FROM co JOIN cnt x ON co.p1 = x.p JOIN cnt y ON co.p2 = y.p
         |CROSS JOIN nb
         |ORDER BY lift_ppm DESC, p1, p2 LIMIT 20""".stripMargin,
    // the identical CUBE: DuckDB's GROUPING(a, b) emits the same
    // first-column-high-bit vector as Spark's grouping_id; exact cents
    "q284_revenue_cube" ->
      """WITH rev AS (SELECT r.r_name, n.n_name,
        |    CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey)
        |SELECT CAST(GROUPING(r_name, n_name) AS INT) AS grp_id,
        |  coalesce(r_name, 'ALL') AS region,
        |  coalesce(n_name, 'ALL') AS nation,
        |  count(*) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS revenue_cents
        |FROM rev GROUP BY CUBE(r_name, n_name)
        |ORDER BY grp_id, region, nation""".stripMargin,
    "q193_skyline" ->
      """WITH o AS (SELECT o_orderpriority AS prio,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS pq,
        |    CAST(o_orderdate AS DATE) AS dt FROM orders),
        |lvl AS (SELECT prio, pq, max(dt) AS mx FROM o GROUP BY 1, 2),
        |mk AS (SELECT prio, pq, mx, max(mx) OVER (PARTITION BY prio
        |    ORDER BY pq DESC ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND 1 PRECEDING) AS beat FROM lvl),
        |sky AS (SELECT prio, pq, mx FROM mk
        |  WHERE beat IS NULL OR mx > beat)
        |SELECT o.prio AS prio, o.pq AS pq, o.dt AS dt, count(*) AS n_orders
        |FROM o JOIN sky ON o.prio = sky.prio AND o.pq = sky.pq
        |  AND o.dt = sky.mx
        |GROUP BY 1, 2, 3 ORDER BY 1, 2 DESC""".stripMargin,
    "q109_scd2" ->
      s"""WITH ${OracleSql.scd2Changes}
         |SELECT o_custkey,
         |  CAST(row_number() OVER w AS INT) AS version,
         |  o_orderstatus AS status,
         |  o_orderdate AS valid_from,
         |  lead(o_orderdate) OVER w AS valid_to,
         |  CASE WHEN lead(o_orderdate) OVER w IS NULL THEN 1 ELSE 0 END
         |    AS is_current
         |FROM chg
         |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         |ORDER BY o_custkey, version""".stripMargin,
    "q01_pricing_summary" -> pricingSql,
    // q49 is q01 behind the memo cache — identical semantics, same oracle
    "q49_memo_pricing" -> pricingSql,
    "q54_percentiles" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
        | round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
        | round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q55_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        | coalesce(l_linestatus, 'ALL') AS status,
        | count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin,
    "q161_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        | coalesce(o_orderpriority, 'ALL') AS priority,
        | CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
        | count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus),
        |  (o_orderpriority), ())
        |ORDER BY gid, status, priority""".stripMargin,
    "q62_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        | coalesce(o_orderpriority, 'ALL') AS priority,
        | CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
        | count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, status, priority""".stripMargin,
    "q76_gap_fill" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |spine AS (SELECT unnest(generate_series(
        |  (SELECT min(day) FROM daily), (SELECT max(day) FROM daily),
        |  INTERVAL 1 DAY))::DATE AS day)
        |SELECT s.day, COALESCE(d.n, 0) AS n, d.revenue,
        |  last_value(d.revenue IGNORE NULLS) OVER (ORDER BY s.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_revenue
        |FROM spine s LEFT JOIN daily d USING (day)
        |ORDER BY day""".stripMargin,
    "q228_trending_items" ->
      """WITH weekly AS (SELECT l_partkey AS part,
        |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      // 7 AS wk,
        |    count(*) AS cnt
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |base AS (SELECT part, wk, cnt,
        |    sum(cnt) OVER w AS base_sum, count(*) OVER w AS base_n
        |  FROM weekly
        |  WINDOW w AS (PARTITION BY part ORDER BY wk
        |    RANGE BETWEEN 4 PRECEDING AND 1 PRECEDING))
        |SELECT part, CAST(wk AS BIGINT) AS wk, cnt,
        |  CAST(base_sum AS BIGINT) AS base_sum,
        |  CAST(cnt * 4 * 1000000 // base_sum AS BIGINT) AS lift_ppm
        |FROM base WHERE base_n = 4
        |ORDER BY lift_ppm DESC, part, wk LIMIT 10""".stripMargin,
    "q224_seasonal_index" ->
      """WITH ym AS (SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS rev
        |  FROM orders GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(rev) AS BIGINT) AS trev,
        |    count(*) AS tn FROM ym)
        |SELECT CAST(m AS INT) AS month, count(*) AS n_months,
        |  CAST(sum(rev) AS BIGINT) AS rev_cents,
        |  CAST(CAST(sum(rev) AS HUGEINT) * tn * 1000000
        |    // (CAST(count(*) AS HUGEINT) * trev) AS BIGINT) AS index_ppm
        |FROM ym, tot GROUP BY m, tn, trev ORDER BY month""".stripMargin,
    "q201_linear_interp" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |spine AS (SELECT unnest(generate_series(
        |  (SELECT min(day) FROM daily), (SELECT max(day) FROM daily),
        |  INTERVAL 1 DAY))::DATE AS day),
        |g AS (SELECT s.day, d.cents,
        |  last_value(CASE WHEN d.cents IS NOT NULL THEN s.day END IGNORE NULLS)
        |    OVER (ORDER BY s.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS prev_day,
        |  last_value(d.cents IGNORE NULLS)
        |    OVER (ORDER BY s.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS prev_v,
        |  first_value(CASE WHEN d.cents IS NOT NULL THEN s.day END IGNORE NULLS)
        |    OVER (ORDER BY s.day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |    AS next_day,
        |  first_value(d.cents IGNORE NULLS)
        |    OVER (ORDER BY s.day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |    AS next_v
        |  FROM spine s LEFT JOIN daily d USING (day))
        |SELECT day, cents,
        |  CASE WHEN cents IS NOT NULL THEN cents
        |    WHEN prev_v IS NULL OR next_v IS NULL THEN NULL
        |    ELSE (prev_v * (datediff('day', prev_day, next_day)
        |            - datediff('day', prev_day, day))
        |          + next_v * datediff('day', prev_day, day))
        |         // datediff('day', prev_day, next_day) END AS interp_cents,
        |  (cents IS NOT NULL) AS observed
        |FROM g ORDER BY day""".stripMargin,
    "q77_histogram" ->
      """WITH o AS (SELECT o_totalprice AS p FROM orders),
        |b AS (SELECT min(p) AS lo, max(p) AS hi FROM o),
        |binned AS (SELECT CAST(least(floor((p - lo) * 10 / (hi - lo)), 9) AS INT) AS bucket
        |  FROM o, b),
        |cnt AS (SELECT bucket, count(*) AS n FROM binned GROUP BY 1)
        |SELECT r.bucket, COALESCE(cnt.n, 0) AS n
        |FROM (SELECT unnest(range(0, 10))::INT AS bucket) r
        |LEFT JOIN cnt ON r.bucket = cnt.bucket
        |ORDER BY r.bucket""".stripMargin,
    "q78_trailing_7d" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT day, revenue,
        |  round(sum(revenue) OVER win, 2) AS rev_7d,
        |  CAST(count(*) OVER win AS INT) AS days_present_7d
        |FROM daily
        |WINDOW win AS (ORDER BY day
        |  RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
        |ORDER BY day""".stripMargin,
    "q64_window_pack" ->
      """SELECT o_orderkey, o_orderpriority AS priority,
        | CAST(ntile(4) OVER w AS INT) AS quartile,
        | round(percent_rank() OVER w, 9) AS pct_rank,
        | round(cume_dist() OVER w, 9) AS cdist,
        | first_value(o_orderkey) OVER wf AS cheapest_key,
        | last_value(o_orderkey) OVER wf AS priciest_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey),
        | wf AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderkey""".stripMargin,
    "q56_setops" ->
      """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
        |ORDER BY o_custkey""".stripMargin,
    "q58_topk_agg" ->
      """SELECT l_returnflag, CAST(rn AS INT) AS rn, l_suppkey, cnt FROM (
        |  SELECT l_returnflag, l_suppkey, cnt,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY cnt DESC, l_suppkey) AS rn
        |  FROM (SELECT l_returnflag, l_suppkey, count(*) AS cnt
        |        FROM lineitem GROUP BY 1, 2)
        |) WHERE rn <= 3 ORDER BY l_returnflag, rn""".stripMargin,
    "q57_month_over_month" ->
      """WITH monthly AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS y,
        |    CAST(month(o_orderdate) AS INT) AS m, count(*) AS cnt
        |  FROM orders GROUP BY 1, 2)
        |SELECT y, m, cnt,
        |  lag(cnt, 1) OVER w AS prev_cnt,
        |  lead(cnt, 1) OVER w AS next_cnt,
        |  cnt - lag(cnt, 1) OVER w AS delta,
        |  round((cnt - lag(cnt, 1) OVER w) * 100.0 / lag(cnt, 1) OVER w, 4) AS pct_change,
        |  CAST(ntile(4) OVER (ORDER BY cnt, y, m) AS INT) AS quartile
        |FROM monthly WINDOW w AS (ORDER BY y, m)
        |ORDER BY y, m""".stripMargin,
    "q02_null_counts" ->
      lineitemCols.map(c => s"CAST(count(*) - count($c) AS BIGINT) AS $c")
        .mkString("SELECT ", ", ", " FROM lineitem"),
    "q03_clean_dedup_count" ->
      ("SELECT count(*) AS n FROM (SELECT DISTINCT * FROM lineitem WHERE " +
        lineitemCols.map(c => s"$c IS NOT NULL").mkString(" AND ") + ")"),
    "q04_regex_clean" ->
      """SELECT p_partkey, regexp_replace(lower(p_name), '[-/:]', ' ', 'g') AS p_name_clean
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q05_date_parts" ->
      """SELECT o_orderkey,
        | CAST(year(o_orderdate) AS INT) AS y,
        | CAST(month(o_orderdate) AS INT) AS m,
        | CAST(day(o_orderdate) AS INT) AS dom,
        | CAST(hour(o_orderdate) AS INT) AS h,
        | CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q06_season_bucket" ->
      """SELECT CASE WHEN month(o_orderdate) IN (12,1,2) THEN 'Winter'
        |            WHEN month(o_orderdate) IN (3,4,5) THEN 'Spring'
        |            WHEN month(o_orderdate) IN (6,7,8) THEN 'Summer'
        |            ELSE 'Autumn' END AS season,
        |       count(*) AS cnt
        |FROM orders GROUP BY 1 ORDER BY season""".stripMargin,
    "q07_filter_sample" ->
      """SELECT o_orderkey, o_orderstatus, CAST(year(o_orderdate) AS INT) AS y
        |FROM orders
        |WHERE year(o_orderdate) % 4 = 0 AND year(o_orderdate) > 1995
        |  AND year(o_orderdate) < 2001 AND o_orderstatus IN ('F','O')
        |ORDER BY o_orderkey""".stripMargin,
    "q08_status_pct" ->
      """SELECT sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) * 100.0
        |       / count(*) AS pct_f
        |FROM orders""".stripMargin,
    "q09_notin_topk" ->
      """SELECT o_orderpriority, count(*) AS cnt FROM orders
        |WHERE o_orderpriority NOT IN ('1-URGENT','2-HIGH')
        |GROUP BY 1 ORDER BY cnt DESC, o_orderpriority LIMIT 10""".stripMargin,
    "q10_multikey_count" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS y,
        |       CAST(month(o_orderdate) AS INT) AS m, count(*) AS cnt
        |FROM orders GROUP BY 1, 2 ORDER BY y, m""".stripMargin,
    "q11_max_of_count" ->
      """SELECT o_orderpriority, max(cnt) AS max_cnt FROM (
        |  SELECT o_orderpriority, year(o_orderdate) AS y, count(*) AS cnt
        |  FROM orders GROUP BY 1, 2
        |) GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "q12_multi_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        | CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
        | count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q13_pivot_quarters" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS y,
        | count(CASE WHEN quarter(o_orderdate) = 1 THEN 1 END) AS Q1,
        | count(CASE WHEN quarter(o_orderdate) = 2 THEN 1 END) AS Q2,
        | count(CASE WHEN quarter(o_orderdate) = 3 THEN 1 END) AS Q3,
        | count(CASE WHEN quarter(o_orderdate) = 4 THEN 1 END) AS Q4
        |FROM orders GROUP BY 1 ORDER BY y""".stripMargin,
    "q14_distinct_priorities" ->
      "SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority",
    "q15_avg_of_counts" ->
      """SELECT y, m, avg(cnt) AS avg_daily FROM (
        |  SELECT CAST(year(o_orderdate) AS INT) AS y,
        |         CAST(month(o_orderdate) AS INT) AS m,
        |         day(o_orderdate) AS dom, count(*) AS cnt
        |  FROM orders GROUP BY 1, 2, 3
        |) GROUP BY y, m ORDER BY y, m""".stripMargin,
    "q16_moving_avg" ->
      """SELECT y, m, cnt,
        |  avg(cnt) OVER (ORDER BY y, m ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mavg
        |FROM (
        |  SELECT CAST(year(o_orderdate) AS INT) AS y,
        |         CAST(month(o_orderdate) AS INT) AS m, count(*) AS cnt
        |  FROM orders GROUP BY 1, 2
        |) ORDER BY y, m""".stripMargin,
    "q17_topk_per_group" ->
      """SELECT l_returnflag, l_suppkey, cnt, CAST(rn AS INT) AS rn FROM (
        |  SELECT l_returnflag, l_suppkey, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY l_returnflag
        |                       ORDER BY count(*) DESC, l_suppkey) AS rn
        |  FROM lineitem GROUP BY 1, 2
        |) WHERE rn <= 3 ORDER BY l_returnflag, rn""".stripMargin)
}
