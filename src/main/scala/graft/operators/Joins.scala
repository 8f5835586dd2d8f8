package graft.operators

import graft.{OracleSql, Q, QueryModule}
import graft.functions.Exact._
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Join / set-operation surface. The reference has zero joins (SURVEY.md
  * §2.6 — its two latent joins are driver-side dict lookups,
  * Dataset.py:291-294, 297-312); this module supplies the star-schema
  * equi-join surface the BASELINE contract requires, Spark-first:
  *
  *  - dimension tables (region/nation/customer at fixture scale; at 100 TB
  *    region+nation always, customer usually) are broadcast — an explicit
  *    `broadcast()` hint removes the shuffle entirely for the small sides;
  *  - the lineitem⋈orders fact-fact join shuffles on the join key and is
  *    AQE-managed (skew split + partition coalescing at runtime);
  *  - semi/anti joins never materialize the probe side's payload columns.
  */
object Joins extends QueryModule {

  /** q18 — star join: revenue per (region, nation) across
    * lineitem⋈orders⋈customer⋈nation⋈region. Dimensions broadcast; only
    * the fact-fact edge shuffles.
    */
  val starJoinRevenue: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        dsumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  /** q19 — left-semi join (EXISTS): customers with >= 1 urgent order. The
    * semi join carries no payload from the orders side and short-circuits
    * per key.
    */
  val semiJoin: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** q20 — left-anti join (NOT EXISTS): customers with no urgent order. */
  val antiJoin: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** q21 — left outer join + aggregate: lineitem count/quantity per order,
    * keeping item-less orders as zeros.
    */
  val leftJoinAgg: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    o.join(li, o("o_orderkey") === li("l_orderkey"), "left")
      .groupBy(o("o_orderkey"))
      .agg(
        count(li("l_orderkey")).as("n_items"),
        coalesce(sum(dec2(col("l_quantity"))), lit(0)).cast("double").as("sum_qty"))
      .orderBy("o_orderkey")
  }

  /** Skew-buster combinator: inner equi-join for pathological hot keys.
    *
    * AQE's skew-join split handles moderate skew at runtime, but a single
    * key-group larger than one executor's memory still lands on one
    * reducer. Salting fixes that structurally: every LEFT row gets a
    * deterministic salt (hash of the whole row, mod `salts`), the RIGHT
    * side is replicated once per salt value, and the shuffle key becomes
    * (key, salt) — a hot key's rows now spread across `salts` reducers.
    * Equivalent to the plain inner join: each left row matches exactly the
    * right copies carrying its salt. Cost: `salts`× replication of the
    * right side — use with a small dimension-ish right side and the skewed
    * fact on the left.
    */
  def saltedJoin(left: org.apache.spark.sql.DataFrame,
      right: org.apache.spark.sql.DataFrame,
      leftKey: String, rightKey: String, salts: Int): org.apache.spark.sql.DataFrame = {
    require(salts > 0, s"salts must be positive: $salts")
    val l = left.withColumn("__lsalt",
      pmod(hash(left.columns.toIndexedSeq.map(col): _*), lit(salts)))
    val r = right.withColumn("__rsalt",
      explode(array((0 until salts).map(lit): _*)))
    l.join(r, l(leftKey) === r(rightKey) && l("__lsalt") === r("__rsalt"))
      .drop("__lsalt", "__rsalt")
  }

  /** q52 — the lineitem⋈orders fact join through [[saltedJoin]] (8 salts):
    * revenue per order priority. Result identical to the unsalted join —
    * the oracle is the plain SQL join, which is exactly the equivalence
    * that makes salting safe to drop into a skewed pipeline.
    */
  val saltedJoinRevenue: Q = (s, d) => {
    saltedJoin(Tables.lineitem(s, d), Tables.orders(s, d),
        "l_orderkey", "o_orderkey", salts = 8)
      .groupBy(col("o_orderpriority"))
      .agg(
        dsumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
  }

  /** q71 — CDC upsert (MERGE emulation) via FULL OUTER join: a delta table
    * of updates (every 7th order gets a 5% repriced row) and inserts
    * (every 13th order spawns a new key) merged into the base. The merge
    * is ONE full outer join on the key + per-column coalesce — the way a
    * format without transactional MERGE applies a CDC batch: shuffle both
    * sides by key once, emit exactly one row per surviving key. The action
    * column (insert/update/keep) is the audit trail a real pipeline keeps.
    * Prices stay DECIMAL until the final cast so both engines agree.
    */
  val upsertMerge: Q = (s, d) => {
    val base = Tables.orders(s, d)
      .select(col("o_orderkey").as("key"), dec2(col("o_totalprice")).as("price"))
    val updates = Tables.orders(s, d)
      .filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey").as("u_key"),
        round(dec2(col("o_totalprice")) * lit(BigDecimal("1.05")), 2).as("u_price"))
    // insert keys are NEGATED source keys: orderkeys are strictly positive
    // at every scale factor, so the synthetic key space can never collide
    // with a real key (a fixed offset would, once orderkeys outgrow it —
    // silently turning inserts into updates)
    val inserts = Tables.orders(s, d)
      .filter(col("o_orderkey") % 13 === 0)
      .select((-col("o_orderkey")).as("u_key"),
        lit(BigDecimal("100.00")).cast("decimal(18,2)").as("u_price"))
    val delta = updates.unionByName(inserts)
    base.join(delta, col("key") === col("u_key"), "full_outer")
      .select(
        coalesce(col("key"), col("u_key")).as("o_orderkey"),
        when(col("key").isNull, "insert")
          .when(col("u_key").isNull, "keep")
          .otherwise("update").as("action"),
        coalesce(col("u_price"), col("price")).cast("double").as("price"))
      .orderBy("o_orderkey")
  }

  /** q125 — snapshot DIFF (CDC derivation): the inverse of q71's MERGE.
    * Given two snapshots of a keyed table — yesterday's (no key divisible
    * by 13) and today's (every 7th key repriced, every 11th key gone) —
    * derive the change feed: one (key, op ∈ insert/update/delete,
    * old, new) row per changed key, unchanged keys dropped. This is how a
    * pipeline without a transactional log reconstructs a change feed
    * (Delta CDF, Debezium snapshots): ONE full outer join on the key +
    * per-column compare, shuffling each snapshot once; the emitted feed
    * is then exactly what q71's upsert consumes and q91 compacts.
    * Prices stay DECIMAL through the compare so both engines agree on
    * "changed".
    */
  val snapshotDiff: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val v1 = o.filter(col("o_orderkey") % 13 =!= 0)
      .select(col("o_orderkey").as("key"), dec2(col("o_totalprice")).as("price1"))
    val v2 = o.filter(col("o_orderkey") % 11 =!= 0)
      .select(col("o_orderkey").as("key2"),
        when(col("o_orderkey") % 7 === 0,
          round(dec2(col("o_totalprice")) * lit(BigDecimal("1.05")), 2))
          .otherwise(dec2(col("o_totalprice"))).as("price2"))
    v1.join(v2, col("key") === col("key2"), "full_outer")
      .select(coalesce(col("key"), col("key2")).as("o_orderkey"),
        when(col("key").isNull, "insert")
          .when(col("key2").isNull, "delete")
          .when(col("price1") =!= col("price2"), "update")
          .otherwise("unchanged").as("op"),
        col("price1").cast("double").as("old_price"),
        col("price2").cast("double").as("new_price"))
      .filter(col("op") =!= "unchanged")
      .orderBy("o_orderkey")
  }

  /** q79 — fuzzy entity match: customer pairs within a nation whose names
    * are within Levenshtein distance 2 — the core of entity resolution /
    * record linkage. Blocking discipline as everywhere: candidates come
    * from the nation equi-join (at 100 TB the block key would be coarser —
    * name prefix + nation), and only blocked pairs pay the edit-distance;
    * an unblocked fuzzy join is the n² trap.
    *
    * Two verify-loop decisions carry the cost:
    *  - the THRESHOLD form `levenshtein(a, b, 2)` computes a banded
    *    O(k·len) distance with early exit instead of the full O(len²)
    *    matrix — with k=2 that is ~5 cells per row, an order of magnitude
    *    less work per pair, and the kept rows' distances are exact;
    *  - the PROBE side is fanned out round-robin and the build side
    *    broadcast: pair enumeration and the distance verify then run in
    *    ONE core-wide stage with no shuffle of the Σ|block|² candidate
    *    mass at all. The block key has only #nations distinct values, so
    *    any key-partitioned plan caps parallelism at 25 tasks (and AQE,
    *    seeing byte-light inputs, coalesces further — measured: the whole
    *    n²/25 verify in a single task); broadcasting the build side makes
    *    the verify width independent of block-key cardinality. At 100 TB
    *    the build side no longer broadcasts — there the fix is a
    *    higher-cardinality block key (name prefix × nation), which is the
    *    same knob every blocked matcher here exposes.
    */
  /** The unordered verified pair set [[fuzzyMatch]] sorts for output —
    * shared with q131's entity-closure, which must NOT inherit the global
    * sort (a full sort of the pair list buys nothing for an edge list).
    */
  private[operators] def fuzzyPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val a = c.repartition(s.sparkContext.defaultParallelism).alias("a")
    val b = c.alias("b")
    a.join(broadcast(b),
        col("a.c_nationkey") === col("b.c_nationkey") &&
          col("a.c_custkey") < col("b.c_custkey"))
      .withColumn("dist", levenshtein(col("a.c_name"), col("b.c_name"), 2))
      .filter(col("dist") >= 0) // threshold form marks >2 as -1
      .select(col("a.c_custkey").as("key_1"), col("b.c_custkey").as("key_2"),
        col("a.c_name").as("name_1"), col("b.c_name").as("name_2"),
        col("dist").cast("int").as("dist"))
  }

  val fuzzyMatch: Q = (s, d) => fuzzyPairs(s, d).orderBy("key_1", "key_2")

  /** q100 — interval (range-overlap) join, binned: lineitems matched to
    * the 7-day promo windows containing their ship date. A raw
    * range-predicate join has no equi-key, so Spark would fall back to
    * BroadcastNestedLoopJoin — n·m comparisons. The scale shape is range
    * BINNING: both sides project a week-granularity bucket (granularity
    * chosen ≈ interval length, so an interval spans ≤ 2 buckets), the join
    * becomes an EQUI-join on the bucket, and the exact BETWEEN predicate
    * filters the ≤ 2× bucket-collision surplus. Here the interval side is
    * tiny and broadcast (the common case: calendars, campaigns, maintenance
    * windows); when both sides are fact-sized the same bucket key becomes
    * the shuffle partition key and the plan survives unchanged. One
    * lineitem matches at most one bucket row per promo, so no dedup step
    * is needed — the left join at the end restores empty windows.
    */
  val intervalJoin: Q = (s, d) => {
    val epoch = to_date(lit("1992-01-01"))
    def weekBucket(c: org.apache.spark.sql.Column) =
      floor(datediff(c, epoch) / 7).cast("long")
    val promos = Tables.orders(s, d)
      .filter(pmod(col("o_orderkey"), lit(997)) === 0)
      .select(col("o_orderkey").as("promo_id"),
        to_date(col("o_orderdate")).as("start_date"))
      .withColumn("end_date", date_add(col("start_date"), 6))
    val promoBuckets = promos.withColumn("bucket",
      explode(sequence(weekBucket(col("start_date")), weekBucket(col("end_date")))))
    val li = Tables.lineitem(s, d)
      .select(to_date(col("l_shipdate")).as("ship"), col("l_quantity"))
      .withColumn("bucket", weekBucket(col("ship")))
    val matched = li.join(broadcast(promoBuckets), Seq("bucket"))
      .filter(col("ship").between(col("start_date"), col("end_date")))
      .groupBy("promo_id")
      .agg(count(lit(1)).as("n_lines"), dsum(col("l_quantity")).as("sum_qty"))
    promos.join(matched, Seq("promo_id"), "left")
      .select(col("promo_id"), col("start_date"), col("end_date"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("sum_qty"), lit(0.0)).as("sum_qty"))
      .orderBy("promo_id")
  }

  private val bloomK = 4 // 4 × 16-bit digest slices → 65536-bit space

  /** q115 — Bloom-filter join pre-filter: the sketch semi-join that guards
    * a 100 TB shuffle join. When the dimension side's key set is too big to
    * broadcast raw but its BLOOM is not (65536 bits ≈ 8 KB regardless of
    * key count — the q99 discipline applied to a join), the fact side
    * probes the broadcast bit set map-side and only probable matches enter
    * the shuffle — this is exactly what Spark's own runtime bloom-filter
    * join (spark.sql.optimizer.runtime.bloomFilter) injects, built here
    * explicitly and deterministically so the oracle can replay it.
    *
    * Hash family: Kirsch–Mitzenmacher slices of ONE md5 digest per key
    * (4 non-overlapping 4-hex-digit substrings = 4 independent 16-bit
    * positions, no modulo bias, no re-hashing per position — q99's
    * measured discipline). The exact semi-join verdict rides along, so the
    * output audits the realized false-positive surplus per group — the
    * number that tells an operator how much shuffle the pre-filter saved
    * vs how much FP traffic leaked through.
    */
  val bloomJoinPrune: Q = (s, d) => {
    def positions(key: org.apache.spark.sql.Column) = {
      val digest = md5(key.cast("string"))
      array((0 until bloomK).map(j =>
        conv(substring(digest, j * 4 + 1, 4), 16, 10).cast("long")): _*)
    }
    val dim = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k"))
    val bits = dim.select(explode(positions(col("k"))).as("bit")).distinct()
      .withColumn("present", lit(1))
    val o = Tables.orders(s, d)
    // probe: each order explodes its 4 bit positions, joins the broadcast
    // bit table, and survives only if all 4 are present — one map-side
    // broadcast join, zero shuffle of the fact table
    val probed = o
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
        explode(positions(col("o_custkey"))).as("bit"))
      .join(broadcast(bits), Seq("bit"), "left")
      .groupBy("o_orderkey", "o_custkey", "o_orderpriority")
      .agg(sum(coalesce(col("present"), lit(0))).as("k_hit"))
      .withColumn("bloom_pass", col("k_hit") === bloomK)
    // exact verdict alongside (the audit; at 100 TB this is the shuffle
    // join the bloom pass feeds, here a broadcast against the same dim)
    val exact = probed
      .join(broadcast(dim.withColumn("ex", lit(1))),
        col("o_custkey") === col("k"), "left")
    exact.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("bloom_pass"), 1L).otherwise(0L)).as("n_pass"),
        sum(coalesce(col("ex"), lit(0)).cast("long")).as("n_match"),
        sum(when(col("bloom_pass") && col("ex").isNull, 1L).otherwise(0L))
          .as("n_false_pos"))
      .orderBy("o_orderpriority")
  }

  /** q165 — REFERENTIAL-INTEGRITY AUDIT of every FK edge in the star:
    * child rows, orphan rows (no matching parent key), distinct orphan
    * keys — the constraint check a lake must RUN as a query because
    * parquet enforces nothing (there are no FK constraints at 100 TB,
    * only audits). Healthy fixtures answer all-zeros; the spec plants an
    * orphan to prove detection.
    *
    * Plan: per edge ONE left-anti join against the parent's distinct
    * keys — dimension parents broadcast, the orders parent shuffles on
    * the natural key (exactly the join the lake runs anyway) — plus one
    * child count; all seven 1-row audits union. Anti-join (not NOT IN)
    * deliberately: NOT IN's null semantics would vacuous-pass the whole
    * audit if a single parent key were NULL; the oracle uses NOT EXISTS,
    * the same two-valued logic.
    */
  val fkAudit: Q = (s, d) => {
    def edge(name: String, child: org.apache.spark.sql.DataFrame,
        ckey: String, parent: org.apache.spark.sql.DataFrame, pkey: String) = {
      val par = parent.select(col(pkey).as("pk")).distinct()
      val orphans = child.select(col(ckey).as("ck"))
        .join(par, col("ck") === col("pk"), "left_anti")
        .agg(count(lit(1)).as("n_orphan"),
          countDistinct("ck").as("n_orphan_keys"))
      child.agg(count(lit(1)).as("n_child"))
        .crossJoin(orphans)
        .select(lit(name).as("edge"), col("n_child"),
          col("n_orphan"), col("n_orphan_keys"))
    }
    val li = Tables.lineitem(s, d); val o = Tables.orders(s, d)
    val c = Tables.customer(s, d); val n = Tables.nation(s, d)
    val su = Tables.supplier(s, d); val p = Tables.part(s, d)
    val r = Tables.region(s, d)
    Seq(
      edge("customer->nation", c, "c_nationkey", n, "n_nationkey"),
      edge("lineitem->orders", li, "l_orderkey", o, "o_orderkey"),
      edge("lineitem->part", li, "l_partkey", p, "p_partkey"),
      edge("lineitem->supplier", li, "l_suppkey", su, "s_suppkey"),
      edge("nation->region", n, "n_regionkey", r, "r_regionkey"),
      edge("orders->customer", o, "o_custkey", c, "c_custkey"),
      edge("supplier->nation", su, "s_nationkey", n, "n_nationkey"))
      .reduce(_ unionByName _)
      .orderBy("edge")
  }

  def queries: Map[String, Q] = Map(
    "q165_fk_audit" -> fkAudit,
    "q115_bloom_join" -> bloomJoinPrune,
    "q125_snapshot_diff" -> snapshotDiff,
    "q100_interval_join" -> intervalJoin,
    "q18_star_join_revenue" -> starJoinRevenue,
    "q71_upsert_merge" -> upsertMerge,
    "q79_fuzzy_match" -> fuzzyMatch,
    "q19_semi_join" -> semiJoin,
    "q20_anti_join" -> antiJoin,
    "q21_left_join_agg" -> leftJoinAgg,
    "q52_salted_join" -> saltedJoinRevenue)

  def oracles: Map[String, String] = Map(
    "q165_fk_audit" -> {
      def edgeSql(name: String, child: String, ckey: String,
          parent: String, pkey: String) =
        s"""SELECT '$name' AS edge,
           |  (SELECT count(*) FROM $child) AS n_child,
           |  count(*) AS n_orphan,
           |  CAST(count(DISTINCT c.$ckey) AS BIGINT) AS n_orphan_keys
           |FROM $child c WHERE NOT EXISTS (
           |  SELECT 1 FROM $parent p WHERE p.$pkey = c.$ckey)""".stripMargin
      Seq(
        edgeSql("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        edgeSql("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        edgeSql("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        edgeSql("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        edgeSql("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
        edgeSql("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        edgeSql("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY edge")
    },
    "q115_bloom_join" -> {
      def duckPositions(key: String) = (0 until bloomK)
        .map(j => s"('0x' || substr(md5(CAST($key AS VARCHAR)), ${j * 4 + 1}, 4))::BIGINT")
        .mkString("[", ", ", "]")
      s"""WITH dim AS (SELECT c_custkey AS k FROM customer
         |  WHERE c_mktsegment = 'BUILDING'),
         |bits AS (SELECT DISTINCT unnest(${duckPositions("k")}) AS bit FROM dim),
         |pb AS (SELECT o_orderkey, o_custkey, o_orderpriority,
         |  unnest(${duckPositions("o_custkey")}) AS bit FROM orders),
         |probed AS (SELECT o_orderkey, o_custkey, o_orderpriority,
         |  CAST(sum(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS k_hit
         |  FROM pb LEFT JOIN bits b USING (bit) GROUP BY 1, 2, 3),
         |ex AS (SELECT p.*, (p.k_hit = $bloomK) AS bloom_pass,
         |  CASE WHEN d.k IS NOT NULL THEN 1 ELSE 0 END AS ex
         |  FROM probed p LEFT JOIN dim d ON p.o_custkey = d.k)
         |SELECT o_orderpriority, count(*) AS n_orders,
         |  CAST(sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |  CAST(sum(ex) AS BIGINT) AS n_match,
         |  CAST(sum(CASE WHEN bloom_pass AND ex = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_false_pos
         |FROM ex GROUP BY 1 ORDER BY o_orderpriority""".stripMargin
    },
    "q125_snapshot_diff" ->
      """WITH v1 AS (SELECT o_orderkey AS key,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price1
        |  FROM orders WHERE o_orderkey % 13 <> 0),
        |v2 AS (SELECT o_orderkey AS key2,
        |    CASE WHEN o_orderkey % 7 = 0
        |      THEN round(CAST(o_totalprice AS DECIMAL(18,2))
        |             * CAST(1.05 AS DECIMAL(3,2)), 2)
        |      ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price2
        |  FROM orders WHERE o_orderkey % 11 <> 0),
        |j AS (SELECT coalesce(key, key2) AS o_orderkey,
        |    CASE WHEN key IS NULL THEN 'insert'
        |         WHEN key2 IS NULL THEN 'delete'
        |         WHEN price1 <> price2 THEN 'update'
        |         ELSE 'unchanged' END AS op,
        |    CAST(price1 AS DOUBLE) AS old_price,
        |    CAST(price2 AS DOUBLE) AS new_price
        |  FROM v1 FULL OUTER JOIN v2 ON key = key2)
        |SELECT * FROM j WHERE op <> 'unchanged' ORDER BY o_orderkey""".stripMargin,
    "q100_interval_join" ->
      """WITH promos AS (
        |  SELECT o_orderkey AS promo_id, CAST(o_orderdate AS DATE) AS start_date,
        |    CAST(o_orderdate AS DATE) + 6 AS end_date
        |  FROM orders WHERE o_orderkey % 997 = 0),
        |m AS (
        |  SELECT p.promo_id, count(*) AS n_lines,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |  FROM promos p JOIN lineitem l
        |  ON CAST(l.l_shipdate AS DATE) BETWEEN p.start_date AND p.end_date
        |  GROUP BY 1)
        |SELECT p.promo_id, p.start_date, p.end_date,
        |  COALESCE(m.n_lines, 0) AS n_lines, COALESCE(m.sum_qty, 0) AS sum_qty
        |FROM promos p LEFT JOIN m USING (promo_id) ORDER BY promo_id""".stripMargin,
    "q18_star_join_revenue" ->
      """SELECT r_name, n_name,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY r_name, n_name""".stripMargin,
    "q19_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q20_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q21_left_join_agg" ->
      """SELECT o_orderkey, count(l_orderkey) AS n_items,
        | CAST(coalesce(sum(CAST(l_quantity AS DECIMAL(18,2))), 0) AS DOUBLE) AS sum_qty
        |FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY o_orderkey""".stripMargin,
    "q79_fuzzy_match" ->
      """SELECT a.c_custkey AS key_1, b.c_custkey AS key_2,
        | a.c_name AS name_1, b.c_name AS name_2,
        | CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
        |FROM customer a JOIN customer b
        |ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 2
        |ORDER BY key_1, key_2""".stripMargin,
    "q71_upsert_merge" ->
      """WITH base AS (SELECT o_orderkey AS key,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
        |delta AS (
        |  SELECT o_orderkey AS u_key,
        |    round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.05 AS DECIMAL(3,2)), 2) AS u_price
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT -o_orderkey AS u_key, CAST(100.00 AS DECIMAL(18,2)) AS u_price
        |  FROM orders WHERE o_orderkey % 13 = 0)
        |SELECT coalesce(key, u_key) AS o_orderkey,
        |  CASE WHEN key IS NULL THEN 'insert'
        |       WHEN u_key IS NULL THEN 'keep'
        |       ELSE 'update' END AS action,
        |  CAST(coalesce(u_price, price) AS DOUBLE) AS price
        |FROM base FULL OUTER JOIN delta ON key = u_key
        |ORDER BY o_orderkey""".stripMargin,
    // the salted join must be indistinguishable from the plain join
    "q52_salted_join" -> OracleSql.priorityRevenueQuery)
}
