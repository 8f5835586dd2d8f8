package graft

import graft.operators._

/** The DuckDB oracle fragments that two or more oracles state verbatim.
  *
  * Each fragment is one CTE, or a chain of CTEs, exactly as it reads after
  * `stripMargin` in every oracle that interpolates it; oracles splice it
  * in after `WITH` or between two of their own CTEs. A few defs are SQL
  * expressions or CTE bodies that several oracles generate with the same
  * Scala code. A fragment is named after the staged leaf or `PerDir`
  * family it mirrors on the Spark side, but it is written as SQL text:
  * nothing here is built from a DataFrame or a Spark plan, and the only
  * values it interpolates are the module constants the oracles already
  * interpolated. Near-copies stay where they are; a fragment never takes
  * a parameter to paper over a difference between two oracles.
  */
object OracleSql {

  // ---- Stats ----

  private val hwPeriodSq = Stats.hwPeriod.toLong * Stats.hwPeriod

  /** The Holt-Winters level update `l'` of the recursion step over `it`
    * and `mo`, spliced where `b'` and `seas'` read it: SQL has no
    * let-binding inside a recursive step.
    */
  def hwLevelUpdate: String =
    s"(${Stats.holtAlpha} * (mo.c - it.q[1]) " +
      s"+ ${1000000L - Stats.holtAlpha} * (it.s + it.b)) // 1000000"

  /** The Durbin-Levinson reflection coefficient of step `it.k + 1` over
    * the ACF list `r.rho` (the q313/q319 recursion `it`).
    */
  def pacfStep: String =
    "((r.rho[it.k + 1] * 1000000 - list_sum(" +
      "list_transform(range(1, it.k + 1), " +
      "j -> it.phi[j] * r.rho[it.k + 1 - j]))) // it.v)"

  /** [[pacfStep]] over the a-prefixed `arr`/`ait` of q306/q323. */
  private def arPacfStep: String =
    "((arr.rho[ait.k + 1] * 1000000 - list_sum(" +
      "list_transform(range(1, ait.k + 1), " +
      "j -> ait.phi[j] * arr.rho[ait.k + 1 - j]))) // ait.v)"

  /** The a-prefixed ACF inputs `ast`/`adev`/`aden`, named apart from the
    * smoother recursions that share their WITH.
    */
  def arAcfInputs: String =
    s"""ast AS MATERIALIZED (SELECT count(*) AS n,
       |    CAST(sum(c) AS HUGEINT) // count(*) AS mu FROM monthly),
       |adev AS MATERIALIZED (SELECT m,
       |    CAST(c AS HUGEINT) - (SELECT mu FROM ast) AS dv FROM monthly),
       |aden AS (SELECT sum(dv * dv) AS dn FROM adev)""".stripMargin

  /** The q319 AR chain of q306/q323 over `monthly`: [[arAcfInputs]], the
    * ACF `aacf(lag, acf_ppm)`, its lag-ordered list `arr(rho, nl)`, the
    * Durbin-Levinson recursion `ait(k, phi, v)` and [[arOrderPhis]].
    */
  def arFit: String = {
    val apk = arPacfStep
    s"""$arAcfInputs,
       |aacf AS (SELECT CAST(b.m - a.m AS INT) AS lag,
       |    CAST(CASE WHEN sum(a.dv * b.dv) >= 0
       |      THEN (sum(a.dv * b.dv) * 1000000) // (SELECT dn FROM aden)
       |      ELSE -(((-sum(a.dv * b.dv)) * 1000000)
       |        // (SELECT dn FROM aden))
       |      END AS BIGINT) AS acf_ppm
       |  FROM adev a JOIN adev b
       |    ON b.m > a.m AND b.m <= a.m + ${Stats.acfMaxLag}
       |  WHERE (SELECT dn FROM aden) > 0
       |  GROUP BY 1),
       |arr AS MATERIALIZED (SELECT
       |    list(CAST(acf_ppm AS HUGEINT) ORDER BY lag) AS rho,
       |    count(*) AS nl FROM aacf),
       |ait(k, phi, v) AS (
       |  SELECT 1, [arr.rho[1]],
       |    CAST(1000000 AS HUGEINT) - (arr.rho[1] * arr.rho[1]) // 1000000
       |  FROM arr WHERE arr.nl >= 1
       |  UNION ALL
       |  SELECT ait.k + 1,
       |    list_transform(range(1, ait.k + 1),
       |      j -> ait.phi[j] - ($apk * ait.phi[ait.k + 1 - j]) // 1000000) ||
       |      [$apk],
       |    (ait.v * (1000000 - ($apk * $apk) // 1000000)) // 1000000
       |  FROM ait, arr
       |  WHERE ait.k < ${Stats.acfMaxLag} AND ait.v > 0 AND ait.k < arr.nl),
       |$arOrderPhis""".stripMargin
  }

  /** The PACF-cutoff AR order `asel(p)` over the a-prefixed Durbin-Levinson
    * recursion `ait`, and that order's phi row unnested as `aphis(j, ph)`.
    */
  def arOrderPhis: String =
    s"""asel AS MATERIALIZED (SELECT coalesce(max(ait.k), 0) AS p
       |  FROM ait, ast
       |  WHERE ait.phi[ait.k] * ait.phi[ait.k] * ast.n
       |    >= ${Stats.arBandZSq * 1000000L} * CAST(1000000 AS HUGEINT)),
       |aphis AS MATERIALIZED (SELECT
       |    unnest(range(1, len(phi) + 1)) AS j, unnest(phi) AS ph
       |  FROM (SELECT coalesce(
       |      (SELECT ait.phi FROM ait, asel WHERE ait.k = asel.p),
       |      CAST([] AS HUGEINT[])) AS phi))""".stripMargin

  /** [[monthlySeries]] through the 2x12 centred trend `tt` to the adjusted
    * seasonal indices `se(j, seas)`.
    */
  def classicalDecomposition: String =
    s"""$monthlySeries,
       |tr AS (SELECT m, c,
       |    sum(CAST(c AS HUGEINT)) OVER (ORDER BY m
       |      ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING) AS sa,
       |    count(*) OVER (ORDER BY m
       |      ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING) AS ca,
       |    sum(CAST(c AS HUGEINT)) OVER (ORDER BY m
       |      ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING) AS sb,
       |    count(*) OVER (ORDER BY m
       |      ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING) AS cb
       |  FROM monthly),
       |tt AS MATERIALIZED (SELECT m, c,
       |    CAST((sa + sb) // 24 AS BIGINT) AS trend
       |  FROM tr WHERE ca = 12 AND cb = 12),
       |sm AS (SELECT m % 12 AS j,
       |    CASE WHEN sum(CAST(c - trend AS HUGEINT)) >= 0
       |      THEN sum(CAST(c - trend AS HUGEINT)) // count(*)
       |      ELSE -((-sum(CAST(c - trend AS HUGEINT))) // count(*))
       |      END AS smean
       |  FROM tt GROUP BY 1),
       |ad AS (SELECT CASE WHEN sum(smean) >= 0 THEN sum(smean) // 12
       |    ELSE -((-sum(smean)) // 12) END AS adj FROM sm),
       |se AS (SELECT j,
       |    CAST(smean - (SELECT adj FROM ad) AS BIGINT) AS seas FROM sm)""".stripMargin

  /** [[clickSplitEvents]] per user, `per(user_id, x, y, cl)`, and the
    * median click count `med(med)`.
    */
  def clickMedianUsers: String =
    s"""$clickSplitEvents,
       |per AS MATERIALIZED (SELECT user_id,
       |    CAST(sum(CASE WHEN day < (SELECT split FROM sp)
       |      THEN p ELSE 0 END) AS BIGINT) AS x,
       |    CAST(sum(CASE WHEN day >= (SELECT split FROM sp)
       |      THEN p ELSE 0 END) AS BIGINT) AS y,
       |    CAST(sum(c) AS BIGINT) AS cl
       |  FROM ev GROUP BY user_id),
       |h AS (SELECT cl, count(*) AS t FROM per GROUP BY cl),
       |hc AS (SELECT cl, sum(t) OVER (ORDER BY cl) AS cum,
       |    sum(t) OVER () AS nn FROM h),
       |med AS (SELECT min(cl) AS med FROM hc WHERE cum * 2 >= nn)""".stripMargin

  /** `ev(user_id, day, p, c)` purchase and click flags per event, and the
    * midpoint day `sp(split)` over `b(d0, d1)`.
    */
  def clickSplitEvents: String =
    s"""ev AS (SELECT user_id, CAST(ts AS DATE) AS day,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p,
       |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS c
       |  FROM events),
       |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
       |sp AS (SELECT d0 + CAST((date_diff('day', d0, d1) + 1) // 2
       |    AS INT) AS split FROM b)""".stripMargin

  /** `per(user_id, x, y, arm)`: pre- and post-split purchases and the md5
    * arm per user, the DuckDB side of `Stats.cupedLeaf`.
    */
  def cupedUsers: String =
    s"""per AS MATERIALIZED (SELECT user_id,
       |    CAST(sum(CASE WHEN day < (SELECT split FROM sp)
       |      THEN p ELSE 0 END) AS BIGINT) AS x,
       |    CAST(sum(CASE WHEN day >= (SELECT split FROM sp)
       |      THEN p ELSE 0 END) AS BIGINT) AS y,
       |    ${graft.functions.Hashing.duckMd5Bucket("user_id", 2)} AS arm
       |  FROM ev GROUP BY user_id)""".stripMargin

  /** `cust(o_custkey, f, l)`: each customer's first and last order date,
    * and the horizon `hz(dmax)`.
    */
  def customerLifetimes: String =
    s"""cust AS (SELECT o_custkey,
       |    min(CAST(o_orderdate AS DATE)) AS f,
       |    max(CAST(o_orderdate AS DATE)) AS l
       |  FROM orders GROUP BY 1),
       |hz AS (SELECT max(l) AS dmax FROM cust)""".stripMargin

  /** The delta-method ratio test's floor-sqrt standard error `z3` and z-score `z4`. */
  def deltaRatioZ: String =
    s"""z3 AS (SELECT *, CASE WHEN vp IS NULL THEN NULL
       |    ELSE w1 - (CASE WHEN w1 * w1 > vp THEN 1 ELSE 0 END) END
       |      AS sep FROM z2),
       |z4 AS (SELECT *, CASE WHEN vp IS NULL THEN NULL
       |    ELSE (CAST(abs(ratio_treat_ppm - ratio_control_ppm)
       |      AS HUGEINT) * 1000000) // sep END AS zm FROM z3)""".stripMargin

  /** `o(dt, pq)` order prices in cents, split at the midpoint date into
    * base and current counts `h(pq, b, c)`, the DuckDB side of
    * `Stats.driftHist`.
    */
  def driftHistogram: String =
    s"""o AS (SELECT CAST(o_orderdate AS DATE) AS dt,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS pq FROM orders),
       |sp AS (SELECT min(dt) AS dmin, max(dt) AS dmax FROM o),
       |sl AS (SELECT pq, CASE WHEN dt <= dmin
       |      + CAST((dmax - dmin) // 2 AS INT)
       |    THEN 1 ELSE 0 END AS is_base FROM o, sp),
       |h AS (SELECT pq, CAST(sum(is_base) AS BIGINT) AS b,
       |    CAST(sum(1 - is_base) AS BIGINT) AS c FROM sl GROUP BY 1)""".stripMargin

  /** The whole q105/q126 oracle: the 64-register HLL estimate of
    * `o_custkey` next to the exact distinct count.
    */
  def hllCustkeyQuery: String =
    s"""WITH h AS (
       |  SELECT
       |    ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT % 64
       |      AS bucket,
       |    ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 9, 8))::BIGINT AS w
       |  FROM orders),
       |r AS (
       |  SELECT bucket,
       |    max(CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END) AS m
       |  FROM h GROUP BY 1),
       |allb AS (
       |  SELECT COALESCE(r.m, 0) AS m
       |  FROM (SELECT unnest(range(0, 64)) AS bucket) b
       |  LEFT JOIN r ON b.bucket = r.bucket),
       |sk AS (
       |  SELECT CAST(sum(CAST(power(2, 33 - m) AS BIGINT)) AS BIGINT) AS s_inv,
       |    CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty
       |  FROM allb),
       |ex AS (SELECT count(DISTINCT o_custkey) AS n_exact FROM orders)
       |SELECT ex.n_exact, sk.n_empty,
       |  CAST(floor(0.709::DOUBLE * 4096 * 8589934592 / s_inv) AS BIGINT)
       |    AS hll_est
       |FROM ex CROSS JOIN sk""".stripMargin

  /** `monthly(m, c, t)` and the Holt linear recursion `it(t, s, b, f)` of
    * the q300/q317 forecasts.
    */
  def holtLinearFit: String =
    s"""$monthlyRevenue,
       |monthly AS MATERIALIZED (SELECT m - (SELECT min(m) FROM raw) AS m,
       |    c, row_number() OVER (ORDER BY m) - 1 AS t FROM raw),
       |it AS (
       |  SELECT CAST(0 AS BIGINT) AS t,
       |    CAST((SELECT c FROM monthly WHERE t = 0) AS HUGEINT) AS s,
       |    CAST(coalesce((SELECT c FROM monthly WHERE t = 1)
       |      - (SELECT c FROM monthly WHERE t = 0), 0) AS HUGEINT) AS b,
       |    CAST((SELECT c FROM monthly WHERE t = 0) AS HUGEINT) AS f
       |  UNION ALL
       |  SELECT it.t + 1,
       |    (${Stats.holtAlpha} * mo.c
       |      + ${1000000L - Stats.holtAlpha} * (it.s + it.b)) // 1000000,
       |    (${Stats.holtBeta} * (((${Stats.holtAlpha} * mo.c
       |        + ${1000000L - Stats.holtAlpha} * (it.s + it.b)) // 1000000)
       |      - it.s) + ${1000000L - Stats.holtBeta} * it.b) // 1000000,
       |    it.s + it.b
       |  FROM it JOIN monthly mo ON mo.t = it.t + 1)""".stripMargin

  /** The Holt-Winters two-season init `init(b0, l0)` and the initial seasonal ring `seas0(q)`. */
  def hwSeasonInit: String =
    s"""i1 AS (SELECT CAST(sum(c) AS HUGEINT) AS s1 FROM monthly
       |  WHERE m < ${Stats.hwPeriod}),
       |i2 AS (SELECT CAST(sum(c) AS HUGEINT) AS s2 FROM monthly
       |  WHERE m >= ${Stats.hwPeriod} AND m < ${2 * Stats.hwPeriod}),
       |init AS MATERIALIZED (SELECT (s2 - s1) // $hwPeriodSq AS b0,
       |    s1 // ${Stats.hwPeriod} + (((s2 - s1) // $hwPeriodSq) * ${Stats.hwPeriod - 1}) // 2
       |      AS l0
       |  FROM i1, i2),
       |seas0 AS MATERIALIZED (SELECT
       |    list(CAST(c AS HUGEINT)
       |      - (l0 - b0 * (${Stats.hwPeriod - 1} - m)) ORDER BY m) AS q
       |  FROM monthly, init WHERE m < ${Stats.hwPeriod})""".stripMargin

  /** The exact floor square root of `vsum` in three corrected steps, `s0_`/`s1_`/`s2_`. */
  def isqrtSteps: String =
    s"""s0_ AS (SELECT *, CAST(floor(sqrt(CAST(vsum AS DOUBLE)))
       |    AS HUGEINT) AS r0 FROM mm),
       |s1_ AS (SELECT *, r0 + (CASE WHEN (r0 + 1) * (r0 + 1) <= vsum
       |    THEN 1 ELSE 0 END) AS r1 FROM s0_),
       |s2_ AS (SELECT *, r1 - (CASE WHEN r1 * r1 > vsum THEN 1 ELSE 0
       |    END) AS sq FROM s1_)""".stripMargin

  /** [[monthlyDeviations]] plus the exact autocorrelation `acf(lag, acf_ppm)` up to `acfMaxLag`. */
  def monthlyAcf: String =
    s"""$monthlyDeviations,
       |den AS (SELECT sum(dv * dv) AS dn FROM dev),
       |acf AS (SELECT CAST(b.m - a.m AS INT) AS lag,
       |    CAST(CASE WHEN sum(a.dv * b.dv) >= 0
       |      THEN (sum(a.dv * b.dv) * 1000000) // (SELECT dn FROM den)
       |      ELSE -(((-sum(a.dv * b.dv)) * 1000000)
       |        // (SELECT dn FROM den))
       |      END AS BIGINT) AS acf_ppm
       |  FROM dev a JOIN dev b
       |    ON b.m > a.m AND b.m <= a.m + ${Stats.acfMaxLag}
       |  WHERE (SELECT dn FROM den) > 0
       |  GROUP BY 1)""".stripMargin

  /** [[monthlySeries]] plus its mean `st(n, mu)` and deviations `dev(m, dv)`. */
  def monthlyDeviations: String =
    s"""$monthlySeries,
       |st AS MATERIALIZED (SELECT count(*) AS n,
       |    CAST(sum(c) AS HUGEINT) // count(*) AS mu FROM monthly),
       |dev AS MATERIALIZED (SELECT m,
       |    CAST(c AS HUGEINT) - (SELECT mu FROM st) AS dv FROM monthly)""".stripMargin

  /** `raw(m, c)`: order revenue in cents per calendar month, the DuckDB
    * side of `Stats.monthlyFrame`.
    */
  def monthlyRevenue: String =
    s"""raw AS (SELECT
       |    CAST(year(CAST(o_orderdate AS DATE)) * 12
       |      + month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT) AS m,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
       |      AS c
       |  FROM orders GROUP BY 1)""".stripMargin

  /** [[monthlyAcf]] collected into the lag-ordered list `r(rho, nl)` that
    * the Durbin-Levinson recursion reads.
    */
  def monthlyRho: String =
    s"""$monthlyAcf,
       |r AS MATERIALIZED (SELECT
       |    list(CAST(acf_ppm AS HUGEINT) ORDER BY lag) AS rho,
       |    count(*) AS nl FROM acf)""".stripMargin

  /** [[monthlyRevenue]] rebased so that the first month is `m = 0`: `monthly(m, c)`. */
  def monthlySeries: String =
    s"""$monthlyRevenue,
       |monthly AS MATERIALIZED (
       |  SELECT m - (SELECT min(m) FROM raw) AS m, c FROM raw)""".stripMargin

  /** `per(user_id, y, arm)`: post-split purchases and the md5 arm per user. */
  def postPeriodUsers: String =
    s"""per AS MATERIALIZED (SELECT user_id,
       |    CAST(sum(CASE WHEN day >= (SELECT split FROM sp)
       |      THEN p ELSE 0 END) AS BIGINT) AS y,
       |    ${graft.functions.Hashing.duckMd5Bucket("user_id", 2)} AS arm
       |  FROM ev GROUP BY user_id)""".stripMargin

  /** `ev(user_id, day, p)` purchase flags per event and the midpoint day
    * `sp(split)`, the event side of `Stats.cupedLeaf`.
    */
  def purchaseSplitEvents: String =
    s"""ev AS (SELECT user_id, CAST(ts AS DATE) AS day,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
       |  FROM events),
       |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
       |sp AS (SELECT d0 + CAST((date_diff('day', d0, d1) + 1) // 2 AS INT)
       |    AS split FROM b)""".stripMargin

  /** [[userScores]] plus positive and negative counts per score, `vc(score, pos_at, neg_at)`. */
  def scoreCounts: String =
    s"""$userScores,
       |vc AS (SELECT score,
       |    sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS pos_at,
       |    sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS neg_at
       |  FROM us GROUP BY 1)""".stripMargin

  /** [[customerLifetimes]] as censored lifetimes `lt` and the event
    * histogram `hist(t, d, leave)`, the DuckDB side of
    * `Stats.survivalLeaf`.
    */
  def survivalHistogram: String =
    s"""$customerLifetimes,
       |lt AS (SELECT CAST(datediff('day', f, l) AS BIGINT) AS t,
       |    (l < (SELECT dmax FROM hz) - INTERVAL ${Stats.kmCensorDays} DAY)
       |      AS churn
       |  FROM cust),
       |hist AS MATERIALIZED (SELECT t,
       |    CAST(sum(CASE WHEN churn THEN 1 ELSE 0 END) AS BIGINT) AS d,
       |    count(*) AS leave FROM lt GROUP BY 1)""".stripMargin

  /** [[survivalHistogram]] with the number at risk at each event time, `grid(t, d, n, i)`. */
  def survivalRiskGrid: String =
    s"""$survivalHistogram,
       |grid AS MATERIALIZED (SELECT t, d, n,
       |    CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS i
       |  FROM (SELECT t, d,
       |      CAST((SELECT sum(leave) FROM hist) - coalesce(sum(leave)
       |        OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
       |          AND 1 PRECEDING), 0) AS BIGINT) AS n
       |    FROM hist) WHERE d > 0)""".stripMargin

  /** `us(user_id, score, label)`: a user's view count as the score and any
    * purchase as the label.
    */
  def userScores: String =
    s"""us AS (SELECT user_id,
       |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS score,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      AS label
       |  FROM events GROUP BY 1)""".stripMargin

  // ---- Graph ----

  /** [[copurchaseEdges]], the md5-seeded frontier `v0`, and `depth`
    * unrolled BFS rounds `f<r>`/`v<r>`; q167 unrolls its fixed depth and
    * q250 its loud cap.
    */
  def bfsFrontiers(depth: Int): String = {
    val rounds = (1 to depth).map { r =>
      s"""f$r AS (SELECT DISTINCT ed.v AS x FROM ed
         |  JOIN v${r - 1} w ON ed.u = w.x AND w.dist = ${r - 1}
         |  WHERE NOT EXISTS (SELECT 1 FROM v${r - 1} p WHERE p.x = ed.v)),
         |v$r AS MATERIALIZED (SELECT x, dist FROM v${r - 1}
         |  UNION ALL SELECT x, $r AS dist FROM f$r)""".stripMargin
    }.mkString(",\n")
    s"""$copurchaseEdges,
       |nodes AS (SELECT DISTINCT u AS x FROM ed),
       |v0 AS MATERIALIZED (SELECT x, 0 AS dist FROM nodes
       |  WHERE x % ${Graph.bfsSeedMod} = 0),
       |$rounds""".stripMargin
  }

  /** [[copurchaseEdges]], the seed labels `l0`, and Graph's `lpaRounds`
    * synchronous label-propagation rounds `nb<r>`/`l<r>` with the
    * packed-BIGINT argmax (max count, ties to the smallest label).
    */
  def lpaLabels: String = {
    val rounds = (1 to Graph.lpaRounds).map { r =>
      s"""nb$r AS (SELECT ed.u AS node, l.lbl AS lbl, count(*) AS cnt
         |  FROM ed JOIN l${r - 1} l ON ed.v = l.node GROUP BY 1, 2),
         |l$r AS MATERIALIZED (SELECT node,
         |    1000000000000 - (max(cnt * 1000000000000
         |      + (1000000000000 - lbl)) % 1000000000000) AS lbl
         |  FROM nb$r GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""$copurchaseEdges,
       |l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM ed),
       |$rounds""".stripMargin
  }

  /** `items(o, p)` and every distinct co-purchased pair as symmetric edges
    * `ed(u, v)`, the DuckDB side of `Graph.coPairsDir`.
    */
  def coItemEdges: String =
    s"""items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |  FROM lineitem),
       |ced AS (SELECT DISTINCT a.p AS u, b.p AS v FROM items a
       |  JOIN items b ON a.o = b.o AND a.p < b.p),
       |ed AS MATERIALIZED (SELECT u, v FROM ced
       |  UNION ALL SELECT v AS u, u AS v FROM ced)""".stripMargin

  /** [[copurchaseEdges]] plus node degrees `deg(u, dg)`. */
  def copurchaseDegrees: String =
    s"""$copurchaseEdges,
       |deg AS (SELECT u, count(*) AS dg FROM ed GROUP BY 1)""".stripMargin

  /** [[copurchasePairs]] as symmetric edges `ed(u, v)`. */
  def copurchaseEdges: String =
    s"""$copurchasePairs,
       |ed AS MATERIALIZED (SELECT u, v FROM e2
       |  UNION ALL SELECT v AS u, u AS v FROM e2)""".stripMargin

  /** `items(o, p)` and the part pairs bought together in at least two
    * orders, `e2(u, v)`: the DuckDB side of `Graph.purchasePairsDir`.
    */
  def copurchasePairs: String =
    s"""items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |  FROM lineitem),
       |e2 AS (SELECT u, v FROM (
       |    SELECT a.p AS u, b.p AS v, count(*) AS m FROM items a
       |    JOIN items b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2)
       |  WHERE m >= 2)""".stripMargin

  /** [[copurchaseEdges]] plus each node's round-0 HyperBall register `r0(node, bucket, m)`. */
  def hyperballRegisters: String =
    s"""$copurchaseEdges,
       |r0 AS MATERIALIZED (SELECT node,
       |    ('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 8))::BIGINT % 64
       |      AS bucket,
       |    CASE WHEN ('0x' || substr(md5(CAST(node AS VARCHAR)), 9, 8))::BIGINT = 0
       |      THEN 33
       |      ELSE 33 - length(bin(('0x' || substr(md5(CAST(node AS VARCHAR)), 9, 8))::BIGINT))
       |      END AS m
       |  FROM (SELECT DISTINCT u AS node FROM ed))""".stripMargin

  /** Customer-ordered purchase edges `e(u, v)` (`Graph.sccEdgesDir`), their
    * `nodes`, and the forward and backward label seeds `f0`/`b0`.
    */
  def sccSeeds: String =
    s"""cp AS (SELECT o_custkey AS c, l_partkey AS p,
       |    min(o_orderdate) AS mind, max(o_orderdate) AS maxd
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  GROUP BY 1, 2),
       |e AS MATERIALIZED (SELECT u, v FROM (
       |    SELECT a.p AS u, b.p AS v, count(*) AS m
       |    FROM cp a JOIN cp b
       |    ON a.c = b.c AND a.p <> b.p AND a.mind < b.maxd GROUP BY 1, 2)
       |  WHERE m >= 2),
       |nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
       |f0 AS (SELECT node, node AS lbl FROM nodes),
       |b0 AS (SELECT node, node AS lbl FROM nodes)""".stripMargin

  /** Distinct co-purchase `edges(u, v)` with `u < v` and node degrees
    * `deg(x, dg)`, the DuckDB side of `Graph.triArtifacts`.
    */
  def triangleEdgeDegrees: String =
    s"""items AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |edges AS MATERIALIZED (
       |  SELECT DISTINCT a.p AS u, b.p AS v
       |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
       |deg AS MATERIALIZED (SELECT x, count(*) AS dg FROM (
       |    SELECT u AS x FROM edges UNION ALL SELECT v FROM edges)
       |  GROUP BY 1)""".stripMargin

  // ---- Dedup ----

  /** CTE chain ending in `pairs(d1, d2)`, the DuckDB mirror of
    * [[Dedup.verifiedPairs]]; the md5-based hash family keeps both engines
    * on identical candidates.
    */
  def pairsCte: String =
    s"""${Dedup.sigCte},
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM e a JOIN e b
       |  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |pairs AS (SELECT d1, d2 FROM cand
       |  JOIN th x ON x.doc_id = d1 JOIN th y ON y.doc_id = d2
       |  WHERE 1.0 - CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
       |          / (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs))) <= ${Dedup.maxDist})""".stripMargin

  /** [[dupLabels]] plus cluster sizes and their `(size desc, label)` rank
    * `rk(label, csize, rank)`.
    */
  def dupClusterRanks: String =
    s"""$dupLabels,
       |sizes AS (SELECT label, count(*) AS csize FROM final GROUP BY 1),
       |rk AS (SELECT label, csize, row_number()
       |    OVER (ORDER BY csize DESC, label) AS rank FROM sizes)""".stripMargin

  /** [[dupReach]] as `final(doc_id, cluster_id)` and the cluster sizes
    * `sizes(cluster_id, cluster_size)`.
    */
  def dupClusterSizes: String =
    s"""$dupReach,
       |final AS (SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id),
       |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM final GROUP BY cluster_id)""".stripMargin

  /** [[dupReach]] reduced to each document's component label
    * `final(doc_id, label)`, the DuckDB side of `Dedup.clusterLabels`.
    */
  def dupLabels: String =
    s"""$dupReach,
       |final AS (SELECT doc_id, min(label) AS label FROM reach GROUP BY doc_id)""".stripMargin

  /** [[pairsCte]] plus the recursive reachability labels
    * `reach(doc_id, label)` over the verified near-duplicate pairs.
    */
  def dupReach: String =
    s"""$pairsCte,
       |ue AS (SELECT d1 AS src, d2 AS dst FROM pairs
       |  UNION ALL SELECT d2 AS src, d1 AS dst FROM pairs),
       |reach(doc_id, label) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT ue.dst, reach.label FROM ue JOIN reach ON reach.doc_id = ue.src)""".stripMargin

  // ---- Text ----

  /** The BPE merge table applied to word `w` as nested `replace` calls
    * around the raw-byte delimiter (see [[Text.bpeDelim]]).
    */
  private def bpeEncode: String = {
    val m = Text.bpeDelim
    val chars = raw"regexp_replace(w, '(.)', '$m\1$m', 'g')"
    Text.bpeMerges.foldLeft(chars) { case (acc, (l, r)) =>
      s"replace($acc, '$m$l$m$m$r$m', '$m$l$r$m')"
    }
  }

  /** Token lists, md5 8-token shingles, and the benchmark shingle set `bench` of documents 0-9. */
  def benchShingles: String =
    s"""t AS (SELECT doc_id,
       |  list_filter(${Text.duckToks}, t -> len(t) > 0) AS tk FROM documents),
       |sh AS (SELECT doc_id, unnest(list_transform(
       |    range(1, greatest(len(tk) - 7, 0) + 1),
       |    i -> md5(array_to_string(tk[i:i+7], ' ')))) AS sh FROM t),
       |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 10)""".stripMargin

  /** [[bm25Stats]] plus the BM25 score per document and term, `sc(doc_id, tf, ppm)`. */
  def bm25Scores: String =
    s"""$bm25Stats,
       |sc AS (SELECT tf.doc_id, tf.tf,
       |  CAST(round(ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
       |    * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * n_docs / sum_dl))))
       |    * 1000000) AS BIGINT) AS ppm
       |  FROM tf JOIN terms USING (t) JOIN dl USING (doc_id) CROSS JOIN st)""".stripMargin

  /** Whitespace tokens `tk`, term and document frequencies, the 4 most
    * frequent terms, and corpus stats `st(n_docs, sum_dl)`.
    */
  def bm25Stats: String =
    raw"""tk AS (SELECT doc_id,
         |  unnest(list_filter(string_split_regex(text, '\s+'),
         |    x -> len(x) > 0)) AS t FROM documents),
         |tf AS (SELECT doc_id, t, count(*) AS tf FROM tk GROUP BY 1, 2),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY 1),
         |dfq AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
         |terms AS (SELECT t, df FROM dfq ORDER BY df DESC, t LIMIT 4),
         |st AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
         |              (SELECT count(*) FROM tk) AS sum_dl)""".stripMargin

  /** The BPE token count `enc(w, n_bpe)` of each distinct word in `wf`. */
  def bpeWordTokens: String =
    s"""dict AS (SELECT DISTINCT w FROM wf),
       |enc AS (SELECT w,
       |    CAST((length($bpeEncode) - length(replace($bpeEncode, '${Text.bpeDelim}', ''))) // 2
       |      AS BIGINT) AS n_bpe
       |  FROM dict)""".stripMargin

  /** Token lists `t(doc_id, tk)` and each document's distinct md5 8-token
    * shingles `sh(doc_id, sh)`.
    */
  def docShingles: String =
    raw"""t AS (SELECT doc_id,
         |  list_filter(string_split_regex(text, '\s+'),
         |    x -> len(x) > 0) AS tk FROM documents),
         |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(
         |    range(1, greatest(len(tk) - 7, 0) + 1),
         |    i -> md5(array_to_string(tk[i:i+7], ' ')))) AS sh FROM t)""".stripMargin

  /** Token lists with their md5 100-bucket, `base(doc_id, source, tk, bk)`,
    * and their word trigrams `tri`.
    */
  def trigrams: String =
    raw"""base AS (SELECT doc_id, source,
         |    list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)
         |      AS tk,
         |    ${graft.functions.Hashing.duckMd5Bucket("doc_id", 100)} AS bk
         |  FROM documents),
         |tri AS (SELECT doc_id, source, bk,
         |    unnest(list_transform(range(1, greatest(len(tk) - 2, 0) + 1),
         |      i -> array_to_string(tk[i:i+2], ' '))) AS g3
         |  FROM base)""".stripMargin

  /** Whitespace words `wds(w)` and the corpus word frequencies `wf(w, f)`. */
  def wordFrequencies: String =
    raw"""wds AS (SELECT
         |    unnest(list_filter(string_split_regex(text, '\s+'),
         |      t -> len(t) > 0)) AS w
         |  FROM documents),
         |wf AS MATERIALIZED (SELECT w, count(*) AS f FROM wds GROUP BY 1)""".stripMargin

  // ---- Pipeline ----

  private val chunkOverlap = Pipeline.chunkBudget - Pipeline.chunkStride

  /** The whole q91/q117 oracle: the latest event per `(user_id, event_type)`. */
  def latestPerKeyQuery: String =
    s"""SELECT user_id, event_type, event_id, ts AS latest_ts, value FROM (
       |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
       |    ORDER BY ts DESC, event_id DESC) AS rn
       |  FROM events)
       |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  /** Token positions, the overlapping passage assignment
    * `asg(doc_id, chunk, tok)` (`Pipeline.passageAsgDir`), and the passage
    * term statistics `tf`/`pl`/`dfq`.
    */
  def passageTermStats: String =
    raw"""tk AS (SELECT doc_id,
         |    CAST(generate_subscripts(ts, 1) - 1 AS BIGINT) AS i,
         |    unnest(ts) AS tok
         |  FROM (SELECT doc_id, list_filter(
         |      string_split_regex(text, '\s+'), t -> len(t) > 0) AS ts
         |    FROM documents)),
         |asg AS MATERIALIZED (
         |  SELECT doc_id, i // ${Pipeline.chunkStride} AS chunk, tok FROM tk
         |  UNION ALL
         |  SELECT doc_id, i // ${Pipeline.chunkStride} - 1, tok FROM tk
         |  WHERE i % ${Pipeline.chunkStride} < $chunkOverlap AND i >= ${Pipeline.chunkStride}),
         |tf AS MATERIALIZED (SELECT doc_id, chunk, tok, count(*) AS tf
         |  FROM asg GROUP BY 1, 2, 3),
         |pl AS MATERIALIZED (SELECT doc_id, chunk, count(*) AS pl
         |  FROM asg GROUP BY 1, 2),
         |dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1)""".stripMargin

  // ---- Similarity ----

  /** The 8 LSH band buckets of every embedding as `(vec_id, band, bucket)`
    * rows: the body of the `banded` CTE of q36, q189 and q246.
    */
  def lshBandRows: String = (0 until 8).map { b =>
    s"SELECT vec_id, $b AS band, ${Similarity.duckBandBucket(b)} AS bucket FROM embeddings"
  }.mkString("\n  UNION ALL ")

  /** Each vector's nearest cell among the first 64 vectors,
    * `assigned(vec_id, embedding, cell_id)`.
    */
  def ivfAssigned: String =
    s"""assigned AS (
       |  SELECT vec_id, embedding, cell_id FROM (
       |    SELECT v.vec_id, v.embedding, p.vec_id AS cell_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY round(${Similarity.duckCos.format("v", "p")}, 9) DESC, p.vec_id) AS arn
       |    FROM embeddings v CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 64) p
       |  ) WHERE arn = 1)""".stripMargin

  /** Each vector's two nearest cells among the first 64 vectors,
    * `assigned(vec_id, embedding, cell_id, arn)`.
    */
  def ivfAssignedTop2: String =
    s"""assigned AS (
       |  SELECT vec_id, embedding, cell_id, arn FROM (
       |    SELECT v.vec_id, v.embedding, p.vec_id AS cell_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY round(${Similarity.duckCos.format("v", "p")}, 9) DESC, p.vec_id) AS arn
       |    FROM embeddings v CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 64) p
       |  ) WHERE arn <= 2)""".stripMargin

  /** The corpus (`vec_id % 10 <> 7`), its 64 pivots, each corpus vector's
    * home cell `ch`, and the held-out `delta` rows
    * (`Similarity.homeCellsDir`).
    */
  def ivfCorpusCells: String =
    s"""corpus AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id % 10 <> 7),
       |piv AS (SELECT vec_id AS pivot_id, embedding FROM corpus
       |  WHERE vec_id < 64),
       |ch AS (SELECT vec_id, embedding, cell_id FROM (
       |    SELECT c.vec_id, c.embedding, p.pivot_id AS cell_id,
       |      row_number() OVER (PARTITION BY c.vec_id
       |        ORDER BY round(${Similarity.duckCos.format("c", "p")}, 9) DESC,
       |          p.pivot_id) AS arn
       |    FROM corpus c CROSS JOIN piv p) WHERE arn = 1),
       |delta AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id % 10 = 7)""".stripMargin

  /** LSH-banded candidate pairs scored by cosine and cut to each vector's 5
    * nearest, `knn(src, dst)`: the DuckDB side of
    * `Similarity.knnGraphBuild`.
    */
  def knnGraph: String =
    s"""cand AS (
       |  SELECT DISTINCT cl.vec_id AS v1, cr.vec_id AS v2
       |  FROM banded cl JOIN banded cr
       |  ON cl.band = cr.band AND cl.bucket = cr.bucket
       |    AND cl.vec_id < cr.vec_id),
       |scored AS (
       |  SELECT v1, v2, round(${Similarity.duckCos.format("e1", "e2")}, 9) AS sim9
       |  FROM cand JOIN embeddings e1 ON v1 = e1.vec_id
       |            JOIN embeddings e2 ON v2 = e2.vec_id),
       |directed AS (
       |  SELECT v1 AS src, v2 AS dst, sim9 FROM scored
       |  UNION ALL SELECT v2, v1, sim9 FROM scored),
       |knn AS (SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src
       |      ORDER BY sim9 DESC, dst) AS rn FROM directed)
       |  WHERE rn <= 5)""".stripMargin

  /** Micro-integerised embeddings and their exact 64x64 covariance numerators `cv(i, j, c)`. */
  def pcaCovariance: String =
    s"""e AS (SELECT list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
       |      AS v FROM embeddings),
       |cnt AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM e),
       |lin AS (SELECT i, CAST(sum(COALESCE(v[i], 0)) AS HUGEINT) AS s
       |  FROM e, range(1, 65) t(i) GROUP BY i),
       |sq AS (SELECT i, j, sum(CAST(COALESCE(v[i], 0) AS HUGEINT)
       |      * COALESCE(v[j], 0)) AS sp
       |  FROM e, range(1, 65) t1(i), range(1, 65) t2(j) GROUP BY i, j),
       |cv AS MATERIALIZED (SELECT q.i, q.j,
       |    (SELECT n FROM cnt) * q.sp - li.s * lj.s AS c
       |  FROM sq q JOIN lin li ON li.i = q.i JOIN lin lj ON lj.i = q.j)""".stripMargin

  // ---- Events ----

  /** `ev(event_id, user_id, event_type, ts_us)` and the touch keys
    * `tk`: zero-padded epoch micros, event id and type of each view,
    * click and signup, the `Events.convTouches` key.
    */
  def touchKeys: String =
    """ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
      |  FROM events),
      |tk AS (SELECT event_id, user_id, event_type, ts_us,
      |    CASE WHEN event_type IN ('view', 'click', 'signup') THEN
      |      lpad(CAST(ts_us AS VARCHAR), 20, '0') || ':' || event_id ||
      |        ':' || event_type END AS tk
      |  FROM ev)""".stripMargin

  /** The whole q175/q212 oracle: daily OHLC bars over purchase values. */
  def ohlcQuery: String =
    s"""WITH ev AS (SELECT CAST(ts AS DATE) AS day,
       |    CAST(round(value * 1000000) AS BIGINT) AS vq,
       |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || ':' || event_id
       |      AS tk
       |  FROM events WHERE event_type = 'purchase')
       |SELECT day, arg_min(vq, tk) AS open, max(vq) AS high,
       |  min(vq) AS low, arg_max(vq, tk) AS close,
       |  count(*) AS n_trades, CAST(sum(vq) AS BIGINT) AS volume
       |FROM ev GROUP BY 1 ORDER BY day""".stripMargin

  // ---- Relational ----

  /** Each customer's order-status history with the previous status, `src`,
    * and the change rows `chg`.
    */
  def scd2Changes: String =
    s"""src AS (
       |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
       |    lag(o_orderstatus) OVER
       |      (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
       |      AS prev
       |  FROM orders),
       |chg AS (
       |  SELECT * FROM src WHERE prev IS NULL OR prev <> o_orderstatus)""".stripMargin

  // ---- Joins ----

  /** The whole q52/q66 oracle: exact revenue and item count per order priority. */
  def priorityRevenueQuery: String =
    s"""SELECT o_orderpriority,
       | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       | count(*) AS n_items
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin
}
