package graft
package entries

import org.apache.spark.sql.functions._

import Entry.t

/** Statistical operators: hypothesis tests, trends, seasonality,
  * changepoints, bootstrap, survival, target encoding, itemsets,
  * sequence mining and attribution. */
private[graft] object StatsEntries {

  val all: Seq[Entry] = Seq(

    // sequential patterns over (user, day) event sessions: ordered
    // pairs a→b and triples a→b→c via per-(sequence, item) time
    // bounds — PrefixSpan's answer without projection state
    Entry("q_seq_patterns", (s, dir) => {
      val ev = Tables.events(s, dir).select(
        concat_ws("#", col("user_id"),
          to_date(col("ts_us")).cast("string")).as("sq"),
        col("event_type").as("it"), col("ts_us").as("t"))
      val p = graft.ops.SequenceMining.frequentPairs(ev, "sq", "it", "t",
        minSupport = 300)
      val t3 = graft.ops.SequenceMining.frequentTriples(ev, "sq", "it",
        "t", minSupport = 300)
      p.select(lit(2).as("k"), col("a"), col("b"),
          lit(null).cast("string").as("c"), col("support"))
        .unionAll(t3.select(lit(3).as("k"), col("a"), col("b"), col("c"),
          col("support")))
        .orderBy("k", "a", "b", "c")
    }, Some(
      // sequence-pattern replay: same per-(sequence, item) time bounds,
      // same first-b-after-a minimum, strict inequalities throughout
      """WITH e AS (
        |  SELECT CAST(user_id AS VARCHAR) || '#' ||
        |      CAST(CAST(ts AS DATE) AS VARCHAR) AS sq,
        |    event_type AS it, ts
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |    AND ts IS NOT NULL),
        |st AS (SELECT sq, it, min(ts) AS tmin, max(ts) AS tmax
        |       FROM e GROUP BY 1, 2),
        |p AS (
        |  SELECT a.it AS a, b.it AS b, CAST(count(*) AS BIGINT) AS support
        |  FROM st a JOIN st b ON a.sq = b.sq AND a.tmin < b.tmax
        |  GROUP BY 1, 2 HAVING count(*) >= 300),
        |fa AS (
        |  SELECT m.sq, a.it AS a, m.it AS b, min(m.ts) AS tstar
        |  FROM e m JOIN st a ON m.sq = a.sq AND a.tmin < m.ts
        |  GROUP BY 1, 2, 3),
        |t AS (
        |  SELECT f.a, f.b, c.it AS c, CAST(count(*) AS BIGINT) AS support
        |  FROM fa f JOIN st c ON f.sq = c.sq AND f.tstar < c.tmax
        |  GROUP BY 1, 2, 3 HAVING count(*) >= 300)
        |SELECT 2 AS k, a, b, CAST(NULL AS VARCHAR) AS c, support FROM p
        |UNION ALL
        |SELECT 3 AS k, a, b, c, support FROM t
        |ORDER BY k, a, b, c""".stripMargin)),

    // per-user EWMA of event values (α=0.25 — binary-exact, so the
    // fold replays bit-for-bit) seeded with the first value in
    // (ts, event_id) order
    Entry("q_ewma_users", (s, dir) => {
      graft.ops.Smoothing.ewmaLevel(Tables.events(s, dir),
          "user_id", "ts", "event_id", "value", alpha = 0.25)
        .orderBy("user_id")
    }, Some(
      """WITH s AS (
        |  SELECT user_id,
        |    list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
        |  FROM events WHERE value IS NOT NULL GROUP BY user_id)
        |SELECT user_id, CAST(len(vals) AS BIGINT) AS n,
        |  floor(list_reduce(vals, (acc, x) -> acc * 0.75 + x * 0.25) * 1000000)
        |    / 1000000 AS level
        |FROM s ORDER BY user_id""".stripMargin)),

    // multi-touch attribution: purchases are conversions, click/view
    // touches credit their channel (props.k mod 8) under first-touch /
    // last-touch / exact-integer linear models at once; paths span
    // strictly between consecutive conversions of a user.
    Entry("q_attribution", (s, dir) => {
      val ev = Tables.events(s, dir)
      val touches = ev.where(col("event_type").isin("click", "view"))
        .select(col("user_id").as("user"), col("ts"),
          col("event_id").as("id"),
          concat(lit("ch"), (get_json_object(col("props"), "$.k")
            .cast("long") % 8).cast("string")).as("channel"))
      val conversions = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("user"), col("ts"),
          col("event_id").as("id"))
      graft.ops.Attribution.byChannel(touches, conversions)
        .orderBy("channel")
    }, Some(
      // attribution replay: identical path windows over nanosecond
      // instants; '//' is DuckDB integral division (operands positive).
      """WITH ev AS (
        |  SELECT event_id, epoch_ns(ts) AS tns, user_id, event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events),
        |conv AS (
        |  SELECT user_id, tns AS cts, event_id AS cid,
        |    lag(tns) OVER (PARTITION BY user_id
        |                   ORDER BY tns, event_id) AS pts
        |  FROM ev WHERE event_type = 'purchase'),
        |touch AS (
        |  SELECT user_id, tns, event_id,
        |    'ch' || CAST(k % 8 AS VARCHAR) AS channel
        |  FROM ev WHERE event_type IN ('click', 'view')),
        |path AS (
        |  SELECT c.cid, t.channel,
        |    row_number() OVER (PARTITION BY c.cid
        |                       ORDER BY t.tns, t.event_id) AS rn,
        |    count(*) OVER (PARTITION BY c.cid) AS n
        |  FROM touch t JOIN conv c ON t.user_id = c.user_id
        |    AND t.tns < c.cts AND (c.pts IS NULL OR t.tns > c.pts))
        |SELECT channel,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS first_touch,
        |  CAST(sum(CASE WHEN rn = n THEN 1 ELSE 0 END) AS BIGINT)
        |    AS last_touch,
        |  CAST(sum(1000000 // n +
        |    CASE WHEN rn = n THEN 1000000 % n ELSE 0 END) AS BIGINT)
        |    AS linear_micro
        |FROM path GROUP BY channel ORDER BY channel""".stripMargin)),

    // chi-squared independence of order priority x status, with
    // Cramér's V — per-cell integer-quantized contributions.
    Entry("q_chi2_orders", (s, dir) => {
      graft.ops.Hypothesis.chiSquared(t(s, dir, "orders"),
        "o_orderpriority", "o_orderstatus")
    }, Some(
      // chi-squared replay: same margins, same 1e-9-quantized per-cell
      // contributions (exact BIGINT sum), same pinned V chain
      """WITH cells AS (
        |  SELECT CAST(o_orderpriority AS VARCHAR) AS a,
        |    CAST(o_orderstatus AS VARCHAR) AS b,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM orders
        |  WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT a, b, o,
        |    sum(o) OVER (PARTITION BY a) AS r,
        |    sum(o) OVER (PARTITION BY b) AS c,
        |    sum(o) OVER () AS n
        |  FROM cells),
        |q AS (
        |  SELECT a, b, n,
        |    CAST(round(CAST(CAST(o * n - r * c AS HUGEINT)
        |        * CAST(o * n - r * c AS HUGEINT) AS DOUBLE)
        |      / CAST(n * r * c AS DOUBLE) * 1000000000) AS BIGINT) AS c9
        |  FROM m),
        |agg AS (
        |  SELECT max(n) AS n,
        |    CAST(count(DISTINCT a) AS BIGINT) AS n_rows_cat,
        |    CAST(count(DISTINCT b) AS BIGINT) AS n_cols_cat,
        |    CAST(sum(c9) AS BIGINT) AS chi2_9
        |  FROM q)
        |SELECT CAST(n AS BIGINT) AS n, n_rows_cat, n_cols_cat,
        |  (n_rows_cat - 1) * (n_cols_cat - 1) AS dof, chi2_9,
        |  CASE WHEN n_rows_cat >= 2 AND n_cols_cat >= 2 THEN
        |    floor(sqrt(CAST(chi2_9 AS DOUBLE) / 1000000000.0
        |      / CAST(n * least(n_rows_cat - 1, n_cols_cat - 1) AS DOUBLE))
        |      * 1000000) / 1000000 END AS cramers_v
        |FROM agg""".stripMargin)),

    // Theil-Sen robust slope per priority: median pairwise slope of
    // the daily revenue series — outlier days cannot move it.
    Entry("q_theilsen_priority", (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("prio"),
          to_date(col("o_orderdate")).as("day"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
      graft.ops.Trend.theilSen(daily, "prio", "day", "cents")
        .select(col("key").as("prio"), col("n_pairs"), col("slope"))
        .orderBy("prio")
    }, Some(
      // Theil-Sen replay: same pairwise-slope enumeration, same
      // lower-median order statistic with (slope, xi, xj) ties
      """WITH daily AS (
        |  SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1, 2),
        |ranked AS (
        |  SELECT prio, cents AS y,
        |    CAST(row_number() OVER (PARTITION BY prio ORDER BY day)
        |      AS BIGINT) AS x
        |  FROM daily),
        |pairs AS (
        |  SELECT a.prio, a.x AS xi, b.x AS xj,
        |    CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
        |  FROM ranked a JOIN ranked b ON a.prio = b.prio AND a.x < b.x),
        |r AS (
        |  SELECT prio, slope,
        |    row_number() OVER (PARTITION BY prio
        |                       ORDER BY slope, xi, xj) AS rn,
        |    count(*) OVER (PARTITION BY prio) AS n_pairs
        |  FROM pairs)
        |SELECT prio, CAST(n_pairs AS BIGINT) AS n_pairs,
        |  floor(slope * 1000000) / 1000000 AS slope
        |FROM r WHERE rn = (n_pairs + 1) // 2 ORDER BY prio""".stripMargin)),

    // Kaplan-Meier signup→purchase conversion: durations in days to a
    // user's first purchase at-or-after first signup, censored at the
    // observation end — life table + exact Nelson-Aalen hazard + KM.
    Entry("q_survival_conversion", (s, dir) => {
      val ev = Tables.events(s, dir)
      val su = ev.where(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("s_ts"))
      val pu = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts_us").as("p_ts"))
      val fp = su.join(pu, col("user_id") === col("p_user") &&
          col("p_ts") >= col("s_ts"), "left")
        .groupBy(col("user_id"), col("s_ts"))
        .agg(min(col("p_ts")).as("first_p"))
      val obsEnd = ev.agg(max(col("ts_us")).as("obs_end"))
      val dur = fp.crossJoin(broadcast(obsEnd))
        .select(datediff(to_date(coalesce(col("first_p"), col("obs_end"))),
          to_date(col("s_ts"))).as("dur"),
          col("first_p").isNotNull.as("converted"))
      graft.ops.Survival.kaplanMeier(dur, "dur", "converted")
        .orderBy("t")
    }, Some(
      // survival replay: same life table over the duration histogram,
      // exact integer hazard, same quantized-log KM product
      """WITH su AS (
        |  SELECT user_id, min(ts) AS s_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |fp AS (
        |  SELECT s.user_id, s.s_ts, min(p.ts) AS p_ts
        |  FROM su s LEFT JOIN events p ON p.user_id = s.user_id
        |    AND p.event_type = 'purchase' AND p.ts >= s.s_ts
        |  GROUP BY s.user_id, s.s_ts),
        |oe AS (SELECT max(ts) AS obs_end FROM events),
        |dur AS (
        |  SELECT datediff('day', CAST(s_ts AS DATE),
        |      CAST(coalesce(p_ts, (SELECT obs_end FROM oe)) AS DATE)) AS t,
        |    p_ts IS NOT NULL AS e
        |  FROM fp),
        |hist AS (
        |  SELECT t, CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN e THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM dur GROUP BY t),
        |r AS (
        |  SELECT t, d, c,
        |    sum(d + c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS gone,
        |    sum(d + c) OVER () AS tot
        |  FROM hist),
        |l AS (SELECT t, d, c, tot - gone + d + c AS n_risk FROM r),
        |k AS (
        |  SELECT t, n_risk, d, c,
        |    sum(CASE WHEN d > 0 THEN CAST(round(CAST(d AS DOUBLE)
        |      / CAST(n_risk AS DOUBLE) * 1000000000) AS BIGINT)
        |      ELSE 0 END) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
        |        PRECEDING AND CURRENT ROW) AS na_h9,
        |    sum(CASE WHEN d > 0 AND n_risk = d THEN -100000000000
        |             WHEN d > 0 THEN CAST(round(ln(
        |               CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |               * 1000000000) AS BIGINT)
        |             ELSE 0 END) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
        |        PRECEDING AND CURRENT ROW) AS ln9
        |  FROM l)
        |SELECT t, CAST(n_risk AS BIGINT) AS n_risk, d, c,
        |  CAST(na_h9 AS BIGINT) AS na_h9,
        |  floor(exp(CAST(ln9 AS DOUBLE) / 1000000000.0) * 1000000)
        |    / 1000000 AS km6
        |FROM k ORDER BY t""".stripMargin)),

    // STL-lite weekly decomposition of daily revenue per priority:
    // centered-MA trend, per-weekday-phase seasonal index, residual
    // mean square — all exact integer arithmetic.
    Entry("q_seasonal_decomp", (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("prio"),
          to_date(col("o_orderdate")).as("day"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
      graft.ops.Seasonal.phaseSummary(daily, "prio", "day", "cents",
          period = 7)
        .select(col("key").as("prio"), col("phase"), col("n"),
          col("seasonal"), col("res_ms"))
        .orderBy("prio", "phase")
    }, Some(
      // seasonal replay: same centered-MA frame, same phase ranks, same
      // floor-of-exact-division means
      """WITH daily AS (
        |  SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1, 2),
        |ma AS (
        |  SELECT prio, day, cents,
        |    CAST(floor(CAST(sum(cents) OVER w AS DOUBLE)
        |      / CAST(count(*) OVER w AS DOUBLE)) AS BIGINT) AS trend,
        |    CAST((row_number() OVER (PARTITION BY prio ORDER BY day) - 1)
        |      % 7 AS INT) AS phase
        |  FROM daily
        |  WINDOW w AS (PARTITION BY prio ORDER BY day
        |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |det AS (
        |  SELECT prio, phase, cents - trend AS det FROM ma),
        |seas AS (
        |  SELECT prio, phase, det,
        |    CAST(floor(CAST(sum(det) OVER p AS DOUBLE)
        |      / CAST(count(*) OVER p AS DOUBLE)) AS BIGINT) AS seasonal
        |  FROM det
        |  WINDOW p AS (PARTITION BY prio, phase))
        |SELECT prio, phase, CAST(count(*) AS BIGINT) AS n,
        |  max(seasonal) AS seasonal,
        |  CAST(floor(CAST(sum((det - seasonal) * (det - seasonal))
        |    AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS res_ms
        |FROM seas GROUP BY prio, phase
        |ORDER BY prio, phase""".stripMargin)),

    // Welch unequal-variance z: BUILDING customers' balances vs the
    // rest — exact decimal sufficient statistics, one pinned chain.
    Entry("q_welch_acctbal", (s, dir) => {
      graft.ops.Hypothesis.welchZ(
        t(s, dir, "customer")
          .select((col("c_mktsegment") === "BUILDING").as("grp"),
            floor(col("c_acctbal") * 100).cast("long").as("cents")),
        "grp", "cents")
    }, Some(
      // Welch replay: exact HUGEINT sufficient statistics, identical
      // pinned chain (mean, variance, se², z — same division order)
      """WITH g AS (
        |  SELECT (c_mktsegment = 'BUILDING') AS a,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) AS v
        |  FROM customer
        |  WHERE c_acctbal IS NOT NULL AND c_mktsegment IS NOT NULL),
        |s AS (
        |  SELECT a, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS HUGEINT) AS sx,
        |    CAST(sum(v * v) AS HUGEINT) AS sxx
        |  FROM g GROUP BY a),
        |wide AS (
        |  SELECT max(CASE WHEN a THEN n END) AS na,
        |    max(CASE WHEN a THEN sx END) AS sxa,
        |    max(CASE WHEN a THEN sxx END) AS sxxa,
        |    max(CASE WHEN NOT a THEN n END) AS nb,
        |    max(CASE WHEN NOT a THEN sx END) AS sxb,
        |    max(CASE WHEN NOT a THEN sxx END) AS sxxb
        |  FROM s),
        |d AS (
        |  SELECT na, nb,
        |    CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
        |    CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
        |    CAST(na * sxxa - sxa * sxa AS DOUBLE)
        |      / CAST(na * (na - 1) AS DOUBLE) / CAST(na AS DOUBLE)
        |    + CAST(nb * sxxb - sxb * sxb AS DOUBLE)
        |      / CAST(nb * (nb - 1) AS DOUBLE) / CAST(nb AS DOUBLE) AS se2
        |  FROM wide)
        |SELECT na AS n_a, nb AS n_b,
        |  floor(ma * 1000000) / 1000000 AS mean_a,
        |  floor(mb * 1000000) / 1000000 AS mean_b,
        |  CASE WHEN na >= 2 AND nb >= 2 AND se2 > 0 THEN
        |    floor((ma - mb) / sqrt(se2) * 1000000) / 1000000 END AS z
        |FROM d""".stripMargin)),

    // Mann-Whitney U: en vs non-en document lengths — doubled ranks
    // from a value histogram (no corpus sort), tie-corrected z.
    Entry("q_mannwhitney_chars", (s, dir) => {
      graft.ops.Hypothesis.mannWhitney(
        t(s, dir, "documents")
          .select((col("lang") === "en").as("grp"), col("n_chars")),
        "grp", "n_chars")
    }, Some(
      """WITH rws AS (
        |  SELECT (lang = 'en') AS a, n_chars AS v FROM documents
        |  WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |hist AS (
        |  SELECT v, CAST(count(*) AS BIGINT) AS t,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ta
        |  FROM rws GROUP BY v),
        |cum AS (
        |  SELECT v, t, ta,
        |    2 * (sum(t) OVER (ORDER BY v) - t) + t + 1 AS dr,
        |    CAST(t * t * t - t AS HUGEINT) AS tc
        |  FROM hist),
        |agg AS (
        |  SELECT CAST(sum(ta) AS BIGINT) AS na,
        |    CAST(sum(t - ta) AS BIGINT) AS nb,
        |    CAST(sum(CAST(ta * dr AS HUGEINT)) AS HUGEINT) AS dra,
        |    CAST(sum(tc) AS HUGEINT) AS ties
        |  FROM cum),
        |d AS (
        |  SELECT na, nb, CAST(dra - na * (na + 1) AS BIGINT) AS u2,
        |    CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0 *
        |      ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1)
        |       - CAST(ties AS DOUBLE) /
        |         ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
        |          * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 1))) AS varu
        |  FROM agg)
        |SELECT na AS n_a, nb AS n_b, u2,
        |  CASE WHEN na >= 1 AND nb >= 1 AND varu > 0 THEN
        |    floor((CAST(u2 AS DOUBLE) - CAST(na AS DOUBLE)
        |      * CAST(nb AS DOUBLE)) / (2.0 * sqrt(varu)) * 1000000)
        |      / 1000000 END AS z
        |FROM d""".stripMargin)),

    // Kruskal-Wallis H: account balance across ALL market segments at
    // once — the k-group rank test, same histogram ranks as MW
    Entry("q_kruskal_segments", (s, dir) => {
      graft.ops.Hypothesis.kruskalWallis(
        t(s, dir, "customer")
          .select(col("c_mktsegment"),
            floor(col("c_acctbal") * 100).cast("long").as("cents")),
        "c_mktsegment", "cents")
    }, Some(
      // Kruskal-Wallis replay: same histogram doubled ranks, same
      // N³-relative 1e-12 term grid, same pinned closing chain
      """WITH rws AS (
        |  SELECT c_mktsegment AS g,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) AS v
        |  FROM customer
        |  WHERE c_acctbal IS NOT NULL AND c_mktsegment IS NOT NULL),
        |byval AS (SELECT v, CAST(count(*) AS BIGINT) AS t
        |          FROM rws GROUP BY v),
        |ranked AS (
        |  SELECT v, 2 * (sum(t) OVER (ORDER BY v) - t) + t + 1 AS dr,
        |    CAST(t * t * t - t AS HUGEINT) AS tc
        |  FROM byval),
        |pg AS (
        |  SELECT g, CAST(sum(c) AS BIGINT) AS ng,
        |    CAST(sum(CAST(c * dr AS HUGEINT)) AS HUGEINT) AS r2
        |  FROM (SELECT g, v, count(*) AS c FROM rws GROUP BY 1, 2) x
        |    JOIN ranked USING (v)
        |  GROUP BY g),
        |nt AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
        |         CAST(count(*) AS BIGINT) AS k FROM pg),
        |terms AS (
        |  SELECT n, k,
        |    CAST(sum(CAST(floor(CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE)
        |      / ng / n / n / n * 1000000000000) AS BIGINT)) AS BIGINT)
        |      AS s12
        |  FROM pg, nt GROUP BY n, k),
        |tsum AS (SELECT CAST(sum(tc) AS HUGEINT) AS ties FROM ranked)
        |SELECT n, k,
        |  CASE WHEN k >= 2 AND
        |      1.0 - CAST(ties AS DOUBLE) / (CAST(n AS DOUBLE)
        |        * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |        - CAST(n AS DOUBLE)) > 0 THEN
        |    floor((3.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |        * CAST(n AS DOUBLE) * (CAST(s12 AS DOUBLE)
        |          / 1000000000000.0)
        |        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
        |      - 3.0 * (CAST(n AS DOUBLE) + 1.0))
        |      / (1.0 - CAST(ties AS DOUBLE) / (CAST(n AS DOUBLE)
        |        * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |        - CAST(n AS DOUBLE))) * 1000000) / 1000000 END AS h
        |FROM terms, tsum""".stripMargin)),

    // Poisson-bootstrap 95% CI for mean order value (cents): 200
    // deterministic md5-weighted replicates in one pass, exact integer
    // weighted sums, order-statistic bounds.
    Entry("q_bootstrap_ci", (s, dir) => {
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      graft.ops.Bootstrap.meanCi(orders, "o_orderkey", "cents",
        replicates = 200, seed = "bs")
    }, Some(
      // bootstrap replay: same md5 uniforms (one digest per block of 3
      // replicates, 40-bit hex lanes), same 17-digit Poisson CDF
      // literals (both engines parse them to identical doubles), same
      // exact integer weighted sums and order-statistic bounds
      """WITH rows_ AS (
        |  SELECT CAST(o_orderkey AS VARCHAR) AS id,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders),
        |blk AS (
        |  SELECT id, v, CAST(t.b AS INT) AS b,
        |    md5('bs' || ':' || CAST(t.b AS VARCHAR) || ':' || id) AS hx
        |  FROM rows_, unnest(range(0, 67)) AS t(b)),
        |uw AS (
        |  SELECT b * 3 + CAST(t.l AS INT) AS r, v,
        |    CAST(CAST(('0x' || substr(hx, CAST(t.l AS INT) * 10 + 1, 10))
        |      AS BIGINT) AS DOUBLE) / 1099511627776.0 AS u
        |  FROM blk, unnest(range(0, 3)) AS t(l)
        |  WHERE b * 3 + t.l < 200),
        |w AS (
        |  SELECT r, v,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |         WHEN u < 0.7357588823428847 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238462 THEN 3
        |         WHEN u < 0.9963401531726563 THEN 4
        |         WHEN u < 0.9994058151824183 THEN 5
        |         WHEN u < 0.9999167588507119 THEN 6
        |         WHEN u < 0.9999832982992097 THEN 7
        |         ELSE 8 END AS w
        |  FROM uw),
        |means AS (
        |  SELECT r,
        |    floor(CAST(sum(w * v) AS DOUBLE) / CAST(sum(w) AS DOUBLE)
        |      * 1000000) / 1000000 AS m
        |  FROM w GROUP BY r HAVING sum(w) > 0),
        |ranked AS (
        |  SELECT m, row_number() OVER (ORDER BY m, r) AS rn FROM means),
        |bounds AS (
        |  SELECT max(CASE WHEN rn = 5 THEN m END) AS mean_lo,
        |         max(CASE WHEN rn = 195 THEN m END) AS mean_hi,
        |         CAST(count(*) AS BIGINT) AS n_replicates
        |  FROM ranked),
        |pt AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    floor(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |      * 1000000) / 1000000 AS mean_point
        |  FROM rows_)
        |SELECT n_rows, n_replicates, mean_point, mean_lo, mean_hi
        |FROM pt, bounds""".stripMargin)),

    // A-Priori frequent itemsets over per-order supplier baskets:
    // pairs and downward-closure-pruned triples with absolute support
    // >= 5, unioned as (k, i1, i2, i3, support)
    Entry("q_freq_itemsets", (s, dir) => {
      val bi = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("bk"),
          col("l_suppkey").cast("long").as("it"))
      // one basket build + one pair count for both halves (r21): the
      // separate public calls re-derived them inside the triple pass
      val (pairs, triples) = graft.ops.Itemsets.frequentPairsAndTriples(
        bi, "bk", "it", minSupport = 5)
      pairs.select(lit(2).as("k"), col("i1"), col("i2"),
          lit(null).cast("long").as("i3"), col("support"))
        .unionAll(triples.select(lit(3).as("k"), col("i1"), col("i2"),
          col("i3"), col("support")))
        .orderBy("k", "i1", "i2", "i3")
    }, Some(
      // itemset replay: prune-free self-joins — downward closure is
      // lossless, so the unpruned enumeration returns identical rows
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS bk, CAST(l_suppkey AS BIGINT) AS it
        |  FROM lineitem),
        |p AS (
        |  SELECT a.it AS i1, c.it AS i2, CAST(count(*) AS BIGINT) AS support
        |  FROM b a JOIN b c ON a.bk = c.bk AND a.it < c.it
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |t AS (
        |  SELECT a.it AS i1, c.it AS i2, e.it AS i3,
        |    CAST(count(*) AS BIGINT) AS support
        |  FROM b a JOIN b c ON a.bk = c.bk AND a.it < c.it
        |         JOIN b e ON c.bk = e.bk AND c.it < e.it
        |  GROUP BY 1, 2, 3 HAVING count(*) >= 5)
        |SELECT 2 AS k, i1, i2, CAST(NULL AS BIGINT) AS i3, support FROM p
        |UNION ALL
        |SELECT 3 AS k, i1, i2, i3, support FROM t
        |ORDER BY k, i1, i2, i3""".stripMargin)),

    // weight of evidence + information value: which market segments
    // vote for a positive balance, and is the column worth a model
    Entry("q_woe_segments", (s, dir) => {
      graft.ops.TargetEncode.woe(
          t(s, dir, "customer").select(col("c_mktsegment"),
            (col("c_acctbal") > 5000).cast("int").as("lbl")),
          "c_mktsegment", "lbl", alpha = 0.5)
        .orderBy("category")
    }, Some(
      // WoE replay: same smoothed shares, same single-ln chain, same
      // 1e-9 IV term quantization
      """WITH rws AS (
        |  SELECT c_mktsegment AS category,
        |    CAST(CAST(c_acctbal > 5000 AS INT) AS BIGINT) AS lbl
        |  FROM customer
        |  WHERE c_mktsegment IS NOT NULL AND c_acctbal IS NOT NULL),
        |g AS (
        |  SELECT category, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(lbl) AS BIGINT) AS n_pos
        |  FROM rws GROUP BY 1),
        |w AS (
        |  SELECT category, n, n_pos,
        |    sum(n) OVER () AS nt, sum(n_pos) OVER () AS pt,
        |    count(*) OVER () AS k
        |  FROM g),
        |c AS (
        |  SELECT category, n, n_pos,
        |    (n_pos + 0.5) / (CAST(pt AS DOUBLE) + k * 0.5) AS ps,
        |    (n - n_pos + 0.5) /
        |      (CAST(nt AS DOUBLE) - pt + k * 0.5) AS ns
        |  FROM w)
        |SELECT category, n, n_pos,
        |  floor(ln(ps / ns) * 1000000) / 1000000 AS woe,
        |  CAST(floor((ps - ns) * ln(ps / ns) * 1000000000) AS BIGINT)
        |    AS iv_term9
        |FROM c ORDER BY category""".stripMargin)),

    // leave-one-out target encoding: priority encoded by smoothed
    // out-of-row mean order value — the high-cardinality-categorical
    // featurizer, leak-free by construction
    Entry("q_target_encode", (s, dir) => {
      graft.ops.TargetEncode.looEncode(
          t(s, dir, "orders").select(col("o_orderkey"),
            col("o_orderpriority").as("prio"),
            floor(col("o_totalprice") * 100).cast("long").as("cents")),
          "prio", "cents", m = 20.0)
        .where(col("o_orderkey") % 37 === 0)
        .select("o_orderkey", "prio", "cents", "te")
        .orderBy("o_orderkey")
    }, Some(
      // target-encoding replay: same exact sums, same pinned
      // leave-one-out chain — (sum−y+prior·m)/(n−1+m) floored to 1e-6
      """WITH rws AS (
        |  SELECT o_orderkey, o_orderpriority AS prio,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |stats AS (
        |  SELECT prio AS cat, count(*) AS n,
        |    CAST(sum(cents) AS HUGEINT) AS s
        |  FROM rws WHERE prio IS NOT NULL AND cents IS NOT NULL
        |  GROUP BY 1),
        |gstats AS (
        |  SELECT count(*) AS gn, CAST(sum(cents) AS HUGEINT) AS gs
        |  FROM rws WHERE prio IS NOT NULL AND cents IS NOT NULL)
        |SELECT o_orderkey, prio, cents,
        |  floor((CAST(s AS DOUBLE) - cents
        |      + CAST(gs AS DOUBLE) / gn * 20.0)
        |    / (CAST(n AS DOUBLE) - 1 + 20.0) * 1000000) / 1000000 AS te
        |FROM rws JOIN stats ON prio = cat CROSS JOIN gstats
        |WHERE o_orderkey % 37 = 0
        |ORDER BY o_orderkey""".stripMargin)),

    // per-group OLS trend: slope/intercept/R² of the daily revenue
    // series per order priority — exact decimal sums, pinned closing
    // chains. The grouped sibling of the Zipf fit.
    Entry("q_trend_priority", (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("prio"),
          to_date(col("o_orderdate")).as("day"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
      graft.ops.Trend.fitGrouped(daily, "prio", "day", "cents")
        .select(col("key").as("prio"), col("n_points"), col("slope"),
          col("intercept"), col("r2"))
        .orderBy("prio")
    }, Some(
      // trend replay: same ranked x, exact HUGEINT sums, pinned chains
      """WITH daily AS (
        |  SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1, 2),
        |ranked AS (
        |  SELECT prio, cents AS y,
        |    row_number() OVER (PARTITION BY prio ORDER BY day) AS x
        |  FROM daily),
        |sums AS (
        |  SELECT prio, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(x * x) AS HUGEINT) AS sxx,
        |    CAST(sum(y * y) AS HUGEINT) AS syy,
        |    CAST(sum(x * y) AS HUGEINT) AS sxy
        |  FROM ranked GROUP BY prio),
        |d AS (
        |  SELECT prio, n,
        |    CAST(n * sxy - sx * sy AS DOUBLE) AS num,
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS dxd,
        |    n * syy - sy * sy AS dyi,
        |    CAST(n * syy - sy * sy AS DOUBLE) AS dyd,
        |    CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd,
        |    CAST(n AS DOUBLE) AS nd
        |  FROM sums WHERE n >= 2)
        |SELECT prio, n AS n_points,
        |  floor(num / dxd * 1000000) / 1000000 AS slope,
        |  floor((syd - num / dxd * sxd) / nd * 1000000) / 1000000
        |    AS intercept,
        |  CASE WHEN dyi > 0 THEN
        |    floor(num * num / (dxd * dyd) * 1000000) / 1000000 END AS r2
        |FROM d ORDER BY prio""".stripMargin)),

    // mean-shift changepoint per order priority: daily revenue-cents
    // series, normalized CUSUM argmax — exact integer prefix sums,
    // IEEE-identical closing division, bit-stable argmax tie-break.
    Entry("q_changepoint_revenue", (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("prio"),
          to_date(col("o_orderdate")).as("day"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
      graft.ops.Changepoint.meanShift(daily, "prio", "day", "cents")
        .select(col("key").as("prio"), col("cp_at").as("cp_day"),
          col("cp_index"), col("n_points"), col("score_floor"),
          col("mean_left"), col("mean_right"))
        .orderBy("prio")
    }, Some(
      // changepoint replay: same exact-integer cumulatives (HUGEINT =
      // the engine's DECIMAL(38,0)), same IEEE closing division, same
      // (score desc, i asc) argmax
      """WITH daily AS (
        |  SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1, 2),
        |cum AS (
        |  SELECT prio, day, cents,
        |    sum(cents) OVER (PARTITION BY prio ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a,
        |    row_number() OVER (PARTITION BY prio ORDER BY day) AS i,
        |    sum(cents) OVER (PARTITION BY prio) AS s,
        |    count(*) OVER (PARTITION BY prio) AS n
        |  FROM daily),
        |scored AS (
        |  SELECT prio, day, i, n, a, s,
        |    CAST(CAST(a * (n - i) - (s - a) * i AS HUGEINT)
        |        * CAST(a * (n - i) - (s - a) * i AS HUGEINT) AS DOUBLE)
        |      / CAST(i * (n - i) AS DOUBLE) AS score
        |  FROM cum WHERE i < n),
        |best AS (
        |  SELECT prio, day, i, n, a, s, score,
        |    row_number() OVER (PARTITION BY prio
        |                       ORDER BY score DESC, i ASC) AS rn
        |  FROM scored)
        |SELECT prio, day AS cp_day, CAST(i AS BIGINT) AS cp_index,
        |  CAST(n AS BIGINT) AS n_points,
        |  CAST(floor(score / CAST(n * n AS DOUBLE)) AS BIGINT)
        |    AS score_floor,
        |  CAST(floor(CAST(a AS DOUBLE) / CAST(i AS DOUBLE)) AS BIGINT)
        |    AS mean_left,
        |  CAST(floor(CAST(s - a AS DOUBLE) / CAST(n - i AS DOUBLE))
        |    AS BIGINT) AS mean_right
        |FROM best WHERE rn = 1 ORDER BY prio""".stripMargin))
  )
}
