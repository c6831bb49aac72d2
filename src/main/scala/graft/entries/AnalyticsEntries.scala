package graft
package entries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Entry.t

/** Relational analytics over the TPC-H-shaped tables and the events
  * log: the TPC-H queries, joins (as-of, range, semi/anti), windows,
  * grouping sets, pivots, sketches, time-series resampling and
  * slowly-changing dimensions. */
private[graft] object AnalyticsEntries {

  val all: Seq[Entry] = Seq(

    Entry("q1_pricing_summary", (s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, Some(
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    Entry("q3_shipping_priority", (s, dir) => {
      val cust = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders").where(col("o_orderdate") < to_timestamp(lit("1997-01-01")))
      val li = t(s, dir, "lineitem").where(col("l_shipdate") > to_timestamp(lit("1997-01-01")))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }, Some(
      """SELECT l_orderkey, o_orderdate,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > TIMESTAMP '1997-01-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin)),

    Entry("q5_region_revenue", (s, dir) => {
      val cust = t(s, dir, "customer")
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region").where(col("r_name") === "ASIA")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy("n_name")
    }, Some(
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin)),

    // TPC-H Q7 shape (volume shipping): bidirectional nation-pair
    // revenue by ship year — a 6-table join. Only the FIXED-cardinality
    // nation frames carry broadcast hints; customer/supplier GROW with
    // scale factor, so AQE picks their regime from runtime sizes (a
    // forced hint would be an OOM order at 100x)
    Entry("q7_volume_shipping", (s, dir) => {
      val n1 = t(s, dir, "nation").select(col("n_nationkey").as("c_nk"),
        col("n_name").as("cust_nation"))
      val n2 = t(s, dir, "nation").select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation"))
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01")))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
        .where((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }, Some(
      """SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ((n2.n_name = 'NATION_1' AND n1.n_name = 'NATION_2')
        |    OR (n2.n_name = 'NATION_2' AND n1.n_name = 'NATION_1'))
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),

    // TPC-H Q8 shape (national market share): one nation's share of a
    // region's revenue for a part-type family, by order year
    Entry("q8_market_share", (s, dir) => {
      val nCust = t(s, dir, "nation").select(col("n_nationkey").as("c_nk"),
        col("n_regionkey").as("c_rk"))
      val nSupp = t(s, dir, "nation").select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation"))
      val reg = t(s, dir, "region").where(col("r_name") === "AMERICA")
      t(s, dir, "lineitem")
        .join(t(s, dir, "part").where(col("p_type").startsWith("ECONOMY")),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nCust), col("c_nationkey") === col("c_nk"))
        .join(broadcast(reg), col("c_rk") === col("r_regionkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nSupp), col("s_nationkey") === col("s_nk"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg((floor(sum(when(col("supp_nation") === "NATION_3",
            col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(lit(0.0)))
          / sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          * 1e4) / 1e4).as("mkt_share"))
        .orderBy("o_year")
    }, Some(
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |  floor(sum(CASE WHEN n2.n_name = 'NATION_3'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
        |    / sum(l_extendedprice * (1 - l_discount)) * 10000) / 10000 AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE r_name = 'AMERICA' AND p_type LIKE 'ECONOMY%'
        |GROUP BY 1 ORDER BY o_year""".stripMargin)),

    // TPC-H Q10 shape (returned items): top 20 customers by revenue
    // lost to returns in one quarter
    Entry("q10_returned_items", (s, dir) => {
      t(s, dir, "lineitem").where(col("l_returnflag") === "R")
        .join(t(s, dir, "orders")
            .where(col("o_orderdate") >= to_timestamp(lit("1996-10-01")) &&
              col("o_orderdate") < to_timestamp(lit("1997-01-01"))),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }, Some(
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-10-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    // TPC-H Q14 shape (promotion effect): promo-type share of one
    // month's revenue — one scalar row
    Entry("q14_promo_revenue", (s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= to_timestamp(lit("1996-03-01")) &&
          col("l_shipdate") < to_timestamp(lit("1996-04-01")))
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .agg((floor(sum(when(col("p_type").startsWith("PROMO"),
            col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(lit(0.0)))
          / sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          * lit(100.0) * 1e4) / 1e4).as("promo_pct"))
    }, Some(
      """SELECT floor(sum(CASE WHEN p_type LIKE 'PROMO%'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
        |    / sum(l_extendedprice * (1 - l_discount)) * 100.0 * 10000) / 10000
        |  AS promo_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin)),

    Entry("q_window_top_parts", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val part = t(s, dir, "part")
      val rev = li.join(part, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_partkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      val w = Window.partitionBy("p_brand").orderBy(col("revenue").desc, col("p_partkey").asc)
      rev.withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .orderBy("p_brand", "rnk")
    }, Some(
      """WITH rev AS (
        |  SELECT p_brand, p_partkey,
        |    round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand, p_partkey)
        |SELECT p_brand, p_partkey, revenue,
        |  CAST(row_number() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey ASC) AS INTEGER) AS rnk
        |FROM rev
        |QUALIFY rnk <= 3
        |ORDER BY p_brand, rnk""".stripMargin)),

    // exact percentiles (continuous interpolation — matches DuckDB
    // quantile_cont). floor(x*100)/100, not round(,2): both engines
    // interpolate to the identical double, but their round() half-rules
    // can split on a .xx5 boundary; floor of the same double is stable.
    Entry("q_percentiles", (s, dir) => {
      def f2(c: Column): Column = floor(c * 100) / 100
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          f2(expr("percentile(l_extendedprice, 0.5)")).as("p50_price"),
          f2(expr("percentile(l_extendedprice, 0.95)")).as("p95_price"),
          f2(expr("percentile(l_quantity, 0.5)")).as("p50_qty"))
        .orderBy("l_returnflag")
    }, Some(
      """SELECT l_returnflag,
        |  floor(quantile_cont(l_extendedprice, 0.5) * 100) / 100 AS p50_price,
        |  floor(quantile_cont(l_extendedprice, 0.95) * 100) / 100 AS p95_price,
        |  floor(quantile_cont(l_quantity, 0.5) * 100) / 100 AS p50_qty
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    Entry("q_anti_customers", (s, dir) => {
      val cust = t(s, dir, "customer")
      val urgent = t(s, dir, "orders").where(col("o_orderpriority") === "1-URGENT")
      cust.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    }, Some(
      """SELECT c_mktsegment, count(*) AS n
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)),

    Entry("q_events_hourly", (s, dir) => {
      Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts_us")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
        .orderBy("hour", "event_type")
    }, Some(
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |  count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour, event_type""".stripMargin)),

    // hopping (sliding) windows: 1 h windows every 30 min — each event
    // lands in exactly two. Spark's window() expands to the window
    // struct; the oracle replays the expansion arithmetically.
    Entry("q_events_hopping", (s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts_us"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
        .select(col("window.start").as("w_start"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy("w_start", "event_type")
    }, Some(
      // hopping-window replay: window starts are the two 30-min-aligned
      // instants s with s <= ts < s + 1h, i.e. (floor(epoch/1800)-k)*1800
      // for k in {0,1}. Naive-timestamp arithmetic (epoch + interval from
      // TIMESTAMP '1970-01-01') — DuckDB's to_timestamp yields TIMESTAMPTZ
      // whose cast to TIMESTAMP shifts by the host session zone.
      """SELECT TIMESTAMP '1970-01-01'
        |       + (CAST(floor(epoch(ts) / 1800) AS BIGINT) - k.k) * 1800 * INTERVAL 1 SECOND
        |       AS w_start,
        |  event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events, unnest(range(0, 2)) AS k(k)
        |GROUP BY 1, 2
        |ORDER BY w_start, event_type""".stripMargin)),

    Entry("q_events_sessions", (s, dir) => {
      val ev = Tables.events(s, dir).withColumn("es", expr("ts div 1000000000"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      ev.withColumn("pes", lag("es", 1).over(w))
        .withColumn("new_sess",
          when(col("pes").isNull || (col("es") - col("pes")) > 1800, 1L).otherwise(0L))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum("new_sess").as("n_sessions"))
        .orderBy("user_id")
    }, Some(
      """WITH x AS (
        |  SELECT user_id, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS es,
        |    lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pes
        |  FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CASE WHEN pes IS NULL OR es - pes > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
        |FROM x GROUP BY user_id ORDER BY user_id""".stripMargin)),

    Entry("q_top_purchasers", (s, dir) => {
      val ev = Tables.events(s, dir).where(col("event_type") === "purchase")
      val agg = ev.groupBy("user_id").agg(round(sum("value"), 2).as("total_spent"))
      // orderBy+limit → TakeOrderedAndProject (distributed top-k);
      // ranking a global Window here would funnel every user into one
      // partition. The window below runs over only the 20 survivors.
      val top = agg.orderBy(col("total_spent").desc, col("user_id").asc).limit(20)
      val w = Window.orderBy(col("total_spent").desc, col("user_id").asc)
      top.withColumn("rnk", row_number().over(w)).orderBy("rnk")
    }, Some(
      """WITH agg AS (
        |  SELECT user_id, round(sum(value), 2) AS total_spent
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT user_id, total_spent,
        |  CAST(row_number() OVER (ORDER BY total_spent DESC, user_id ASC) AS INTEGER) AS rnk
        |FROM agg
        |QUALIFY rnk <= 20
        |ORDER BY rnk""".stripMargin)),

    // as-of join composed from union + carry-forward window — each
    // purchase is paired with the user's most recent signup at-or-
    // before it; DuckDB's native ASOF JOIN is the oracle.
    Entry("q_asof_signup", (s, dir) => {
      val ev = Tables.events(s, dir).drop("ts_us")
      val purchases = ev.where(col("event_type") === "purchase")
      val signups = ev.where(col("event_type") === "signup")
      graft.ops.AsofJoin.asofJoin(purchases, signups, "user_id", "ts", Seq("value"))
        .select(col("event_id"), col("user_id"), col("asof_value"))
        .orderBy("event_id")
    }, Some(
      """SELECT l.event_id, l.user_id, r.value AS asof_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin)),

    // as-of with a TOLERANCE bound (2 days in ns): a matched signup
    // older than purchase_ts - tol is treated as no match — the
    // staleness contract time-series joins need; DuckDB replays it as
    // ASOF + a freshness CASE, so the tolerance row (26f2) is
    // oracle-gated, not only spec-gated.
    Entry("q_asof_tolerance", (s, dir) => {
      val ev = Tables.events(s, dir).drop("ts_us")
      val purchases = ev.where(col("event_type") === "purchase")
      val signups = ev.where(col("event_type") === "signup")
      graft.ops.AsofJoin.asofJoin(purchases, signups, "user_id", "ts",
          Seq("value"), tolerance = Some(172800000000000L))
        .select(col("event_id"), col("user_id"), col("asof_value"))
        .orderBy("event_id")
    }, Some(
      // tolerance replay: ASOF match, then the freshness CASE — a
      // carried signup older than ts - 2 days (ns) nulls out, exactly
      // the engine's inclusive __t >= ts - tol bound
      """SELECT l.event_id, l.user_id,
        |  CASE WHEN epoch_ns(r.ts) >= epoch_ns(l.ts) - 172800000000000
        |       THEN r.value END AS asof_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin)),

    // same as-of semantics through the NATIVE path — custom
    // LogicalPlan + Strategy + SparkPlan (plans/NativeAsofJoin.scala)
    // — so the custom operator itself sits under the DuckDB ASOF
    // oracle, not just composed-form parity tests.
    Entry("q_asof_native", (s, dir) => {
      val ev = Tables.events(s, dir).drop("ts_us")
      val purchases = ev.where(col("event_type") === "purchase")
      val signups = ev.where(col("event_type") === "signup")
      graft.plans.NativeAsofJoin.asofJoin(purchases, signups, "user_id", "ts", Seq("value"))
        .select(col("event_id"), col("user_id"), col("asof_value"))
        .orderBy("event_id")
    }, Some(
      """SELECT l.event_id, l.user_id, r.value AS asof_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin)),

    // rollup with subtotal rows (coalesced to 'ALL' so both engines
    // order identically regardless of null-sort defaults)
    Entry("q_rollup_revenue", (s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("revenue"))
        .orderBy("returnflag", "linestatus")
    }, Some(
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       count(*) AS n,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin)),

    Entry("q_cube_counts", (s, dir) => {
      t(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"))
        .orderBy("status", "priority")
    }, Some(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin)),

    // correlated-subquery shape (TPC-H Q17): lineitems whose quantity
    // is below 20% of their part's average — Catalyst decorrelates
    // into an aggregate + join; no per-row subquery execution.
    Entry("q_small_quantity_revenue", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val avgQty = li.groupBy(col("l_partkey").as("ap"))
        .agg((avg("l_quantity") * 0.2).as("qty_cap"))
      li.join(avgQty, col("l_partkey") === col("ap"))
        .where(col("l_quantity") < col("qty_cap"))
        .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"),
          count(lit(1)).as("n"))
    }, Some(
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly, count(*) AS n
        |FROM lineitem l
        |WHERE l_quantity < (
        |  SELECT 0.2 * avg(l_quantity) FROM lineitem
        |  WHERE l_partkey = l.l_partkey)""".stripMargin)),

    Entry("q_semi_customers", (s, dir) => {
      val cust = t(s, dir, "customer")
      val urgent = t(s, dir, "orders").where(col("o_orderpriority") === "1-URGENT")
      cust.join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    }, Some(
      """SELECT c_mktsegment, count(*) AS n
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)),

    // KMV bottom-k sketch: below k distinct values the sketch is EXACT,
    // so with k ≫ |users| the DuckDB count(DISTINCT) oracle applies —
    // while the plan still exercises the mergeable TypedImperative
    // aggregate path (partial sketches merged across partitions).
    Entry("q_kmv_users", (s, dir) => {
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(graft.expr.KmvSketch.kmvDistinct(col("user_id"), 8192).as("approx_users"))
        .orderBy("event_type")
    }, Some(
      """SELECT event_type, count(DISTINCT user_id) AS approx_users
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    // pivot (wide conditional aggregation): order counts per priority,
    // one column per status. Pivot with an explicit value list keeps
    // the plan a single pass (no distinct-scan to discover columns).
    Entry("q_pivot_status", (s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("O"), lit(0L)).as("n_open"),
          coalesce(col("F"), lit(0L)).as("n_finished"),
          coalesce(col("P"), lit(0L)).as("n_pending"))
        .orderBy("o_orderpriority")
    }, Some(
      """SELECT o_orderpriority,
        |  CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_open,
        |  CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_finished,
        |  CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_pending
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    // GROUPING SETS — the general subtotal form rollup/cube specialize;
    // Catalyst expands it into one Expand + single aggregate (one
    // shuffle, not one scan per set).
    Entry("q_grouping_sets", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("graft_gs_lineitem")
      s.sql(
        """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
          |       coalesce(l_linestatus, 'ALL') AS linestatus,
          |       count(*) AS n,
          |       round(sum(l_quantity), 2) AS sum_qty
          |FROM graft_gs_lineitem
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))
          |ORDER BY returnflag, linestatus""".stripMargin)
    }, Some(
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       count(*) AS n,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))
        |ORDER BY returnflag, linestatus""".stripMargin)),

    // bounded-interval range join (bucketed equi-join scale path, see
    // graft.ops.RangeJoin): clicks in the hour before each purchase.
    Entry("q_range_clicks", (s, dir) => {
      val ev = Tables.events(s, dir).drop("ts_us", "props")
      val purchases = ev.where(col("event_type") === "purchase")
      val clicks = ev.where(col("event_type") === "click")
      graft.ops.RangeJoin.rangeJoin(purchases, clicks, "user_id", "ts", "ts",
          lower = -3600L * 1000000000L, upper = -1L)
        .groupBy(col("event_id"), col("user_id"))
        .agg(count(lit(1)).as("n_clicks"),
          round(sum(col("r_value")), 2).as("click_value"))
        .orderBy("event_id")
    }, Some(
      """SELECT l.event_id, l.user_id, count(*) AS n_clicks,
        |       round(sum(r.value), 2) AS click_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |JOIN (SELECT * FROM events WHERE event_type = 'click') r
        |  ON r.user_id = l.user_id
        | AND epoch_ns(r.ts) >= epoch_ns(l.ts) - 3600000000000
        | AND epoch_ns(r.ts) <= epoch_ns(l.ts) - 1
        |GROUP BY 1, 2
        |ORDER BY l.event_id""".stripMargin)),

    // correlated min-subquery shape (TPC-H Q2's price-floor pattern):
    // parts at their brand's minimum retail price. The per-brand min is
    // tiny → broadcast; no decorrelation shuffle on the probe side.
    Entry("q_min_retail_parts", (s, dir) => {
      val part = t(s, dir, "part")
      val minPer = part.groupBy(col("p_brand").as("b"))
        .agg(min("p_retailprice").as("min_price"))
      part.join(broadcast(minPer),
          col("p_brand") === col("b") && col("p_retailprice") === col("min_price"))
        .select("p_brand", "p_partkey", "p_retailprice")
        .orderBy("p_brand", "p_partkey")
    }, Some(
      """SELECT p_brand, p_partkey, p_retailprice
        |FROM part p
        |WHERE p_retailprice = (SELECT min(p_retailprice) FROM part p2
        |                       WHERE p2.p_brand = p.p_brand)
        |ORDER BY p_brand, p_partkey""".stripMargin)),

    // ntile deciles over a global order. NOTE: a global window funnels
    // all rows through one task — fine for dimension-sized inputs; for
    // fact-scale deciles use approxQuantile boundaries + a narrow
    // bucket-assignment map instead (no total sort).
    Entry("q_decile_acctbal", (s, dir) => {
      val w = Window.orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      t(s, dir, "customer")
        .withColumn("decile", ntile(10).over(w))
        .groupBy("decile")
        .agg(count(lit(1)).as("n"),
          round(min("c_acctbal"), 2).as("lo"),
          round(max("c_acctbal"), 2).as("hi"))
        .orderBy("decile")
    }, Some(
      """WITH d AS (
        |  SELECT c_acctbal,
        |    CAST(ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS INTEGER) AS decile
        |  FROM customer)
        |SELECT decile, count(*) AS n,
        |  round(min(c_acctbal), 2) AS lo, round(max(c_acctbal), 2) AS hi
        |FROM d GROUP BY decile ORDER BY decile""".stripMargin)),

    // fuzzy string matching (edit distance ≤ 4 name pairs). The tiny
    // side is broadcast; levenshtein is codegen'd in both engines.
    Entry("q_fuzzy_nations", (s, dir) => {
      val a = t(s, dir, "nation").select(col("n_name").as("name1"))
      val b = t(s, dir, "nation").select(col("n_name").as("name2"))
      a.crossJoin(broadcast(b)).where(col("name1") < col("name2"))
        .withColumn("dist", levenshtein(col("name1"), col("name2")))
        .where(col("dist") <= 4)
        .orderBy("name1", "name2")
    }, Some(
      """SELECT a.n_name AS name1, b.n_name AS name2,
        |  CAST(levenshtein(a.n_name, b.n_name) AS INTEGER) AS dist
        |FROM nation a JOIN nation b ON a.n_name < b.n_name
        |WHERE levenshtein(a.n_name, b.n_name) <= 4
        |ORDER BY name1, name2""".stripMargin)),

    // RFM customer segmentation: recency (days since last order),
    // frequency, monetary — quartile-coded per dimension via ntile
    // with a deterministic total order; counts per RFM code
    Entry("q_rfm_segments", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ord = t(s, dir, "orders")
      val rfm = ord.groupBy("o_custkey")
        .agg(max("o_orderdate").as("last_order"),
          count(lit(1)).as("frequency"),
          (floor(sum("o_totalprice") * 100) / 100).as("monetary"))
        .withColumn("r_q", ntile(4).over(
          Window.orderBy(col("last_order").desc, col("o_custkey"))))
        .withColumn("f_q", ntile(4).over(
          Window.orderBy(col("frequency").desc, col("o_custkey"))))
        .withColumn("m_q", ntile(4).over(
          Window.orderBy(col("monetary").desc, col("o_custkey"))))
      rfm.groupBy(concat(col("r_q"), col("f_q"), col("m_q")).as("rfm_code"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("rfm_code")
    }, Some(
      """WITH rfm AS (
        |  SELECT o_custkey, max(o_orderdate) AS last_order,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    floor(sum(o_totalprice) * 100) / 100 AS monetary
        |  FROM orders GROUP BY 1),
        |coded AS (
        |  SELECT
        |    ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS r_q,
        |    ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_q,
        |    ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_q
        |  FROM rfm)
        |SELECT CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR)
        |    || CAST(m_q AS VARCHAR) AS rfm_code,
        |  CAST(count(*) AS BIGINT) AS n_customers
        |FROM coded GROUP BY 1 ORDER BY rfm_code""".stripMargin)),

    // seasonal-naive monitoring: hourly event counts vs the same hour
    // one day earlier (row-lag 24 per type over the dense hour grid);
    // per-type mean absolute residual from exact integer sums
    Entry("q_seasonal_residuals", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hourNs = 3600L * 1000000000L
      val hourly = Tables.events(s, dir)
        .groupBy((col("ts") - pmod(col("ts"), lit(hourNs))).as("h"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("h")
      hourly.withColumn("prev", lag("n", 24).over(w))
        .where(col("prev").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_hours"),
          (floor(sum(abs(col("n") - col("prev"))).cast("double")
            / count(lit(1)) * 1e4) / 1e4).as("mean_abs_resid"))
        .orderBy("event_type")
    }, Some(
      """WITH hourly AS (
        |  SELECT epoch_ns(ts) - epoch_ns(ts) % 3600000000000 AS h,
        |    event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |lagged AS (
        |  SELECT event_type, n,
        |    lag(n, 24) OVER (PARTITION BY event_type ORDER BY h) AS prev
        |  FROM hourly)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
        |  floor(CAST(sum(abs(n - prev)) AS DOUBLE) / count(*) * 10000) / 10000
        |    AS mean_abs_resid
        |FROM lagged WHERE prev IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // winsorization: clip values to the exact per-group [p05, p95]
    // band — the robust-stats preprocessing step next to MAD fences
    Entry("q_winsorize", (s, dir) => {
      val ev = Tables.events(s, dir).select("event_id", "event_type", "value")
        .where(col("value").isNotNull && col("event_id") < 1000)
      val bounds = ev.groupBy("event_type")
        .agg(expr("percentile(value, 0.05)").as("lo"),
          expr("percentile(value, 0.95)").as("hi"))
      ev.join(broadcast(bounds), "event_type")
        .select(col("event_id"), col("event_type"),
          (floor(greatest(col("lo"), least(col("hi"), col("value"))) * 1e4) / 1e4)
            .as("clipped"))
        .orderBy("event_id")
    }, Some(
      """WITH ev AS (
        |  SELECT event_id, event_type, value FROM events
        |  WHERE value IS NOT NULL AND event_id < 1000),
        |b AS (
        |  SELECT event_type, quantile_cont(value, 0.05) AS lo,
        |    quantile_cont(value, 0.95) AS hi
        |  FROM ev GROUP BY 1)
        |SELECT event_id, e.event_type,
        |  floor(greatest(lo, least(hi, value)) * 10000) / 10000 AS clipped
        |FROM ev e JOIN b USING (event_type)
        |ORDER BY event_id""".stripMargin)),

    // market-basket lift between part brands co-occurring in orders:
    // support / confidence / lift from one co-occurrence join
    Entry("q_brand_lift", (s, dir) => {
      val li = t(s, dir, "lineitem").where(col("l_orderkey") < 20000)
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
        .distinct()
      val nOrders = li.select("ok").distinct().count()
      val solo = li.groupBy("brand").agg(count(lit(1)).as("n"))
      val co = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.brand") < col("b.brand"))
        .groupBy(col("a.brand").as("brand1"), col("b.brand").as("brand2"))
        .agg(count(lit(1)).as("n_both"))
      co.join(solo.select(col("brand").as("brand1"), col("n").as("n1")), "brand1")
        .join(solo.select(col("brand").as("brand2"), col("n").as("n2")), "brand2")
        .where(col("n_both") >= 20)
        .select(col("brand1"), col("brand2"), col("n_both"),
          (floor(col("n_both") * lit(nOrders.toDouble) / (col("n1") * col("n2"))
            * 1e4) / 1e4).as("lift"))
        .orderBy("brand1", "brand2")
    }, Some(
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_orderkey < 20000),
        |t AS (SELECT CAST(count(DISTINCT ok) AS DOUBLE) AS n_orders FROM li),
        |solo AS (SELECT brand, CAST(count(*) AS BIGINT) AS n FROM li GROUP BY 1),
        |co AS (
        |  SELECT a.brand AS brand1, b.brand AS brand2,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.brand < b.brand
        |  GROUP BY 1, 2)
        |SELECT brand1, brand2, n_both,
        |  floor(n_both * n_orders / (s1.n * s2.n) * 10000) / 10000 AS lift
        |FROM co JOIN solo s1 ON s1.brand = co.brand1
        |        JOIN solo s2 ON s2.brand = co.brand2
        |        CROSS JOIN t
        |WHERE n_both >= 20
        |ORDER BY brand1, brand2""".stripMargin)),

    // per-user event-type transition counts (the Markov-chain input):
    // consecutive event pairs via lag over (ts, event_id) total order
    Entry("q_event_transitions", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir).select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev", lag("event_type", 1).over(w))
        .where(col("prev").isNotNull)
        .groupBy(col("prev").as("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("from_type", "to_type")
    }, Some(
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT prev AS from_type, event_type AS to_type,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM seq WHERE prev IS NOT NULL
        |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin)),

    // revenue concentration: exact Gini coefficient over per-customer
    // order totals — G = (2·Σ i·x_i)/(n·Σx) − (n+1)/n on the
    // ascending-sorted series, integer-cent totals so the sums are
    // order-independent
    Entry("q_revenue_gini", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val per = t(s, dir, "orders").groupBy("o_custkey")
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
      val ranked = per.withColumn("i",
        row_number().over(Window.orderBy(col("cents"), col("o_custkey"))))
      ranked.agg(
          (floor((lit(2.0) * sum(col("i") * col("cents"))
              / (count(lit(1)) * sum(col("cents")))
            - (count(lit(1)) + lit(1.0)) / count(lit(1))) * 1e6) / 1e6)
            .as("gini"),
          count(lit(1)).as("n_customers"))
    }, Some(
      """WITH per AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |ranked AS (
        |  SELECT cents, row_number() OVER (ORDER BY cents, o_custkey) AS i
        |  FROM per)
        |SELECT floor((2.0 * sum(i * cents) / (count(*) * sum(cents))
        |    - (count(*) + 1.0) / count(*)) * 1000000) / 1000000 AS gini,
        |  CAST(count(*) AS BIGINT) AS n_customers
        |FROM ranked""".stripMargin)),

    // robust outliers by median absolute deviation (the z-score's
    // robust sibling — one extreme value cannot drag the fence):
    // |x − med| > 3·MAD per event type, exact interpolated medians
    Entry("q_outlier_mad", (s, dir) => {
      val ev = Tables.events(s, dir).select("event_id", "event_type", "value")
        .where(col("value").isNotNull)
      val med = ev.groupBy("event_type")
        .agg(expr("percentile(value, 0.5)").as("med"))
      val mad = ev.join(med, "event_type")
        .groupBy("event_type")
        .agg(expr("percentile(abs(value - med), 0.5)").as("mad"))
      ev.join(med, "event_type").join(mad, "event_type")
        .where(abs(col("value") - col("med")) > lit(3.0) * col("mad"))
        .select(col("event_id"), col("event_type"), col("value"),
          (floor(col("med") * 1e4) / 1e4).as("med"),
          (floor(col("mad") * 1e4) / 1e4).as("mad"))
        .orderBy("event_id")
    }, Some(
      // MAD replay: exact interpolated medians both engines
      """WITH ev AS (
        |  SELECT event_id, event_type, value FROM events
        |  WHERE value IS NOT NULL),
        |med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM ev GROUP BY 1),
        |mad AS (
        |  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
        |  FROM ev e JOIN med m USING (event_type) GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value,
        |  floor(m.med * 10000) / 10000 AS med,
        |  floor(d.mad * 10000) / 10000 AS mad
        |FROM ev e JOIN med m USING (event_type) JOIN mad d USING (event_type)
        |WHERE abs(e.value - m.med) > 3.0 * d.mad
        |ORDER BY event_id""".stripMargin)),

    // per-group rank normalization (quantile-uniform feature scaling):
    // percent_rank of value within event type, floor-quantized
    Entry("q_rank_normalize", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .select("event_id", "event_type", "value")
        .where(col("value").isNotNull && col("event_id") < 2000)
      ev.withColumn("rnorm", floor(percent_rank().over(
          Window.partitionBy("event_type")
            .orderBy(col("value"), col("event_id"))) * 1e4) / 1e4)
        .orderBy("event_id")
    }, Some(
      """SELECT event_id, event_type, value,
        |  floor(percent_rank() OVER (PARTITION BY event_type
        |    ORDER BY value, event_id) * 10000) / 10000 AS rnorm
        |FROM events
        |WHERE value IS NOT NULL AND event_id < 2000
        |ORDER BY event_id""".stripMargin)),

    // set operators (INTERSECT / EXCEPT) — distinct-key semantics, each
    // planned as an aggregate-style shuffle on the key.
    Entry("q_setops_customers", (s, dir) => {
      val ord = t(s, dir, "orders")
      val urgent = ord.where(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey").distinct()
      val finished = ord.where(col("o_orderstatus") === "F")
        .select("o_custkey").distinct()
      val both = urgent.intersect(finished).agg(count(lit(1)).as("n"))
        .select(lit("urgent_and_finished").as("set_op"), col("n"))
      val only = urgent.except(finished).agg(count(lit(1)).as("n"))
        .select(lit("urgent_never_finished").as("set_op"), col("n"))
      both.union(only).orderBy("set_op")
    }, Some(
      """SELECT 'urgent_and_finished' AS set_op, count(*) AS n FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |UNION ALL
        |SELECT 'urgent_never_finished', count(*) FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |ORDER BY set_op""".stripMargin)),

    // semi-structured extraction: JSON path over the events.props
    // column (get_json_object is codegen'd; no UDF).
    Entry("q_json_props", (s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          countDistinct("k").as("n_k"))
        .orderBy("event_type")
    }, Some(
      """WITH x AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(k) AS BIGINT) AS sum_k, count(DISTINCT k) AS n_k
        |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // TPC-H Q13 shape: LEFT OUTER join keeps zero-order customers,
    // count(o_orderkey) ignores the null-extended rows, and the second
    // aggregate runs over the tiny (c_count → custdist) domain.
    Entry("q_order_count_dist", (s, dir) => {
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      cust.join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }, Some(
      """WITH x AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM x GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // ordered string aggregation (LISTAGG / string_agg): collect_list
    // under a deterministic array_sort — the "emit a CSV per group"
    // export shape. Bounded input (filter first); at fact scale cap the
    // list with slice() or the group blows the row-size budget.
    Entry("q_string_agg", (s, dir) => {
      t(s, dir, "customer").where(col("c_custkey") < 100)
        .groupBy("c_mktsegment")
        .agg(array_join(array_sort(collect_list(col("c_name"))), ",").as("names"),
          count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    }, Some(
      """SELECT c_mktsegment,
        |  string_agg(c_name, ',' ORDER BY c_name) AS names,
        |  count(*) AS n
        |FROM customer WHERE c_custkey < 100
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)),

    // lead/lag inter-event gaps per user — integer nanosecond math end
    // to end (sum/max of ns gaps, floor-divided to seconds only at the
    // end) so both engines agree bit-for-bit.
    Entry("q_lag_gaps", (s, dir) => {
      val ev = Tables.events(s, dir).drop("ts_us") // ts = int64 nanos
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      ev.withColumn("prev_ts", lag("ts", 1).over(w))
        .where(col("prev_ts").isNotNull)
        .withColumn("gap_ns", col("ts") - col("prev_ts"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"), max("gap_ns").as("mg"), sum("gap_ns").as("sg"))
        .select(col("user_id"), col("n_gaps"),
          expr("mg div 1000000000").as("max_gap_s"),
          expr("sg div 1000000000").as("sum_gap_s"))
        .orderBy("user_id")
    }, Some(
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_ns(ts) - lag(epoch_ns(ts)) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS gap_ns
        |  FROM events)
        |SELECT user_id, count(*) AS n_gaps,
        |  CAST(max(gap_ns) // 1000000000 AS BIGINT) AS max_gap_s,
        |  CAST(CAST(sum(gap_ns) AS BIGINT) // 1000000000 AS BIGINT) AS sum_gap_s
        |FROM g WHERE gap_ns IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // fixed-width histogram binning — floor(x / width) of the same
    // stored double is IEEE-identical in both engines, so bin edges
    // can't split; one narrow pass + tiny aggregate.
    Entry("q_histogram_price", (s, dir) => {
      t(s, dir, "orders")
        .withColumn("bin", floor(col("o_totalprice") / 20000).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("bin")
    }, Some(
      """SELECT CAST(floor(o_totalprice / 20000) AS BIGINT) AS bin,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY bin ORDER BY bin""".stripMargin)),

    // z-score outliers: events above their type's mean + 3σ. Per-type
    // stats are a tiny aggregate broadcast back; the flagging pass is
    // narrow. (Data values sit far from the threshold, so cross-engine
    // last-ulp differences in mean/σ can't flip membership.)
    Entry("q_outlier_events", (s, dir) => {
      val ev = Tables.events(s, dir)
      val stats = ev.groupBy(col("event_type").as("et"))
        .agg(avg("value").as("mu"), stddev_samp("value").as("sigma"))
      ev.join(broadcast(stats), col("event_type") === col("et"))
        .where(col("value") > col("mu") + lit(3) * col("sigma"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_outliers"), round(min("value"), 2).as("min_outlier"))
        .orderBy("event_type")
    }, Some(
      """WITH stats AS (
        |  SELECT event_type AS et, avg(value) AS mu, stddev_samp(value) AS sigma
        |  FROM events GROUP BY event_type)
        |SELECT event_type, count(*) AS n_outliers,
        |  round(min(value), 2) AS min_outlier
        |FROM events JOIN stats ON event_type = et
        |WHERE value > mu + 3 * sigma
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // deterministic stratified sampling: per-language keep-rates via an
    // md5-hash threshold — reproducible across engines/runs/retries, no
    // RNG state, fully narrow (the classic training-mix downsample;
    // en keeps ~50% = 0x80/0x100, the rest ~10% = 0x1a/0x100).
    Entry("q_stratified_sample", (s, dir) => {
      val rate = when(col("lang") === "en", lit("80")).otherwise(lit("1a"))
      t(s, dir, "documents")
        .where(substring(md5(col("doc_id").cast("string")), 1, 2) < rate)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_sampled"), sum("n_chars").as("chars"))
        .orderBy("lang", "source")
    }, Some(
      """SELECT lang, source, count(*) AS n_sampled, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
        |      < CASE WHEN lang = 'en' THEN '80' ELSE '1a' END
        |GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin)),

    // training-sequence packing: per source, documents stream in doc_id
    // order into 32 KiB context bins — bin = chars-before div 32768 via
    // a running-sum window; per-bin doc/char counts. All-integer math.
    Entry("q_seq_pack", (s, dir) => {
      val w = Window.partitionBy("source").orderBy(col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "documents")
        .withColumn("cum", sum("n_chars").over(w))
        .withColumn("bin", expr("(cum - n_chars) div 32768"))
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
        .orderBy("source", "bin")
    }, Some(
      """WITH x AS (
        |  SELECT source, n_chars,
        |    sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM documents)
        |SELECT source, CAST((cum - n_chars) // 32768 AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM x
        |GROUP BY source, bin
        |ORDER BY source, bin""".stripMargin)),

    // SCD2 merge (graft.ops.Merge): customers bootstrapped as an open
    // dimension, then one update batch — %10==0 keys drift (+100 bal,
    // exact IEEE add, no rounding needed), %10==1 keys arrive unchanged
    // (no churn), keys+1M insert. Doubles pass through both engines
    // bit-identically because nothing re-aggregates them.
    Entry("q_scd2_customers", (s, dir) => {
      val cust = t(s, dir, "customer").select("c_custkey", "c_acctbal", "c_mktsegment")
      val base = graft.ops.Merge.asScd2(cust, "2024-01-01")
      val updates = cust.where(col("c_custkey") % 10 === 0)
          .select(col("c_custkey"), (col("c_acctbal") + 100).as("c_acctbal"), col("c_mktsegment"))
        .union(cust.where(col("c_custkey") % 10 === 1))
        .union(cust.where(col("c_custkey") < 5)
          .select((col("c_custkey") + 1000000).as("c_custkey"), col("c_acctbal"), col("c_mktsegment")))
      graft.ops.Merge.scd2(base, updates, Seq("c_custkey"),
          Seq("c_acctbal", "c_mktsegment"), "2025-06-01")
        .orderBy("c_custkey", "valid_from")
    }, Some(
      """WITH base AS (
        |  SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
        |upd AS (
        |  SELECT c_custkey, c_acctbal + 100 AS c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 10 = 1
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey < 5),
        |changed AS (
        |  SELECT b.c_custkey, b.c_acctbal AS old_bal,
        |         u.c_acctbal AS new_bal, u.c_mktsegment
        |  FROM base b JOIN upd u USING (c_custkey)
        |  WHERE b.c_acctbal IS DISTINCT FROM u.c_acctbal
        |     OR b.c_mktsegment IS DISTINCT FROM u.c_mktsegment)
        |SELECT b.c_custkey, b.c_acctbal, b.c_mktsegment,
        |       '2024-01-01' AS valid_from,
        |       CASE WHEN c.c_custkey IS NULL THEN '9999-12-31'
        |            ELSE '2025-06-01' END AS valid_to,
        |       c.c_custkey IS NULL AS is_current
        |FROM base b LEFT JOIN changed c USING (c_custkey)
        |UNION ALL
        |SELECT c_custkey, new_bal, c_mktsegment,
        |       '2025-06-01', '9999-12-31', true
        |FROM changed
        |UNION ALL
        |SELECT u.c_custkey, u.c_acctbal, u.c_mktsegment,
        |       '2025-06-01', '9999-12-31', true
        |FROM upd u LEFT JOIN base b USING (c_custkey)
        |WHERE b.c_custkey IS NULL
        |ORDER BY c_custkey, valid_from""".stripMargin)),

    // incremental aggregate maintenance: yesterday's materialized agg
    // plus today's delta partition, combined WITHOUT rescanning history
    // — counts/sums re-aggregate losslessly (union of partials + one
    // tiny groupBy; both legs partial-aggregate map-side). The oracle
    // is the full recompute, proving merge ≡ rescan. At 100 TB this is
    // the difference between reading one day and reading three years.
    Entry("q_incremental_agg", (s, dir) => {
      val ord = t(s, dir, "orders")
      val cut = to_timestamp(lit("1997-01-01"))
      val prev = ord.where(col("o_orderdate") < cut)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum("o_totalprice").as("total"))
      val delta = ord.where(col("o_orderdate") >= cut)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum("o_totalprice").as("total"))
      prev.union(delta).groupBy("o_orderpriority")
        .agg(sum("n").as("n"), round(sum("total"), 2).as("total"))
        .orderBy("o_orderpriority")
    }, Some(
      // full recompute — the incremental merge must equal this exactly
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    // CDC compaction / latest-record-per-key — the "current state from
    // an append-only change log" shape. row_number per key, never a
    // global window; dedup state is one row per key per partition.
    Entry("q_latest_per_key", (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, dir).drop("ts_us", "props")
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        // raw value: pass-through doubles compare bit-identically,
        // rounding would only add a half-rule boundary risk
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .orderBy("user_id")
    }, Some(
      """SELECT user_id, event_id, event_type, value
        |FROM events
        |QUALIFY row_number() OVER (
        |  PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin)),

    // funnel analysis: signup → later click → later purchase, stage
    // mins carried forward stage-to-stage. Each stage is one per-user
    // aggregate — user count grows with SF, so no broadcast hint: AQE
    // broadcasts the stage frames while they fit and falls back to
    // shuffle joins at scale.
    Entry("q_funnel", (s, dir) => {
      val ev = Tables.events(s, dir).drop("ts_us", "props")
      def stage(tpe: String) = ev.where(col("event_type") === tpe)
      val s1 = stage("signup").groupBy("user_id").agg(min("ts").as("s_ts"))
      val s2 = stage("click").join(s1, "user_id")
        .where(col("ts") > col("s_ts"))
        .groupBy("user_id").agg(min("ts").as("c_ts"))
      val s3 = stage("purchase").join(s2, "user_id")
        .where(col("ts") > col("c_ts"))
        .groupBy("user_id").agg(min("ts").as("p_ts"))
      s1.agg(count(lit(1)).as("n")).select(lit(1).as("stage"), lit("signup").as("name"), col("n"))
        .union(s2.agg(count(lit(1)).as("n")).select(lit(2).as("stage"), lit("click_after").as("name"), col("n")))
        .union(s3.agg(count(lit(1)).as("n")).select(lit(3).as("stage"), lit("purchase_after").as("name"), col("n")))
        .orderBy("stage")
    }, Some(
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS s_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS c_ts
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.s_ts
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS p_ts
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.c_ts
        |  GROUP BY e.user_id)
        |SELECT 1 AS stage, 'signup' AS name, count(*) AS n FROM s1
        |UNION ALL
        |SELECT 2, 'click_after', count(*) FROM s2
        |UNION ALL
        |SELECT 3, 'purchase_after', count(*) FROM s3
        |ORDER BY stage""".stripMargin)),

    // time-grid resampling with forward fill: each user's value series
    // re-sampled onto an hourly grid, gaps carried forward — the grid
    // is generated per user (sequence + explode, narrow) and filled by
    // the SAME as-of machinery as q_asof_signup (grid as-of events).
    Entry("q_resample_ffill", (s, dir) => {
      val hourNs = 3600L * 1000000000L
      val ev = Tables.events(s, dir).drop("ts_us", "props")
        .where(col("user_id") < 10)
      val start = (expr("t0 div 3600000000000") + 1) * hourNs
      val grid = ev.groupBy("user_id")
        .agg(min("ts").as("t0"), max("ts").as("t1"))
        // CASE keeps sequence() off the sub-hour-span users (Spark's
        // sequence throws on start > stop); CaseWhen is lazy per branch
        .select(col("user_id"),
          explode(when(start <= col("t1"),
            sequence(start, col("t1"), lit(hourNs)))).as("ts"))
      graft.ops.AsofJoin.asofJoin(grid, ev, "user_id", "ts", Seq("value"))
        .select(col("user_id"), col("ts"), col("asof_value").as("value"))
        .orderBy("user_id", "ts")
    }, Some(
      """WITH ev AS (
        |  SELECT user_id, value, epoch_ns(ts) AS tns
        |  FROM events WHERE user_id < 10),
        |b AS (
        |  SELECT user_id, min(tns) AS t0, max(tns) AS t1
        |  FROM ev GROUP BY user_id),
        |grid AS (
        |  SELECT user_id,
        |    unnest(generate_series(
        |      (t0 // 3600000000000 + 1) * 3600000000000, t1,
        |      3600000000000)) AS ts
        |  FROM b)
        |SELECT g.user_id, g.ts, e.value
        |FROM grid g
        |ASOF LEFT JOIN ev e ON g.user_id = e.user_id AND g.ts >= e.tns
        |ORDER BY g.user_id, g.ts""".stripMargin)),

    // hourly grid resample with LINEAR interpolation between the
    // bracketing observations (the pandas interpolate shape; ffill's
    // sibling). One shuffle, both neighbor carries in one WindowExec.
    Entry("q_resample_interp", (s, dir) => {
      val ev = Tables.events(s, dir).drop("ts_us", "props")
        .where(col("user_id") < 10)
      graft.ops.Interpolate.resampleLinear(ev, "user_id", "ts", "value",
          step = 3600L * 1000000000L)
        .orderBy("user_id", "ts")
    }, Some(
      // linear-interpolation replay: grid ∪ observations, both neighbor
      // carries as IGNORE NULLS window functions over the same total
      // (t, side, v) order, identical float formula and quantization
      """WITH ev AS (
        |  SELECT user_id, CAST(value AS DOUBLE) AS v, epoch_ns(ts) AS t
        |  FROM events WHERE user_id < 10 AND value IS NOT NULL),
        |b AS (SELECT user_id, min(t) AS t0, max(t) AS t1 FROM ev GROUP BY user_id),
        |grid AS (
        |  SELECT user_id,
        |    unnest(generate_series(
        |      (t0 // 3600000000000 + 1) * 3600000000000, t1,
        |      3600000000000)) AS t
        |  FROM b),
        |u AS (
        |  SELECT user_id, t, 0 AS side, v FROM ev
        |  UNION ALL
        |  SELECT user_id, t, 1 AS side, NULL AS v FROM grid),
        |w AS (
        |  SELECT user_id, t, side,
        |    last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY t, side, v
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
        |    last_value(v IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY t, side, v
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    first_value(CASE WHEN side = 0 THEN t END IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY t, side, v
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt,
        |    first_value(v IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY t, side, v
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
        |  FROM u)
        |SELECT user_id, t AS ts,
        |  floor((CASE WHEN nt IS NULL OR nt = pt THEN pv
        |    ELSE pv + (nv - pv) * (t - pt) / (nt - pt) END) * 10000) / 10000 AS value
        |FROM w WHERE side = 1
        |ORDER BY user_id, ts""".stripMargin)),

    // global-threshold scalar subquery (TPC-H Q11 shape): groups kept
    // only if they exceed a fraction of a GLOBAL aggregate. The scalar
    // total broadcasts; all-integer math (cnt*1000 > total) so the
    // threshold can't split on a float ulp.
    Entry("q_popular_parts", (s, dir) => {
      val li = t(s, dir, "lineitem")
      // threshold is relative to the MEAN per-part count (1.3×), not a
      // fixed fraction of the total — the r2 fixed-fraction form went
      // vacuously empty above sf0.001. Integer-only comparison keeps
      // both engines exact. counts is per-part (tiny) and cached so
      // the scalar-aggregate branch doesn't rescan lineitem.
      val counts = li.groupBy("l_partkey").agg(count(lit(1)).as("cnt")).cache()
      val stats = counts.agg(sum("cnt").as("total"), count(lit(1)).as("nparts"))
      counts.crossJoin(broadcast(stats))
        .where(col("cnt") * col("nparts") * 10 > col("total") * 13)
        .select(col("l_partkey"), col("cnt"))
        .orderBy("l_partkey")
    }, Some(
      """WITH c AS (SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY 1),
        |s AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS nparts FROM c)
        |SELECT l_partkey, cnt FROM c, s
        |WHERE cnt * nparts * 10 > total * 13
        |ORDER BY l_partkey""".stripMargin)),

    // window-function suite: lag/lead/first_value/rank/percent_rank in
    // one pass over each customer's order history (single shuffle on
    // o_custkey feeds every frame). percent_rank is a small-int ratio —
    // IEEE-identical across engines.
    Entry("q_window_suite", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val wp = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      t(s, dir, "orders").where(col("o_custkey") < 50)
        .select(col("o_custkey"), col("o_orderkey"),
          lag("o_orderkey", 1).over(w).as("prev_order"),
          lead("o_orderkey", 1).over(w).as("next_order"),
          first("o_orderkey").over(w).as("first_order"),
          rank().over(wp).as("price_rank"),
          round(percent_rank().over(wp), 6).as("price_pct"))
        .orderBy("o_custkey", "o_orderkey")
    }, Some(
      """SELECT o_custkey, o_orderkey,
        |  lag(o_orderkey) OVER wd AS prev_order,
        |  lead(o_orderkey) OVER wd AS next_order,
        |  first_value(o_orderkey) OVER wd AS first_order,
        |  CAST(rank() OVER wp AS INTEGER) AS price_rank,
        |  round(percent_rank() OVER wp, 6) AS price_pct
        |FROM orders WHERE o_custkey < 50
        |WINDOW
        |  wd AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |  wp AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // date-part extraction / seasonality: year-month-dow grouping.
    // ISO dayofweek via built-ins on both engines.
    Entry("q_date_parts", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofweek(col("o_orderdate")).as("dow"))
        .agg(count(lit(1)).as("n"))
        .orderBy("y", "m", "dow")
    }, Some(
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
        |  CAST(month(o_orderdate) AS INTEGER) AS m,
        |  CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
        |  count(*) AS n
        |FROM orders
        |GROUP BY 1, 2, 3
        |ORDER BY y, m, dow""".stripMargin)),

    // string-function surface: trim/case/pad/replace/substring parity
    // on one deterministic pass (no aggregation, raw pass-through).
    Entry("q_string_funcs", (s, dir) => {
      t(s, dir, "customer").where(col("c_custkey") < 50)
        .select(col("c_custkey"),
          upper(col("c_mktsegment")).as("seg_up"),
          lower(col("c_name")).as("name_lo"),
          lpad(col("c_custkey").cast("string"), 8, "0").as("key_pad"),
          regexp_replace(col("c_name"), "[0-9]", "#").as("name_masked"),
          substring(col("c_name"), 1, 10).as("name_10"),
          length(col("c_name")).as("name_len"),
          concat_ws("|", col("c_mktsegment"), col("c_name")).as("joined"))
        .orderBy("c_custkey")
    }, Some(
      """SELECT c_custkey,
        |  upper(c_mktsegment) AS seg_up,
        |  lower(c_name) AS name_lo,
        |  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_pad,
        |  regexp_replace(c_name, '[0-9]', '#', 'g') AS name_masked,
        |  substr(c_name, 1, 10) AS name_10,
        |  CAST(length(c_name) AS INTEGER) AS name_len,
        |  concat_ws('|', c_mktsegment, c_name) AS joined
        |FROM customer WHERE c_custkey < 50
        |ORDER BY c_custkey""".stripMargin)),

    // argmax via struct-max: the per-group "row with the max" WITHOUT a
    // window shuffle-and-rank — max(struct(orderCol, tiebreak, payload))
    // partial-aggregates map-side like any max. The deterministic
    // tie-break (custkey) is part of the struct ordering.
    Entry("q_argmax_balance", (s, dir) => {
      t(s, dir, "customer")
        .groupBy("c_mktsegment")
        .agg(max(struct(col("c_acctbal"), col("c_custkey"))).as("m"))
        .select(col("c_mktsegment"), col("m.c_acctbal").as("top_bal"),
          col("m.c_custkey").as("top_cust"))
        .orderBy("c_mktsegment")
    }, Some(
      """SELECT c_mktsegment, c_acctbal AS top_bal, c_custkey AS top_cust
        |FROM customer
        |QUALIFY row_number() OVER (
        |  PARTITION BY c_mktsegment
        |  ORDER BY c_acctbal DESC, c_custkey DESC) = 1
        |ORDER BY c_mktsegment""".stripMargin)),

    // unpivot / melt — the inverse of q_pivot_status, one Expand pass
    // (each input row fans out to 3 (status, n) rows, no shuffle).
    Entry("q_unpivot_status", (s, dir) => {
      val wide = t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("O"), lit(0L)).as("n_open"),
          coalesce(col("F"), lit(0L)).as("n_finished"),
          coalesce(col("P"), lit(0L)).as("n_pending"))
      wide.unpivot(Array(col("o_orderpriority")),
          Array(col("n_open"), col("n_finished"), col("n_pending")),
          "status", "n")
        .orderBy("o_orderpriority", "status")
    }, Some(
      """WITH wide AS (
        |  SELECT o_orderpriority,
        |    sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS n_open,
        |    sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS n_finished,
        |    sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS n_pending
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority, status, CAST(n AS BIGINT) AS n
        |FROM wide
        |UNPIVOT (n FOR status IN (n_open, n_finished, n_pending))
        |ORDER BY o_orderpriority, status""".stripMargin)),

    // regex group extraction: pull the numeric id out of c_name and
    // prove it round-trips to the key (extraction parity + int cast).
    Entry("q_regex_extract", (s, dir) => {
      t(s, dir, "customer")
        .select(col("c_custkey"),
          regexp_extract(col("c_name"), "^Customer#([0-9]+)$", 1)
            .cast("long").as("name_id"))
        .withColumn("id_matches", col("name_id") === col("c_custkey"))
        .groupBy("id_matches").agg(count(lit(1)).as("n"))
        .orderBy("id_matches")
    }, Some(
      """SELECT CAST(regexp_extract(c_name, '^Customer#([0-9]+)$', 1) AS BIGINT)
        |         = c_custkey AS id_matches,
        |       count(*) AS n
        |FROM customer
        |GROUP BY 1 ORDER BY id_matches""".stripMargin)),

    // running (cumulative) aggregate — explicit ROWS frame so both
    // engines accumulate in the identical fully-specified order;
    // floor-stabilized like q_percentiles.
    Entry("q_running_total", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders").where(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"),
          (floor(sum(col("o_totalprice")).over(w) * 100) / 100).as("running_spend"))
        .orderBy("o_custkey", "o_orderkey")
    }, Some(
      """SELECT o_custkey, o_orderkey,
        |  floor(sum(o_totalprice) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100) / 100
        |    AS running_spend
        |FROM orders WHERE o_custkey < 100
        |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // top-k per group via the mergeable bounded-heap aggregate
    // (graft.expr.TopKByScore): map-side partials mean at most k
    // entries per (group x task) reach the shuffle — the scale-safe
    // form of the window row_number pattern. Oracle replays with a
    // window; the aggregate's (score desc, id asc) order matches.
    Entry("q_topk_brand_parts", (s, dir) => {
      t(s, dir, "part")
        .groupBy(col("p_brand"))
        .agg(graft.expr.TopKByScore.topKBy(
          col("p_retailprice").cast("double"), col("p_partkey").cast("long"), 3).as("top"))
        .select(col("p_brand"), posexplode(col("top")))
        .select(col("p_brand"), (col("pos") + 1).cast("int").as("rnk"),
          col("col.id").as("p_partkey"),
          (floor(col("col.score") * 100) / 100).as("price"))
        .orderBy("p_brand", "rnk")
    }, Some(
      // the aggregate's (score desc, id asc) retention = window order
      """WITH r AS (
        |  SELECT p_brand, p_partkey, CAST(p_retailprice AS DOUBLE) AS price,
        |    row_number() OVER (PARTITION BY p_brand
        |      ORDER BY CAST(p_retailprice AS DOUBLE) DESC, p_partkey ASC) AS rnk
        |  FROM part)
        |SELECT p_brand, CAST(rnk AS INTEGER) AS rnk, p_partkey,
        |  floor(price * 100) / 100 AS price
        |FROM r WHERE rnk <= 3
        |ORDER BY p_brand, rnk""".stripMargin)),

    // weekly cohort retention matrix: users grouped by first-seen
    // week, distinct-user counts per (cohort, week offset). Both
    // shuffles key on user_id (co-partitioned groupBy + join — one
    // exchange reused), final matrix is cohorts × offsets rows.
    Entry("q_cohort_retention", (s, dir) => {
      val wk = Tables.events(s, dir)
        .select(col("user_id"), date_trunc("week", col("ts_us")).as("week"))
        .distinct()
      val first = wk.groupBy("user_id").agg(min("week").as("cohort_week"))
      wk.join(first, "user_id")
        .groupBy(col("cohort_week"),
          ((unix_timestamp(col("week")) - unix_timestamp(col("cohort_week")))
            / 604800).cast("int").as("week_offset"))
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort_week", "week_offset")
    }, Some(
      // cohort replay: Monday-truncated weeks both engines, epoch-
      // second week offsets (UTC, no DST — exact multiples of 604800).
      """WITH w AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
        |  FROM events),
        |f AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY user_id)
        |SELECT f.cohort_week,
        |  CAST((floor(epoch(w.week)) - floor(epoch(f.cohort_week))) / 604800 AS INT)
        |    AS week_offset,
        |  CAST(count(DISTINCT w.user_id) AS BIGINT) AS n_users
        |FROM w JOIN f USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY cohort_week, week_offset""".stripMargin)),

    // HyperLogLog register construction (the distributed half of the
    // sketch — hashing, bucketing, per-bucket max — in cross-engine
    // integer arithmetic; the float estimate is driver math pinned in
    // HllSketchSpec). One narrow projection + one bounded groupBy:
    // rows out ≤ 2^p whatever the input size.
    Entry("q_hll_registers", (s, dir) => {
      graft.expr.HllSketch.registersMd5(
          Tables.events(s, dir).select("user_id"), "user_id", p = 10)
        .orderBy("bucket")
    }, Some(
      """WITH h AS (
        |  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':0'),
        |    1, 15)) AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |r AS (
        |  SELECT (h >> 50) & 1023 AS bucket,
        |    h & ((CAST(1 AS BIGINT) << 50) - 1) AS w
        |  FROM h)
        |SELECT bucket,
        |  CAST(max(CASE WHEN w = 0 THEN 51
        |    ELSE 51 - length(bin(w)) END) AS INT) AS rho
        |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // TPC-H Q21 shape (suppliers who kept everyone waiting), adapted
    // to this schema's dates: late = shipped > 60 days after the
    // order date. The double correlated EXISTS / NOT EXISTS is
    // re-expressed as ONE per-order aggregate (supplier count + late-
    // supplier count) joined back — at scale that is one extra
    // aggregation instead of two more lineitem joins, and "the only
    // late supplier is this one" falls out as n_late_supp == 1 given
    // the candidate's own line is late. The oracle keeps the classic
    // EXISTS formulation, so the rewrite is verified against the
    // textbook semantics, not against itself.
    Entry("q21_waiting_suppliers", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders").where(col("o_orderstatus") === "F")
      val lines = li.join(ord.select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("late",
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      val orderStats = lines.groupBy("l_orderkey")
        .agg(countDistinct("l_suppkey").as("n_supp"),
          countDistinct(when(col("late"), col("l_suppkey"))).as("n_late_supp"))
      val sup = t(s, dir, "supplier")
        .join(t(s, dir, "nation"),
          col("s_nationkey") === col("n_nationkey") && col("n_name") === "NATION_3")
      lines.where(col("late"))
        .join(orderStats.where(col("n_supp") >= 2 && col("n_late_supp") === 1),
          "l_orderkey")
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name").agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }, Some(
      """SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM supplier s
        |JOIN nation n ON s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_3'
        |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |WHERE o.o_orderstatus = 'F'
        |  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s.s_name
        |ORDER BY numwait DESC, s.s_name LIMIT 100""".stripMargin)),

    // TPC-H Q4 shape (order priority checking): orders in a quarter
    // with at least one line shipped > 30 days after the order date
    // (the schema has no commit/receipt dates). EXISTS becomes a
    // left-semi join on the late-line keys — at scale the date window
    // prunes orders first, and the semi join never widens rows.
    Entry("q4_order_priority", (s, dir) => {
      val ord = t(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-10-01").cast("timestamp"))
      val lateKeys = t(s, dir, "lineitem")
        .join(ord.select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .where(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .select(col("l_orderkey").as("late_ok"))
      ord.join(lateKeys, col("o_orderkey") === col("late_ok"), "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }, Some(
      // textbook EXISTS formulation — verifies the semi-join rewrite
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1997-07-01'
        |  AND o_orderdate < TIMESTAMP '1997-10-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // TPC-H Q6 shape (forecasting revenue change): pure scan +
    // filter + global agg — the predicate must reach the parquet
    // scan as PushedFilters; revenue in exact per-row floor-cents so
    // the global sum is order-independent
    Entry("q6_forecast_revenue", (s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum(floor(col("l_extendedprice") * col("l_discount") * 100)
            .cast("long")).as("revenue_cents"),
          count(lit(1)).as("n_lines"))
    }, Some(
      """SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 100)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |  AND l_shipdate < TIMESTAMP '1999-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin)),

    // TPC-H Q9 shape (product type profit): parts of one type traced
    // through lineitem -> orders / supplier -> nation, profit per
    // nation per order year (no partsupp table, so profit = revenue).
    // Only nation (fixed 25 rows) is hinted; part/supplier scale with
    // SF and AQE broadcasts them while they are genuinely small.
    Entry("q9_product_profit", (s, dir) => {
      val prt = t(s, dir, "part").where(col("p_type") === "STANDARD")
      val sup = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      t(s, dir, "lineitem")
        .join(prt, col("l_partkey") === col("p_partkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "orders").select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * 100).cast("long")).as("profit_cents"))
        .orderBy(col("nation"), col("o_year").desc)
    }, Some(
      """SELECT n_name AS nation,
        |  CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS profit_cents
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin)),

    // TPC-H Q2 shape (minimum-cost supplier): the supply relation is
    // DERIVED from lineitem — per (part, supplier) the minimum
    // observed unit price stands in for ps_supplycost (this schema
    // ships no partsupp table). For mid-size ECONOMY parts, keep the
    // supplier(s) achieving the REGIONAL per-part minimum — the
    // correlated min-subquery decorrelated into a broadcast per-part
    // min join at the full Q2 join fan (supplier→nation→region).
    // Unit price floor-quantized to cents BEFORE the min so the
    // min/equality replay exactly cross-engine.
    // TPC-H Q11 shape (important stock): supply value derived from
    // lineitem (the q2/q9 convention — this schema ships no partsupp):
    // value(part) = Σ cents over one nation group's suppliers, keep
    // parts whose value exceeds 1.3× the MEAN part value. The
    // threshold scales with the part count — TPC-H scales Q11's
    // fraction by 1/SF for exactly this reason; a fixed
    // total-fraction cut selects ~all parts at one SF and zero at
    // another (the r13 vacuity finding). The
    // scalar-subquery-over-own-aggregate decorrelates into one reused
    // per-part aggregate + a broadcast one-row (total, n, max)
    // threshold; the comparison is exact-integer
    // (value·n·10 > total·13), no division. The broadcast row also
    // carries a raise_error NON-VACUITY guard: if no part clears the
    // cut (max·n·10 ≤ total·13) the query FAILS LOUDLY instead of
    // certifying an empty result.
    Entry("q11_important_stock", (s, dir) => {
      // a nation GROUP, not one nation: sf0.001 ships only 10
      // suppliers across 25 nations, so a single-nation filter is
      // vacuous at the smallest SF — half the key space keeps the
      // scalar-subquery shape honest at every scale
      val sup7 = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .where(col("n_nationkey") < 13)
        .select(col("s_suppkey"))
      val value = t(s, dir, "lineitem")
        .join(sup7, col("l_suppkey") === col("s_suppkey"), "left_semi")
        .select(col("l_partkey"),
          floor(col("l_extendedprice") * 100).cast("long").as("cents"))
        .groupBy("l_partkey")
        .agg(sum("cents").as("value_cents"))
        .localCheckpoint(eager = false)
      // non-vacuity guard, mirrored in the SQL oracle (DuckDB
      // error()); n ≤ 1 is exempt — one value can never exceed 1.3×
      // its own mean, so a degenerate single-part input returns empty
      // on both engines instead of tripping the guard
      val thresh = value
        .agg(sum("value_cents").as("total"), count(lit(1)).as("n"),
          max("value_cents").as("vmax"))
        .select(col("total"), col("n"),
          when(col("vmax") * col("n") * 10 > col("total") * 13 ||
              col("n") <= 1, lit(1))
            .otherwise(raise_error(lit(
              "q11_important_stock: gate vacuous — no part value " +
              "exceeds 1.3x mean at this scale"))).as("_nonvacuous"))
      value.crossJoin(broadcast(thresh))
        .where(col("value_cents") * col("n") * 10 > col("total") * 13 &&
          col("_nonvacuous") === 1)
        .select(col("l_partkey").as("p_partkey"), col("value_cents"))
        .orderBy(col("value_cents").desc, col("p_partkey").asc)
    }, Some(
      // Q11 replay: same derived supply values, same exact-integer
      // count-scaled threshold (value·n·10 > total·13, i.e. 1.3× the
      // mean part value — scale-invariant selectivity), no division
      """WITH sup AS (
        |  SELECT s_suppkey FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_nationkey < 13),
        |v AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS value_cents
        |  FROM lineitem JOIN sup ON l_suppkey = s_suppkey
        |  GROUP BY 1),
        |t AS (SELECT CAST(SUM(value_cents) AS BIGINT) AS total,
        |             CAST(COUNT(*) AS BIGINT) AS n,
        |             CAST(MAX(value_cents) AS BIGINT) AS vmax FROM v)
        |SELECT l_partkey AS p_partkey, value_cents
        |FROM v, t
        |WHERE value_cents * n * 10 > total * 13
        |  AND 1 = (CASE WHEN vmax * n * 10 > total * 13 OR n <= 1 THEN 1
        |                ELSE error('q11_important_stock: gate vacuous') END)
        |ORDER BY value_cents DESC, p_partkey""".stripMargin)),

    Entry("q2_min_cost_supplier", (s, dir) => {
      val supply = t(s, dir, "lineitem")
        .where(col("l_quantity") > 0)
        .groupBy("l_partkey", "l_suppkey")
        .agg(min(floor(col("l_extendedprice") / col("l_quantity") * 100)
          .cast("long")).as("cost_cents"))
      val sup = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "EUROPE")
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val prt = t(s, dir, "part")
        .where(col("p_type") === "ECONOMY" && col("p_size").between(10, 20))
        .select("p_partkey", "p_name")
      val regional = supply
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(prt, col("l_partkey") === col("p_partkey"))
      val minCost = regional.groupBy(col("p_partkey").as("mp"))
        .agg(min("cost_cents").as("min_cents"))
      regional.join(minCost,
          col("p_partkey") === col("mp") && col("cost_cents") === col("min_cents"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"), col("cost_cents"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
        .limit(100)
    }, Some(
      """WITH supply AS (
        |  SELECT l_partkey, l_suppkey,
        |    min(CAST(floor(l_extendedprice / l_quantity * 100) AS BIGINT)) AS cost_cents
        |  FROM lineitem WHERE l_quantity > 0 GROUP BY 1, 2),
        |sup AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |regional AS (
        |  SELECT p.p_partkey, p.p_name, s.s_name, s.s_acctbal, s.n_name, sp.cost_cents
        |  FROM supply sp
        |  JOIN sup s ON sp.l_suppkey = s.s_suppkey
        |  JOIN part p ON sp.l_partkey = p.p_partkey
        |  WHERE p.p_type = 'ECONOMY' AND p.p_size BETWEEN 10 AND 20),
        |mins AS (SELECT p_partkey AS mp, min(cost_cents) AS min_cents
        |         FROM regional GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, cost_cents
        |FROM regional JOIN mins ON p_partkey = mp AND cost_cents = min_cents
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin)),

    // TPC-H Q16 shape (part/supplier relationship counting): distinct
    // suppliers per (brand, type, size) over candidate parts, with the
    // NOT-IN supplier exclusion (negative balance stands in for the
    // complaint-comment scan) as a broadcast anti join BEFORE the
    // distinct count — the exclusion never reaches the shuffle.
    Entry("q16_part_supplier_counts", (s, dir) => {
      val flagged = t(s, dir, "supplier")
        .where(col("s_acctbal") < 0).select("s_suppkey")
      val prt = t(s, dir, "part")
        .where(col("p_brand") =!= "Brand#1" && col("p_type") =!= "ECONOMY" &&
          col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      t(s, dir, "lineitem").select("l_partkey", "l_suppkey")
        .join(prt, col("l_partkey") === col("p_partkey"))
        .join(flagged, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    }, Some(
      """SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'ECONOMY'
        |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),

    // TPC-H Q20 shape (potential part promotion): suppliers of
    // small-named parts holding >50% of a part's 1996 shipped volume
    // (the availqty-vs-half-of-sales test recast as market share —
    // no partsupp), then the semi-join chain up to suppliers in the
    // target nations. The per-(part,supplier) aggregate joins the
    // per-part scalar broadcast (part-count-sized), never a shuffle
    // of the fact table beyond the two partial aggs off one scan.
    Entry("q20_potential_suppliers", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(t(s, dir, "part")
          .where(col("p_name").startsWith("small")).select("p_partkey"),
          col("l_partkey") === col("p_partkey"))
        .select("l_partkey", "l_suppkey", "l_quantity")
      val perSupp = li.groupBy("l_partkey", "l_suppkey")
        .agg(sum(floor(col("l_quantity")).cast("long")).as("supp_qty"))
      val perPart = li.groupBy(col("l_partkey").as("pp"))
        .agg(sum(floor(col("l_quantity")).cast("long")).as("part_qty"))
      val qualified = perSupp
        .join(perPart, col("l_partkey") === col("pp"))
        .where(col("supp_qty") * 2 > col("part_qty"))
        .select("l_suppkey").distinct()
      t(s, dir, "supplier")
        .join(qualified, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .where(col("n_name").isin("NATION_1", "NATION_2", "NATION_3",
          "NATION_4", "NATION_5"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
        .orderBy("s_name")
    }, Some(
      """WITH li AS (
        |  SELECT l_partkey, l_suppkey, l_quantity FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'small%'
        |    AND l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'),
        |per_supp AS (
        |  SELECT l_partkey, l_suppkey, CAST(sum(floor(l_quantity)) AS BIGINT) AS supp_qty
        |  FROM li GROUP BY 1, 2),
        |per_part AS (
        |  SELECT l_partkey, CAST(sum(floor(l_quantity)) AS BIGINT) AS part_qty
        |  FROM li GROUP BY 1),
        |qualified AS (
        |  SELECT DISTINCT l_suppkey FROM per_supp JOIN per_part USING (l_partkey)
        |  WHERE supp_qty * 2 > part_qty)
        |SELECT s_suppkey, s_name, n_name
        |FROM supplier
        |JOIN qualified ON s_suppkey = l_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4', 'NATION_5')
        |ORDER BY s_name""".stripMargin)),

    // TPC-H Q12 shape (shipping modes / line priority): late lines
    // (> 45 days) shipped in 1998, split urgent-vs-other order
    // priority per returnflag (the schema's stand-in for shipmode) —
    // conditional aggregation over one join
    Entry("q12_late_priority", (s, dir) => {
      val urgent = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
        .join(t(s, dir, "orders").select("o_orderkey", "o_orderdate",
          "o_orderpriority"), col("l_orderkey") === col("o_orderkey"))
        .where(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 45 DAYS"))
        .groupBy("l_returnflag")
        .agg(sum(when(urgent, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(urgent, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("l_returnflag")
    }, Some(
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |  AND l_shipdate < TIMESTAMP '1999-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 45 DAY
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // TPC-H Q15 shape (top supplier): quarterly revenue per supplier,
    // keep the supplier(s) hitting the global max — the scalar
    // max-subquery over an aggregate view. Exact cents make the
    // equality deterministic; the max is a broadcast-joined 1-row
    // frame, not a driver round trip.
    Entry("q15_top_supplier", (s, dir) => {
      val rev = t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-04-01").cast("timestamp"))
        .groupBy("l_suppkey")
        .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * 100).cast("long")).as("total_cents"))
      val top = rev.agg(max("total_cents").as("max_cents"))
      rev.join(broadcast(top), col("total_cents") === col("max_cents"))
        .join(t(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_cents"))
        .orderBy("s_suppkey")
    }, Some(
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
        |      AS BIGINT)) AS BIGINT) AS total_cents
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_cents
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_cents = (SELECT max(total_cents) FROM rev)
        |ORDER BY s_suppkey""".stripMargin)),

    // TPC-H Q18 shape (large volume customers): orders whose total
    // quantity exceeds the threshold, traced back to the customer —
    // group-having on the fact table BEFORE the dimension joins so
    // only qualifying orders reach them
    Entry("q18_large_orders", (s, dir) => {
      val big = t(s, dir, "lineitem").groupBy("l_orderkey")
        .agg(sum("l_quantity").cast("long").as("total_qty"))
        .where(col("total_qty") > 180)
      big.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
        .limit(100)
    }, Some(
      """WITH big AS (
        |  SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 180)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  total_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        |LIMIT 100""".stripMargin)),

    // TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    // three OR'ed brand/size/quantity bands across the lineitem-part
    // join — Catalyst must keep the join on partkey and evaluate the
    // disjunction as a post-join filter, never a cartesian
    Entry("q19_disjunctive_revenue", (s, dir) => {
      val bands =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 20) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 25) &&
          col("l_quantity").between(20, 30))
      t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .where(bands)
        .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * 100).cast("long")).as("revenue_cents"),
          count(lit(1)).as("n_lines"))
    }, Some(
      """SELECT CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // TPC-H Q22 shape (global sales opportunity): customers with an
    // account balance above the average positive balance and no
    // RECENT orders (every customer has some order at this scale, so
    // the window keeps the anti join non-vacuous) — scalar subquery
    // broadcast + anti join, counts and exact-cent balance sums per
    // nation
    Entry("q22_idle_customers", (s, dir) => {
      val cust = t(s, dir, "customer")
      val avgBal = cust.where(col("c_acctbal") > 0)
        .agg(avg("c_acctbal").as("avg_bal"))
      cust.join(broadcast(avgBal), col("c_acctbal") > col("avg_bal"))
        .join(t(s, dir, "orders")
            .where(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
            .select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").cast("long").as("nation"))
        .agg(count(lit(1)).as("numcust"),
          sum(floor(col("c_acctbal") * 100).cast("long")).as("totacctbal_cents"))
        .orderBy("nation")
    }, Some(
      """SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |  CAST(count(*) AS BIGINT) AS numcust,
        |  CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS totacctbal_cents
        |FROM customer c
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
        |                   WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1 ORDER BY nation""".stripMargin)),

    // grid-bucketed spatial nearest join: deterministic md5-derived
    // micro-degree coordinates (±10^6) for customers and suppliers,
    // nearest supplier within radius 150000 by exact integer squared
    // L2. The grid prunes; the oracle replays with a brute-force
    // radius scan — same answer by construction.
    Entry("q_spatial_nearest", (s, dir) => {
      def coord(salt: String, key: org.apache.spark.sql.Column) =
        (conv(substring(md5(concat(lit(salt + ":"), key.cast("string"))),
          1, 15), 16, 10).cast("long") % 2000001L) - 1000000L
      val cust = t(s, dir, "customer").select(
        col("c_custkey").as("id"),
        coord("sx", col("c_custkey")).as("x"),
        coord("sy", col("c_custkey")).as("y"))
      val supp = t(s, dir, "supplier").select(
        col("s_suppkey").as("id"),
        coord("px", col("s_suppkey")).as("x"),
        coord("py", col("s_suppkey")).as("y"))
      graft.ops.Spatial.nearestWithin(cust, supp, radius = 150000L)
        .select(col("id").as("cust"), col("nearest_id").as("supp"),
          col("d2"))
        .orderBy("cust")
    }, Some(
      // spatial replay: brute-force radius scan (the grid is pruning
      // only), same md5 coordinate derivation, argmin by (d2, supplier)
      """WITH cust AS (
        |  SELECT c_custkey AS id,
        |    CAST(('0x' || substr(md5('sx:' || CAST(c_custkey AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 2000001 - 1000000 AS x,
        |    CAST(('0x' || substr(md5('sy:' || CAST(c_custkey AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 2000001 - 1000000 AS y
        |  FROM customer),
        |supp AS (
        |  SELECT s_suppkey AS id,
        |    CAST(('0x' || substr(md5('px:' || CAST(s_suppkey AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 2000001 - 1000000 AS x,
        |    CAST(('0x' || substr(md5('py:' || CAST(s_suppkey AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 2000001 - 1000000 AS y
        |  FROM supplier),
        |cand AS (
        |  SELECT c.id AS cust, s.id AS supp,
        |    (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) AS d2
        |  FROM cust c, supp s
        |  WHERE (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)
        |    <= 22500000000),
        |best AS (
        |  SELECT cust, supp, d2,
        |    row_number() OVER (PARTITION BY cust ORDER BY d2, supp) AS rn
        |  FROM cand)
        |SELECT cust, supp, d2 FROM best WHERE rn = 1
        |ORDER BY cust""".stripMargin)),

    // KMV join-cardinality estimate (planner guardrail): bottom-256
    // md5 sketch of events.user_id vs customer.c_custkey key sets,
    // overlap estimated from the union sketch; the actual distinct
    // intersection rides in the same row so the artifact shows the
    // estimator's accuracy, and the oracle replays BOTH.
    Entry("q_join_card_est", (s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"))
      val cust = t(s, dir, "customer").select(col("c_custkey"))
      val est = graft.ops.JoinEstimate.overlap(ev, "user_id",
        cust, "c_custkey", k = 256)
      val actual = ev.distinct()
        .join(cust.distinct(), col("user_id") === col("c_custkey"))
        .agg(count(lit(1)).as("actual_intersection"))
      est.crossJoin(broadcast(actual))
    }, Some(
      // KMV overlap replay: same md5 60-bit fold, same bottom-256 union
      // sketch, same pinned double chain for the estimate
      """WITH ha AS (
        |  SELECT DISTINCT CAST(('0x' ||
        |    substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM events),
        |hb AS (
        |  SELECT DISTINCT CAST(('0x' ||
        |    substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM customer),
        |un AS (
        |  SELECT DISTINCT h
        |  FROM (SELECT h FROM ha UNION ALL SELECT h FROM hb)
        |  ORDER BY h LIMIT 256),
        |marked AS (
        |  SELECT u.h, a.h IS NOT NULL AS ina, b.h IS NOT NULL AS inb
        |  FROM un u LEFT JOIN ha a ON u.h = a.h
        |    LEFT JOIN hb b ON u.h = b.h),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k_used,
        |    CAST(sum(CASE WHEN ina AND inb THEN 1 ELSE 0 END) AS BIGINT)
        |      AS x_both,
        |    max(h) AS h_k
        |  FROM marked),
        |act AS (
        |  SELECT CAST(count(*) AS BIGINT) AS actual_intersection
        |  FROM (SELECT DISTINCT user_id FROM events) e
        |  JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |    ON e.user_id = c.c_custkey)
        |SELECT k_used, x_both, h_k,
        |  CASE WHEN k_used < 256 THEN x_both
        |       ELSE CAST(floor(CAST(x_both AS DOUBLE)
        |         * CAST(k_used - 1 AS DOUBLE)
        |         * (1152921504606846976.0 / CAST(h_k AS DOUBLE))
        |         / CAST(k_used AS DOUBLE)) AS BIGINT) END
        |    AS est_intersection,
        |  actual_intersection
        |FROM agg, act""".stripMargin))
  )
}
