package graft
package entries

import graft.bank.{BankDataGen, BankRules}
import graft.rules.{Checks, Rule, RuleSet}
import graft.validate.Validator
import org.apache.spark.sql.functions._

import Entry.t

/** Validation on the TPC-H-shaped tables (the reference core), the
  * bank-feed rule engine, profiling and privacy audits. */
private[graft] object ValidationEntries {

  // ---------------------------------------------------------------- //
  // Inline rule sets for the TPC-H-shaped test tables (the bank rule
  // set itself is exercised by bank_gen_validate + ScalaTest).
  // ---------------------------------------------------------------- //
  import Checks._

  /** The customer rules as CONFIG TEXT, parsed at load: the v_customer_*
    * oracle gate runs against rules that are LOADED, not compiled —
    * proving the JSON rule path (graft.rules.RuleSetConfig) end-to-end
    * against DuckDB, the reference's rules-live-in-data shape
    * (DM_bankfile_validate_pipeline.py:3113). Pred→Column compiles onto
    * the same Checks combinators a Scala-built rule uses, so loading
    * from JSON leaves the plan unchanged (RuleConfigSpec pins the bank
    * set's JSON round trip with Dataset.sameSemantics). */
  private val customerRulesJson = """
    {"rules": [
      {"name": "acctbal_nonneg", "message": "c_acctbal must be non-negative",
       "violation": {"kind": "cmp", "op": "lt", "col": "c_acctbal",
                     "value": "0", "valueType": "double"}},
      {"name": "mktsegment_enum", "message": "c_mktsegment must be a known segment",
       "violation": {"kind": "inSet", "col": "c_mktsegment",
                     "values": ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]}},
      {"name": "name_format", "message": "c_name must match Customer#NNNNNNNNN",
       "violation": {"kind": "matches", "col": "c_name", "s": "^Customer#[0-9]{9}$"}},
      {"name": "nationkey_range", "message": "c_nationkey must be between 0 and 24",
       "violation": {"kind": "or", "of": [
         {"kind": "cmp", "op": "lt", "col": "c_nationkey", "value": "0", "valueType": "long"},
         {"kind": "cmp", "op": "gt", "col": "c_nationkey", "value": "24", "valueType": "long"}]}}
    ]}"""

  private val customerRules =
    graft.rules.RuleSetConfig.fromJson(customerRulesJson).toRuleSet

  /** A JSON scenario SUITE over the customer rules — the reference's
    * config-driven composite scenarios (rename/drop/expected-count,
    * DM_bankfile_validate_pipeline.py:2510) as one document: rules and
    * scenarios both load from data, nothing compiled. Drives
    * v_scenario_report. 999999999 is a deliberately impossible
    * expectation pinning the "fail" status path. */
  private val scenarioSuiteJson = customerRulesJson.trim.dropRight(1) + """,
      "keyCol": "c_custkey",
      "scenarios": [
        {"name": "s1_baseline"},
        {"name": "s2_rename_name",
         "renames": [{"from": "c_name", "to": "customer_name"}]},
        {"name": "s3_drop_segment", "dropColumns": ["c_mktsegment"]},
        {"name": "s4_expect_none", "expectedErrors": 999999999}
      ]}"""

  private val orderRules = RuleSet(Seq(
    Rule("status_enum", inSet(col("o_orderstatus"), Seq("O", "F", "P")),
      "o_orderstatus must be O, F or P"),
    Rule("totalprice_positive", col("o_totalprice") <= 0,
      "o_totalprice must be positive"),
    Rule("priority_format", matches(col("o_orderpriority"), "^[1-5]-[A-Z ]+$"),
      "o_orderpriority has invalid format"),
    Rule("open_order_stale",
      (col("o_orderstatus") === "O") && (col("o_orderdate") < to_timestamp(lit("1996-01-01"))),
      "open orders must be dated 1996 or later"),
    Rule("totalprice_cap", col("o_totalprice") > 450000,
      "o_totalprice exceeds 450000 cap")))

  private val lineitemRules = RuleSet(Seq(
    Rule("quantity_range", col("l_quantity") < 1 || col("l_quantity") > 50,
      "l_quantity must be between 1 and 50"),
    Rule("discount_cap", col("l_discount") > 0.08,
      "l_discount must be at most 0.08"),
    Rule("tax_cap", col("l_tax") > 0.08, "l_tax must be at most 0.08"),
    Rule("extendedprice_positive", col("l_extendedprice") <= 0,
      "l_extendedprice must be positive")))

  /** One correlation-pair replay block for the v_profile_corr oracle:
    * same cents quantization, exact HUGEINT sums (DuckDB's BIGINT-sum
    * type, matching the engine's DECIMAL(38,0) accumulators), same
    * pinned Pearson double chain. */
  private def corrPairSql(a: String, b: String): String =
    s"""SELECT '$a' AS col_x, '$b' AS col_y, n_pairs,
       |  CASE WHEN dx > 0 AND dy > 0 THEN
       |    floor(num / (sqrt(CAST(dx AS DOUBLE)) * sqrt(CAST(dy AS DOUBLE)))
       |      * 1000000) / 1000000
       |  ELSE NULL END AS corr
       |FROM (
       |  SELECT n_pairs, CAST(n_pairs * sxy - sx * sy AS DOUBLE) AS num,
       |    n_pairs * sxx - sx * sx AS dx, n_pairs * syy - sy * sy AS dy
       |  FROM (
       |    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       |      CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
       |      CAST(sum(x * x) AS HUGEINT) AS sxx,
       |      CAST(sum(y * y) AS HUGEINT) AS syy,
       |      CAST(sum(x * y) AS HUGEINT) AS sxy
       |    FROM (SELECT CAST(floor(CAST($a AS DOUBLE) * 100) AS BIGINT) AS x,
       |                 CAST(floor(CAST($b AS DOUBLE) * 100) AS BIGINT) AS y
       |          FROM lineitem
       |          WHERE $a IS NOT NULL AND $b IS NOT NULL)))""".stripMargin

  val all: Seq[Entry] = Seq(

    // functional-dependency discovery (profiling): for each candidate
    // determinant→dependent column pair, the violation count =
    // Σ_groups (group size − majority size); violations = 0 ⇔ the FD
    // holds. One groupBy per pair over the pair's two columns only.
    Entry("v_fd_discovery", (s, dir) => {
      val cust = t(s, dir, "customer")
      val pairs = Seq(
        ("c_custkey", "c_mktsegment"),  // key determines everything
        ("c_nationkey", "c_mktsegment"), // should not hold
        ("c_mktsegment", "c_nationkey")) // should not hold
      pairs.map { case (a, b) =>
        cust.groupBy(col(a), col(b)).agg(count(lit(1)).as("n"))
          .groupBy(col(a)).agg(sum("n").as("tot"), max("n").as("maj"))
          .agg(sum(col("tot") - col("maj")).as("violations"),
            count(lit(1)).as("n_groups"))
          .select(lit(a).as("determinant"), lit(b).as("dependent"),
            col("violations"), col("n_groups"),
            (col("violations") === 0).as("holds"))
      }.reduce(_ unionAll _).orderBy("determinant", "dependent")
    }, Some(
      """WITH fd AS (
        |  SELECT 'c_custkey' AS determinant, 'c_mktsegment' AS dependent,
        |    CAST(sum(tot - maj) AS BIGINT) AS violations,
        |    CAST(count(*) AS BIGINT) AS n_groups
        |  FROM (SELECT c_custkey, sum(n) AS tot, max(n) AS maj
        |        FROM (SELECT c_custkey, c_mktsegment, count(*) AS n
        |              FROM customer GROUP BY 1, 2) GROUP BY 1)
        |  UNION ALL
        |  SELECT 'c_nationkey', 'c_mktsegment',
        |    CAST(sum(tot - maj) AS BIGINT), CAST(count(*) AS BIGINT)
        |  FROM (SELECT c_nationkey, sum(n) AS tot, max(n) AS maj
        |        FROM (SELECT c_nationkey, c_mktsegment, count(*) AS n
        |              FROM customer GROUP BY 1, 2) GROUP BY 1)
        |  UNION ALL
        |  SELECT 'c_mktsegment', 'c_nationkey',
        |    CAST(sum(tot - maj) AS BIGINT), CAST(count(*) AS BIGINT)
        |  FROM (SELECT c_mktsegment, sum(n) AS tot, max(n) AS maj
        |        FROM (SELECT c_mktsegment, c_nationkey, count(*) AS n
        |              FROM customer GROUP BY 1, 2) GROUP BY 1))
        |SELECT *, violations = 0 AS holds FROM fd
        |ORDER BY determinant, dependent""".stripMargin)),

    // schema-type inference over an untyped feed (the suggestion pass
    // before SchemaCheck validates a declared schema): per-column
    // parseability counts and the narrowest fitting type
    Entry("v_schema_infer", (s, dir) => {
      val cust = t(s, dir, "customer")
      val feed = cust.select(
        col("c_custkey").cast("string").as("id_str"),
        col("c_acctbal").cast("string").as("bal_str"),
        col("c_mktsegment").as("seg_str"),
        when(col("c_custkey") % 2 === 0, "true").otherwise("false").as("flag_str"),
        date_format(date_add(to_date(lit("1995-01-01")),
          (col("c_custkey") % 1000).cast("int")), "yyyy-MM-dd").as("date_str"))
      graft.validate.SchemaInfer.inferColumnTypes(feed).orderBy("column")
    }, Some(
      // schema-infer replay: same feed derivation; bigint parseability
      // simulated with the integral regexp (Spark's try_cast rejects
      // fractional strings where DuckDB's would round — the regexp pins
      // Spark's semantics), double/date via try_cast (aligned engines)
      """WITH feed AS (
        |  SELECT CAST(c_custkey AS VARCHAR) AS id_str,
        |    CAST(c_acctbal AS VARCHAR) AS bal_str,
        |    c_mktsegment AS seg_str,
        |    CASE WHEN c_custkey % 2 = 0 THEN 'true' ELSE 'false' END AS flag_str,
        |    strftime(DATE '1995-01-01' + INTERVAL (c_custkey % 1000) DAY,
        |      '%Y-%m-%d') AS date_str
        |  FROM customer),
        |u AS (
        |  SELECT 'id_str' AS "column", id_str AS v FROM feed
        |  UNION ALL SELECT 'bal_str', bal_str FROM feed
        |  UNION ALL SELECT 'seg_str', seg_str FROM feed
        |  UNION ALL SELECT 'flag_str', flag_str FROM feed
        |  UNION ALL SELECT 'date_str', date_str FROM feed),
        |c AS (
        |  SELECT "column", CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN v IS NULL OR trim(v) = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |    CAST(sum(CASE WHEN regexp_matches(trim(v), '^[+-]?[0-9]+$') THEN 1 ELSE 0 END) AS BIGINT) AS n_bigint,
        |    CAST(sum(CASE WHEN try_cast(v AS DOUBLE) IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_double,
        |    CAST(sum(CASE WHEN try_cast(v AS DATE) IS NOT NULL
        |      AND regexp_matches(trim(v), '^[0-9]{4}-[0-9]{1,2}-[0-9]{1,2}$')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_date,
        |    CAST(sum(CASE WHEN lower(trim(v)) IN ('true', 'false') THEN 1 ELSE 0 END) AS BIGINT) AS n_boolean
        |  FROM u GROUP BY 1)
        |SELECT *,
        |  CASE WHEN n_rows - n_null = 0 THEN 'string'
        |       WHEN n_boolean = n_rows - n_null THEN 'boolean'
        |       WHEN n_bigint = n_rows - n_null THEN 'bigint'
        |       WHEN n_double = n_rows - n_null THEN 'double'
        |       WHEN n_date = n_rows - n_null THEN 'date'
        |       ELSE 'string' END AS suggested
        |FROM c ORDER BY "column" """.stripMargin)),

    // snapshot table diff (graft.validate.TableDiff): which keys were
    // added/removed/changed between two feed versions — the row-level
    // companion to drift (distribution) and rules (values).
    Entry("v_table_diff", (s, dir) => {
      val cust = t(s, dir, "customer")
      val before = cust.where(col("c_custkey") % 7 =!= 0) // 0 mod-7 keys "new"
      val after = cust.where(col("c_custkey") % 5 =!= 0)  // 0 mod-5 keys "gone"
        .withColumn("c_acctbal",
          when(col("c_custkey") % 3 === 0, col("c_acctbal") + 1)
            .otherwise(col("c_acctbal")))
      graft.validate.TableDiff.summary(before, after, Seq("c_custkey"))
    }, Some(
      """WITH before AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 7 <> 0),
        |after AS (
        |  SELECT c_custkey, c_name, c_nationkey,
        |    CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 1 ELSE c_acctbal END AS c_acctbal,
        |    c_mktsegment
        |  FROM customer WHERE c_custkey % 5 <> 0)
        |SELECT CASE WHEN b.c_custkey IS NULL THEN 'added'
        |            WHEN a.c_custkey IS NULL THEN 'removed'
        |            WHEN b.c_name IS NOT DISTINCT FROM a.c_name
        |             AND b.c_nationkey IS NOT DISTINCT FROM a.c_nationkey
        |             AND b.c_acctbal IS NOT DISTINCT FROM a.c_acctbal
        |             AND b.c_mktsegment IS NOT DISTINCT FROM a.c_mktsegment
        |            THEN 'unchanged' ELSE 'changed' END AS diff_status,
        |  count(*) AS n
        |FROM before b FULL OUTER JOIN after a USING (c_custkey)
        |GROUP BY diff_status
        |ORDER BY diff_status""".stripMargin)),

    Entry("v_customer_errors", (s, dir) => {
      Validator.validate(t(s, dir, "customer"), customerRules)
        .where(!col(Validator.ValidCol))
        .select(col("c_custkey"), concat_ws(", ", col(Validator.ErrorsCol)).as("error_desc"))
        .orderBy("c_custkey")
    }, Some(
      """SELECT c_custkey, concat_ws(', ',
        |  CASE WHEN c_acctbal < 0 THEN 'c_acctbal must be non-negative' END,
        |  CASE WHEN c_mktsegment IS NOT NULL AND trim(c_mktsegment) <> '' AND c_mktsegment NOT IN ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY') THEN 'c_mktsegment must be a known segment' END,
        |  CASE WHEN c_name IS NOT NULL AND trim(c_name) <> '' AND NOT regexp_matches(c_name, '^Customer#[0-9]{9}$') THEN 'c_name must match Customer#NNNNNNNNN' END,
        |  CASE WHEN c_nationkey < 0 OR c_nationkey > 24 THEN 'c_nationkey must be between 0 and 24' END) AS error_desc
        |FROM customer
        |WHERE c_acctbal < 0
        |   OR (c_mktsegment IS NOT NULL AND trim(c_mktsegment) <> '' AND c_mktsegment NOT IN ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'))
        |   OR (c_name IS NOT NULL AND trim(c_name) <> '' AND NOT regexp_matches(c_name, '^Customer#[0-9]{9}$'))
        |   OR (c_nationkey < 0 OR c_nationkey > 24)
        |ORDER BY c_custkey""".stripMargin)),

    Entry("v_customer_summary", (s, dir) =>
      Validator.summary(t(s, dir, "customer"), customerRules), Some(
      """SELECT * FROM (
        |  SELECT 'acctbal_nonneg' AS rule, count(*) FILTER (WHERE c_acctbal < 0) AS violations FROM customer
        |  UNION ALL
        |  SELECT 'mktsegment_enum', count(*) FILTER (WHERE c_mktsegment IS NOT NULL AND trim(c_mktsegment) <> '' AND c_mktsegment NOT IN ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY')) FROM customer
        |  UNION ALL
        |  SELECT 'name_format', count(*) FILTER (WHERE c_name IS NOT NULL AND trim(c_name) <> '' AND NOT regexp_matches(c_name, '^Customer#[0-9]{9}$')) FROM customer
        |  UNION ALL
        |  SELECT 'nationkey_range', count(*) FILTER (WHERE c_nationkey < 0 OR c_nationkey > 24) FROM customer)
        |ORDER BY rule""".stripMargin)),

    // Config-driven composite-scenario suite (graft.bank.ScenarioConfig
    // over graft.rules.RuleSetConfig): rules, renames, drops, and the
    // expected-count assertion ALL come from one JSON document — the
    // run report is the oracle surface. Renamed/dropped columns skip
    // their rules (rules_skipped) and surface as schema issues, the
    // reference's rename/missing-column scenario signature. Scenario
    // count is config-sized; each error count is one narrow scan.
    Entry("v_scenario_report", (s, dir) => {
      val cust = t(s, dir, "customer")
      graft.bank.ScenarioConfig.runFromJson(s, scenarioSuiteJson, cust, cust.schema)
        .select(col("scenario"), col("status"),
          col("error_rows").cast("long").as("error_rows"),
          coalesce(col("expected_errors"), lit(-1L)).as("expected_errors"),
          col("rules_applied").cast("long").as("rules_applied"),
          col("rules_skipped").cast("long").as("rules_skipped"),
          col("schema_issues").cast("long").as("schema_issues"))
        .orderBy("scenario")
    }, Some(
      """WITH e AS (SELECT
        |  (c_acctbal < 0) AS v1,
        |  (c_mktsegment IS NOT NULL AND trim(c_mktsegment) <> '' AND c_mktsegment NOT IN ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY')) AS v2,
        |  (c_name IS NOT NULL AND trim(c_name) <> '' AND NOT regexp_matches(c_name, '^Customer#[0-9]{9}$')) AS v3,
        |  (c_nationkey < 0 OR c_nationkey > 24) AS v4
        |  FROM customer),
        |c AS (SELECT
        |  CAST(count(*) FILTER (WHERE v1 OR v2 OR v3 OR v4) AS BIGINT) AS all4,
        |  CAST(count(*) FILTER (WHERE v1 OR v2 OR v4) AS BIGINT) AS no_name,
        |  CAST(count(*) FILTER (WHERE v1 OR v3 OR v4) AS BIGINT) AS no_seg
        |  FROM e)
        |SELECT 's1_baseline' AS scenario, 'pass' AS status, all4 AS error_rows,
        |  CAST(-1 AS BIGINT) AS expected_errors, CAST(4 AS BIGINT) AS rules_applied,
        |  CAST(0 AS BIGINT) AS rules_skipped, CAST(0 AS BIGINT) AS schema_issues FROM c
        |UNION ALL SELECT 's2_rename_name', 'pass', no_name, -1, 3, 1, 1 FROM c
        |UNION ALL SELECT 's3_drop_segment', 'pass', no_seg, -1, 3, 1, 1 FROM c
        |UNION ALL SELECT 's4_expect_none',
        |  CASE WHEN all4 = 999999999 THEN 'pass' ELSE 'fail' END, all4,
        |  999999999, 4, 0, 0 FROM c
        |ORDER BY scenario""".stripMargin)),

    Entry("v_orders_errors", (s, dir) => {
      Validator.validate(t(s, dir, "orders"), orderRules)
        .where(!col(Validator.ValidCol))
        .select(col("o_orderkey"), concat_ws(", ", col(Validator.ErrorsCol)).as("error_desc"))
        .orderBy("o_orderkey")
    }, Some(
      """SELECT o_orderkey, concat_ws(', ',
        |  CASE WHEN o_orderstatus IS NOT NULL AND trim(o_orderstatus) <> '' AND o_orderstatus NOT IN ('O','F','P') THEN 'o_orderstatus must be O, F or P' END,
        |  CASE WHEN o_totalprice <= 0 THEN 'o_totalprice must be positive' END,
        |  CASE WHEN o_orderpriority IS NOT NULL AND trim(o_orderpriority) <> '' AND NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$') THEN 'o_orderpriority has invalid format' END,
        |  CASE WHEN o_orderstatus = 'O' AND o_orderdate < TIMESTAMP '1996-01-01' THEN 'open orders must be dated 1996 or later' END,
        |  CASE WHEN o_totalprice > 450000 THEN 'o_totalprice exceeds 450000 cap' END) AS error_desc
        |FROM orders
        |WHERE (o_orderstatus IS NOT NULL AND trim(o_orderstatus) <> '' AND o_orderstatus NOT IN ('O','F','P'))
        |   OR o_totalprice <= 0
        |   OR (o_orderpriority IS NOT NULL AND trim(o_orderpriority) <> '' AND NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$'))
        |   OR (o_orderstatus = 'O' AND o_orderdate < TIMESTAMP '1996-01-01')
        |   OR o_totalprice > 450000
        |ORDER BY o_orderkey""".stripMargin)),

    Entry("v_lineitem_split", (s, dir) =>
      Validator.splitCounts(t(s, dir, "lineitem"), lineitemRules), Some(
      """SELECT status, count(*) AS cnt FROM (
        |  SELECT CASE WHEN (l_quantity < 1 OR l_quantity > 50) OR l_discount > 0.08
        |                    OR l_tax > 0.08 OR l_extendedprice <= 0
        |              THEN 'invalid' ELSE 'valid' END AS status
        |  FROM lineitem)
        |GROUP BY status ORDER BY status""".stripMargin)),

    // one-pass data profile (per-column null/distinct/min/max); exact
    // distincts here so the DuckDB oracle applies — the cluster mode
    // is approx_count_distinct (see Profiler).
    Entry("v_profile_customer", (s, dir) => {
      graft.validate.Profiler.profile(t(s, dir, "customer"),
          Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"),
          exactDistinct = true)
        .orderBy("col_name")
    }, Some(
      """WITH s AS (
        |  SELECT 'c_custkey' AS col_name, count(*) AS n_rows, count(c_custkey) AS n_nonnull,
        |    count(DISTINCT c_custkey) AS n_distinct,
        |    CAST(min(c_custkey) AS VARCHAR) AS min_val, CAST(max(c_custkey) AS VARCHAR) AS max_val
        |  FROM customer
        |  UNION ALL
        |  SELECT 'c_name', count(*), count(c_name), count(DISTINCT c_name),
        |    CAST(min(c_name) AS VARCHAR), CAST(max(c_name) AS VARCHAR) FROM customer
        |  UNION ALL
        |  SELECT 'c_nationkey', count(*), count(c_nationkey), count(DISTINCT c_nationkey),
        |    CAST(min(c_nationkey) AS VARCHAR), CAST(max(c_nationkey) AS VARCHAR) FROM customer
        |  UNION ALL
        |  SELECT 'c_mktsegment', count(*), count(c_mktsegment), count(DISTINCT c_mktsegment),
        |    CAST(min(c_mktsegment) AS VARCHAR), CAST(max(c_mktsegment) AS VARCHAR) FROM customer)
        |SELECT col_name, n_rows, n_nonnull, n_rows - n_nonnull AS n_null,
        |       n_distinct, min_val, max_val
        |FROM s ORDER BY col_name""".stripMargin)),

    // production profiling path: HyperLogLog distincts (one pass, no
    // Expand) — the oracle-gated v_profile_customer runs the exact-
    // distinct mode so DuckDB can replay it
    Entry("v_profile_customer_native", (s, dir) => {
      graft.validate.Profiler.profile(t(s, dir, "customer"),
          Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))
        .orderBy("col_name")
    }, None),

    // table-level referential integrity: FK orphan counts across the
    // star schema (anti joins; see TableChecks.orphans).
    Entry("v_fk_orphans", (s, dir) => {
      import graft.validate.TableChecks
      val cust = t(s, dir, "customer"); val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val o1 = TableChecks.orphans(ord, Seq("o_custkey"), cust, Seq("c_custkey"))
        .agg(count(lit(1)).as("n"))
        .select(lit("orders_without_customer").as("chk"), col("n"))
      val o2 = TableChecks.orphans(li, Seq("l_orderkey"), ord, Seq("o_orderkey"))
        .agg(count(lit(1)).as("n"))
        .select(lit("lineitem_without_order").as("chk"), col("n"))
      o1.union(o2).orderBy("chk")
    }, Some(
      """SELECT 'lineitem_without_order' AS chk, count(*) AS n
        |FROM lineitem l
        |WHERE l_orderkey IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL
        |SELECT 'orders_without_customer', count(*)
        |FROM orders o
        |WHERE o_custkey IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |ORDER BY chk""".stripMargin)),

    // ErrorCompare over two rule variants of the same table — the
    // reference's CSV-vs-DB ERROR_DESC token reconciliation
    // (compare_csv_and_db_error_desc). The right side drops one rule,
    // so the diff must surface exactly that rule's tokens as
    // left-only.
    Entry("v_error_compare", (s, dir) => {
      val ord = t(s, dir, "orders")
      // ONE validation pass, cached: the r2 form ran two independent
      // errorFile scans that each re-evaluated ~all rules (4.6× the
      // r1 cost). Rule messages are static strings, so the 4-rule
      // side is the 5-rule side minus the dropped rule's message.
      val capMsg = orderRules.rules.find(_.name == "totalprice_cap").get.message
      val errs = Validator.validate(ord, orderRules)
        .where(!col(Validator.ValidCol))
        .select(lit("input").as("FILENAME"),
          col("o_orderkey").cast("string").as("PayeeId"),
          col(Validator.ErrorsCol).as("errors"))
        .cache()
      val left = errs.select(col("FILENAME"), col("PayeeId"),
        concat_ws(", ", col("errors")).as("ERROR_DESC"))
      val right = errs.select(col("FILENAME"), col("PayeeId"),
        concat_ws(", ", filter(col("errors"), e => e =!= capMsg)).as("ERROR_DESC"))
      graft.validate.ErrorCompare.diff(
        left, "PayeeId", "ERROR_DESC", right, "PayeeId", "ERROR_DESC")
    }, Some(
      """WITH viol AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderstatus IS NOT NULL AND trim(o_orderstatus) <> '' AND o_orderstatus NOT IN ('O','F','P') THEN 'o_orderstatus must be O, F or P' END AS m1,
        |    CASE WHEN o_totalprice <= 0 THEN 'o_totalprice must be positive' END AS m2,
        |    CASE WHEN o_orderpriority IS NOT NULL AND trim(o_orderpriority) <> '' AND NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$') THEN 'o_orderpriority has invalid format' END AS m3,
        |    CASE WHEN o_orderstatus = 'O' AND o_orderdate < TIMESTAMP '1996-01-01' THEN 'open orders must be dated 1996 or later' END AS m4,
        |    CASE WHEN o_totalprice > 450000 THEN 'o_totalprice exceeds 450000 cap' END AS m5
        |  FROM orders),
        |l AS (SELECT CAST(o_orderkey AS VARCHAR) AS key, concat_ws(', ', m1, m2, m3, m4, m5) AS d
        |      FROM viol WHERE m1 IS NOT NULL OR m2 IS NOT NULL OR m3 IS NOT NULL OR m4 IS NOT NULL OR m5 IS NOT NULL),
        |r AS (SELECT CAST(o_orderkey AS VARCHAR) AS key, concat_ws(', ', m1, m2, m3, m4) AS d
        |      FROM viol WHERE m1 IS NOT NULL OR m2 IS NOT NULL OR m3 IS NOT NULL OR m4 IS NOT NULL),
        |lt AS (SELECT DISTINCT key, trim(regexp_replace(u.t, '\s+', ' ', 'g')) AS token
        |       FROM l, unnest(string_split(d, ',')) AS u(t)
        |       WHERE trim(regexp_replace(u.t, '\s+', ' ', 'g')) <> ''),
        |rt AS (SELECT DISTINCT key, trim(regexp_replace(u.t, '\s+', ' ', 'g')) AS token
        |       FROM r, unnest(string_split(d, ',')) AS u(t)
        |       WHERE trim(regexp_replace(u.t, '\s+', ' ', 'g')) <> '')
        |SELECT coalesce(lt.key, rt.key) AS key, coalesce(lt.token, rt.token) AS token,
        |       lt.key IS NOT NULL AS in_left, rt.key IS NOT NULL AS in_right
        |FROM lt FULL OUTER JOIN rt ON lt.key = rt.key AND lt.token = rt.token
        |WHERE lt.key IS NULL OR rt.key IS NULL
        |ORDER BY key, token""".stripMargin)),

    // Reference-shaped error file over seeded bank data with injected
    // invalid values (run_invalid_values_scenario shape). The broken
    // frame is dumped to a fixed parquet path so the DuckDB oracle can
    // re-validate the same input with its own independently-written
    // rule predicates (BankRulesSql).
    Entry("bank_error_file", (s, dir) => {
      // injections span every rule family (charset, enum, length,
      // format, date order, conditional requiredness, context blanks)
      // so the oracle's independently-written predicates are exercised
      // broadly, not just on two columns
      val injections: Seq[(String, String, Long, Long)] = Seq(
        ("RoutingTransitNumber", "12345ABCD", 0L, 50L),
        ("State", "C1", 50L, 80L),
        ("ContactEmail", "bad-email@@example", 80L, 100L),
        ("EffectiveEndDate", "2020-13-45", 100L, 120L),
        ("EffectiveEndDate", "2020-01-01", 120L, 140L),
        ("PayeeID", "A!", 140L, 160L),
        ("OrganizationTINType", "XYZ", 160L, 180L),
        ("AccountType", "checking", 180L, 200L),
        ("CityName", "Spring8field", 200L, 220L),
        ("PostalCode", "1234", 220L, 240L),
        ("ContactPhone", "123ABC4567", 240L, 260L),
        ("OrganizationName", "Bad@Name!", 260L, 280L),
        ("OrganizationNPI", "0123456789", 280L, 300L),
        ("ContactFirstName", "J0hn", 300L, 320L),
        ("OrganizationCode", "X", 320L, 330L),
        ("RecordOperation", "Z", 330L, 340L),
        ("EffectiveStartDate", "", 340L, 350L),
        ("ContactTitle", "An Extremely Long Title That Overflows", 350L, 360L),
        ("AddressLine1", "1234567890123456789012345678901234567890X", 360L, 370L))
      val broken = injections.foldLeft(BankDataGen.generate(s, 500, seed = 13)) {
        case (df, (colName, value, lo, hi)) =>
          BankDataGen.withInvalid(df, colName, value, lo until hi)
      }
      broken.write.mode("overwrite").parquet(graft.bank.BankRulesSql.brokenPath)
      Validator.errorFile(s.read.parquet(graft.bank.BankRulesSql.brokenPath),
          BankRules.all, "PayeeID", "bankfile")
        .orderBy("PayeeId")
    }, Some(
      graft.bank.BankRulesSql.errorFileSql(
        graft.bank.BankRulesSql.brokenPath, "bankfile"))),

    Entry("bank_gen_validate", (s, dir) => {
      // the parquet round trip is BOTH the oracle's input copy and the
      // plan barrier (without one, CollapseProject inlines the
      // generator's expression trees into every one of the ~68 rule
      // expressions and plan compilation explodes: 7s → 1.2s at 2k
      // rows in r1 with a cache; a materialized file is stronger).
      BankDataGen.generate(s, 2000, seed = 7)
        .write.mode("overwrite").parquet(graft.bank.BankRulesSql.genPath)
      Validator.summary(s.read.parquet(graft.bank.BankRulesSql.genPath), BankRules.all)
    }, Some(
      // independently-authored SQL predicates for all ~68 bank rules
      // (BankRulesSql) over the dumped generator output — double-entry
      // validation of the whole rule engine
      graft.bank.BankRulesSql.summarySql(graft.bank.BankRulesSql.genPath))),

    // Benford first-digit audit of order amounts (cents): the
    // forensic fabricated-/capped-column smell test — per-digit
    // observed vs log10(1+1/d) expected shares
    Entry("v_benford_prices", (s, dir) => {
      graft.validate.Benford.audit(
          t(s, dir, "orders").select(
            floor(col("o_totalprice") * 100).cast("long").as("cents")),
          "cents")
        .orderBy("digit")
    }, Some(
      // Benford replay: first digit from the BIGINT's decimal string
      // (identical printing), pinned quantized expected shares
      """WITH v AS (
        |  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders WHERE CAST(floor(o_totalprice * 100) AS BIGINT) >= 1),
        |d AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit
        |      FROM v),
        |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
        |s AS (
        |  SELECT digit, n,
        |    floor(CAST(n AS DOUBLE) / sum(n) OVER () * 1000000) / 1000000
        |      AS share
        |  FROM g),
        |e AS (
        |  SELECT digit, n, share,
        |    CASE digit
        |      WHEN 1 THEN CAST(0.301029 AS DOUBLE)
        |      WHEN 2 THEN CAST(0.176091 AS DOUBLE)
        |      WHEN 3 THEN CAST(0.124938 AS DOUBLE)
        |      WHEN 4 THEN CAST(0.09691 AS DOUBLE)
        |      WHEN 5 THEN CAST(0.079181 AS DOUBLE)
        |      WHEN 6 THEN CAST(0.066946 AS DOUBLE)
        |      WHEN 7 THEN CAST(0.057991 AS DOUBLE)
        |      WHEN 8 THEN CAST(0.051152 AS DOUBLE)
        |      WHEN 9 THEN CAST(0.045757 AS DOUBLE) END AS expected_share
        |  FROM s)
        |SELECT digit, n, share, expected_share,
        |  abs(share - expected_share) AS abs_dev
        |FROM e ORDER BY digit""".stripMargin)),

    // per-column distribution shape: skewness + excess kurtosis from
    // exact DECIMAL power sums, one wide aggregate for all columns
    Entry("v_profile_moments", (s, dir) => {
      graft.validate.Profiler.moments(t(s, dir, "customer"),
          Seq("c_acctbal", "c_nationkey"), quant = 100L)
        .orderBy("col_name")
    }, Some(
      // moments replay: same quantized DECIMAL power sums, same pinned
      // central-moment chains (sqrt, never pow)
      """WITH stats AS (
        |  SELECT 'c_acctbal' AS col_name,
        |    CAST(count(c_acctbal) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(CAST(c_acctbal AS DOUBLE) * 100) AS BIGINT)) AS HUGEINT) AS s1,
        |    CAST(sum(CAST(floor(CAST(c_acctbal AS DOUBLE) * 100) AS BIGINT)
        |           * CAST(floor(CAST(c_acctbal AS DOUBLE) * 100) AS BIGINT)) AS HUGEINT) AS s2,
        |    sum(CAST(CAST(floor(CAST(c_acctbal AS DOUBLE) * 100) AS BIGINT)
        |           * CAST(floor(CAST(c_acctbal AS DOUBLE) * 100) AS BIGINT) AS HUGEINT)
        |           * CAST(floor(CAST(c_acctbal AS DOUBLE) * 100) AS BIGINT)) AS s3,
        |    sum(CAST(CAST(floor(CAST(c_acctbal AS DOUBLE) * 100) AS BIGINT)
        |           * CAST(floor(CAST(c_acctbal AS DOUBLE) * 100) AS BIGINT) AS HUGEINT)
        |           * CAST(CAST(floor(CAST(c_acctbal AS DOUBLE) * 100) AS BIGINT)
        |           * CAST(floor(CAST(c_acctbal AS DOUBLE) * 100) AS BIGINT) AS HUGEINT)) AS s4
        |  FROM customer
        |  UNION ALL
        |  SELECT 'c_nationkey',
        |    CAST(count(c_nationkey) AS BIGINT),
        |    CAST(sum(CAST(floor(CAST(c_nationkey AS DOUBLE) * 100) AS BIGINT)) AS HUGEINT),
        |    CAST(sum(CAST(floor(CAST(c_nationkey AS DOUBLE) * 100) AS BIGINT)
        |           * CAST(floor(CAST(c_nationkey AS DOUBLE) * 100) AS BIGINT)) AS HUGEINT),
        |    sum(CAST(CAST(floor(CAST(c_nationkey AS DOUBLE) * 100) AS BIGINT)
        |           * CAST(floor(CAST(c_nationkey AS DOUBLE) * 100) AS BIGINT) AS HUGEINT)
        |           * CAST(floor(CAST(c_nationkey AS DOUBLE) * 100) AS BIGINT)),
        |    sum(CAST(CAST(floor(CAST(c_nationkey AS DOUBLE) * 100) AS BIGINT)
        |           * CAST(floor(CAST(c_nationkey AS DOUBLE) * 100) AS BIGINT) AS HUGEINT)
        |           * CAST(CAST(floor(CAST(c_nationkey AS DOUBLE) * 100) AS BIGINT)
        |           * CAST(floor(CAST(c_nationkey AS DOUBLE) * 100) AS BIGINT) AS HUGEINT))
        |  FROM customer),
        |m AS (
        |  SELECT col_name, n,
        |    CAST(s1 AS DOUBLE) / n AS m1,
        |    CAST(s2 AS DOUBLE) / n AS e2,
        |    CAST(s3 AS DOUBLE) / n AS e3,
        |    CAST(s4 AS DOUBLE) / n AS e4
        |  FROM stats),
        |cm AS (
        |  SELECT col_name, n, m1,
        |    e2 - m1 * m1 AS m2,
        |    e3 - 3.0 * m1 * e2 + 2.0 * m1 * m1 * m1 AS m3,
        |    e4 - 4.0 * m1 * e3 + 6.0 * m1 * m1 * e2
        |      - 3.0 * m1 * m1 * m1 * m1 AS m4
        |  FROM m)
        |SELECT col_name, n,
        |  floor(m1 / 100 * 1000000) / 1000000 AS mean,
        |  CASE WHEN m2 > 0 THEN
        |    floor(m3 / (m2 * sqrt(m2)) * 1000000) / 1000000 END AS skewness,
        |  CASE WHEN m2 > 0 THEN
        |    floor((m4 / (m2 * m2) - 3.0) * 1000000) / 1000000 END AS kurtosis
        |FROM cm ORDER BY col_name""".stripMargin)),

    // seeded ε-DP count release (Laplace mechanism): noise from the
    // md5 inverse CDF so the release is re-runnable bit-identically;
    // the oracle replays uniform → noise → clamp per group
    Entry("v_dp_segment_counts", (s, dir) => {
      graft.validate.DpRelease.dpCounts(t(s, dir, "customer"),
          Seq("c_mktsegment", "c_nationkey"), epsilon = 1.0,
          seed = "release-2026")
        .orderBy("c_mktsegment", "c_nationkey")
    }, Some(
      // DP release replay: u = md5-derived uniform in (0,1), Laplace
      // noise by inverse CDF floor-quantized 1e-4, non-negative clamp
      """WITH g AS (
        |  SELECT c_mktsegment, c_nationkey, CAST(count(*) AS BIGINT) AS n
        |  FROM customer GROUP BY 1, 2),
        |u AS (
        |  SELECT *, (CAST(('0x' || substr(md5('release-2026'
        |      || '|' || CAST(c_mktsegment AS VARCHAR) || '|' || CAST(c_nationkey AS VARCHAR)),
        |      1, 15)) AS BIGINT) + 0.5) / 1152921504606846976.0 AS uu
        |  FROM g)
        |SELECT c_mktsegment, c_nationkey, n,
        |  greatest(0.0, n + floor(-1.0 * sign(uu - 0.5)
        |    * ln(1.0 - 2.0 * abs(uu - 0.5)) * 10000) / 10000) AS released
        |FROM u ORDER BY c_mktsegment, c_nationkey""".stripMargin)),

    // ε-DP sums with contribution clamping (the clamp IS the
    // sensitivity bound); clamped sum from integer per-row partials
    Entry("v_dp_balance_sums", (s, dir) => {
      graft.validate.DpRelease.dpSums(t(s, dir, "customer"),
          Seq("c_mktsegment"), "c_acctbal", lo = 0.0, hi = 5000.0,
          epsilon = 0.5, seed = "release-2026")
        .orderBy("c_mktsegment")
    }, Some(
      """WITH g AS (
        |  SELECT c_mktsegment,
        |    CAST(sum(CAST(floor(greatest(0.0, least(5000.0,
        |      CAST(c_acctbal AS DOUBLE))) * 10000) AS BIGINT)) AS BIGINT) AS sum_q
        |  FROM customer GROUP BY 1),
        |u AS (
        |  SELECT *, (CAST(('0x' || substr(md5('release-2026'
        |      || '|' || CAST(c_mktsegment AS VARCHAR)), 1, 15)) AS BIGINT) + 0.5)
        |      / 1152921504606846976.0 AS uu
        |  FROM g)
        |SELECT c_mktsegment, CAST(sum_q AS DOUBLE) / 10000 AS clamped_sum,
        |  CAST(sum_q AS DOUBLE) / 10000 + floor(-10000.0 * sign(uu - 0.5)
        |    * ln(1.0 - 2.0 * abs(uu - 0.5)) * 10000) / 10000 AS released
        |FROM u ORDER BY c_mktsegment""".stripMargin)),

    // k-anonymity audit over (lang, source, n_chars mod 97) — the
    // modulus fabricates a high-cardinality quasi-identifier so most
    // combinations are under-populated, exercising the exposure math
    Entry("v_kanon_audit", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("bucket", (col("n_chars") % 97).cast("int"))
      graft.validate.Anonymity.audit(docs, Seq("lang", "source", "bucket"), k = 3)
    }, Some(
      """WITH g AS (
        |  SELECT lang, source, CAST(n_chars % 97 AS INT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT CAST(sum(n) AS BIGINT) AS total_rows,
        |  CAST(coalesce(sum(CASE WHEN n < 3 THEN n END), 0) AS BIGINT) AS exposed_rows,
        |  CASE WHEN sum(n) > 0 THEN
        |    floor(CAST(coalesce(sum(CASE WHEN n < 3 THEN n END), 0) AS DOUBLE)
        |      / sum(n) * 1000000) / 1000000 END AS exposed_frac,
        |  CAST(min(n) AS BIGINT) AS achieved_k,
        |  CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(coalesce(sum(CASE WHEN n < 3 THEN 1 ELSE 0 END), 0) AS BIGINT) AS risky_groups
        |FROM g""".stripMargin)),

    // suppression on the realistic quasi pair (lang, source): the
    // released rows are exactly the >= k combinations
    Entry("v_kanon_suppress", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.validate.Anonymity.suppress(docs, Seq("lang", "source"), k = 15)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }, Some(
      """WITH g AS (
        |  SELECT lang, source, count(*) AS n
        |  FROM documents GROUP BY 1, 2)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d JOIN g ON d.lang = g.lang AND d.source = g.source
        |WHERE g.n >= 15 ORDER BY d.doc_id""".stripMargin)),

    // ABA routing-number checksum audit: the Federal Reserve mod-10
    // weighted check over md5-derived synthetic 9-digit routing
    // numbers, per nation — the check the reference's 9-digit-numeric
    // rule stops short of (~90% of random 9-digit strings fail it).
    Entry("v_aba_checksum", (s, dir) => {
      val rtn = lpad((conv(substring(md5(concat(lit("rtn:"),
        col("c_custkey").cast("string"))), 1, 15), 16, 10).cast("long")
        % 1000000000L).cast("string"), 9, "0")
      t(s, dir, "customer")
        .select(col("c_nationkey").cast("long").as("nation"),
          rtn.as("rtn"))
        .withColumn("bad", graft.rules.Checks.abaChecksum(col("rtn")))
        .groupBy("nation")
        .agg(count(lit(1)).as("n"),
          sum(when(col("bad"), 1L).otherwise(0L)).as("n_bad"))
        .orderBy("nation")
    }, Some(
      // ABA replay: same md5-derived routing numbers, same weighted
      // mod-10 (all synthetic rtn are 9-digit numeric by construction,
      // so the format branch never fires on either engine)
      """WITH r AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |    lpad(CAST(CAST(('0x' ||
        |      substr(md5('rtn:' || CAST(c_custkey AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 1000000000 AS VARCHAR), 9, '0') AS rtn
        |  FROM customer),
        |d AS (
        |  SELECT nation,
        |    CAST(substr(rtn, 1, 1) AS INT) AS d1,
        |    CAST(substr(rtn, 2, 1) AS INT) AS d2,
        |    CAST(substr(rtn, 3, 1) AS INT) AS d3,
        |    CAST(substr(rtn, 4, 1) AS INT) AS d4,
        |    CAST(substr(rtn, 5, 1) AS INT) AS d5,
        |    CAST(substr(rtn, 6, 1) AS INT) AS d6,
        |    CAST(substr(rtn, 7, 1) AS INT) AS d7,
        |    CAST(substr(rtn, 8, 1) AS INT) AS d8,
        |    CAST(substr(rtn, 9, 1) AS INT) AS d9
        |  FROM r)
        |SELECT nation, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN (3 * (d1 + d4 + d7) + 7 * (d2 + d5 + d8)
        |    + (d3 + d6 + d9)) % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bad
        |FROM d GROUP BY nation ORDER BY nation""".stripMargin)),

    // per-column Shannon entropy over customer: key-like (c_custkey →
    // ln n), categorical (c_mktsegment, c_nationkey), name text — all
    // columns on ONE unpivoted shuffle, integer-quantized log terms.
    Entry("v_profile_entropy", (s, dir) => {
      graft.validate.Profiler.entropy(t(s, dir, "customer"),
          Seq("c_custkey", "c_name", "c_mktsegment", "c_nationkey"))
        .orderBy("col_name")
    }, Some(
      // entropy replay: same unpivot-to-strings, same 10^6-quantized
      // cnt·ln(cnt) terms (HUGEINT sum = the engine's decimal), same
      // pinned closing chain
      """WITH stacked AS (
        |  SELECT 'c_custkey' AS col_name, CAST(c_custkey AS VARCHAR) AS val
        |  FROM customer WHERE c_custkey IS NOT NULL
        |  UNION ALL
        |  SELECT 'c_name', c_name FROM customer WHERE c_name IS NOT NULL
        |  UNION ALL
        |  SELECT 'c_mktsegment', c_mktsegment FROM customer
        |  WHERE c_mktsegment IS NOT NULL
        |  UNION ALL
        |  SELECT 'c_nationkey', CAST(c_nationkey AS VARCHAR) FROM customer
        |  WHERE c_nationkey IS NOT NULL),
        |hist AS (
        |  SELECT col_name, val, CAST(count(*) AS BIGINT) AS cnt
        |  FROM stacked GROUP BY col_name, val),
        |agg AS (
        |  SELECT col_name, CAST(sum(cnt) AS BIGINT) AS n_nonnull,
        |    CAST(count(*) AS BIGINT) AS n_distinct,
        |    CAST(sum(cnt * CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000)
        |      AS BIGINT)) AS HUGEINT) AS s_terms
        |  FROM hist GROUP BY col_name)
        |SELECT col_name, n_nonnull, n_distinct,
        |  floor((ln(CAST(n_nonnull AS DOUBLE))
        |    - CAST(s_terms AS DOUBLE) / CAST(n_nonnull AS DOUBLE)
        |      / 1000000.0) * 1000000) / 1000000 AS entropy_nats
        |FROM agg ORDER BY col_name""".stripMargin)),

    // pairwise Pearson correlation matrix over the lineitem numerics
    // in ONE wide aggregate (6 pairs x 6 exact decimal sums on one
    // shuffle row); cents quantization, pinned closing double chain.
    Entry("v_profile_corr", (s, dir) => {
      graft.validate.Profiler.correlations(t(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
          quant = 100L)
        .orderBy("col_x", "col_y")
    }, Some(Seq(
      corrPairSql("l_quantity", "l_extendedprice"),
      corrPairSql("l_quantity", "l_discount"),
      corrPairSql("l_quantity", "l_tax"),
      corrPairSql("l_extendedprice", "l_discount"),
      corrPairSql("l_extendedprice", "l_tax"),
      corrPairSql("l_discount", "l_tax"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_x, col_y")))
  )
}
