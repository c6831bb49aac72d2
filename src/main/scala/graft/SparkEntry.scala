package graft

import graft.bank.{BankDataGen, BankRules}
import graft.ops.{Ann, Dedup, Similarity}
import graft.rules.{Checks, Rule, RuleSet}
import graft.text.TextAnalysis
import graft.validate.Validator
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §2 for the operator
  * inventory each query covers.
  *
  * Correctness protocol: every query with an `oracle` is mirrored in
  * DuckDB SQL over the same parquet tables; computed columns carry the
  * same alias on both sides, double aggregates are rounded identically,
  * and both sides ORDER BY the same deterministic key.
  */
object SparkEntry {

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

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Build-once scratch commit-log table for the oracle-gated format
    * queries: a deterministic path under the JVM temp dir keyed by
    * (sf dir, tag, SOURCE-FILE FINGERPRINT), built by `build` exactly
    * once — a `_built` flag guards bench's repeated executions,
    * because the mutations inside are deliberately NOT idempotent
    * (deleteWhere/merge append fresh markers per call). The key
    * fingerprints the source table's file inventory (name, length,
    * mtime), so a REGENERATED testdata dir gets a fresh scratch table
    * instead of silently diverging from the oracle's view of the
    * source. The flag rides OUTSIDE `_commits`, so the log itself
    * stays exactly what the build wrote. */
  private def commitLogScratch(s: SparkSession, dir: String, tag: String,
      sourceTable: String)(build: String => Unit): String = {
    val src = new org.apache.hadoop.fs.Path(s"$dir/$sourceTable.parquet")
    val hfs = src.getFileSystem(s.sparkContext.hadoopConfiguration)
    val inventory = hfs.listStatus(src).toSeq
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
      .sorted
    val key = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.orderedHash(
        dir +: inventory) & 0x7fffffff)
    val table =
      s"${System.getProperty("java.io.tmpdir")}/graft_cltab_${tag}_$key/t"
    val flag = new org.apache.hadoop.fs.Path(s"$table/_built")
    if (!hfs.exists(flag)) {
      hfs.delete(new org.apache.hadoop.fs.Path(table), true)
      build(table)
      hfs.create(flag, true).close()
    }
    table
  }

  /** The containment-query corpus: the first 100 docs plus a planted
    * 120-char prefix snippet (doc_id + 1000) of each long ASCII doc.
    * A prefix's distinct 5-grams are a subset of its parent's, so each
    * snippet is guaranteed a containment-1.0 pair — without them the
    * testdata corpus has zero pairs at threshold 0.8 and the oracle
    * would gate nothing. ASCII-only keeps substring() code-point
    * semantics identical across Spark and DuckDB. */
  private def containmentCorpus(documents: DataFrame): DataFrame = {
    val base = documents.where(col("doc_id") < 100)
      .select(col("doc_id"), col("text"))
    base.unionAll(base
      .where(col("text").rlike("^[ -~]*$") && length(col("text")) >= 240)
      .select((col("doc_id") + 1000).as("doc_id"),
        substring(col("text"), 1, 120).as("text")))
  }

  /** Planted language-ID corpus (ids 9000000+): one stopword-dense
    * sentence per language, unioned with the natural documents so
    * text_lang_id gates all ~46 languages — including the pairs the
    * stopword lists were curated to separate (es/pt, de/nl, da/no,
    * cs/sk, hr/sl, ru/uk/bg/sr/mk) and the script-routed ones
    * (ja-vs-zh via kana, ko/th/hi/he/el). ASCII-free of quotes so the
    * same literals embed in the oracle's VALUES. */
  private[graft] val langPlanted: Seq[(Long, String)] = Seq(
    9000001L -> "the cat was on the mat and it is that simple for everyone",
    9000002L -> "der hund ist nicht ein problem und die katze sitzt auf dem sofa zu hause",
    9000003L -> "het huis is niet een probleem want je kunt van alles op aan de muur zien ook maar",
    9000004L -> "el perro y la casa que es un lugar con los amigos en una tarde no muy lejana",
    9000005L -> "o cachorro e as casas que é um lugar com os amigos em uma tarde não muito longe para se ver",
    9000006L -> "le chien et la maison est que pour les amis dans une soirée du quartier il fait beau des fois",
    9000007L -> "il cane e la casa che di non per una sera sono con gli amici si va bene",
    9000008L -> "și câinele de la casă cu nu este pentru din care mai sunt o seară",
    9000009L -> "els gossos i les cases amb què per una nit és dels amics com més hi ha aquest",
    9000010L -> "och hunden att det som en kväll är av för med på inte han ser",
    9000011L -> "og hunden det er til ikke af hvad efter noget hende skal være",
    9000012L -> "og hunden det er til ikke av hva etter noe henne skal være",
    9000013L -> "ja koira on ei että se hän mutta oli kun myös niin ovat",
    9000014L -> "i pies w nie na się jest że do z to co jak",
    9000015L -> "a pes je se na že to nebo ale jako pro jsem byl",
    9000016L -> "a pes je sa na že to alebo ale ako pre som bol",
    9000017L -> "a kutya az és nem hogy is egy van volt csak már meg",
    9000018L -> "bir köpek ve bu için ne ben çok ama gibi var daha olarak",
    9000019L -> "yang anjing dan di itu dengan untuk tidak ini dari akan pada adalah",
    9000020L -> "và con chó của là có không được trong cho người này với các",
    9000021L -> "je pas i u na se da su za ali kao što nije",
    9000022L -> "je pes in na se da so za ali kot kaj tudi ni",
    9000023L -> "ja koer on ei et see ta aga oli kui ka nii oma",
    9000024L -> "ir šuo yra kad tai su bet kaip jis buvo iš apie jau",
    9000025L -> "un suns ir ka tas ar bet kā viņš bija no par jau",
    9000026L -> "и собака в не на что он как это но его по она",
    9000027L -> "і собака в не на що він як це але його по вона",
    9000028L -> "и кучето в не на че той как това но го по тя",
    9000029L -> "и пас у не на што он као то али га по она",
    9000030L -> "и кучето во не на што тој како тоа но го по таа",
    9000031L -> "في من على أن إلى عن هذا كان مع لا هو ما",
    9000032L -> "در از که با را این است برای آن خود تا هم",
    9000033L -> "η γάτα και ο σκύλος στο σπίτι σήμερα",
    9000034L -> "החתול והכלב בבית שלנו היום",
    9000035L -> "แมวและสุนัขอยู่ในบ้านวันนี้",
    9000036L -> "बिल्ली और कुत्ता घर में हैं आज",
    9000037L -> "猫と犬は家にいます今日はいい天気です",
    9000038L -> "猫和狗在家里今天天气很好",
    9000039L -> "고양이와 개가 집에 있다 오늘",
    9000040L -> "12345 67890 --- === +++",
    // the seven Indic single-language scripts (r15): bn ta te gu kn ml pa
    9000041L -> "বিড়াল এবং কুকুর আজ বাড়িতে আছে",
    9000042L -> "பூனை மற்றும் நாய் இன்று வீட்டில் உள்ளன",
    9000043L -> "పిల్లి మరియు కుక్క ఈరోజు ఇంట్లో ఉన్నాయి",
    9000044L -> "બિલાડી અને કૂતરો આજે ઘરમાં છે",
    9000045L -> "ಬೆಕ್ಕು ಮತ್ತು ನಾಯಿ ಇಂದು ಮನೆಯಲ್ಲಿವೆ",
    9000046L -> "പൂച്ചയും നായയും ഇന്ന് വീട്ടിലുണ്ട്",
    9000047L -> "ਬਿੱਲੀ ਅਤੇ ਕੁੱਤਾ ਅੱਜ ਘਰ ਵਿੱਚ ਹਨ",
    // mixed-script adversaries: majority script must win the argmax
    // (Tamil-dominant with a Devanagari minority → ta, not hi; a
    // Bengali-dominant doc with kana → bn, the kana flag must not
    // hijack non-han routing)
    9000048L -> "பூனை மற்றும் நாய் வீட்டில் உள்ளன இன்று மழை பெய்கிறது घर",
    9000049L -> "বিড়াল এবং কুকুর আজ বাড়িতে আছে たち",
    // r16: Odia — the ninth Indic block, the routing gap until r16 —
    // plus an Odia-majority doc with a Tamil minority (the 0B7F|0B80
    // block boundary: adjacent blocks must not bleed counts)
    9000050L -> "ବିଲେଇ ଏବଂ କୁକୁର ଆଜି ଘରେ ଅଛନ୍ତି",
    9000051L -> "ବିଲେଇ ଏବଂ କୁକୁର ଆଜି ଘରେ ଅଛନ୍ତି ஃஇ")

  /** The language-ID oracle, generated from the SAME stopword lists
    * and script ranges the engine uses (graft.text.TextAnalysis) —
    * single source of truth, the RuleConfig discipline. DuckDB
    * replays the struct-max votes with list_max over (hits, lang)
    * structs (field-order comparison matches Spark's struct
    * ordering) and the script counts as deleted-length differences. */
  private def langIdOracleSql: String = {
    import graft.text.TextAnalysis.{latinStops, cyrillicStops, arabicStops,
      langScriptRanges, singleLangScripts}
    def listLit(words: Seq[String]) =
      words.map(w => s"'$w'").mkString("[", ",", "]")
    def voteList(stops: Seq[(String, Seq[String])]) = stops.map { case (l, ws) =>
      s"{'h': len(list_filter(${listLit(ws)}, w -> list_contains(toks, w))), 'l': '$l'}"
    }.mkString("[", ", ", "]")
    val scriptCols = langScriptRanges.map { case (n, cls) =>
      s"length(text) - length(regexp_replace(text, '[$cls]', '', 'g')) AS c_$n"
    }.mkString(",\n    ")
    val bestList = langScriptRanges.map { case (n, _) =>
      s"{'h': c_$n, 's': '$n'}" }.mkString("[", ", ", "]")
    val planted = langPlanted.map { case (id, txt) =>
      s"(CAST($id AS BIGINT), '$txt')" }.mkString(",\n    ")
    // the twelve single-language scripts resolve without a vote —
    // generated from the SAME map langId's when-chain routes through
    val singleArms = singleLangScripts.map { case (s, l) =>
      s"WHEN best.s = '$s' THEN '$l'" }.mkString("\n       |       ")
    s"""WITH base AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT * FROM (VALUES
       |    $planted) AS p(doc_id, text)),
       |sc AS (
       |  SELECT doc_id, text,
       |    $scriptCols
       |  FROM base),
       |b AS (
       |  SELECT doc_id, c_kana, list_max($bestList) AS best,
       |    regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
       |  FROM sc),
       |v AS (
       |  SELECT doc_id, c_kana, best,
       |    list_max(${voteList(latinStops)}) AS lat,
       |    list_max(${voteList(cyrillicStops)}) AS cyr,
       |    list_max(${voteList(arabicStops)}) AS arab
       |  FROM b)
       |SELECT doc_id,
       |  CASE WHEN best.h <= 0 THEN 'und'
       |       WHEN best.s = 'kana' THEN 'ja'
       |       WHEN best.s = 'han' THEN (CASE WHEN c_kana > 0 THEN 'ja' ELSE 'zh' END)
       |       $singleArms
       |       WHEN best.s = 'cyrillic' THEN (CASE WHEN cyr.h > 0 THEN cyr.l ELSE 'und' END)
       |       WHEN best.s = 'arabic' THEN (CASE WHEN arab.h > 0 THEN arab.l ELSE 'und' END)
       |       ELSE (CASE WHEN lat.h > 0 THEN lat.l ELSE 'und' END) END AS lang_guess
       |FROM v ORDER BY doc_id""".stripMargin
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- //
  // Queries
  // ---------------------------------------------------------------- //

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // -- analytics ------------------------------------------------- //

    "q1_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q3_shipping_priority" -> ((s, dir) => {
      val cust = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders").where(col("o_orderdate") < to_timestamp(lit("1997-01-01")))
      val li = t(s, dir, "lineitem").where(col("l_shipdate") > to_timestamp(lit("1997-01-01")))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    "q5_region_revenue" -> ((s, dir) => {
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
    }),

    // TPC-H Q7 shape (volume shipping): bidirectional nation-pair
    // revenue by ship year — a 6-table join. Only the FIXED-cardinality
    // nation frames carry broadcast hints; customer/supplier GROW with
    // scale factor, so AQE picks their regime from runtime sizes (a
    // forced hint would be an OOM order at 100x)
    "q7_volume_shipping" -> ((s, dir) => {
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
    }),

    // TPC-H Q8 shape (national market share): one nation's share of a
    // region's revenue for a part-type family, by order year
    "q8_market_share" -> ((s, dir) => {
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
    }),

    // TPC-H Q10 shape (returned items): top 20 customers by revenue
    // lost to returns in one quarter
    "q10_returned_items" -> ((s, dir) => {
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
    }),

    // TPC-H Q14 shape (promotion effect): promo-type share of one
    // month's revenue — one scalar row
    "q14_promo_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= to_timestamp(lit("1996-03-01")) &&
          col("l_shipdate") < to_timestamp(lit("1996-04-01")))
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .agg((floor(sum(when(col("p_type").startsWith("PROMO"),
            col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(lit(0.0)))
          / sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          * lit(100.0) * 1e4) / 1e4).as("promo_pct"))
    }),

    "q_window_top_parts" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val part = t(s, dir, "part")
      val rev = li.join(part, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_partkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      val w = Window.partitionBy("p_brand").orderBy(col("revenue").desc, col("p_partkey").asc)
      rev.withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .orderBy("p_brand", "rnk")
    }),

    // exact percentiles (continuous interpolation — matches DuckDB
    // quantile_cont). floor(x*100)/100, not round(,2): both engines
    // interpolate to the identical double, but their round() half-rules
    // can split on a .xx5 boundary; floor of the same double is stable.
    "q_percentiles" -> ((s, dir) => {
      def f2(c: Column): Column = floor(c * 100) / 100
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          f2(expr("percentile(l_extendedprice, 0.5)")).as("p50_price"),
          f2(expr("percentile(l_extendedprice, 0.95)")).as("p95_price"),
          f2(expr("percentile(l_quantity, 0.5)")).as("p50_qty"))
        .orderBy("l_returnflag")
    }),

    "q_anti_customers" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val urgent = t(s, dir, "orders").where(col("o_orderpriority") === "1-URGENT")
      cust.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    }),

    "q_events_hourly" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts_us")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
        .orderBy("hour", "event_type")
    }),

    // hopping (sliding) windows: 1 h windows every 30 min — each event
    // lands in exactly two. Spark's window() expands to the window
    // struct; the oracle replays the expansion arithmetically.
    "q_events_hopping" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts_us"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
        .select(col("window.start").as("w_start"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy("w_start", "event_type")
    }),

    "q_events_sessions" -> ((s, dir) => {
      val ev = Tables.events(s, dir).withColumn("es", expr("ts div 1000000000"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      ev.withColumn("pes", lag("es", 1).over(w))
        .withColumn("new_sess",
          when(col("pes").isNull || (col("es") - col("pes")) > 1800, 1L).otherwise(0L))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum("new_sess").as("n_sessions"))
        .orderBy("user_id")
    }),

    "q_top_purchasers" -> ((s, dir) => {
      val ev = Tables.events(s, dir).where(col("event_type") === "purchase")
      val agg = ev.groupBy("user_id").agg(round(sum("value"), 2).as("total_spent"))
      // orderBy+limit → TakeOrderedAndProject (distributed top-k);
      // ranking a global Window here would funnel every user into one
      // partition. The window below runs over only the 20 survivors.
      val top = agg.orderBy(col("total_spent").desc, col("user_id").asc).limit(20)
      val w = Window.orderBy(col("total_spent").desc, col("user_id").asc)
      top.withColumn("rnk", row_number().over(w)).orderBy("rnk")
    }),

    // as-of join composed from union + carry-forward window — each
    // purchase is paired with the user's most recent signup at-or-
    // before it; DuckDB's native ASOF JOIN is the oracle.
    "q_asof_signup" -> ((s, dir) => {
      val ev = Tables.events(s, dir).drop("ts_us")
      val purchases = ev.where(col("event_type") === "purchase")
      val signups = ev.where(col("event_type") === "signup")
      graft.ops.AsofJoin.asofJoin(purchases, signups, "user_id", "ts", Seq("value"))
        .select(col("event_id"), col("user_id"), col("asof_value"))
        .orderBy("event_id")
    }),

    // as-of with a TOLERANCE bound (2 days in ns): a matched signup
    // older than purchase_ts - tol is treated as no match — the
    // staleness contract time-series joins need; DuckDB replays it as
    // ASOF + a freshness CASE, so the tolerance row (26f2) is
    // oracle-gated, not only spec-gated.
    "q_asof_tolerance" -> ((s, dir) => {
      val ev = Tables.events(s, dir).drop("ts_us")
      val purchases = ev.where(col("event_type") === "purchase")
      val signups = ev.where(col("event_type") === "signup")
      graft.ops.AsofJoin.asofJoin(purchases, signups, "user_id", "ts",
          Seq("value"), tolerance = Some(172800000000000L))
        .select(col("event_id"), col("user_id"), col("asof_value"))
        .orderBy("event_id")
    }),

    // same as-of semantics through the NATIVE path — custom
    // LogicalPlan + Strategy + SparkPlan (plans/NativeAsofJoin.scala)
    // — so the custom operator itself sits under the DuckDB ASOF
    // oracle, not just composed-form parity tests.
    "q_asof_native" -> ((s, dir) => {
      val ev = Tables.events(s, dir).drop("ts_us")
      val purchases = ev.where(col("event_type") === "purchase")
      val signups = ev.where(col("event_type") === "signup")
      graft.plans.NativeAsofJoin.asofJoin(purchases, signups, "user_id", "ts", Seq("value"))
        .select(col("event_id"), col("user_id"), col("asof_value"))
        .orderBy("event_id")
    }),

    // rollup with subtotal rows (coalesced to 'ALL' so both engines
    // order identically regardless of null-sort defaults)
    "q_rollup_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("revenue"))
        .orderBy("returnflag", "linestatus")
    }),

    "q_cube_counts" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"))
        .orderBy("status", "priority")
    }),

    // correlated-subquery shape (TPC-H Q17): lineitems whose quantity
    // is below 20% of their part's average — Catalyst decorrelates
    // into an aggregate + join; no per-row subquery execution.
    "q_small_quantity_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val avgQty = li.groupBy(col("l_partkey").as("ap"))
        .agg((avg("l_quantity") * 0.2).as("qty_cap"))
      li.join(avgQty, col("l_partkey") === col("ap"))
        .where(col("l_quantity") < col("qty_cap"))
        .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"),
          count(lit(1)).as("n"))
    }),

    "q_semi_customers" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val urgent = t(s, dir, "orders").where(col("o_orderpriority") === "1-URGENT")
      cust.join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    }),

    // KMV bottom-k sketch: below k distinct values the sketch is EXACT,
    // so with k ≫ |users| the DuckDB count(DISTINCT) oracle applies —
    // while the plan still exercises the mergeable TypedImperative
    // aggregate path (partial sketches merged across partitions).
    "q_kmv_users" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(graft.expr.KmvSketch.kmvDistinct(col("user_id"), 8192).as("approx_users"))
        .orderBy("event_type")
    }),

    // pivot (wide conditional aggregation): order counts per priority,
    // one column per status. Pivot with an explicit value list keeps
    // the plan a single pass (no distinct-scan to discover columns).
    "q_pivot_status" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("O"), lit(0L)).as("n_open"),
          coalesce(col("F"), lit(0L)).as("n_finished"),
          coalesce(col("P"), lit(0L)).as("n_pending"))
        .orderBy("o_orderpriority")
    }),

    // GROUPING SETS — the general subtotal form rollup/cube specialize;
    // Catalyst expands it into one Expand + single aggregate (one
    // shuffle, not one scan per set).
    "q_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("graft_gs_lineitem")
      s.sql(
        """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
          |       coalesce(l_linestatus, 'ALL') AS linestatus,
          |       count(*) AS n,
          |       round(sum(l_quantity), 2) AS sum_qty
          |FROM graft_gs_lineitem
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))
          |ORDER BY returnflag, linestatus""".stripMargin)
    }),

    // bounded-interval range join (bucketed equi-join scale path, see
    // graft.ops.RangeJoin): clicks in the hour before each purchase.
    "q_range_clicks" -> ((s, dir) => {
      val ev = Tables.events(s, dir).drop("ts_us", "props")
      val purchases = ev.where(col("event_type") === "purchase")
      val clicks = ev.where(col("event_type") === "click")
      graft.ops.RangeJoin.rangeJoin(purchases, clicks, "user_id", "ts", "ts",
          lower = -3600L * 1000000000L, upper = -1L)
        .groupBy(col("event_id"), col("user_id"))
        .agg(count(lit(1)).as("n_clicks"),
          round(sum(col("r_value")), 2).as("click_value"))
        .orderBy("event_id")
    }),

    // correlated min-subquery shape (TPC-H Q2's price-floor pattern):
    // parts at their brand's minimum retail price. The per-brand min is
    // tiny → broadcast; no decorrelation shuffle on the probe side.
    "q_min_retail_parts" -> ((s, dir) => {
      val part = t(s, dir, "part")
      val minPer = part.groupBy(col("p_brand").as("b"))
        .agg(min("p_retailprice").as("min_price"))
      part.join(broadcast(minPer),
          col("p_brand") === col("b") && col("p_retailprice") === col("min_price"))
        .select("p_brand", "p_partkey", "p_retailprice")
        .orderBy("p_brand", "p_partkey")
    }),

    // ntile deciles over a global order. NOTE: a global window funnels
    // all rows through one task — fine for dimension-sized inputs; for
    // fact-scale deciles use approxQuantile boundaries + a narrow
    // bucket-assignment map instead (no total sort).
    "q_decile_acctbal" -> ((s, dir) => {
      val w = Window.orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      t(s, dir, "customer")
        .withColumn("decile", ntile(10).over(w))
        .groupBy("decile")
        .agg(count(lit(1)).as("n"),
          round(min("c_acctbal"), 2).as("lo"),
          round(max("c_acctbal"), 2).as("hi"))
        .orderBy("decile")
    }),

    // fuzzy string matching (edit distance ≤ 4 name pairs). The tiny
    // side is broadcast; levenshtein is codegen'd in both engines.
    "q_fuzzy_nations" -> ((s, dir) => {
      val a = t(s, dir, "nation").select(col("n_name").as("name1"))
      val b = t(s, dir, "nation").select(col("n_name").as("name2"))
      a.crossJoin(broadcast(b)).where(col("name1") < col("name2"))
        .withColumn("dist", levenshtein(col("name1"), col("name2")))
        .where(col("dist") <= 4)
        .orderBy("name1", "name2")
    }),

    // winnowing fingerprints (MOSS): window-min k-gram selection,
    // rightmost-min ties, ~1/w density with the shared-substring
    // guarantee. Full (doc, pos, fp) rows so the oracle pins the
    // SELECTION, not just counts.
    "text_winnowing" -> ((s, dir) => {
      graft.text.Winnowing.fingerprints(
          t(s, dir, "documents").where(col("doc_id") < 100),
          "doc_id", "text", k = 5, w = 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "pos")
    }),

    // winnowing index join over the planted-snippet corpus: every
    // snippet shares a >=120-char substring with its parent, so the
    // k+w-1 guarantee forces shared fingerprints — pair recall is
    // structural, not corpus luck.
    "text_winnow_pairs" -> ((s, dir) => {
      graft.text.Winnowing.sharedPairs(
          containmentCorpus(t(s, dir, "documents")),
          "doc_id", "text", k = 5, w = 4, minShared = 3, maxDf = 10)
        .orderBy("id1", "id2")
    }),

    // entity resolution: 25 high-entropy record names (md5 of the
    // nation name — the raw NATION_nn labels differ by one digit and
    // would all merge at any variant-tolerant threshold) + two planted
    // dirty variants each (3rd-char deletion, trailing-char append) —
    // block on the first two hex chars, score by normalized
    // Levenshtein, close transitively into (base, variant, variant)
    // entities.
    "er_nation_entities" -> ((s, dir) => {
      val nat = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("id"),
          substring(md5(col("n_name")), 1, 8).as("name"))
      val recs = nat
        .unionAll(nat.select((col("id") + 100).as("id"),
          concat(substring(col("name"), 1, 2),
            substring(col("name"), 4, 1000)).as("name")))
        .unionAll(nat.select((col("id") + 200).as("id"),
          concat(col("name"), lit("X")).as("name")))
      graft.ops.RecordLinkage.linkClusters(recs, "id",
          lower(substring(col("name"), 1, 2)), Seq(("name", 1.0)),
          threshold = 0.7)
        .orderBy("id")
    }),

    // cross-corpus match: each left doc's best counterpart on the
    // right by banded-minhash candidates + signature agreement —
    // planted right-side variants (text + ' x', id + 2000) guarantee
    // every left doc a high-jaccard counterpart
    "text_cross_match" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val left = docs.where(col("doc_id") < 50).select("doc_id", "text")
      val right = docs.where(col("doc_id") >= 50 && col("doc_id") < 150)
        .select("doc_id", "text")
        .unionAll(docs.where(col("doc_id") < 50)
          .select((col("doc_id") + 2000).as("doc_id"),
            concat(col("text"), lit(" x")).as("text")))
      Similarity.crossMatchTopK(left, right, "doc_id", "text", k = 1,
          kShingle = 5, numHashes = 32, rowsPerBand = 8,
          minJaccard = 0.2, replayable = true)
        .orderBy("left_id")
    }),

    // corpus datasheet ("datasheets for datasets" shape): one long-
    // format frame of corpus-level curation stats — volume, token
    // mass, language mix, exact-dup rate, length percentiles — each
    // leg an independent map-side-partial aggregate, unioned small
    "corpus_datasheet" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs.select(
        size(filter(split(trim(lower(col("text"))), "\\s+"),
          t => length(t) > 0)).cast("long").as("n_words"),
        col("lang"), col("n_chars"), md5(col("text")).as("h"))
      def leg(metric: String, dim: org.apache.spark.sql.Column,
              value: org.apache.spark.sql.Column)(df: DataFrame) =
        df.select(lit(metric).as("metric"), dim.cast("string").as("dim"),
          (floor(value * 1e4) / 1e4).as("value"))
      val nDocs = leg("n_docs", lit(""), count(lit(1)).cast("double"))(toks)
      val nTokens = leg("total_tokens", lit(""), sum("n_words").cast("double"))(toks)
      val byLang = toks.groupBy("lang").agg(count(lit(1)).as("n"))
        .select(lit("docs_by_lang").as("metric"), col("lang").as("dim"),
          (floor(col("n").cast("double") * 1e4) / 1e4).as("value"))
      val dupRate = leg("exact_dup_rate", lit(""),
        lit(1.0) - countDistinct("h").cast("double") / count(lit(1)))(toks)
      val p50 = leg("p50_chars", lit(""), expr("percentile(n_chars, 0.5)"))(toks)
      val p90 = leg("p90_chars", lit(""), expr("percentile(n_chars, 0.9)"))(toks)
      nDocs.unionAll(nTokens).unionAll(byLang).unionAll(dupRate)
        .unionAll(p50).unionAll(p90)
        .orderBy("metric", "dim")
    }),

    // word2vec negative sampling: quantized unigram^(3/4) table (the
    // original implementation's design), integer bucket draws from
    // md5 — the embedding-training companion to text_skipgram
    "text_negative_samples" -> ((s, dir) => {
      val wf = graft.text.Bpe.wordFreq(
        t(s, dir, "documents").where(col("doc_id") < 200), "text")
      val table = graft.text.NegativeSampling.sampleTable(wf,
        tableSize = 4096, topV = 65536)
      val top = wf.orderBy(col("freq").desc, col("word").asc).limit(20)
        .select(col("word").as("center"))
      graft.text.NegativeSampling.drawNegatives(top, Seq("center"),
          k = 5, table, seed = "w2v")
        .orderBy("center", "neg_rank")
    }),

    // cross-TABLE linkage: clean nations vs a dirty feed of variants,
    // best match per left record via the bounded-heap top-1 (never a
    // window) — the two-source master-data match
    "er_table_link" -> ((s, dir) => {
      val nat = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("id"),
          substring(md5(col("n_name")), 1, 8).as("name"))
      val dirty = nat.select((col("id") + 100).as("id"),
          concat(substring(col("name"), 1, 2),
            substring(col("name"), 4, 1000)).as("name"))
        .unionAll(nat.select((col("id") + 200).as("id"),
          concat(col("name"), lit("X")).as("name")))
      graft.ops.RecordLinkage.linkTables(nat, dirty, "id",
          lower(substring(col("name"), 1, 2)), Seq(("name", 1.0)),
          threshold = 0.6, bestPerLeft = true)
        .orderBy("left_id")
    }),

    // functional-dependency discovery (profiling): for each candidate
    // determinant→dependent column pair, the violation count =
    // Σ_groups (group size − majority size); violations = 0 ⇔ the FD
    // holds. One groupBy per pair over the pair's two columns only.
    "v_fd_discovery" -> ((s, dir) => {
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
    }),

    // RFM customer segmentation: recency (days since last order),
    // frequency, monetary — quartile-coded per dimension via ntile
    // with a deterministic total order; counts per RFM code
    "q_rfm_segments" -> ((s, dir) => {
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
    }),

    // schema-type inference over an untyped feed (the suggestion pass
    // before SchemaCheck validates a declared schema): per-column
    // parseability counts and the narrowest fitting type
    "v_schema_infer" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val feed = cust.select(
        col("c_custkey").cast("string").as("id_str"),
        col("c_acctbal").cast("string").as("bal_str"),
        col("c_mktsegment").as("seg_str"),
        when(col("c_custkey") % 2 === 0, "true").otherwise("false").as("flag_str"),
        date_format(date_add(to_date(lit("1995-01-01")),
          (col("c_custkey") % 1000).cast("int")), "yyyy-MM-dd").as("date_str"))
      graft.validate.SchemaInfer.inferColumnTypes(feed).orderBy("column")
    }),

    // triangle counting over the supplier co-occurrence graph (the
    // ordered-edge 3-way join — the standard distributed algorithm);
    // graph family alongside CC / PageRank / LPA
    "q_triangle_count" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").where(col("l_orderkey") < 5000)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      val e = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.sk") < col("b.sk"))
        .select(col("a.sk").as("x"), col("b.sk").as("y")).distinct()
      e.as("e1")
        .join(e.as("e2"), col("e1.y") === col("e2.x"))
        .join(e.as("e3"),
          col("e3.x") === col("e1.x") && col("e3.y") === col("e2.y"))
        .agg(count(lit(1)).as("n_triangles"))
    }),

    // seasonal-naive monitoring: hourly event counts vs the same hour
    // one day earlier (row-lag 24 per type over the dense hour grid);
    // per-type mean absolute residual from exact integer sums
    "q_seasonal_residuals" -> ((s, dir) => {
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
    }),

    // winsorization: clip values to the exact per-group [p05, p95]
    // band — the robust-stats preprocessing step next to MAD fences
    "q_winsorize" -> ((s, dir) => {
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
    }),

    // market-basket lift between part brands co-occurring in orders:
    // support / confidence / lift from one co-occurrence join
    "q_brand_lift" -> ((s, dir) => {
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
    }),

    // per-user event-type transition counts (the Markov-chain input):
    // consecutive event pairs via lag over (ts, event_id) total order
    "q_event_transitions" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir).select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev", lag("event_type", 1).over(w))
        .where(col("prev").isNotNull)
        .groupBy(col("prev").as("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("from_type", "to_type")
    }),

    // revenue concentration: exact Gini coefficient over per-customer
    // order totals — G = (2·Σ i·x_i)/(n·Σx) − (n+1)/n on the
    // ascending-sorted series, integer-cent totals so the sums are
    // order-independent
    "q_revenue_gini" -> ((s, dir) => {
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
    }),

    // vocabulary concentration: types, tokens, hapax ratio per lang —
    // the Heaps/Zipf health check of a text corpus
    "text_hapax" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("lang"), explode(filter(
          split(trim(lower(col("text"))), "\\s+"),
          t => length(t) > 0)).as("tok"))
      toks.groupBy("lang", "tok").agg(count(lit(1)).as("n"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_types"),
          sum("n").as("n_tokens"),
          (floor(sum(when(col("n") === 1, 1L).otherwise(0L)).cast("double")
            / count(lit(1)) * 1e4) / 1e4).as("hapax_ratio"))
        .orderBy("lang")
    }),

    // robust outliers by median absolute deviation (the z-score's
    // robust sibling — one extreme value cannot drag the fence):
    // |x − med| > 3·MAD per event type, exact interpolated medians
    "q_outlier_mad" -> ((s, dir) => {
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
    }),

    // per-group rank normalization (quantile-uniform feature scaling):
    // percent_rank of value within event type, floor-quantized
    "q_rank_normalize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .select("event_id", "event_type", "value")
        .where(col("value").isNotNull && col("event_id") < 2000)
      ev.withColumn("rnorm", floor(percent_rank().over(
          Window.partitionBy("event_type")
            .orderBy(col("value"), col("event_id"))) * 1e4) / 1e4)
        .orderBy("event_id")
    }),

    // set operators (INTERSECT / EXCEPT) — distinct-key semantics, each
    // planned as an aggregate-style shuffle on the key.
    "q_setops_customers" -> ((s, dir) => {
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
    }),

    // semi-structured extraction: JSON path over the events.props
    // column (get_json_object is codegen'd; no UDF).
    "q_json_props" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          countDistinct("k").as("n_k"))
        .orderBy("event_type")
    }),

    // TPC-H Q13 shape: LEFT OUTER join keeps zero-order customers,
    // count(o_orderkey) ignores the null-extended rows, and the second
    // aggregate runs over the tiny (c_count → custdist) domain.
    "q_order_count_dist" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      cust.join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // ordered string aggregation (LISTAGG / string_agg): collect_list
    // under a deterministic array_sort — the "emit a CSV per group"
    // export shape. Bounded input (filter first); at fact scale cap the
    // list with slice() or the group blows the row-size budget.
    "q_string_agg" -> ((s, dir) => {
      t(s, dir, "customer").where(col("c_custkey") < 100)
        .groupBy("c_mktsegment")
        .agg(array_join(array_sort(collect_list(col("c_name"))), ",").as("names"),
          count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    }),

    // lead/lag inter-event gaps per user — integer nanosecond math end
    // to end (sum/max of ns gaps, floor-divided to seconds only at the
    // end) so both engines agree bit-for-bit.
    "q_lag_gaps" -> ((s, dir) => {
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
    }),

    // fixed-width histogram binning — floor(x / width) of the same
    // stored double is IEEE-identical in both engines, so bin edges
    // can't split; one narrow pass + tiny aggregate.
    "q_histogram_price" -> ((s, dir) => {
      t(s, dir, "orders")
        .withColumn("bin", floor(col("o_totalprice") / 20000).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("bin")
    }),

    // z-score outliers: events above their type's mean + 3σ. Per-type
    // stats are a tiny aggregate broadcast back; the flagging pass is
    // narrow. (Data values sit far from the threshold, so cross-engine
    // last-ulp differences in mean/σ can't flip membership.)
    "q_outlier_events" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val stats = ev.groupBy(col("event_type").as("et"))
        .agg(avg("value").as("mu"), stddev_samp("value").as("sigma"))
      ev.join(broadcast(stats), col("event_type") === col("et"))
        .where(col("value") > col("mu") + lit(3) * col("sigma"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_outliers"), round(min("value"), 2).as("min_outlier"))
        .orderBy("event_type")
    }),

    // deterministic stratified sampling: per-language keep-rates via an
    // md5-hash threshold — reproducible across engines/runs/retries, no
    // RNG state, fully narrow (the classic training-mix downsample;
    // en keeps ~50% = 0x80/0x100, the rest ~10% = 0x1a/0x100).
    "q_stratified_sample" -> ((s, dir) => {
      val rate = when(col("lang") === "en", lit("80")).otherwise(lit("1a"))
      t(s, dir, "documents")
        .where(substring(md5(col("doc_id").cast("string")), 1, 2) < rate)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_sampled"), sum("n_chars").as("chars"))
        .orderBy("lang", "source")
    }),

    // training-sequence packing: per source, documents stream in doc_id
    // order into 32 KiB context bins — bin = chars-before div 32768 via
    // a running-sum window; per-bin doc/char counts. All-integer math.
    "q_seq_pack" -> ((s, dir) => {
      val w = Window.partitionBy("source").orderBy(col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "documents")
        .withColumn("cum", sum("n_chars").over(w))
        .withColumn("bin", expr("(cum - n_chars) div 32768"))
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
        .orderBy("source", "bin")
    }),

    // SCD2 merge (graft.ops.Merge): customers bootstrapped as an open
    // dimension, then one update batch — %10==0 keys drift (+100 bal,
    // exact IEEE add, no rounding needed), %10==1 keys arrive unchanged
    // (no churn), keys+1M insert. Doubles pass through both engines
    // bit-identically because nothing re-aggregates them.
    "q_scd2_customers" -> ((s, dir) => {
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
    }),

    // incremental aggregate maintenance: yesterday's materialized agg
    // plus today's delta partition, combined WITHOUT rescanning history
    // — counts/sums re-aggregate losslessly (union of partials + one
    // tiny groupBy; both legs partial-aggregate map-side). The oracle
    // is the full recompute, proving merge ≡ rescan. At 100 TB this is
    // the difference between reading one day and reading three years.
    "q_incremental_agg" -> ((s, dir) => {
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
    }),

    // CDC compaction / latest-record-per-key — the "current state from
    // an append-only change log" shape. row_number per key, never a
    // global window; dedup state is one row per key per partition.
    // -- commit-log table format on the ORACLE gate (r17) ---------- //
    // The format's whole read-side contract — atomic batch visibility,
    // tombstone residual filtering, copy-on-write merge — replayed by
    // DuckDB against the SOURCE table: build a commit-log table from
    // lineitem deterministically (once per sf dir, flag-guarded),
    // mutate it, read it back through the DSv2 front door, aggregate.
    // The oracle computes the same end state from lineitem directly.
    "q_commitlog_pricing" -> ((s, dir) => {
      val table = commitLogScratch(s, dir, "pricing", "lineitem") { tbl =>
        val li = t(s, dir, "lineitem")
          .select("l_orderkey", "l_returnflag", "l_quantity")
        // three batches split by a deterministic key hash
        for (b <- 0 to 2)
          graft.sources.CommitLog.writeBatchWithStats(
            li.where(pmod(col("l_orderkey"), lit(3)) === b), tbl,
            "build", b.toLong, Seq("l_orderkey"), ts = 1000L + b)
        // a torn batch: data without a marker must stay invisible
        li.limit(500).withColumn("l_quantity", lit(1000000.0))
          .withColumn("run_id", lit("torn")).withColumn("batch_id", lit(0L))
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("run_id", "batch_id").parquet(tbl)
        // row-level delete: orders 100..199 vanish behind a tombstone
        graft.sources.CommitLog.deleteWhere(s, tbl, "l_orderkey",
          "range", Seq(100L, 199L), ts = 2000L)
      }
      s.read.format("graft_commitlog").load(table)
        .groupBy("l_returnflag")
        .agg(sum("l_quantity").as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }),

    // composite-key CDC MERGE end state vs the oracle's direct
    // reconstruction: updates re-land, delete ops vanish, inserts
    // arrive, untouched rows survive — the 28m contract graded by
    // DuckDB instead of only ScalaTest
    "q_commitlog_merge" -> ((s, dir) => {
      val table = commitLogScratch(s, dir, "merge", "customer") { tbl =>
        val cust = t(s, dir, "customer")
          .select("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
        for (b <- 0 to 1)
          graft.sources.CommitLog.writeBatchWithStats(
            cust.where(pmod(col("c_custkey"), lit(2)) === b), tbl,
            "build", b.toLong, Seq("c_custkey", "c_nationkey"), ts = 1000L + b)
        // CDC feed keyed on (c_custkey, c_nationkey): zero the balance
        // of nation-0 keys ending in 7, DELETE nation-1 keys ending in
        // 7, insert two fresh rows
        val feed = cust
          .where(pmod(col("c_custkey"), lit(10)) === 7 &&
            col("c_nationkey").isin(0, 1))
          .select(col("c_custkey"), col("c_nationkey"),
            col("c_mktsegment"), lit(0.0).as("c_acctbal"),
            when(col("c_nationkey") === 1, "D").otherwise("U").as("op"))
          .unionByName(s.createDataFrame(java.util.Arrays.asList(
              org.apache.spark.sql.Row(9000001L, 7, "BUILDING", 111.11, "I"),
              org.apache.spark.sql.Row(9000002L, 9, "MACHINERY", 222.22, "I")),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("c_custkey",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("c_nationkey",
                org.apache.spark.sql.types.IntegerType),
              org.apache.spark.sql.types.StructField("c_mktsegment",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("c_acctbal",
                org.apache.spark.sql.types.DoubleType),
              org.apache.spark.sql.types.StructField("op",
                org.apache.spark.sql.types.StringType)))))
        graft.sources.CommitLog.merge(s, tbl, feed,
          Seq("c_custkey", "c_nationkey"), "cdc", 0L, ts = 3000L,
          statsCols = Seq("c_custkey"),
          deleteWhen = Some(col("op") === "D"), dropCols = Seq("op"))
      }
      s.read.format("graft_commitlog").load(table)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"),
          // per-row floor to integer cents, THEN the BIGINT sum — a
          // float sum of 2-decimal doubles would be order-dependent
          sum(floor(col("c_acctbal") * 100).cast("long")).as("bal_cents"))
        .orderBy("c_nationkey")
    }),

    // SQL UPDATE (r18): the UpdateCommitLogCommand the analyzer rule
    // rewrites `UPDATE graft_commitlog.`/t` SET ... WHERE ...` into —
    // a self-source merge keyed on the WHERE column. The statement →
    // command mapping (incl. loud shape rejections) is spec-gated in
    // CommitLogDataSourceSpec; this entry puts the command's SEMANTICS
    // (simultaneous assignment, exact matched-set replacement, atomic
    // marker flip) under the DuckDB oracle.
    "q_commitlog_update" -> ((s, dir) => {
      // tag bumped with the build recipe (the scratch cache keys on
      // source-table inventory only, not on this build's logic)
      val table = commitLogScratch(s, dir, "update_r19", "customer") { tbl =>
        val cust = t(s, dir, "customer")
          .select("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
        for (b <- 0 to 1)
          graft.sources.CommitLog.writeBatchWithStats(
            cust.where(pmod(col("c_custkey"), lit(2)) === b), tbl,
            "build", b.toLong, Seq("c_custkey", "c_nationkey"), ts = 1000L + b)
        graft.sources.UpdateCommitLogCommand(tbl,
          whereCols = Seq("c_nationkey"), whereSql = "c_nationkey = 3",
          sets = Seq("c_acctbal" -> "c_acctbal + 1000.0",
            "c_mktsegment" -> "'UPDATED'")).run(s)
        // second statement: MULTI-COLUMN WHERE (r19) — the tuple-keyed
        // self-source merge, stats-pruned on both referenced columns
        graft.sources.UpdateCommitLogCommand(tbl,
          whereCols = Seq("c_nationkey", "c_custkey"),
          whereSql = "c_nationkey = 5 AND c_custkey % 2 = 0",
          sets = Seq("c_mktsegment" -> "'UPDATED2'")).run(s)
      }
      s.read.format("graft_commitlog").load(table)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("c_acctbal") * 100).cast("long")).as("bal_cents"))
        .orderBy("c_mktsegment")
    }),

    // generalized SQL DELETE (r19): a predicate with NO tombstone form
    // (multi-column conjunct + modulo) rides the delete-only
    // self-source merge — DuckDB replays the surviving set
    // write-time CHECK constraints (r20): a RuleSet enforced at the
    // commit-log front door — valid rows commit to the data table,
    // rejects (with their comma-joined ERROR_DESC) to a commit-log
    // error table under the same batch identity. The oracle replays
    // the rule set over the source and reproduces BOTH end states.
    "q_commitlog_checked" -> ((s, dir) => {
      val table = commitLogScratch(s, dir, "checked_r20", "customer") { tbl =>
        val hfs = new org.apache.hadoop.fs.Path(tbl)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        hfs.delete(new org.apache.hadoop.fs.Path(tbl + "_errors"), true)
        val cust = t(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal")
        val rules = graft.rules.RuleSet(Seq(
          graft.rules.Rule("acct_nonneg", col("c_acctbal") < 0,
            "account balance negative"),
          graft.rules.Rule("mod7", pmod(col("c_custkey"), lit(7)) === 0,
            "custkey divisible by 7")))
        for (b <- 0 to 1)
          graft.sources.CommitLogChecked.writeBatchChecked(
            cust.where(pmod(col("c_custkey"), lit(2)) === b), tbl, rules,
            tbl + "_errors", "build", b.toLong, Seq("c_custkey"),
            ts = 1000L + b)
      }
      val valid = s.read.format("graft_commitlog").load(table)
        .select(col("c_acctbal"), lit("").as("errs"))
      val rejected = s.read.format("graft_commitlog").load(table + "_errors")
        .select(col("c_acctbal"), col("_errors").as("errs"))
      valid.unionByName(rejected)
        .groupBy("errs")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("c_acctbal") * 100).cast("long")).as("bal_cents"))
        .orderBy("errs")
    }),

    "q_commitlog_delete" -> ((s, dir) => {
      val table = commitLogScratch(s, dir, "delete_r19", "customer") { tbl =>
        val cust = t(s, dir, "customer")
          .select("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
        for (b <- 0 to 1)
          graft.sources.CommitLog.writeBatchWithStats(
            cust.where(pmod(col("c_custkey"), lit(2)) === b), tbl,
            "build", b.toLong, Seq("c_custkey"), ts = 1000L + b)
        graft.sources.DeleteCommitLogCommand(tbl,
          whereCols = Seq("c_custkey", "c_acctbal"),
          whereSql = "c_custkey % 10 = 4 AND c_acctbal > 0").run(s)
      }
      s.read.format("graft_commitlog").load(table)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("c_acctbal") * 100).cast("long")).as("bal_cents"))
        .orderBy("c_nationkey")
    }),

    // the format's FLAGSHIP composition under the DuckDB oracle (r19):
    // source table → two same-millisecond merges (the _change_seq
    // total order decides the winner), a delete-op merge, a tombstone
    // → the change-feed STREAM applied by CommitLogReplica into a
    // second commit-log table → read the REPLICA. The oracle replays
    // the operation history in issue order against the source rows —
    // byte-equality here gates the whole CDC loop (feed events, seq
    // ordering, latest-per-key reduce, per-epoch merge, exactly-once
    // markers) end to end.
    "q_commitlog_cdc" -> ((s, dir) => {
      val table = commitLogScratch(s, dir, "cdc", "customer") { tbl =>
        // a crashed prior build leaves replica/checkpoint siblings the
        // scratch helper's `t`-only delete misses — clear them first
        val hfs = new org.apache.hadoop.fs.Path(tbl)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        hfs.delete(new org.apache.hadoop.fs.Path(tbl + "_replica"), true)
        hfs.delete(new org.apache.hadoop.fs.Path(tbl + "_ckpt"), true)
        val cust = t(s, dir, "customer")
          .select("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
        for (b <- 0 to 1)
          graft.sources.CommitLog.writeBatchWithStats(
            cust.where(pmod(col("c_custkey"), lit(2)) === b), tbl,
            "build", b.toLong, Seq("c_custkey"), ts = 1000L + b)
        def k10(m: Int) = pmod(col("c_custkey"), lit(10)) === m
        // merge 1 and merge 2 share ts=3000 and overlap on %20==3 keys:
        // only the monotonic seq makes "merge 2 wins" deterministic
        graft.sources.CommitLog.merge(s, tbl,
          cust.where(k10(3)).select(col("c_custkey"), col("c_nationkey"),
            lit("M1").as("c_mktsegment"), lit(111.0).as("c_acctbal")),
          Seq("c_custkey"), "cdc1", 0L, ts = 3000L,
          statsCols = Seq("c_custkey"))
        graft.sources.CommitLog.merge(s, tbl,
          cust.where(pmod(col("c_custkey"), lit(20)) === 3)
            .select(col("c_custkey"), col("c_nationkey"),
              lit("M2").as("c_mktsegment"), lit(222.0).as("c_acctbal")),
          Seq("c_custkey"), "cdc2", 0L, ts = 3000L,
          statsCols = Seq("c_custkey"))
        // delete-op merge (the CDC op-feed shape), then a tombstone
        graft.sources.CommitLog.merge(s, tbl,
          cust.where(k10(7)).select(col("c_custkey"), col("c_nationkey"),
            col("c_mktsegment"), col("c_acctbal"), lit("D").as("op")),
          Seq("c_custkey"), "cdc3", 0L, ts = 4000L,
          statsCols = Seq("c_custkey"),
          deleteWhen = Some(col("op") === "D"), dropCols = Seq("op"))
        graft.sources.CommitLog.deleteWhere(s, tbl, "c_custkey",
          "range", Seq(10L, 19L), ts = 5000L)
        // the change-feed stream into the replica, exactly-once
        graft.streaming.CommitLogReplica.start(s, tbl, tbl + "_replica",
          Seq("c_custkey"), checkpoint = tbl + "_ckpt",
          statsCols = Seq("c_custkey")).awaitTermination()
      }
      s.read.format("graft_commitlog").load(table + "_replica")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("c_acctbal") * 100).cast("long")).as("bal_cents"))
        .orderBy("c_mktsegment")
    }),

    "q_latest_per_key" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, dir).drop("ts_us", "props")
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        // raw value: pass-through doubles compare bit-identically,
        // rounding would only add a half-rule boundary risk
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .orderBy("user_id")
    }),

    // funnel analysis: signup → later click → later purchase, stage
    // mins carried forward stage-to-stage. Each stage is one per-user
    // aggregate — user count grows with SF, so no broadcast hint: AQE
    // broadcasts the stage frames while they fit and falls back to
    // shuffle joins at scale.
    "q_funnel" -> ((s, dir) => {
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
    }),

    // time-grid resampling with forward fill: each user's value series
    // re-sampled onto an hourly grid, gaps carried forward — the grid
    // is generated per user (sequence + explode, narrow) and filled by
    // the SAME as-of machinery as q_asof_signup (grid as-of events).
    "q_resample_ffill" -> ((s, dir) => {
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
    }),

    // hourly grid resample with LINEAR interpolation between the
    // bracketing observations (the pandas interpolate shape; ffill's
    // sibling). One shuffle, both neighbor carries in one WindowExec.
    "q_resample_interp" -> ((s, dir) => {
      val ev = Tables.events(s, dir).drop("ts_us", "props")
        .where(col("user_id") < 10)
      graft.ops.Interpolate.resampleLinear(ev, "user_id", "ts", "value",
          step = 3600L * 1000000000L)
        .orderBy("user_id", "ts")
    }),

    // document chunking (TextAnalysis.chunks): context-window splits
    // with overlap; emitted as (doc, chunk_idx, len, fingerprint) so
    // the oracle stays compact. posexplode keeps the index.
    "doc_chunks" -> ((s, dir) => {
      t(s, dir, "documents").where(col("doc_id") < 200)
        .select(col("doc_id"),
          posexplode(TextAnalysis.chunks(col("text"), size = 500, overlap = 100)))
        .select(col("doc_id"), col("pos").as("chunk_idx"),
          length(col("col")).as("chunk_len"), md5(col("col")).as("chunk_fp"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // global-threshold scalar subquery (TPC-H Q11 shape): groups kept
    // only if they exceed a fraction of a GLOBAL aggregate. The scalar
    // total broadcasts; all-integer math (cnt*1000 > total) so the
    // threshold can't split on a float ulp.
    "q_popular_parts" -> ((s, dir) => {
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
    }),

    // window-function suite: lag/lead/first_value/rank/percent_rank in
    // one pass over each customer's order history (single shuffle on
    // o_custkey feeds every frame). percent_rank is a small-int ratio —
    // IEEE-identical across engines.
    "q_window_suite" -> ((s, dir) => {
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
    }),

    // date-part extraction / seasonality: year-month-dow grouping.
    // ISO dayofweek via built-ins on both engines.
    "q_date_parts" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofweek(col("o_orderdate")).as("dow"))
        .agg(count(lit(1)).as("n"))
        .orderBy("y", "m", "dow")
    }),

    // string-function surface: trim/case/pad/replace/substring parity
    // on one deterministic pass (no aggregation, raw pass-through).
    "q_string_funcs" -> ((s, dir) => {
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
    }),

    // argmax via struct-max: the per-group "row with the max" WITHOUT a
    // window shuffle-and-rank — max(struct(orderCol, tiebreak, payload))
    // partial-aggregates map-side like any max. The deterministic
    // tie-break (custkey) is part of the struct ordering.
    "q_argmax_balance" -> ((s, dir) => {
      t(s, dir, "customer")
        .groupBy("c_mktsegment")
        .agg(max(struct(col("c_acctbal"), col("c_custkey"))).as("m"))
        .select(col("c_mktsegment"), col("m.c_acctbal").as("top_bal"),
          col("m.c_custkey").as("top_cust"))
        .orderBy("c_mktsegment")
    }),

    // snapshot table diff (graft.validate.TableDiff): which keys were
    // added/removed/changed between two feed versions — the row-level
    // companion to drift (distribution) and rules (values).
    "v_table_diff" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val before = cust.where(col("c_custkey") % 7 =!= 0) // 0 mod-7 keys "new"
      val after = cust.where(col("c_custkey") % 5 =!= 0)  // 0 mod-5 keys "gone"
        .withColumn("c_acctbal",
          when(col("c_custkey") % 3 === 0, col("c_acctbal") + 1)
            .otherwise(col("c_acctbal")))
      graft.validate.TableDiff.summary(before, after, Seq("c_custkey"))
    }),

    // unpivot / melt — the inverse of q_pivot_status, one Expand pass
    // (each input row fans out to 3 (status, n) rows, no shuffle).
    "q_unpivot_status" -> ((s, dir) => {
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
    }),

    // regex group extraction: pull the numeric id out of c_name and
    // prove it round-trips to the key (extraction parity + int cast).
    "q_regex_extract" -> ((s, dir) => {
      t(s, dir, "customer")
        .select(col("c_custkey"),
          regexp_extract(col("c_name"), "^Customer#([0-9]+)$", 1)
            .cast("long").as("name_id"))
        .withColumn("id_matches", col("name_id") === col("c_custkey"))
        .groupBy("id_matches").agg(count(lit(1)).as("n"))
        .orderBy("id_matches")
    }),

    // -- validation (reference core, on TPC-H-shaped tables) ------- //

    "v_customer_errors" -> ((s, dir) => {
      Validator.validate(t(s, dir, "customer"), customerRules)
        .where(!col(Validator.ValidCol))
        .select(col("c_custkey"), concat_ws(", ", col(Validator.ErrorsCol)).as("error_desc"))
        .orderBy("c_custkey")
    }),

    "v_customer_summary" -> ((s, dir) =>
      Validator.summary(t(s, dir, "customer"), customerRules)),

    // Config-driven composite-scenario suite (graft.bank.ScenarioConfig
    // over graft.rules.RuleSetConfig): rules, renames, drops, and the
    // expected-count assertion ALL come from one JSON document — the
    // run report is the oracle surface. Renamed/dropped columns skip
    // their rules (rules_skipped) and surface as schema issues, the
    // reference's rename/missing-column scenario signature. Scenario
    // count is config-sized; each error count is one narrow scan.
    "v_scenario_report" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      graft.bank.ScenarioConfig.runFromJson(s, scenarioSuiteJson, cust, cust.schema)
        .select(col("scenario"), col("status"),
          col("error_rows").cast("long").as("error_rows"),
          coalesce(col("expected_errors"), lit(-1L)).as("expected_errors"),
          col("rules_applied").cast("long").as("rules_applied"),
          col("rules_skipped").cast("long").as("rules_skipped"),
          col("schema_issues").cast("long").as("schema_issues"))
        .orderBy("scenario")
    }),

    "v_orders_errors" -> ((s, dir) => {
      Validator.validate(t(s, dir, "orders"), orderRules)
        .where(!col(Validator.ValidCol))
        .select(col("o_orderkey"), concat_ws(", ", col(Validator.ErrorsCol)).as("error_desc"))
        .orderBy("o_orderkey")
    }),

    "v_lineitem_split" -> ((s, dir) =>
      Validator.splitCounts(t(s, dir, "lineitem"), lineitemRules)),

    // one-pass data profile (per-column null/distinct/min/max); exact
    // distincts here so the DuckDB oracle applies — the cluster mode
    // is approx_count_distinct (see Profiler).
    "v_profile_customer" -> ((s, dir) => {
      graft.validate.Profiler.profile(t(s, dir, "customer"),
          Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"),
          exactDistinct = true)
        .orderBy("col_name")
    }),

    // table-level referential integrity: FK orphan counts across the
    // star schema (anti joins; see TableChecks.orphans).
    "v_fk_orphans" -> ((s, dir) => {
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
    }),

    // ErrorCompare over two rule variants of the same table — the
    // reference's CSV-vs-DB ERROR_DESC token reconciliation
    // (compare_csv_and_db_error_desc). The right side drops one rule,
    // so the diff must surface exactly that rule's tokens as
    // left-only.
    "v_error_compare" -> ((s, dir) => {
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
    }),

    // Reference-shaped error file over seeded bank data with injected
    // invalid values (run_invalid_values_scenario shape). The broken
    // frame is dumped to a fixed parquet path so the DuckDB oracle can
    // re-validate the same input with its own independently-written
    // rule predicates (BankRulesSql).
    "bank_error_file" -> ((s, dir) => {
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
    }),

    "bank_gen_validate" -> ((s, dir) => {
      // the parquet round trip is BOTH the oracle's input copy and the
      // plan barrier (without one, CollapseProject inlines the
      // generator's expression trees into every one of the ~68 rule
      // expressions and plan compilation explodes: 7s → 1.2s at 2k
      // rows in r1 with a cache; a materialized file is stronger).
      BankDataGen.generate(s, 2000, seed = 7)
        .write.mode("overwrite").parquet(graft.bank.BankRulesSql.genPath)
      Validator.summary(s.read.parquet(graft.bank.BankRulesSql.genPath), BankRules.all)
    }),

    // -- dedup ----------------------------------------------------- //

    "dedup_exact_docs" -> ((s, dir) => {
      Dedup.exactGroups(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("content_hash")
    }),

    "dup_key_docs" -> ((s, dir) => {
      Dedup.duplicateKeys(t(s, dir, "documents"), Seq("lang", "source"))
        .orderBy("lang", "source")
    }),

    "dup_events_keys" -> ((s, dir) => {
      Dedup.duplicateKeys(Tables.events(s, dir).drop("ts_us"), Seq("user_id", "event_type"))
        .orderBy("user_id", "event_type")
    }),

    "ngram_jaccard_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 100)
      Similarity.ngramJaccard(docs, "doc_id", "text", k = 5, threshold = 0.2)
        .orderBy("id1", "id2")
    }),

    // connected components over the near-dup pair graph (transitive
    // closure: A~B, B~C ⇒ one cluster even if A,C never matched).
    // Self-loops make every doc a node so singletons stay visible; the
    // oracle replays the closure with a recursive CTE.
    "q_dup_components" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 100)
      val pairs = Similarity.ngramJaccard(docs, "doc_id", "text", k = 5, threshold = 0.2)
        .select(col("id1").as("src"), col("id2").as("dst"))
      val edges = pairs.union(docs.select(col("doc_id").as("src"), col("doc_id").as("dst")))
      graft.ops.ConnectedComponents.components(edges)
        .groupBy("component").agg(count(lit(1)).as("n_members"))
        .orderBy("component")
    }),

    "dedup_minhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // persist the signature table — banding and both re-attach joins
      // read it; recomputing the minhash three times costs more than
      // the ~300B/doc of memory (at cluster scale: write it to parquet
      // once and share it across dedup runs). md5-derived signatures +
      // md5 band buckets so the DuckDB oracle replays the ENTIRE
      // pipeline (shingle → sig → band → pair → score) from raw text;
      // the native xxhash kernel path is parity-pinned in SimilaritySpec.
      val sigs = Similarity.minhashSignaturesMd5(docs, "doc_id", "text",
        k = 5, numHashes = 32).cache()
      Similarity.minhashPairsFromSigs(sigs, numHashes = 32, rowsPerBand = 8,
          threshold = 0.5, replayableBuckets = true)
        .orderBy("id1", "id2")
    }),

    // corpus-level near-dedup (minhash LSH + mega-cluster
    // representative linking): surviving doc count per lang
    "dedup_survivors" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // md5-signature variant of the full survivor pipeline (banding,
      // hot-bucket representative linking, pair victims, anti join) —
      // DuckDB replays every stage from raw text.
      val sigs = Similarity.minhashSignaturesMd5(docs, "doc_id", "text",
        k = 5, numHashes = 32).cache()
      Similarity.dropNearDuplicatesFromSigs(docs, "doc_id", sigs,
          numHashes = 32, rowsPerBand = 8, threshold = 0.8, maxBucket = 500,
          replayableBuckets = true)
        .groupBy("lang").agg(count(lit(1)).as("survivors"))
        .orderBy("lang")
    }),

    "dedup_simhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 1000)
      // 60-bit md5-token SimHash through the SAME banding/verify path
      // as the native 64-bit kernel — DuckDB recomputes hash, bands
      // and hamming from raw text.
      // cache: the banding derivation is referenced three times (hot
      // list + both sides of the candidate self-join) and each
      // reference would otherwise recompute the md5 token fold
      Similarity.simhashPairsFromHashes(
          Similarity.simhashMd5(docs, "doc_id", "text").cache(),
          maxHamming = 3, maxBucket = 500, bits = 60)
        .orderBy("id1", "id2")
    }),

    // -- similarity search ---------------------------------------- //

    "ann_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.bruteTopK(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .orderBy("query_id", "rnk")
    }),

    // metadata-filtered vector search: neighbors drawn only from the
    // even-label half of the corpus (pre-filter = exact recall; the
    // predicate prunes the scan before any distance is computed)
    "ann_filtered_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.bruteTopKFiltered(emb, emb.where(col("vec_id") < 5), "vec_id",
          "embedding", k = 10, predicate = col("label") % 2 === 0)
        .orderBy("query_id", "rnk")
    }),

    // per-label centroid cosines (label-noise/outlier curation):
    // integer-quantized exact centroid, round6'd cosine of every
    // vector to its class center
    "emb_centroid_outliers" -> ((s, dir) => {
      Ann.centroidCosines(t(s, dir, "embeddings"), "vec_id", "embedding",
          "label")
        .withColumn("is_outlier", col("cos_centroid") < 0.1)
        .orderBy("grp", "vid")
    }),

    // mutual-kNN clustering: components over reciprocal top-3 edges
    // at cosine >= 0.3 — density clustering without a cluster count
    "emb_knn_clusters" -> ((s, dir) => {
      Ann.mutualKnnClusters(t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 3, minCosine = 0.3)
        .groupBy("component").agg(count(lit(1)).as("n_members"))
        .orderBy("component")
    }),

    // k-NN graph: every vector's top-3 neighbors (exact form at this
    // scale; the cells/nprobe shuffled-join path is the scale shape)
    "ann_knn_graph" -> ((s, dir) => {
      Ann.knnGraph(t(s, dir, "embeddings"), "vec_id", "embedding", k = 3)
        .orderBy("query_id", "rnk")
    }),

    // intrinsic embedding quality #1 — neighbor purity by planted
    // label at k=3: the label-coherence readout a curation pipeline
    // dials dims/epochs against (EmbedEval rides knnGraph, so the
    // cells/nprobe scale path applies unchanged)
    "emb_neighbor_purity" -> ((s, dir) => {
      graft.ops.EmbedEval.neighborPurity(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label", k = 3)
    }),

    // intrinsic embedding quality #3 — 3COSADD analogy accuracy over
    // deterministic stride quadruples (a, a+1, a+7, a+8): grades the
    // LINEAR structure of the space; vocabulary-argmax with the
    // (cosine desc, id asc) tie order on round-6 cosines
    "emb_analogy_acc" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val quads = emb.select(col("vec_id").as("a"),
          (col("vec_id") + 1L).as("b"), (col("vec_id") + 7L).as("c"),
          (col("vec_id") + 8L).as("d"))
        .join(emb.select(col("vec_id").as("d")), "d") // gold must exist
      graft.ops.EmbedEval.analogyAccuracy(emb, "vec_id", "embedding", quads)
    }),

    // intrinsic embedding quality #2 — Spearman rank correlation
    // between a gold similarity (label distance) and model cosine
    // over a deterministic stride pair set (equi-joins, no pair
    // cross join; min-rank convention, exact-integer Σd²)
    "emb_sim_rank_corr" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val a = emb.select(col("vec_id").as("a_id"),
        col("embedding").as("a_vec"), col("label").as("a_lbl"))
      val b = emb.select(col("vec_id").as("b_id"),
        col("embedding").as("b_vec"), col("label").as("b_lbl"))
      val pairs = a
        .withColumn("st", explode(array(lit(1L), lit(7L), lit(31L), lit(101L))))
        .withColumn("b_id", col("a_id") + col("st"))
        .join(b, "b_id")
        .select(
          (-abs(col("a_lbl") - col("b_lbl"))).cast("long").as("gold"),
          round(Ann.cosine(col("a_vec"), col("b_vec")), 6).as("model"))
      graft.ops.EmbedEval.spearman(pairs, "gold", "model")
    }),

    // hard-negative mining (retrieval-training triplets): rank-1 is
    // the positive, ranks 4-8 the negatives (skip band 3 guards
    // against unlabeled duplicates); one ranking pass serves both
    "emb_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.mineHardNegatives(emb, emb.where(col("vec_id") < 5), "vec_id",
          "embedding", numNegatives = 5, skipTop = 3)
        .orderBy("query_id", "neg_rank")
    }),

    // embedding-cosine near-duplicate pairs: threshold form of the
    // brute pass — deterministic (no top-k selection instability).
    "emb_near_dup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.cosineNeighbors(emb, emb.where(col("vec_id") < 50), "vec_id", "embedding",
          threshold = 0.3)
        .orderBy("query_id", "neighbor_id")
    }),

    "ann_lsh_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // md5-seeded hyperplanes (replayable = true) so the DuckDB
      // oracle recomputes bucket assignment + probe from the raw
      // vectors; the native LshBucket64 path is parity-pinned in
      // AnnSpec.
      Ann.lshTopK(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, numPlanes = 8, replayable = true)
        .orderBy("query_id", "rnk")
    }),

    "ann_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.ivfTopK(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, numCells = 16, nprobe = 4)
        .orderBy("query_id", "rnk")
    }),

    // two-level (coarse→fine) IVF: deterministic md5-ordered seed
    // split into 4 coarse + 4×4 round-robin fine centroids, gated
    // assignment, joint-score probe ranking — DuckDB replays the
    // whole hierarchy
    "ann_ivf2_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.ivfTopK2(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, numCoarse = 4, numFine = 4, nCoarseProbe = 3, nprobe = 6)
        .orderBy("query_id", "rnk")
    }),

    // -- text analysis --------------------------------------------- //

    "text_token_counts" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
          TextAnalysis.bpeishTokenCount(col("text")).as("bpeish_tokens"))
        .orderBy("doc_id")
    }),

    "text_quality" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }),

    "text_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    }),

    // accent folding over the natural corpus plus planted diacritic
    // rows (the corpus is ASCII-heavy; the plants make the oracle
    // exercise real folds, stroke-letter survivors, and kana dakuten)
    "text_fold_accents" -> ((s, dir) => {
      import s.implicits._
      val planted = Seq(
        (9200001L, "café naïve señor Müller Zürich Ångström"),
        (9200002L, "ølsen Łódź stays partly"),
        (9200003L, "クラブ dakuten folds too"),
        (9200004L, "plain ascii unchanged")
      ).toDF("doc_id", "text")
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionAll(planted)
        .select(col("doc_id"),
          TextAnalysis.foldAccents(col("text")).as("folded"))
        .orderBy("doc_id")
    }),

    // line unwrap / dehyphenation — the post-processing every
    // PDF/fixed-width extraction needs; planted wrapped docs make the
    // oracle exercise hyphen joins, CRLF normalization, and paragraph
    // preservation deterministically.
    "text_unwrap" -> ((s, dir) => {
      import s.implicits._
      val planted = Seq(
        (9100001L, "This is an exam-\nple of hyphen-\nated line wraps.\n\nNew para-\ngraph here."),
        (9100002L, "CRLF line one\r\nline two\r\n\r\nsecond para"),
        (9100003L, "already one line"),
        (9100004L, "trailing spaces  \n   \nnext para")
      ).toDF("doc_id", "text")
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionAll(planted)
        .select(col("doc_id"),
          TextAnalysis.unwrapLines(col("text")).as("unwrapped"))
        .orderBy("doc_id")
    }),

    "text_lang_id" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionAll(langPlanted.toDF("doc_id", "text"))
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_guess"))
        .orderBy("doc_id")
    }),

    // vocabulary building: global token frequencies, top-50. The
    // groupBy partial-aggregates map-side (token counts combine before
    // the shuffle) and the top-k is TakeOrderedAndProject — at corpus
    // scale only (token, count) pairs ever move.
    "q_vocab_top" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
        .where(length(col("token")) > 0)
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token").asc)
        .limit(50)
    }),

    // running (cumulative) aggregate — explicit ROWS frame so both
    // engines accumulate in the identical fully-specified order;
    // floor-stabilized like q_percentiles.
    "q_running_total" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders").where(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"),
          (floor(sum(col("o_totalprice")).over(w) * 100) / 100).as("running_spend"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "text_scrubbed" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          md5(TextAnalysis.scrubPii(col("text"))).as("scrubbed_fp"))
        .orderBy("doc_id")
    }),

    // Luhn-gated card-number scrubbing: plant valid (Visa/MC/Amex
    // test numbers, separator-formatted) and invalid digit runs on
    // deterministic doc subsets; only checksum-valid runs become
    // <CC>, order-id-like runs survive
    "text_cc_scrub" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val planted = concat(col("text"),
        when(col("doc_id") % 4 === 0,
          lit(" pay 4532-0151-1283-0366 now")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          lit(" ref 1234 5678 1234 5678 x")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          lit(" amex 374245455400126 end")).otherwise(lit("")))
      docs.select(col("doc_id"),
          size(TextAnalysis.ccCandidates(planted)).cast("long").as("n_cand"),
          size(TextAnalysis.ccValid(planted)).cast("long").as("n_valid"),
          TextAnalysis.scrubCc(planted).as("scrubbed"))
        .orderBy("doc_id")
    }),

    // cross-document duplicated-substring removal (Lee et al. 2022's
    // dedup target through the winnowing index): a license-style
    // boilerplate planted mid-text on every third doc must come out,
    // the doc's own text must survive — spans are df-gated selected
    // fingerprints merged per doc, strip reconstructs the survivors
    "text_substr_dedup" -> ((s, dir) => {
      val boiler = " This Software Is Provided As Is Without Warranty " +
        "Of Any Kind Express Or Implied "
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(substring(col("text"), 1, 40), lit(boiler),
              expr("substring(text, 41)")))
            .otherwise(col("text")).as("text"))
      graft.text.Winnowing.stripDuplicateSpans(docs, "doc_id", "text",
          k = 20, w = 8, minDf = 10)
        .select(col("id").as("doc_id"), col("cleaned"),
          col("n_spans"), col("removed_chars"))
        .orderBy("doc_id")
    }),

    // boilerplate forensics: the most-duplicated substrings of the
    // corpus, two planted boilers (every 3rd / every 5th doc) must
    // dominate the report with their exact doc counts
    "text_top_boilerplate" -> ((s, dir) => {
      val boiler1 = " This Software Is Provided As Is Without Warranty " +
        "Of Any Kind Express Or Implied "
      val boiler2 = " Subscribe To Our Newsletter For Updates And Offers "
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(
            when(col("doc_id") % 3 === 0,
              concat(substring(col("text"), 1, 40), lit(boiler1),
                expr("substring(text, 41)")))
              .otherwise(col("text")),
            when(col("doc_id") % 5 === 0, lit(boiler2)).otherwise(lit("")))
            .as("text"))
      graft.text.Winnowing.topDuplicateSubstrings(docs, "doc_id", "text",
        k = 20, w = 8, minDf = 10, topK = 15)
    }),

    // IBAN scrubbing (the CC-scrub discipline for bank accounts):
    // plant checksum-valid printed/compact/letter-bearing IBANs and a
    // one-digit near-miss on deterministic doc subsets; only ISO
    // 13616 mod-97-valid candidates become <IBAN>
    "text_iban_scrub" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val planted = concat(col("text"),
        when(col("doc_id") % 4 === 0,
          lit(" wire DE89 3704 0044 0532 0130 00 today")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          lit(" acct GB29NWBK60161331926819 ref")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          lit(" bad DE89 3704 0044 0532 0130 01 nope")).otherwise(lit("")),
        when(col("doc_id") % 9 === 0,
          lit(" fr FR14 2004 1010 0505 0001 3M02 606 fin")).otherwise(lit("")))
      docs.select(col("doc_id"),
          size(TextAnalysis.ibanCandidates(planted)).cast("long").as("n_cand"),
          size(TextAnalysis.ibanValidIn(planted)).cast("long").as("n_valid"),
          TextAnalysis.scrubIban(planted).as("scrubbed"))
        .orderBy("doc_id")
    }),

    // cross-document line dedup (CCNet-style boilerplate removal):
    // docs re-lined deterministically (10-word content lines) with a
    // planted cookie banner on even ids and a per-source footer —
    // corpus-frequent lines (df >= 5) vanish, content survives in
    // order. Output fingerprints the rewritten text.
    "text_line_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val content = expr("array_join(transform(" +
        "sequence(1, cast(ceil(size(split(text, ' ')) / 10.0) as int)), " +
        "i -> array_join(slice(split(text, ' '), (i-1)*10+1, 10), ' ')), '\n')")
      val full = concat(
        when(col("doc_id") % 2 === 0, lit("PLEASE ACCEPT COOKIES\n"))
          .otherwise(lit("")),
        content, lit("\nfooter of "), col("source"))
      graft.text.LineDedup.dedupLines(
          docs.select(col("doc_id"), full.as("text")),
          "doc_id", "text", minDf = 5)
        .select(col("doc_id"), md5(col("text")).as("fp"), col("n_lines_kept"))
        .orderBy("doc_id")
    }),

    // URL normalization + host + registered domain (UrlOps): the
    // web-crawl front door. URLs synthesized deterministically from
    // (doc_id, source) with the messy bits pipelines actually see —
    // uppercase authority, explicit :443, trailing slash, utm params,
    // fragments — identically in both engines.
    "url_normalize" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val url = concat(lit("HTTPS://www."), col("source"),
        when(col("doc_id") % 3 === 0, lit(".co.uk")).otherwise(lit(".com")),
        lit(":443/Page/"), col("doc_id").cast("string"),
        when(col("doc_id") % 7 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 2 === 0,
          concat(lit("?utm_source=x&n="), col("doc_id").cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("#frag")).otherwise(lit("")))
      docs.select(col("doc_id"), url.as("u"))
        .select(col("doc_id"),
          graft.text.UrlOps.normalizeUrl(col("u")).as("url_norm"),
          graft.text.UrlOps.host(col("u")).as("host"))
        .withColumn("domain", graft.text.UrlOps.registeredDomainPsl(col("host")))
        .orderBy("doc_id")
    }),

    // exact URL dedup: groups of 10 docs share a landing page behind
    // authority-case / tracking-param / fragment variants; min-id
    // survivor per normalized URL
    "url_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = (col("doc_id") - col("doc_id") % 10).cast("string")
      val url = concat(
        when(col("doc_id") % 3 === 0, lit("HTTPS://WWW."))
          .otherwise(lit("https://www.")),
        lit("site"), ((col("doc_id") - col("doc_id") % 10) % 7).cast("string"),
        lit(".com/page/"), base,
        when(col("doc_id") % 2 === 0,
          concat(lit("?utm_source=s"), col("doc_id").cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("#f")).otherwise(lit("")))
      graft.text.UrlOps.dedupByUrl(
          docs.select(col("doc_id"), url.as("url")), "doc_id", "url")
        .select("doc_id", "url").orderBy("doc_id")
    }),

    // per-registered-domain cap: at most 3 docs per eTLD+1, chosen by
    // the content-keyed md5 order (replayable)
    "url_domain_cap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val url = concat(lit("https://www."), col("source"),
        when(col("doc_id") % 3 === 0, lit(".co.uk")).otherwise(lit(".com")),
        lit("/page/"), col("doc_id").cast("string"))
      graft.text.UrlOps.perDomainCap(
          docs.select(col("doc_id"), url.as("url")), "doc_id", "url", cap = 3)
        .select(col("doc_id"), col("domain"))
        .orderBy("domain", "doc_id")
    }),

    // END-TO-END CRAWL PIPELINE (the composed front door, verified as
    // one query): crawl records (url, html) → URL dedup (normalize,
    // min-id survivor) → HTML→text strip → token-count gate → exact
    // content dedup (fingerprint min-id) → per-domain cap. Groups of
    // 4 docs share a landing page behind case/tracking/fragment
    // variants; every 10th doc carries a boilerplate body that
    // collapses in content dedup; the cap rides the payload-carrying
    // heap. Each stage reuses its individually-proven oracle fragment.
    "q_crawl_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = (col("doc_id") - col("doc_id") % 4).cast("string")
      val url = concat(
        when(col("doc_id") % 2 === 0, lit("HTTPS://www."))
          .otherwise(lit("https://www.")),
        col("source"),
        when(col("doc_id") % 3 === 0, lit(".co.uk")).otherwise(lit(".com")),
        lit("/p/"), base,
        when(col("doc_id") % 2 === 0, lit("?utm_source=x")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("#f")).otherwise(lit("")))
      val body = when(col("doc_id") % 10 === 9,
        lit("standard cookie banner page")).otherwise(col("text"))
      val html = concat(lit("<html><body><h1>"), col("source"),
        lit("</h1><p>"), body, lit("</p><script>x()</script></body></html>"))
      val crawl = docs.select(col("doc_id"), url.as("url"), html.as("html"))
      val urlDeduped = graft.text.UrlOps.dedupByUrl(crawl, "doc_id", "url")
      val stripped = urlDeduped.withColumn("clean",
        graft.text.Html.stripHtml(col("html")))
      val gated = stripped.where(TextAnalysis.wsTokenCount(col("clean")) >= 25)
      // one-pass min-id survivor per fingerprint: the earlier
      // groupBy+semi-join re-executed the whole upstream subtree
      // (urldedup+stripHtml+gate) on BOTH sides of the join
      val unique = graft.ops.Dedup.keepFirstPerKey(gated,
        TextAnalysis.fingerprint(col("clean")), "doc_id")
      graft.text.UrlOps.perDomainCap(unique, "doc_id", "url", cap = 3)
        .select(col("doc_id"), col("domain"),
          TextAnalysis.wsTokenCount(col("clean")).cast("long").as("n_tokens"))
        .orderBy("domain", "doc_id")
    }),

    // Gopher-style repetition filter: duplicate-token fraction per doc
    // encoding-damage detection: plant latin-1 mojibake pairs and
    // replacement chars on a deterministic doc subset; clean docs must
    // score exactly 0
    "text_mojibake" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val damaged = concat(col("text"),
        when(col("doc_id") % 4 === 0,
          lit(" caf\u00C3\u00A9 don\u00C2\u00A0t")).otherwise(lit("")),
        when(col("doc_id") % 10 === 0,
          lit(" bad\uFFFDchar")).otherwise(lit("")))
      docs.select(col("doc_id"),
          TextAnalysis.mojibakeScore(damaged).as("moji_score"))
        .orderBy("doc_id")
    }),

    // domain-blocklist gate: registered-domain (PSL) membership drop,
    // subdomains of listed domains included
    "url_blocklist" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val url = concat(lit("https://"),
        when(col("doc_id") % 5 === 0, lit("sub.spam-domain.com"))
          .when(col("doc_id") % 7 === 0, lit("www.bad-site.co.uk"))
          .otherwise(concat(lit("www."), col("source"), lit(".com"))),
        lit("/p/"), col("doc_id").cast("string"))
      graft.text.UrlOps.filterBlockedDomains(
          docs.select(col("doc_id"), url.as("url")),
          "url", Seq("spam-domain.com", "bad-site.co.uk"))
        .orderBy("doc_id")
    }),

    "text_repetition" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.repetitionRatio(col("text")).as("rep_ratio"))
        .orderBy("doc_id")
    }),

    // sentence segmentation: planted terminal punctuation, RE2-safe
    // marker split (no lookbehind), per-doc count/first/mean-length
    "text_sentences" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val planted = concat(lit("First about "), col("source"),
        lit(". Second has id "), col("doc_id").cast("string"),
        lit("! Does it work? Tail of "), col("lang"))
      val sents = TextAnalysis.sentences(planted)
      val total = aggregate(sents, lit(0L), (a, x) => a + length(x))
      docs.select(col("doc_id"),
          size(sents).cast("long").as("n_sents"),
          element_at(sents, 1).as("first_sent"),
          (floor(total.cast("double") / size(sents) * 10000) / 10000)
            .as("mean_sent_chars"))
        .orderBy("doc_id")
    }),

    // HTML → text: wrap each doc in deterministic markup (title,
    // style block, comment, entities, trailing script) and strip it
    // back to prose with the RE2-safe regexp chain
    "html_text" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title><style type=\"text/css\">body { color: red; }" +
          "</style></head><body><!-- boilerplate comment --><h1>"),
        col("source"),
        lit("</h1><p>"), col("text"),
        lit(" A &amp; B &lt;tag&gt;</p>" +
          "<script>var x = 1 < 2;</script></body></html>"))
      docs.select(col("doc_id"), graft.text.Html.stripHtml(html).as("clean"))
        .orderBy("doc_id")
    }),

    // domain-level link graph from embedded hrefs: absolute http(s)
    // targets only, src/dst collapsed to eTLD+1, edge weights — the
    // PageRank input shape for a crawl
    "html_links" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val html = concat(
        lit("<p>x</p><a href=\"https://news.example"),
        when(col("doc_id") % 3 === 0, lit(".co.uk")).otherwise(lit(".com")),
        lit("/a/"), col("doc_id").cast("string"), lit("\">n</a>"),
        when(col("doc_id") % 2 === 0,
          concat(lit("<a href='http://blog.partner"),
            (col("doc_id") % 5).cast("string"), lit(".com/x'>b</a>")))
          .otherwise(lit("")),
        lit("<a href=\"/local/page\">rel</a><a href=\"mailto:a@b.c\">m</a>"))
      val d = docs.select(col("doc_id"),
        concat(lit("https://www."), col("source"), lit(".com/p/"),
          col("doc_id").cast("string")).as("url"),
        html.as("html"))
      graft.text.Html.domainLinkGraph(d, "doc_id", "html", "url")
        .orderBy("src_domain", "dst_domain")
    }),

    // Unicode-canonical fingerprinting: both a composed (U+00E9) and a
    // decomposed (e + U+0301) "café" are appended to every doc, so the
    // fingerprints only match the oracle if BOTH engines NFC-normalize
    // identically (UAX#15) — the ASCII corpus alone would not exercise
    // the normalizer.
    "text_fingerprint_nfc" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.canonicalFingerprint(
          concat(col("text"), lit(" cafe\u0301 caf\u00e9"))).as("nfc_fp"))
        .orderBy("doc_id")
    }),

    // BM25 relevance scoring against a seed-term bag — per-(doc, term)
    // partial scores (floor-quantized; the oracle replays tokenize →
    // df → idf → tf-norm from raw text with the identical left-to-
    // right association).
    "text_bm25" -> ((s, dir) => {
      graft.text.Bm25.scoreTerms(t(s, dir, "documents"), "doc_id", "text",
          Seq("spark", "stream", "vector"))
        .orderBy("doc_id", "token")
    }),

    // summed BM25 ranking — the form users call. Replayable since r7:
    // the per-term partials are floor-quantized to 1e-4 as INTEGERS
    // and summed as integers (order-independent), divided once.
    "text_bm25_ranked" -> ((s, dir) => {
      graft.text.Bm25.rank(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "stream", "vector"))
    }),

    // deterministic exact-k-per-group sampling (reservoir shape):
    // md5-rank rows within each lang, keep the 5 smallest — selection
    // via the mergeable bounded-heap aggregate, no window shuffle
    "q_sample_per_lang" -> ((s, dir) => {
      graft.ops.Sampling.kPerGroup(t(s, dir, "documents"), "lang", "doc_id", k = 5)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    }),

    // SEMANTIC decontamination: corpus embeddings within cosine 0.35
    // of any probe embedding (vec_id < 20 stands in for an embedded
    // benchmark) — the paraphrase-robust complement to the n-gram
    // check. Probes broadcast; the corpus scans once, narrow.
    "decontam_semantic" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ops.Decontaminate.semanticOverlaps(
          emb.where(col("vec_id") >= 20), emb.where(col("vec_id") < 20),
          "vec_id", "embedding", threshold = 0.35)
        .orderBy("vec_id")
    }),

    // benchmark decontamination: corpus docs sharing >=1 distinct
    // 4-word-gram with the probe set (doc_id < 20 stands in for a
    // benchmark). Probe grams broadcast; the corpus never shuffles —
    // only actual hits aggregate.
    "decontam_overlap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Decontaminate.overlaps(
          docs.where(col("doc_id") >= 20), docs.where(col("doc_id") < 20),
          "doc_id", "text", n = 4, minHits = 1L)
        .orderBy("doc_id")
    }),

    // Bloom-prefiltered decontamination: same answer as
    // decontam_overlap by construction (false positives die in the
    // exact verify join), same oracle — the artifact equality IS the
    // correctness proof of the Bloom path.
    "decontam_overlap_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Decontaminate.overlapsBloom(
          docs.where(col("doc_id") >= 20), docs.where(col("doc_id") < 20),
          "doc_id", "text", n = 4, minHits = 1L,
          expectedItems = 100000L, fpp = 0.01)
        .orderBy("doc_id")
    }),

    // unigram-LM mean log-prob per doc (perplexity-filter family):
    // Laplace-smoothed self-scoring; per-token log-probs quantized to
    // integer 1e-4 partials so the per-doc sum is order-independent
    // and the oracle replays it exactly.
    "text_unigram_lp" -> ((s, dir) => {
      graft.text.UnigramLm.scoreSelf(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // bigram LM with interpolated unigram backoff (the CCNet-style
    // perplexity gate one rung up from text_unigram_lp): per-pair
    // p = λ·ml + (1−λ)·laplace, floor-1e-4 integer quantization
    // before the per-doc mean
    "text_bigram_lp" -> ((s, dir) => {
      graft.text.BigramLm.scoreSelf(t(s, dir, "documents"), "doc_id", "text", 0.8)
        .orderBy("doc_id")
    }),

    // trainable Naive-Bayes filter (the fastText-quality-classifier
    // move): fit token class counts against the lang='en' seed label,
    // score every doc's class log-likelihood ratio. Per-token
    // log-probs quantized to integer 1e-4 per class BEFORE the
    // subtraction and per-doc sum, so the logit and the keep decision
    // replay exactly.
    "text_nb_filter" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("is_en", col("lang") === "en")
      graft.text.NbClassifier.scoreSelf(d, "doc_id", "text", "is_en")
        .orderBy("doc_id")
    }),

    // Gopher-style quality-rule bundle: word-count band, mean word
    // length band, alphabetic-word fraction, duplicate-bigram
    // fraction, and the combined keep decision. All metrics are
    // floor-quantized scan-speed column expressions (no shuffle), so
    // the keep decision replays bit-identically in any engine.
    "text_gopher_flags" -> ((s, dir) => {
      import graft.text.TextAnalysis._
      // keep derives from the four already-computed quantized columns
      // (same shape as the oracle) — re-invoking gopherKeep(text) here
      // would re-evaluate every tokenization lambda a second time
      t(s, dir, "documents").select(col("doc_id"),
          wsTokenCount(col("text")).cast("long").as("n_words"),
          meanWordLen(col("text")).as("mean_word_q"),
          alphaWordFrac(col("text")).as("alpha_frac_q"),
          dupNgramFrac(col("text"), 2).as("dup_bigram_q"))
        .withColumn("keep",
          col("n_words").between(30, 100000) &&
            col("mean_word_q").between(4.0, 10.0) &&
            col("alpha_frac_q") >= 0.8 && col("dup_bigram_q") <= 0.05)
        .orderBy("doc_id")
    }),

    // weighted k-per-group sample (Efraimidis–Spirakis derandomized):
    // longer docs (n_chars weight) are proportionally likelier; the
    // bounded-heap aggregate keeps selection map-side.
    "q_weighted_sample" -> ((s, dir) => {
      graft.ops.Sampling.weightedKPerGroup(t(s, dir, "documents"),
          "lang", "doc_id", "n_chars", k = 3)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    }),

    // per-language token-budget cap: keep docs in deterministic
    // hash order while the language's running token total fits the
    // budget — the "N tokens per source" recipe step. Window per
    // group; inclusive running total ⇒ hard cap.
    "q_token_budget" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("n_tokens",
        graft.text.TextAnalysis.wsTokenCount(col("text")))
      graft.ops.Sampling.tokenBudget(docs, "lang", "doc_id", "n_tokens",
          budget = 3000L)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("tokens"))
        .orderBy("lang")
    }),

    // END-TO-END LLM data recipe, composed from the r7 operators and
    // verified as ONE query: Gopher quality gate → exact dedup on the
    // NFC-canonical fingerprint (keep min doc_id) → mix languages to
    // target proportions → cap each language at a token budget →
    // per-language doc/token counts. Every stage is individually
    // oracle-checked elsewhere; this entry proves they COMPOSE with
    // replayable parity — the form a real pipeline runs.
    "q_recipe_pipeline" -> ((s, dir) => {
      import graft.text.TextAnalysis._
      val docs = t(s, dir, "documents")
      val kept = docs.where(gopherKeep(col("text")))
      // exact dedup: min doc_id per canonical fingerprint. CACHE the
      // fingerprinted frame: it feeds BOTH dedup-join sides (reps
      // derives from it) and two actions (mix's sizes aggregate + the
      // final run) — uncached, the gopher lambdas + NFC normalize +
      // md5 would execute up to 4x (measured 5.6x scale ratio at 10x
      // data before this barrier; at cluster scale persist to storage)
      val fp = kept.select(col("doc_id"), col("lang"), col("text"),
        canonicalFingerprint(col("text")).as("fp")).cache()
      val reps = fp.groupBy("fp").agg(min("doc_id").as("doc_id"))
      val deduped = fp.join(reps, Seq("fp", "doc_id")).drop("fp")
      val mixed = graft.ops.Sampling.mix(deduped, "lang", "doc_id",
        Map("en" -> 0.5, "de" -> 0.125, "es" -> 0.125,
          "fr" -> 0.125, "zh" -> 0.125),
        replayable = true)
      val withTok = mixed.withColumn("n_tokens", wsTokenCount(col("text")))
      graft.ops.Sampling.tokenBudget(withTok, "lang", "doc_id", "n_tokens",
          budget = 2000L)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("tokens"))
        .orderBy("lang")
    }),

    // asymmetric n-gram containment: |A∩B|/|A| — the doc-inside-doc
    // signature (quotes, concatenated crawls) symmetric Jaccard
    // misses. Subset to 100 docs like ngram_jaccard_pairs: the
    // synthetic word-soup corpus has a TINY char-5-gram alphabet, so
    // at 50k docs the gram×doc matrix is dense and ANY exact
    // inverted-index pair join tends to n² (measured: a wedged 10-min
    // single task at sf0.1). Corpus-scale containment goes through
    // maxDf capping + MinHash/LSH prefiltering (dedup_survivors), not
    // the exact index; this entry verifies the containment math.
    // planted snippets (prefix of each long ASCII doc, id+1000) make
    // the oracle non-vacuous: a prefix's distinct 5-grams are a subset
    // of its parent's, so every snippet yields a containment-1.0 pair —
    // the corpus alone has no pairs at 0.8 and a 0-row artifact gates
    // nothing. ASCII-only keeps substring semantics engine-identical.
    "ngram_containment_pairs" -> ((s, dir) => {
      val docs = containmentCorpus(t(s, dir, "documents"))
      Similarity.ngramContainment(docs, "doc_id", "text",
          k = 5, threshold = 0.8)
        .orderBy("id1", "id2")
    }),

    // prefix-filtered containment (guaranteed recall incl. tiny-in-
    // huge subset pairs): same exact semantics as ngram_containment —
    // identical oracle — reached through df-ordered prefix candidates
    // instead of the full inverted index.
    "ngram_containment_prefix" -> ((s, dir) => {
      val docs = containmentCorpus(t(s, dir, "documents"))
      Similarity.ngramContainmentPrefix(docs, "doc_id", "text",
          k = 5, threshold = 0.8)
        .orderBy("id1", "id2")
    }),

    // SemDeDup-style semantic dedup: LSH-bucket blocking → within-
    // bucket cosine threshold pairs → CC closure → min-id survivors.
    // Surviving count per label; md5 planes so DuckDB replays the
    // whole pipeline including the recursive closure.
    "emb_semantic_survivors" -> ((s, dir) => {
      Ann.semanticSurvivors(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.4, numPlanes = 4, replayable = true)
        .groupBy("label").agg(count(lit(1)).as("n_survivors"))
        .orderBy("label")
    }),

    // hashing-trick TF-IDF featurization: fixed-dim sparse vectors,
    // no vocabulary table (collisions add). Integer 1e-4 weight
    // partials summed per bucket — order-independent, replayable.
    "text_tfidf_hashed" -> ((s, dir) => {
      graft.text.TfIdf.hashedTfIdf(t(s, dir, "documents"), "doc_id", "text",
          dim = 64, replayable = true)
        .orderBy("doc_id", "bucket")
    }),

    // ROUGE-2 clipped bigram overlap on adjacent-id doc pairs — the
    // Lin 2004 metric as integer counts (recall = n_match/n_ref);
    // clipped min() counts, left join keeps zero-overlap pairs.
    "q_rouge_adjacent" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = docs.select(col("doc_id"), col("text").as("ref"))
        .join(docs.select((col("doc_id") - 1).as("doc_id"),
          col("text").as("cand")), "doc_id")
      graft.text.Rouge.rougeN(pairs, "doc_id", "ref", "cand", n = 2)
        .orderBy("doc_id")
    }),

    // DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    // bag; target = the English slice, raw = whole corpus. Per-bucket
    // log-ratios floor-quantized to 1e-6 integers BEFORE the per-doc
    // sum, so the sum is order-independent and replayable.
    "text_dsir_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Dsir.importanceWeights(docs,
          docs.where(col("lang") === "en"),
          "doc_id", "text", dim = 256, replayable = true)
        .orderBy("doc_id")
    }),

    // DSIR resampling: derandomized Gumbel top-k over the importance
    // weights — k docs sampled without replacement from softmax(lw),
    // selection integer-ranked so every engine picks the same set.
    "q_dsir_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Dsir.resample(docs,
          docs.where(col("lang") === "en"),
          "doc_id", "text", dim = 256, k = 50, replayable = true)
        .select("doc_id", "lw_q", "score_q")
        .orderBy("doc_id")
    }),

    // dataset mixing: downsample each language so the output matches
    // target proportions (training-data recipe step). Rates solve
    // from observed stratum sizes (one tiny aggregate); the keep
    // decision is a content-hash threshold — a pure filter, no
    // shuffle of the corpus. Power-of-two weights normalize exactly,
    // so driver and oracle compute bit-identical rates.
    "q_mixture_sample" -> ((s, dir) => {
      graft.ops.Sampling.mix(t(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> 0.5, "de" -> 0.125, "es" -> 0.125,
            "fr" -> 0.125, "zh" -> 0.125),
          replayable = true)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
        .orderBy("lang")
    }),

    // epoch-style upsampling: en ×2.5 (2 full copies + half get a
    // third), de ×2, others pass at 1×; epoch column distinguishes
    // copies; fractional draw is the replayable md5 gate
    "q_upsample_epochs" -> ((s, dir) => {
      graft.ops.Sampling.upsample(t(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> 2.5, "de" -> 2.0), replayable = true)
        .groupBy("lang").agg(count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_docs"),
          max(col("epoch")).as("max_epoch"))
        .orderBy("lang")
    }),

    // temperature-flattened mixture (output ∝ size^0.5): the
    // multilingual rebalancing move; rates solved from observed sizes
    // via sqrt (IEEE-exact both engines) with unnormalized weights,
    // md5-threshold keep — fully replayable
    "q_temperature_mix" -> ((s, dir) => {
      graft.ops.Sampling.temperatureMix(t(s, dir, "documents"), "lang",
          "doc_id", alpha = 0.5, replayable = true)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
        .orderBy("lang")
    }),

    // dominant-writing-system detection (charset routing for
    // multilingual corpora). The corpus is ASCII word soup, so the
    // query rotates injected samples across docs (doc_id % 7) to
    // exercise every script branch plus the no-script 'other' case.
    "text_script_id" -> ((s, dir) => {
      val input = element_at(array(
          col("text"),            // 0: the doc's own latin text
          lit("123 456 !!!"),     // 1: no script chars → other
          lit("мир и труд май"),  // 2: cyrillic
          lit("你好世界 こんにちは"), // 3: cjk
          lit("مرحبا بالعالم"),    // 4: arabic
          lit("αβγ δεζ ηθι"),     // 5: greek
          lit("안녕하세요 세계")),  // 6: hangul
        (col("doc_id") % 7 + 1).cast("int"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.text.TextAnalysis.scriptId(input).as("script"))
        .orderBy("doc_id")
    }),

    // top-k per group via the mergeable bounded-heap aggregate
    // (graft.expr.TopKByScore): map-side partials mean at most k
    // entries per (group x task) reach the shuffle — the scale-safe
    // form of the window row_number pattern. Oracle replays with a
    // window; the aggregate's (score desc, id asc) order matches.
    "q_topk_brand_parts" -> ((s, dir) => {
      t(s, dir, "part")
        .groupBy(col("p_brand"))
        .agg(graft.expr.TopKByScore.topKBy(
          col("p_retailprice").cast("double"), col("p_partkey").cast("long"), 3).as("top"))
        .select(col("p_brand"), posexplode(col("top")))
        .select(col("p_brand"), (col("pos") + 1).cast("int").as("rnk"),
          col("col.id").as("p_partkey"),
          (floor(col("col.score") * 100) / 100).as("price"))
        .orderBy("p_brand", "rnk")
    }),

    // symmetric int8 embedding quantization (native one-pass kernel):
    // 4x storage cut, dequant error <= scale/2 per element. floor(x +
    // 0.5) half-up spelling makes the rounding engine-exact.
    "emb_quantize_int8" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          graft.expr.QuantizeInt8.quantizeInt8(col("embedding")).as("qz"))
        // the array travels as a comma-joined string: the driver's
        // row-hash compare handles scalars only
        .select(col("vec_id"), col("qz.scale").as("scale"),
          concat_ws(",", col("qz.q").cast("array<string>")).as("qvec"))
        .orderBy("vec_id")
    }),

    // cross-corpus repeated-span removal (C4/RefinedWeb boilerplate
    // rule over 20-word windows): spans seen in >= 2 distinct docs are
    // removed from every doc, survivors reassembled in order. The hot
    // set is Zipf-small → AQE-broadcast anti join, never corpus².
    "text_span_dedup" -> ((s, dir) => {
      graft.text.SpanDedup.removeRepeatedSpans(t(s, dir, "documents"),
          "doc_id", "text", w = 20, minDocs = 2)
        .orderBy("doc_id")
    }),

    // CCNet-style head/middle/tail quality bands: rank docs by the
    // unigram-LM mean log-prob WITHIN each language, cut into 3
    // equal-frequency buckets (exact ntile form — the KLL-sketch
    // scale path is benched as quality_buckets_native).
    "q_quality_buckets" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = graft.text.UnigramLm.scoreSelf(docs, "doc_id", "text")
        .join(docs.select("doc_id", "lang"), "doc_id")
      graft.ops.Quantiles.groupedBucketsExact(scored, "lang", "doc_id",
          "lp_avg", n = 3)
        .select("doc_id", "lang", "bucket")
        .orderBy("doc_id")
    }),

    // deterministic train/val/test split: membership is a pure
    // function of the doc id's content hash, so adding rows or
    // re-running never moves a document between splits. Narrow map;
    // the md5 2^40 fold replays in any engine.
    "q_split_assign" -> ((s, dir) => {
      graft.ops.Sampling.assignSplit(t(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("lang", "split").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "split")
    }),

    // BPE tokenizer induction, merge-step 0: corpus collapses to its
    // distinct word-frequency table (Zipf: |vocab| << |tokens|), the
    // char-pair explosion runs over the vocabulary only, counts
    // weight by word frequency, top-k = TakeOrdered.
    "text_bpe_pairs" -> ((s, dir) => {
      graft.text.Bpe.topPairs(t(s, dir, "documents"), "text", topK = 20)
    }),

    // JL random projection 64→16 (Achlioptas ±1 signs derived from
    // md5 — no model to ship; the matrix is a plan literal): narrow
    // codegen'd map, zero shuffle, 4x cheaper downstream distances.
    // Quantized left-to-right fold → DuckDB replays exact doubles.
    "emb_rp_project" -> ((s, dir) => {
      graft.ops.RandomProjection.project(t(s, dir, "embeddings"),
          "embedding", d = 64, k = 16)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("dim_j", "y_q")))
        .select(col("vec_id"), col("dim_j").cast("int").as("dim_j"), col("y_q"))
        .orderBy("vec_id", "dim_j")
    }),

    // embedding second moments (the covariance/PCA data path,
    // ops/Pca.scala): per-(i,j) sums of pairwise component products
    // over the corpus, upper triangle. REPLAYABLE formulation — each
    // term integer-quantized BEFORE the sum so engine summation order
    // cannot split a float boundary (native fast path is the
    // VectorOuterSum aggregate, pinned ≈ this form in PcaSpec). The
    // flatten/transform pair builds each row's outer product from the
    // plain embedding ATTRIBUTE (never a derived array — no
    // re-evaluation blowup), one narrow pass then one groupBy.
    "emb_second_moments" -> ((s, dir) => {
      // widenScan (r21): the dim² quantized outer product + 200M-row
      // explode ran as ONE task on the unsplittable local file (1.5 s
      // single-task stage); a properly-split corpus passes untouched
      graft.ops.Ann.widenScan(t(s, dir, "embeddings").select("embedding"))
        .select(posexplode(flatten(transform(col("embedding"), x =>
          transform(col("embedding"), y =>
            floor(x.cast("double") * y.cast("double") * 1e6).cast("long")))))
          .as(Seq("idx", "q")))
        .groupBy((col("idx") / 64).cast("int").as("i"),
          pmod(col("idx"), lit(64)).cast("int").as("j"))
        .agg(sum("q").as("sum_q"), count(lit(1)).as("n_vecs"))
        .where(col("i") <= col("j"))
        .orderBy("i", "j")
    }),

    // weekly cohort retention matrix: users grouped by first-seen
    // week, distinct-user counts per (cohort, week offset). Both
    // shuffles key on user_id (co-partitioned groupBy + join — one
    // exchange reused), final matrix is cohorts × offsets rows.
    "q_cohort_retention" -> ((s, dir) => {
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
    }),

    // EXACT thresholded all-pairs cosine over hashed TF-IDF (Bayardo
    // prefix filtering): pruning is result-transparent, so the oracle
    // is a brute-force replay — the pairs must match exactly. Subset
    // like the other exact-index pair queries (the synthetic corpus
    // is pathologically dense for exact indexes at 50k docs); the
    // scale story is the prefix bound itself, pinned in AllPairsSpec.
    "text_allpairs_cosine" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 100)
      graft.ops.AllPairs.cosinePairs(docs, "doc_id", "text", dim = 64,
          threshold = 0.6, replayable = true)
        .orderBy("id1", "id2")
    }),

    // integer PageRank over the undirected customer↔supplier purchase
    // graph, 3 fixed rounds: centrality = purchase-volume reach. All
    // arithmetic is integral ((r*85) div (100*deg), BIGINT sums) so
    // the oracle replays every round bit-for-bit, stage by stage.
    "q_pagerank_suppliers" -> ((s, dir) => {
      // distinct on the raw integer key pair (narrow, sortable) and
      // concat the string node ids after; both graph directions come
      // from ONE pass over the distinct pairs (explode), not a
      // self-union that would execute the join+distinct twice
      val pairs = t(s, dir, "orders").select("o_orderkey", "o_custkey")
        .join(t(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
        .distinct()
        .select(concat(lit("c"), col("ck")).as("c"),
          concat(lit("s"), col("sk")).as("s"))
      val edges = pairs.select(explode(array(
          struct(col("c").as("src"), col("s").as("dst")),
          struct(col("s").as("src"), col("c").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      graft.ops.PageRank.ranks(edges, iters = 3)
        .orderBy("node")
    }),

    // sharded-output manifest (the pipeline's last step): stable
    // content-hash shard membership + per-shard row count and an
    // order-independent XOR identity checksum — a narrow map and one
    // N-row aggregation; an external engine re-derives the whole
    // manifest from the data, which is the integrity property.
    "q_shard_manifest" -> ((s, dir) => {
      graft.ops.Shards.manifest(t(s, dir, "documents"), "doc_id",
          numShards = 8)
        .orderBy("shard")
    }),

    // -- classifier evaluation (graft.ops.Eval) -------------------- //
    // The measurement half of the quality-filter loop: score every doc
    // with the (SQL-replayable) heuristic quality signal, label with
    // the corpus ground truth lang=='en', and grade the score as an
    // English-quality classifier. All four reduce by DISTINCT score
    // first, so the per-example frame shuffles once into a frame the
    // size of the score codomain (here ≤10⁴ after the score's own
    // quantization) — the ranking windows never see corpus rows.

    "eval_quality_auc" -> ((s, dir) => {
      graft.ops.Eval.auc(evalScored(t(s, dir, "documents")), "score", "label")
    }),

    "eval_quality_roc" -> ((s, dir) => {
      graft.ops.Eval.rocPoints(evalScored(t(s, dir, "documents")), "score", "label")
        .orderBy("score")
    }),

    "eval_quality_calibration" -> ((s, dir) => {
      graft.ops.Eval.calibrationBins(evalScored(t(s, dir, "documents")),
          "score", "label", bins = 10)
        .orderBy("bin")
    }),

    "eval_quality_confusion" -> ((s, dir) => {
      graft.ops.Eval.confusionAt(evalScored(t(s, dir, "documents")),
          "score", "label", threshold = 0.7)
    }),

    // per-slice ranking audit: the same score/label graded WITHIN each
    // source — a filter that only works on average hides failing
    // slices; windows partition by the group, so slices rank parallel
    "eval_quality_auc_by_source" -> ((s, dir) => {
      graft.ops.Eval.aucByGroup(evalScored(t(s, dir, "documents")),
          "source", "score", "label")
        .orderBy("source")
    }),

    // the operating point: f1-maximizing threshold over the distinct
    // scores, lowest score on ties
    "eval_best_threshold" -> ((s, dir) => {
      graft.ops.Eval.bestThresholdByF1(evalScored(t(s, dir, "documents")),
          "score", "label")
    }),

    // average precision (PR-AUC): ΔRecall·Precision summed over the
    // distinct-score cuts, per-term integer-quantized at 1e-9 so the
    // BIGINT sum is partition-order-independent
    "eval_quality_pr" -> ((s, dir) => {
      graft.ops.Eval.averagePrecision(evalScored(t(s, dir, "documents")),
          "score", "label")
    }),

    // Kolmogorov-Smirnov separation: max |TPR - FPR| with the
    // attaining threshold, max'd on exact DECIMAL cross products
    "eval_quality_ks" -> ((s, dir) => {
      graft.ops.Eval.ksStatistic(evalScored(t(s, dir, "documents")),
          "score", "label")
    }),

    // decile lift/gains: equal-population score bands (ties never
    // split), per-band positive rate, lift over base, cumulative gain
    "eval_quality_lift" -> ((s, dir) => {
      graft.ops.Eval.liftTable(evalScored(t(s, dir, "documents")),
          "score", "label", buckets = 10)
        .orderBy("bucket")
    }),

    // Brier score + Murphy decomposition: is a bad probability score
    // miscalibrated (reliability) or undiscriminating (resolution)?
    "eval_quality_brier" -> ((s, dir) => {
      graft.ops.Eval.brierDecomposition(evalScored(t(s, dir, "documents")),
          "score", "label", bins = 10)
    }),

    // Benford first-digit audit of order amounts (cents): the
    // forensic fabricated-/capped-column smell test — per-digit
    // observed vs log10(1+1/d) expected shares
    "v_benford_prices" -> ((s, dir) => {
      graft.validate.Benford.audit(
          t(s, dir, "orders").select(
            floor(col("o_totalprice") * 100).cast("long").as("cents")),
          "cents")
        .orderBy("digit")
    }),

    // per-column distribution shape: skewness + excess kurtosis from
    // exact DECIMAL power sums, one wide aggregate for all columns
    "v_profile_moments" -> ((s, dir) => {
      graft.validate.Profiler.moments(t(s, dir, "customer"),
          Seq("c_acctbal", "c_nationkey"), quant = 100L)
        .orderBy("col_name")
    }),

    // sequential patterns over (user, day) event sessions: ordered
    // pairs a→b and triples a→b→c via per-(sequence, item) time
    // bounds — PrefixSpan's answer without projection state
    "q_seq_patterns" -> ((s, dir) => {
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
    }),

    // HyperLogLog register construction (the distributed half of the
    // sketch — hashing, bucketing, per-bucket max — in cross-engine
    // integer arithmetic; the float estimate is driver math pinned in
    // HllSketchSpec). One narrow projection + one bounded groupBy:
    // rows out ≤ 2^p whatever the input size.
    "q_hll_registers" -> ((s, dir) => {
      graft.expr.HllSketch.registersMd5(
          Tables.events(s, dir).select("user_id"), "user_id", p = 10)
        .orderBy("bucket")
    }),

    // -- global ordering (graft.ops.GlobalOrder) ------------------- //
    // Both orderings assign GLOBAL dense positions without a global
    // single-task sort: range exchange + per-bucket offsets + a
    // parallel bucket-partitioned rank. The oracle replays positions
    // with a plain row_number over the same key — engine-independent
    // because the order key is unique per row.

    "q_global_shuffle" -> ((s, dir) => {
      graft.ops.GlobalOrder.shuffled(
          t(s, dir, "documents").select("doc_id"), "doc_id", salt = 7L)
        .select("doc_id", "pos")
        .orderBy("doc_id")
    }),

    "q_curriculum_order" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        graft.text.TextAnalysis.qualityScore(col("text")).as("score"))
      graft.ops.GlobalOrder.byCurriculum(docs, "score", "doc_id")
        .select("doc_id", "pos")
        .orderBy("doc_id")
    }),

    // robots.txt admission end-to-end: parse a fixed two-group robots
    // body (wildcard group + agent-specific group) per domain, admit
    // synthesized URLs for both the '*' agent and the named agent.
    // The oracle is a double-entry expectation derived independently
    // from the rule semantics (the bank_gen_validate convention):
    // longest-match, allow-tie-win, and exact-group shadowing each
    // decide a residue class. Grammar edges live in RobotsSpec.
    "q_robots_filter" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val robotsTxt =
        "# corpus policy\nUser-agent: *\nDisallow: /private/\n" +
        "Allow: /private/open\nDisallow: /archive\n\n" +
        "User-agent: graftbot\nDisallow: /graft-only/\n"
      val robots = docs
        .select(concat(lit("www."), col("source"), lit(".com")).as("domain"))
        .distinct()
        .withColumn("txt", lit(robotsTxt))
      val urls = docs.select(col("doc_id"),
        concat(lit("https://www."), col("source"), lit(".com"),
          when(col("doc_id") % 5 === 0, concat(lit("/private/secret/"), col("doc_id")))
            .when(col("doc_id") % 5 === 1, concat(lit("/private/open/"), col("doc_id")))
            .when(col("doc_id") % 5 === 2, concat(lit("/archive/"), col("doc_id")))
            .when(col("doc_id") % 5 === 3, concat(lit("/graft-only/"), col("doc_id")))
            .otherwise(concat(lit("/page/"), col("doc_id")))).as("url"))
      val star = graft.text.Robots.annotateAllowed(urls, "url",
          graft.text.Robots.parseRules(robots, "domain", "txt", "*"))
        .withColumn("agent", lit("*"))
      val bot = graft.text.Robots.annotateAllowed(urls, "url",
          graft.text.Robots.parseRules(robots, "domain", "txt", "graftbot"))
        .withColumn("agent", lit("graftbot"))
      star.unionByName(bot)
        .select("agent", "doc_id", "allowed")
        .orderBy("agent", "doc_id")
    }),

    // word2vec skip-gram pairs after stream subsampling (t=0.05
    // thins only the most frequent words at this corpus size);
    // aggregated to pair counts >= 3 to bound the output
    "text_skipgram" -> ((s, dir) => {
      graft.text.SkipGram.trainingPairs(t(s, dir, "documents"),
          "doc_id", "text", window = 2, t = 0.05)
        .groupBy("center", "context").agg(count(lit(1)).as("n"))
        .where(col("n") >= 3)
        .orderBy("center", "context")
    }),

    // margin-based bitext mining over two disjoint embedding slices:
    // mutual-argmax pairs under the ratio margin (k=4 neighbor sums)
    "ann_bitext_pairs" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ops.Ann.mineBitext(
          emb.where(col("vec_id") < 40),
          emb.where(col("vec_id") >= 40 && col("vec_id") < 80),
          "vec_id", "embedding", k = 4)
        .orderBy("src_id", "tgt_id")
    }),

    // code/prose separation + code-quality signals over synthesized
    // markdown: every doc gets a python fence (comment line on %3),
    // %4 docs a second raw fence; prose fingerprint proves the strip,
    // flags run on the FIRST block
    "text_code_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val code = concat(lit("def f_"), col("doc_id").cast("string"),
        lit("(x):\n    return x * "), col("doc_id").cast("string"),
        when(col("doc_id") % 3 === 0, lit("\n# comment line"))
          .otherwise(lit("")))
      val md = concat(col("text"), lit("\n```python\n"), code,
        lit("\n```\nmore prose"),
        when(col("doc_id") % 4 === 0,
          concat(lit("\n```\nraw block with a very long line "),
            repeat(lit("x"), 130), lit("\n```")))
          .otherwise(lit("")))
      docs.select(col("doc_id"),
          size(graft.text.CodeText.codeFences(md)).as("n_blocks"),
          md5(graft.text.CodeText.stripCodeFences(md)).as("prose_fp"),
          graft.text.CodeText.codeFlags(
            element_at(graft.text.CodeText.codeFences(md), 1)).as("f"))
        .select(col("doc_id"), col("n_blocks"), col("prose_fp"), col("f.*"))
        .orderBy("doc_id")
    }),

    // GloVe distance-weighted co-occurrence (window 3, weights 6/3/2
    // over scale 6 — exact integers, BIGINT sums)
    "text_glove_cooc" -> ((s, dir) => {
      graft.text.SkipGram.weightedCooc(t(s, dir, "documents"),
          "doc_id", "text", window = 3)
        .where(col("n") >= 5)
        .orderBy("center", "context")
    }),

    // PMI collocations over unsubsampled window-2 pairs: n >= 5
    // bounds the output to real co-occurrences
    "text_pmi" -> ((s, dir) => {
      graft.text.SkipGram.pmi(
          graft.text.SkipGram.pairs(t(s, dir, "documents"), "doc_id", "text",
            window = 2))
        .where(col("n") >= 5)
        .orderBy("center", "context")
    }),

    // ordered-shard manifest: global md5 positions → arithmetic
    // shard ranges + XOR checksums, the auditor's recomputation of
    // what writeOrderedShards lays on disk
    "q_ordered_shards" -> ((s, dir) => {
      graft.ops.Shards.orderedManifest(
          t(s, dir, "documents").select("doc_id"), "doc_id",
          rowsPerShard = 64, salt = 5L)
        .orderBy("shard")
    }),

    // per-user EWMA of event values (α=0.25 — binary-exact, so the
    // fold replays bit-for-bit) seeded with the first value in
    // (ts, event_id) order
    "q_ewma_users" -> ((s, dir) => {
      graft.ops.Smoothing.ewmaLevel(Tables.events(s, dir),
          "user_id", "ts", "event_id", "value", alpha = 0.25)
        .orderBy("user_id")
    }),

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
    "q21_waiting_suppliers" -> ((s, dir) => {
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
    }),

    // seeded ε-DP count release (Laplace mechanism): noise from the
    // md5 inverse CDF so the release is re-runnable bit-identically;
    // the oracle replays uniform → noise → clamp per group
    "v_dp_segment_counts" -> ((s, dir) => {
      graft.validate.DpRelease.dpCounts(t(s, dir, "customer"),
          Seq("c_mktsegment", "c_nationkey"), epsilon = 1.0,
          seed = "release-2026")
        .orderBy("c_mktsegment", "c_nationkey")
    }),

    // ε-DP sums with contribution clamping (the clamp IS the
    // sensitivity bound); clamped sum from integer per-row partials
    "v_dp_balance_sums" -> ((s, dir) => {
      graft.validate.DpRelease.dpSums(t(s, dir, "customer"),
          Seq("c_mktsegment"), "c_acctbal", lo = 0.0, hi = 5000.0,
          epsilon = 0.5, seed = "release-2026")
        .orderBy("c_mktsegment")
    }),

    // k-anonymity audit over (lang, source, n_chars mod 97) — the
    // modulus fabricates a high-cardinality quasi-identifier so most
    // combinations are under-populated, exercising the exposure math
    "v_kanon_audit" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("bucket", (col("n_chars") % 97).cast("int"))
      graft.validate.Anonymity.audit(docs, Seq("lang", "source", "bucket"), k = 3)
    }),

    // suppression on the realistic quasi pair (lang, source): the
    // released rows are exactly the >= k combinations
    "v_kanon_suppress" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.validate.Anonymity.suppress(docs, Seq("lang", "source"), k = 15)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // C4 line-level cleanup over synthesized crawl-shaped docs: a
    // short button label, a JavaScript banner, content lines with
    // terminal punctuation, and per-residue lorem-ipsum / code-brace
    // page poisons — each rule decides specific lines/pages
    "text_c4_clean" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val words = split(col("text"), " ")
      val s1 = concat(array_join(slice(words, 1, 8), " "), lit("."))
      val s2 = concat(array_join(slice(words, 9, 8), " "), lit("?"))
      val lines = concat_ws("\n",
        lit("Click here"),
        s1,
        lit("Please enable JavaScript to continue."),
        s2,
        when(col("doc_id") % 7 === 0,
          lit("this page is lorem ipsum filler text."))
          .otherwise(lit("real closing sentence with enough words here.")),
        when(col("doc_id") % 11 === 0,
          lit("inline code sample { braces }.")).otherwise(lit("")))
      graft.text.C4Filter.clean(
          docs.select(col("doc_id"), lines.as("text")), "doc_id", "text")
        .select(col("doc_id"), md5(col("clean_text")).as("fp"), col("kept"))
        .orderBy("doc_id")
    }),

    // best-copy dedup: synthetic 100-way duplicate groups, survivor =
    // max quality then min doc_id — the keep-the-cleanest-copy knob
    "dedup_best_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 100).cast("string").as("grp"),
        graft.text.TextAnalysis.qualityScore(col("text")).as("score"))
      graft.ops.Dedup.dropExactPreferring(docs, "grp", "doc_id", "score")
        .orderBy("doc_id")
    }),

    // anchor-text mining: (href, stripped anchor text) pairs from
    // synthesized markup — nested tags and entities inside anchors,
    // and a whitespace-only anchor that must be filtered
    "html_anchors" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val html = concat(
        lit("<p>intro</p><a href=\"https://site"),
        (col("doc_id") % 7).cast("string"),
        lit(".com/t/"), col("doc_id").cast("string"),
        lit("\"><b>Doc "), col("doc_id").cast("string"),
        lit("</b> &amp; more</a>"),
        when(col("doc_id") % 2 === 0,
          concat(lit("<a href='/rel/"), col("doc_id").cast("string"),
            lit("' class=\"x\">  </a>")))
          .otherwise(lit("<a href=\"https://t.example.org\">plain</a>")))
      graft.text.Html.anchorTexts(
          docs.select(col("doc_id"), html.as("h")), "doc_id", "h")
        .orderBy("doc_id", "pos")
    }),

    // interpolated Kneser-Ney trigram scoring (train-on-self form);
    // the oracle rebuilds all four model frames and replays the
    // probability tree term-for-term in the same association order
    "text_kn_lp" -> ((s, dir) => {
      graft.text.KneserNey.scoreSelf(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // TPC-H Q4 shape (order priority checking): orders in a quarter
    // with at least one line shipped > 30 days after the order date
    // (the schema has no commit/receipt dates). EXISTS becomes a
    // left-semi join on the late-line keys — at scale the date window
    // prunes orders first, and the semi join never widens rows.
    "q4_order_priority" -> ((s, dir) => {
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
    }),

    // TPC-H Q6 shape (forecasting revenue change): pure scan +
    // filter + global agg — the predicate must reach the parquet
    // scan as PushedFilters; revenue in exact per-row floor-cents so
    // the global sum is order-independent
    "q6_forecast_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum(floor(col("l_extendedprice") * col("l_discount") * 100)
            .cast("long")).as("revenue_cents"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q9 shape (product type profit): parts of one type traced
    // through lineitem -> orders / supplier -> nation, profit per
    // nation per order year (no partsupp table, so profit = revenue).
    // Only nation (fixed 25 rows) is hinted; part/supplier scale with
    // SF and AQE broadcasts them while they are genuinely small.
    "q9_product_profit" -> ((s, dir) => {
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
    }),

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
    "q11_important_stock" -> ((s, dir) => {
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
    }),

    "q2_min_cost_supplier" -> ((s, dir) => {
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
    }),

    // TPC-H Q16 shape (part/supplier relationship counting): distinct
    // suppliers per (brand, type, size) over candidate parts, with the
    // NOT-IN supplier exclusion (negative balance stands in for the
    // complaint-comment scan) as a broadcast anti join BEFORE the
    // distinct count — the exclusion never reaches the shuffle.
    "q16_part_supplier_counts" -> ((s, dir) => {
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
    }),

    // TPC-H Q20 shape (potential part promotion): suppliers of
    // small-named parts holding >50% of a part's 1996 shipped volume
    // (the availqty-vs-half-of-sales test recast as market share —
    // no partsupp), then the semi-join chain up to suppliers in the
    // target nations. The per-(part,supplier) aggregate joins the
    // per-part scalar broadcast (part-count-sized), never a shuffle
    // of the fact table beyond the two partial aggs off one scan.
    "q20_potential_suppliers" -> ((s, dir) => {
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
    }),

    // TPC-H Q12 shape (shipping modes / line priority): late lines
    // (> 45 days) shipped in 1998, split urgent-vs-other order
    // priority per returnflag (the schema's stand-in for shipmode) —
    // conditional aggregation over one join
    "q12_late_priority" -> ((s, dir) => {
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
    }),

    // TPC-H Q15 shape (top supplier): quarterly revenue per supplier,
    // keep the supplier(s) hitting the global max — the scalar
    // max-subquery over an aggregate view. Exact cents make the
    // equality deterministic; the max is a broadcast-joined 1-row
    // frame, not a driver round trip.
    "q15_top_supplier" -> ((s, dir) => {
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
    }),

    // TPC-H Q18 shape (large volume customers): orders whose total
    // quantity exceeds the threshold, traced back to the customer —
    // group-having on the fact table BEFORE the dimension joins so
    // only qualifying orders reach them
    "q18_large_orders" -> ((s, dir) => {
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
    }),

    // TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    // three OR'ed brand/size/quantity bands across the lineitem-part
    // join — Catalyst must keep the join on partkey and evaluate the
    // disjunction as a post-join filter, never a cartesian
    "q19_disjunctive_revenue" -> ((s, dir) => {
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
    }),

    // TPC-H Q22 shape (global sales opportunity): customers with an
    // account balance above the average positive balance and no
    // RECENT orders (every customer has some order at this scale, so
    // the window keeps the anti join non-vacuous) — scalar subquery
    // broadcast + anti join, counts and exact-cent balance sums per
    // nation
    "q22_idle_customers" -> ((s, dir) => {
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
    }),

    // bounded-hop weighted shortest paths over the part co-purchase
    // graph: edge weight 100−min(99, co-count) makes frequently
    // co-purchased parts "close"; sources are the parts shipped by the
    // lowest-keyed supplier; 4 Bellman-Ford relaxation rounds give the
    // supplier's assortment reach. All-integer min-plus arithmetic —
    // the oracle unrolls the same 4 relax-and-merge stages.
    "q_sssp_parts" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      // pair generation via per-order collect_set + double-explode
      // (the Graphs.coOccurrence r20 shape): the old
      // distinct-then-self-join evaluated the distinct subtree twice
      // and re-exchanged both copies; collect_set additionally fuses
      // the (ok, p) distinct INTO the basket aggregation (one
      // exchange on ok instead of distinct's (ok, p) exchange plus a
      // re-exchange on ok). Same (p, p2) multiset — each basket holds
      // its distinct parts exactly once, so every ordered pair
      // contributes once and the groupBy count is unchanged. TPC-H
      // baskets are ≤7 lines, so the per-row array is bounded.
      val edges = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .groupBy("ok").agg(collect_set(col("p")).as("items"))
        .select(explode(col("items")).as("p"), col("items"))
        .select(col("p"), explode(col("items")).as("p2"))
        .filter(col("p") =!= col("p2"))
        .groupBy(col("p").as("src"), col("p2").as("dst"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("src"), col("dst"),
          (lit(100L) - least(col("cnt"), lit(99L))).as("w"))
      val minSupp = li.agg(min("l_suppkey")).first().getLong(0)
      val sources = li.where(col("l_suppkey") === minSupp)
        .select(col("l_partkey").as("node")).distinct()
      graft.ops.ShortestPaths.bounded(edges, sources, maxHops = 4)
        .select(col("node").as("part"), col("dist"))
        .orderBy("part")
    }),

    // multi-touch attribution: purchases are conversions, click/view
    // touches credit their channel (props.k mod 8) under first-touch /
    // last-touch / exact-integer linear models at once; paths span
    // strictly between consecutive conversions of a user.
    "q_attribution" -> ((s, dir) => {
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
    }),

    // ECOD-style anomaly depth per embedding: integer per-dimension
    // empirical-CDF tail depth summed over dims (small = outlier).
    // Quantized to 1/1000 cells so the CDF frame stays bounded.
    "emb_ecod_depth" -> ((s, dir) => {
      graft.ops.Ecod.depths(t(s, dir, "embeddings"), "vec_id",
          "embedding", quant = 1000)
        .orderBy("vec_id")
    }),

    // grid-bucketed spatial nearest join: deterministic md5-derived
    // micro-degree coordinates (±10^6) for customers and suppliers,
    // nearest supplier within radius 150000 by exact integer squared
    // L2. The grid prunes; the oracle replays with a brute-force
    // radius scan — same answer by construction.
    "q_spatial_nearest" -> ((s, dir) => {
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
    }),

    // Zipf power-law fit over the top-1000 tokens: OLS slope of
    // log-freq on log-rank with integer-quantized logs (millinats) so
    // the sums are exact and only the closing division is floating.
    "text_zipf_alpha" -> ((s, dir) =>
      graft.text.Zipf.fit(t(s, dir, "documents"), "text", k = 1000)),

    // personalized PageRank: teleport mass returns only to the
    // BUILDING-segment customers — proximity-to-seed-set over the same
    // purchase bipartite as q_pagerank_suppliers, 3 integer rounds.
    "q_ppr_building" -> ((s, dir) => {
      val pairs = t(s, dir, "orders").select("o_orderkey", "o_custkey")
        .join(t(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
        .distinct()
        .select(concat(lit("c"), col("ck")).as("c"),
          concat(lit("s"), col("sk")).as("s"))
      val edges = pairs.select(explode(array(
          struct(col("c").as("src"), col("s").as("dst")),
          struct(col("s").as("src"), col("c").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val seeds = t(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING")
        .select(concat(lit("c"), col("c_custkey")).as("node"))
      graft.ops.PageRank.personalized(edges, seeds, iters = 3)
        .orderBy("node")
    }),

    // KMV join-cardinality estimate (planner guardrail): bottom-256
    // md5 sketch of events.user_id vs customer.c_custkey key sets,
    // overlap estimated from the union sketch; the actual distinct
    // intersection rides in the same row so the artifact shows the
    // estimator's accuracy, and the oracle replays BOTH.
    "q_join_card_est" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"))
      val cust = t(s, dir, "customer").select(col("c_custkey"))
      val est = graft.ops.JoinEstimate.overlap(ev, "user_id",
        cust, "c_custkey", k = 256)
      val actual = ev.distinct()
        .join(cust.distinct(), col("user_id") === col("c_custkey"))
        .agg(count(lit(1)).as("actual_intersection"))
      est.crossJoin(broadcast(actual))
    }),

    // reciprocal-rank fusion of two document rankings (length prior x
    // lexical diversity): integer 1e9 div (60+rank) contributions so
    // fused scores are exact BIGINTs; each list cut to top-1000 by
    // TakeOrdered before its bounded rank window. Top-100 fused.
    "q_rrf_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val byLength = docs.select(col("doc_id"), col("n_chars").as("score"))
      val byDiversity = docs
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
        .where(length(col("token")) > 0)
        .groupBy("doc_id")
        .agg(countDistinct("token").as("score"))
      graft.ops.RankFusion.rrf(Seq(byLength, byDiversity),
          "doc_id", "score", topN = 1000, k = 60)
        .orderBy(col("rrf_score").desc, col("doc_id").asc)
        .limit(100)
    }),

    // the SAME composed recipe as q_recipe_pipeline, but every stage
    // loaded from a JSON document (graft.recipe.RecipeConfig) — the
    // rules-live-in-config principle applied to curation recipes; the
    // shared oracle pins bit-identity with the hand-written chain.
    "q_recipe_config" -> ((s, dir) => {
      val json = """{"idCol": "doc_id", "textCol": "text",
        |"langCol": "lang", "stages": [
        |  {"kind": "gopherGate"},
        |  {"kind": "exactDedup"},
        |  {"kind": "mix", "replayable": true, "weights":
        |    {"en": 0.5, "de": 0.125, "es": 0.125,
        |     "fr": 0.125, "zh": 0.125}},
        |  {"kind": "tokenBudget", "budget": 2000}
        |]}""".stripMargin
      graft.recipe.RecipeConfig.fromJson(json)
        .run(t(s, dir, "documents").select("doc_id", "lang", "text"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("tokens"))
        .orderBy("lang")
    }),

    // embedding-distribution drift between two corpus halves: per-dim
    // integer-quantized sums → mean-vector cosine + worst per-dim
    // second-moment ratio — the drift family's embedding member
    // (PSI/TVD cover scalars; this covers the vector column).
    "q_emb_drift" -> ((s, dir) => {
      val ex = t(s, dir, "embeddings")
        .select((col("vec_id") % 2 === 0).as("h"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("h"), col("dim"),
          floor(col("v").cast("double") * 1000000).cast("long").as("q"))
      val sums = ex.groupBy("h", "dim")
        .agg(count(lit(1)).as("n"), sum("q").as("sq"),
          sum((col("q") * col("q")).cast("decimal(38,0)")).as("sqq"))
      val a = sums.where(col("h"))
        .select(col("dim"), col("n").as("na"), col("sq").as("sqa"),
          col("sqq").as("sqqa"))
      val b = sums.where(!col("h"))
        .select(col("dim"), col("n").as("nb"), col("sq").as("sqb"),
          col("sqq").as("sqqb"))
      // per-dim n is constant within a half, so the mean-vector cosine
      // reduces to integer sums of sq products (the n's cancel) — no
      // order-sensitive double accumulation anywhere; the m2 ratio is
      // a per-dim pinned double, max is order-free
      val dec38 = "decimal(38,0)"
      val j = a.join(b, "dim")
        .select(col("dim"), col("sqa"), col("sqb"),
          (col("sqqa") * col("nb")).cast("double").as("m2an"),
          (col("sqqb") * col("na")).cast("double").as("m2bn"))
      j.agg(
          sum((col("sqa") * col("sqb")).cast(dec38)).as("sab"),
          sum((col("sqa") * col("sqa")).cast(dec38)).as("saa"),
          sum((col("sqb") * col("sqb")).cast(dec38)).as("sbb"),
          max(greatest(col("m2an") / col("m2bn"),
            col("m2bn") / col("m2an"))).as("mr"))
        .select(
          (floor(col("sab").cast("double") /
            (sqrt(col("saa").cast("double")) *
              sqrt(col("sbb").cast("double"))) * 1000000) / 1000000)
            .as("mean_cosine"),
          (floor(col("mr") * 1000000) / 1000000).as("worst_m2_ratio"))
    }),

    // per-document keyword extraction: top-3 tokens by tf·idf with
    // integer-quantized idf (round(ln((N+1)/(df+1))·1e9)) so scores
    // are exact BIGINTs; per-doc window bounded by doc vocabulary.
    "text_keywords" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 100)
      val all = t(s, dir, "documents")
      val nDocs = all.count()
      val toks = all
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
        .where(length(col("token")) > 0)
      val dfreq = toks.select("doc_id", "token").distinct()
        .groupBy("token").agg(count(lit(1)).as("df"))
        .withColumn("idf9",
          round(log(lit(nDocs + 1.0) / (col("df") + 1).cast("double"))
            * 1000000000L).cast("long"))
      val tf = toks.join(docs.select("doc_id"), "doc_id")
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val scored = tf.join(dfreq, "token")
        .select(col("doc_id"), col("token"),
          (col("tf") * col("idf9")).as("score9"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score9").desc, col("token").asc)
      scored.withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("token"), col("score9"))
        .orderBy("doc_id", "rnk")
    }),

    // chi-squared independence of order priority x status, with
    // Cramér's V — per-cell integer-quantized contributions.
    "q_chi2_orders" -> ((s, dir) => {
      graft.ops.Hypothesis.chiSquared(t(s, dir, "orders"),
        "o_orderpriority", "o_orderstatus")
    }),

    // Theil-Sen robust slope per priority: median pairwise slope of
    // the daily revenue series — outlier days cannot move it.
    "q_theilsen_priority" -> ((s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("prio"),
          to_date(col("o_orderdate")).as("day"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
      graft.ops.Trend.theilSen(daily, "prio", "day", "cents")
        .select(col("key").as("prio"), col("n_pairs"), col("slope"))
        .orderBy("prio")
    }),

    // Kaplan-Meier signup→purchase conversion: durations in days to a
    // user's first purchase at-or-after first signup, censored at the
    // observation end — life table + exact Nelson-Aalen hazard + KM.
    "q_survival_conversion" -> ((s, dir) => {
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
    }),

    // STL-lite weekly decomposition of daily revenue per priority:
    // centered-MA trend, per-weekday-phase seasonal index, residual
    // mean square — all exact integer arithmetic.
    "q_seasonal_decomp" -> ((s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("prio"),
          to_date(col("o_orderdate")).as("day"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
      graft.ops.Seasonal.phaseSummary(daily, "prio", "day", "cents",
          period = 7)
        .select(col("key").as("prio"), col("phase"), col("n"),
          col("seasonal"), col("res_ms"))
        .orderBy("prio", "phase")
    }),

    // Welch unequal-variance z: BUILDING customers' balances vs the
    // rest — exact decimal sufficient statistics, one pinned chain.
    "q_welch_acctbal" -> ((s, dir) => {
      graft.ops.Hypothesis.welchZ(
        t(s, dir, "customer")
          .select((col("c_mktsegment") === "BUILDING").as("grp"),
            floor(col("c_acctbal") * 100).cast("long").as("cents")),
        "grp", "cents")
    }),

    // Mann-Whitney U: en vs non-en document lengths — doubled ranks
    // from a value histogram (no corpus sort), tie-corrected z.
    "q_mannwhitney_chars" -> ((s, dir) => {
      graft.ops.Hypothesis.mannWhitney(
        t(s, dir, "documents")
          .select((col("lang") === "en").as("grp"), col("n_chars")),
        "grp", "n_chars")
    }),

    // Kruskal-Wallis H: account balance across ALL market segments at
    // once — the k-group rank test, same histogram ranks as MW
    "q_kruskal_segments" -> ((s, dir) => {
      graft.ops.Hypothesis.kruskalWallis(
        t(s, dir, "customer")
          .select(col("c_mktsegment"),
            floor(col("c_acctbal") * 100).cast("long").as("cents")),
        "c_mktsegment", "cents")
    }),

    // Poisson-bootstrap 95% CI for mean order value (cents): 200
    // deterministic md5-weighted replicates in one pass, exact integer
    // weighted sums, order-statistic bounds.
    "q_bootstrap_ci" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      graft.ops.Bootstrap.meanCi(orders, "o_orderkey", "cents",
        replicates = 200, seed = "bs")
    }),

    // Adamic-Adar supplier affinity: suppliers sharing customers,
    // rare shared customers weighted up — integer 1e6/ln(deg) terms
    // so pair scores are exact BIGINTs.
    "q_adamic_adar" -> ((s, dir) => {
      val cs = t(s, dir, "orders").select("o_orderkey", "o_custkey")
        .join(t(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
      // top-k, not all-pairs: the pair space DESATURATES as the item
      // vocabulary grows (measured 0.5M → 46M result pairs at 10×
      // while wedge volume grew 10.4×) — a consumer materializes the
      // strongest affinities, and TakeOrdered bounds the output at
      // any scale. Total order: (score desc, id1, id2).
      graft.ops.LinkPrediction.adamicAdar(cs)
        .orderBy(col("aa_score").desc, col("id1"), col("id2"))
        .limit(2000)
    }),

    // A-Priori frequent itemsets over per-order supplier baskets:
    // pairs and downward-closure-pruned triples with absolute support
    // >= 5, unioned as (k, i1, i2, i3, support)
    "q_freq_itemsets" -> ((s, dir) => {
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
    }),

    // weight of evidence + information value: which market segments
    // vote for a positive balance, and is the column worth a model
    "q_woe_segments" -> ((s, dir) => {
      graft.ops.TargetEncode.woe(
          t(s, dir, "customer").select(col("c_mktsegment"),
            (col("c_acctbal") > 5000).cast("int").as("lbl")),
          "c_mktsegment", "lbl", alpha = 0.5)
        .orderBy("category")
    }),

    // leave-one-out target encoding: priority encoded by smoothed
    // out-of-row mean order value — the high-cardinality-categorical
    // featurizer, leak-free by construction
    "q_target_encode" -> ((s, dir) => {
      graft.ops.TargetEncode.looEncode(
          t(s, dir, "orders").select(col("o_orderkey"),
            col("o_orderpriority").as("prio"),
            floor(col("o_totalprice") * 100).cast("long").as("cents")),
          "prio", "cents", m = 20.0)
        .where(col("o_orderkey") % 37 === 0)
        .select("o_orderkey", "prio", "cents", "te")
        .orderBy("o_orderkey")
    }),

    // HITS hubs & authorities over the customer→supplier purchase
    // bipartite (prefixed ids — the key spaces overlap numerically):
    // breadth-buyers vs widely-bought-from sellers, 2 integral rounds
    "q_hits_purchases" -> ((s, dir) => {
      val e = t(s, dir, "orders").select("o_orderkey", "o_custkey")
        .join(t(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
      graft.ops.Hits.scores(e, iters = 2)
        .orderBy("node")
    }),

    // degree assortativity of the customer→supplier purchase graph:
    // do high-volume customers buy from high-volume suppliers? The
    // whole-graph read that decides hub-cap/salting strategy before
    // the walk/community operators run.
    "q_assortativity" -> ((s, dir) => {
      val cs = t(s, dir, "orders").select("o_orderkey", "o_custkey")
        .join(t(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
      graft.ops.GraphStats.degreeAssortativity(cs)
    }),

    // Flesch/Flesch-Kincaid readability over documents: vowel-group
    // syllable proxy, terminator-group sentences, pinned formula
    // chains — the audience-difficulty rung of the quality ladder
    "text_readability" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.text.TextAnalysis.readability(col("text")).as("r"))
        .select(col("doc_id"),
          col("r.n_words").cast("long").as("n_words"),
          col("r.n_sentences").cast("long").as("n_sentences"),
          col("r.n_syllables").cast("long").as("n_syllables"),
          col("r.flesch"), col("r.fk_grade"))
        .orderBy("doc_id")
    }),

    // ABA routing-number checksum audit: the Federal Reserve mod-10
    // weighted check over md5-derived synthetic 9-digit routing
    // numbers, per nation — the check the reference's 9-digit-numeric
    // rule stops short of (~90% of random 9-digit strings fail it).
    "v_aba_checksum" -> ((s, dir) => {
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
    }),

    // per-group OLS trend: slope/intercept/R² of the daily revenue
    // series per order priority — exact decimal sums, pinned closing
    // chains. The grouped sibling of the Zipf fit.
    "q_trend_priority" -> ((s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("prio"),
          to_date(col("o_orderdate")).as("day"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
      graft.ops.Trend.fitGrouped(daily, "prio", "day", "cents")
        .select(col("key").as("prio"), col("n_points"), col("slope"),
          col("intercept"), col("r2"))
        .orderBy("prio")
    }),

    // mean-shift changepoint per order priority: daily revenue-cents
    // series, normalized CUSUM argmax — exact integer prefix sums,
    // IEEE-identical closing division, bit-stable argmax tie-break.
    "q_changepoint_revenue" -> ((s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("prio"),
          to_date(col("o_orderdate")).as("day"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
      graft.ops.Changepoint.meanShift(daily, "prio", "day", "cents")
        .select(col("key").as("prio"), col("cp_at").as("cp_day"),
          col("cp_index"), col("n_points"), col("score_floor"),
          col("mean_left"), col("mean_right"))
        .orderBy("prio")
    }),

    // PassJoin edit-distance self-join over ASCII 24-char document
    // prefixes: segment-filter candidates + levenshtein verify; equals
    // the brute-force answer by the completeness of the filter (the
    // oracle IS the brute force). doc_id < 600 bounds the oracle scan.
    "q_edit_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 600)
        .select(col("doc_id"), lower(substring(col("text"), 1, 24)).as("s"))
        .where(col("s").rlike("^[ -~]*$") && length(col("s")) >= 3)
      graft.ops.EditJoin.selfJoin(docs, "doc_id", "s", k = 2)
        .orderBy("id1", "id2")
    }),

    // per-column Shannon entropy over customer: key-like (c_custkey →
    // ln n), categorical (c_mktsegment, c_nationkey), name text — all
    // columns on ONE unpivoted shuffle, integer-quantized log terms.
    "v_profile_entropy" -> ((s, dir) => {
      graft.validate.Profiler.entropy(t(s, dir, "customer"),
          Seq("c_custkey", "c_name", "c_mktsegment", "c_nationkey"))
        .orderBy("col_name")
    }),

    // pairwise Pearson correlation matrix over the lineitem numerics
    // in ONE wide aggregate (6 pairs x 6 exact decimal sums on one
    // shuffle row); cents quantization, pinned closing double chain.
    "v_profile_corr" -> ((s, dir) => {
      graft.validate.Profiler.correlations(t(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
          quant = 100L)
        .orderBy("col_x", "col_y")
    })
  )

  /** Shared scoring frame for the eval_* queries: heuristic quality as
    * the score, lang=='en' as the binary label, `source` carried for
    * the grouped metrics. */
  private def evalScored(docs: DataFrame): DataFrame =
    // widenScan (r21): the two regexp_count passes inside qualityScore
    // ran as ONE task on the unsplittable local documents file (a
    // 1.2-1.5 s single-task stage in every eval_quality_* entry while
    // 31 cores idled); a properly-split corpus passes through untouched
    graft.ops.Ann.widenScan(
        docs.select(col("source"), col("text"), col("lang")))
      .select(
        col("source"),
        graft.text.TextAnalysis.qualityScore(col("text")).as("score"),
        coalesce((col("lang") === "en").cast("int"), lit(0)).as("label"))

  /** Bench-only queries: the production code paths a user actually
    * runs where the oracle-gated [[queries]] entry must use a
    * replayable (md5) variant so DuckDB can recompute it. Not part of
    * [[queries]] — no DuckDB oracle exists for xxhash64, and a
    * rows-only correctness entry would be weaker than the ScalaTest
    * parity pin (SimilaritySpec) these paths already carry. Bench runs
    * them so the recorded numbers measure what production executes. */
  def benchOnlyQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // SGNS word2vec over the documents corpus — the walks → pairs →
    // embeddings capstone: subsampled skip-gram pairs, seeded
    // negatives, driver-resident quantized matrices, one job per
    // epoch (corpus collapses to the distinct weighted pair table
    // once). Bench-only (iterative trainer, no SQL replay; SgnsSpec
    // pins planted-cluster recovery + bit-reproducibility + the
    // DeepWalk closure).
    "sgns_train_docs" -> ((s, dir) => {
      val pairs = graft.text.SkipGram.trainingPairs(
        t(s, dir, "documents"), "doc_id", "text", window = 2)
      graft.text.Sgns.train(pairs, dim = 32, epochs = 5,
        lr = 1.0, negatives = 5, topV = 4096).embeddingsDf(s)
    }),

    // the corpus-embedding closure: train SGNS, then turn every doc
    // into an idf-weighted mean vector (the semantic-dedup corpus) —
    // measures the full text → embeddings path end to end
    "sgns_doc_embed" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.text.SkipGram.trainingPairs(
        docs, "doc_id", "text", window = 2)
      val m = graft.text.Sgns.train(pairs, dim = 32, epochs = 3,
        lr = 1.0, negatives = 5, topV = 4096)
      graft.text.Sgns.docEmbeddings(docs, "doc_id", "text",
        m.embeddingsDf(s))
    }),

    // intrinsic quality readout riding the trained model: SGNS → doc
    // embeddings → neighbor purity by language — the measured dial
    // for dim/epoch/negative choices (EmbedEval applied to 54bd; the
    // gated oracle form runs on the embeddings table, this measures
    // the trainer's own output end to end)
    "sgns_embed_eval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.text.SkipGram.trainingPairs(
        docs, "doc_id", "text", window = 2)
      val m = graft.text.Sgns.train(pairs, dim = 32, epochs = 3,
        lr = 1.0, negatives = 5, topV = 4096)
      val vecs = graft.text.Sgns.docEmbeddings(docs, "doc_id", "text",
        m.embeddingsDf(s))
      // the IVF cells/nprobe path, not brute — grading a 50k-doc (or
      // 50M-doc) corpus is exactly the case the shuffled-cell kNN
      // shape exists for; brute purity at sf0.1 measured 15 s of the
      // 18.5 s entry
      graft.ops.EmbedEval.neighborPurity(
        vecs.join(docs.select(col("doc_id"), col("lang")), "doc_id"),
        "doc_id", "embedding", "lang", k = 5, cells = 64, nprobe = 8)
    }),
    // k-core of the part co-purchase graph: iterative peel to the
    // 8-core (dense co-assortment families). Rounds are data-dependent
    // (KCoreSpec pins semantics), so bench-only — no SQL replay.
    "kcore_copurchase" -> ((s, dir) => {
      val edges = graft.ops.Graphs.coOccurrence(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
      graft.ops.KCore.core(edges, k = 8)
        .agg(count(lit(1)).as("core_nodes"), sum("degree").as("degree_sum"))
    }),

    // DBSCAN over planted blobs: 200k points in 1000 md5-scattered
    // dense blobs plus 10% uniform noise — grid radius join + core
    // closure + border attach end to end, reported as cluster/role
    // counts. Bench-only (CC closure is iterative; DbscanSpec pins
    // textbook roles exactly).
    "dbscan_blobs" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{conv => fconv}
      val n = 100000L
      val ids = s.range(n).select(col("id"))
      def h(tag: String) =
        (fconv(substring(md5(concat(lit(tag), col("id").cast("string"))),
          1, 15), 16, 10).cast("long"))
      val blob = pmod(h("b"), lit(1000L))
      val noise = pmod(h("n"), lit(10L)) === 0
      // ~90 points per 200x200 blob box: eps 40 gives LOCAL
      // connectivity (avg ~11 in-range neighbors), not a blob-clique —
      // the pair count stays ~n·density, never n² per blob
      val pts = ids.select(col("id"),
        when(noise, pmod(h("x"), lit(4000000L)))
          .otherwise(blob * 4000L + pmod(h("x"), lit(200L))).as("x"),
        when(noise, pmod(h("y"), lit(4000000L)))
          .otherwise(blob * 4000L + pmod(h("y"), lit(200L))).as("y"))
      graft.ops.Dbscan.cluster(pts, eps = 40L, minPts = 6)
        .groupBy("role")
        .agg(count(lit(1)).as("n_points"),
          countDistinct(col("cluster")).as("n_clusters"))
        .orderBy("role")
    }),

    // ALS matrix factorization end to end: rank-8 factors over the
    // customer×part quantity matrix (4 alternating rounds), scored by
    // training RMSE — the collaborative-filtering embedding trainer.
    // Bench-only (iterative linear algebra has no SQL replay; AlsSpec
    // pins recovery, determinism, and the Cholesky solver).
    "als_factors" -> ((s, dir) => {
      val ratings = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("user"), col("l_partkey").as("item"))
        .agg(log1p(sum(col("l_quantity"))).as("rating"))
        // materialize once: train AND rmse both scan the rating build
        // (the join+aggregate re-ran end to end for the rmse pass, r20)
        .localCheckpoint()
      val m = graft.ops.Als.train(ratings, "user", "item", "rating",
        rank = 8, reg = 0.05, iters = 4)
      graft.ops.Als.rmse(m, ratings, "user", "item", "rating")
    }),

    // DeepWalk front half end to end: deterministic random walks over
    // the co-purchase graph rendered as a text corpus, then the
    // word2vec skip-gram pair generator — graph embeddings' training
    // data in two existing operators. Bench-only (hash-sampled walks
    // have no SQL replay; RandomWalksSpec pins the sampler).
    "graph_walk_pairs" -> ((s, dir) => {
      val edges = graft.ops.Graphs.coOccurrence(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
      // coOccurrence output is distinct by construction — skip the
      // walker's defensive dedup exchange (r20)
      val walks = graft.ops.RandomWalks.walks(edges, walksPerNode = 2,
        walkLen = 8, distinctEdges = false)
      val corpus = walks.select(col("walk_id"),
        concat_ws(" ", col("path")).as("text"))
      graft.text.SkipGram.trainingPairs(corpus, "walk_id", "text",
          window = 2)
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("center")).as("n_center_nodes"))
    }),

    // product quantization round trip: train 8x64 codebooks, encode
    // the corpus to 8-byte codes, ADC-probe 10 queries, and report the
    // top-1 agreement with brute cosine — the memory-bounded serving
    // path measured end to end (PqSpec pins exactness; no SQL oracle
    // for the k-means training loop).
    "pq_roundtrip" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = graft.ops.Pq.train(emb, "vec_id", "embedding",
        m = 8, ksub = 64, iters = 3)
      val codes = graft.ops.Pq.encode(emb, "vec_id", "embedding", model)
      val queries = emb.where(col("vec_id") % 50 === 0).limit(10)
      val top = graft.ops.Pq.adcTopK(codes, queries, "vec_id",
        "embedding", model, k = 10)
      top.agg(count(lit(1)).as("n_results"),
        countDistinct(col("query_id")).as("n_queries"))
    }),

    // deflate compression-ratio quality signal: native zlib kernel,
    // no SQL-expressible oracle (DeflateRatioSpec pins the kernel
    // against a direct Deflater reference) — benched because it is a
    // per-row native-library call, the one scan-cost shape the
    // regexp-based signals don't cover
    "text_deflate_ratio" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
          graft.expr.DeflateRatio.deflateRatio(col("text")).as("zratio"))
        .agg(count(lit(1)).as("n"),
          (floor(avg(col("zratio")) * 10000) / 10000).as("mean_ratio"))
    }),
    // greedy k-center coreset selection (diversity pruning): 16
    // maximally-spread vectors + full-corpus assignment — the
    // data-distillation selector; O(k·n) cosines via the running
    // min-distance column, one bounded argmax per round
    "emb_kcenter_select" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centers = graft.ops.Coreset.kCenters(emb, "vec_id", "embedding", 16)
      graft.ops.Coreset.assign(emb, "vec_id", "embedding", centers)
        .groupBy("center_id").agg(count(lit(1)).as("n_assigned"))
        .agg(count(lit(1)).as("n_centers"), sum("n_assigned").as("n_vectors"))
    }),

    // tokenizer evaluation: fertility (tokens per word) and
    // compression (chars per token) for the two trained tokenizer
    // families on the same corpus — the metric a tokenizer choice is
    // actually made on. One row; driver-resident models like training.
    "tokenizer_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.text.BpeTrain.train(docs, "text",
        numMerges = 64, autoBatch = true)
      val uni = graft.text.UnigramTokenizer.train(docs, "text",
        vocabSize = 256, maxPieceLen = 6)
      val base = docs.select(
        size(filter(split(trim(lower(col("text"))), "\\s+"),
          t => length(t) > 0)).cast("long").as("n_words"),
        length(col("text")).cast("long").as("n_chars"))
        .agg(sum("n_words").as("words"), sum("n_chars").as("chars"))
      val bpe = graft.text.BpeTrain.segment(docs, "text", merges)
        .agg(sum("n_bpe_tokens").as("bpe_tokens"))
      val ut = graft.text.UnigramTokenizer.segment(docs, "text", uni)
        .agg(sum("n_unigram_tokens").as("uni_tokens"))
      base.crossJoin(bpe).crossJoin(ut)
        .select(col("words"), col("bpe_tokens"), col("uni_tokens"),
          (floor(col("bpe_tokens") / col("words") * 1e4) / 1e4).as("bpe_fertility"),
          (floor(col("uni_tokens") / col("words") * 1e4) / 1e4).as("uni_fertility"),
          (floor(col("chars") / col("uni_tokens") * 1e4) / 1e4).as("uni_chars_per_token"))
    }),

    // full-corpus winnowing on the xxhash production path (the
    // replayable md5 oracle query caps at 100 docs; this is the
    // scan-shape number): fingerprint density + distinct count
    "winnow_corpus" -> ((s, dir) => {
      graft.text.Winnowing.fingerprints(t(s, dir, "documents"),
          "doc_id", "text", k = 5, w = 8, replayable = false)
        .agg(count(lit(1)).as("n_fps"), countDistinct("fp").as("n_distinct"))
    }),

    // label-propagation communities over the mutual-kNN embedding
    // graph — the community refinement a CC closure can't give
    // (T-gated: LPA's iterative argmax has no SQL oracle)
    "lpa_knn_communities" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val g = graft.ops.Ann.knnGraph(emb, "vec_id", "embedding", k = 5)
        .where(col("cosine") >= 0.2)
        .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
      graft.ops.LabelPropagation.communities(g, maxRounds = 8)
        .groupBy("community").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_communities"), sum("n").as("n_nodes"))
    }),

    // unigram-LM (SentencePiece) tokenizer induction + corpus
    // re-tokenization: seed→EM→prune to a 256-piece model, then
    // Viterbi-segment the corpus. No SQL oracle for the EM loop
    // (UnigramTokenizerSpec pins determinism, pruning, Viterbi
    // semantics); benched because rounds are vocab-sized jobs and the
    // production question is the per-round + segmentation scan cost.
    "unigram_train_segment" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.text.UnigramTokenizer.train(docs, "text",
        vocabSize = 256, maxPieceLen = 6)
      graft.text.UnigramTokenizer.segment(docs, "text", model)
        .agg(sum(col("n_unigram_tokens")).as("total_tokens"),
          count(lit(1)).as("n_docs"))
    }),
    // full BPE tokenizer induction + corpus re-tokenization: 8 merge
    // rounds over the distinct-word vocab (driver-resident loop, like
    // pagerank), then segment the whole corpus with the learned
    // merges. No SQL-expressible oracle for the iterative loop —
    // BpeTrainSpec pins the canonical Sennrich example instead.
    // logistic-regression quality classifier: full-batch GD with the
    // dim-sized model driver-resident (PageRank/BPE loop shape), then
    // score the corpus. No SQL-expressible oracle for the iterative
    // fit — LogRegSpec pins separable-fit accuracy, bit-determinism,
    // margin growth, L2 shrinkage. Benched: per-epoch cost is the
    // production question (one cached-feature scan + dim-bounded
    // shuffle per epoch).
    "lr_train_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("y", col("lang") === "en")
      val model = graft.text.LogReg.train(docs, "doc_id", "text", "y",
        dim = 1 << 16, epochs = 10, lr = 1.0)
      graft.text.LogReg.score(docs, "doc_id", "text", model)
        .join(docs.select(col("doc_id"), col("y")), "doc_id")
        .agg(count(lit(1)).as("n"),
          sum(when(col("pred") === col("y"), 1L).otherwise(0L)).as("n_correct"))
    }),
    "bpe_train_segment" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.text.BpeTrain.train(docs, "text", numMerges = 8)
      graft.text.BpeTrain.segment(docs, "text", merges)
        .agg(sum(col("n_bpe_tokens")).as("total_bpe_tokens"),
          count(lit(1)).as("n_docs"))
    }),
    // BPE training at a REALISTIC merge count: the testdata documents
    // hold only ~31 distinct words (BPE saturates after a few dozen
    // merges), so this entry synthesizes a ~20k-word hash vocabulary
    // and trains 1000 merges with the auto-growing batch — measuring
    // what a real tokenizer induction pays: round count logarithmic in
    // the merge budget, each round a vocab-sized job.
    "bpe_train_1k" -> ((s, _) => {
      import s.implicits._
      val docs = s.range(20000).select(
        concat_ws(" ", (0 until 12).map(i =>
          lower(hex(pmod(xxhash64(col("id"), lit(i)), lit(100000))))): _*)
          .as("text"))
      val merges = graft.text.BpeTrain.train(docs, "text",
        numMerges = 1000, autoBatch = true)
      Seq(merges.length.toLong).toDF("n_merges")
    }),
    // production PageRank shape: identical graph + iteration count as
    // the oracle-gated q_pagerank_suppliers but WITHOUT the oracle's
    // final global orderBy — a serving pipeline consumes ranks keyed,
    // not totally ordered, so this is the number a user actually pays
    "pagerank_suppliers_native" -> ((s, dir) => {
      val pairs = t(s, dir, "orders").select("o_orderkey", "o_custkey")
        .join(t(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
        .distinct()
        .select(concat(lit("c"), col("ck")).as("c"),
          concat(lit("s"), col("sk")).as("s"))
      val edges = pairs.select(explode(array(
          struct(col("c").as("src"), col("s").as("dst")),
          struct(col("s").as("src"), col("c").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      graft.ops.PageRank.ranks(edges, iters = 3)
    }),
    // native xxhash64 MinHash kernel (graft.expr.MinHashSig, codegen)
    // through the same banding/pair path as dedup_minhash
    "dedup_minhash_native" -> ((s, dir) => {
      val sigs = Similarity.minhashSignatures(t(s, dir, "documents"),
          "doc_id", "text", k = 5, numHashes = 32)
        .repartition(col("id")).cache()
      Similarity.minhashPairsFromSigs(sigs, numHashes = 32, rowsPerBand = 8,
          threshold = 0.5)
        .orderBy("id1", "id2")
    }),

    // native survivor pipeline (xxhash sigs + murmur band buckets) —
    // the production analogue of dedup_survivors
    "dedup_survivors_native" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.transform(d => Similarity.dropNearDuplicates(d, "doc_id", "text",
          k = 5, numHashes = 32, rowsPerBand = 8, threshold = 0.8,
          maxBucket = 500))
        .groupBy("lang").agg(count(lit(1)).as("survivors"))
        .orderBy("lang")
    }),

    // production profiling path: HyperLogLog distincts (one pass, no
    // Expand) — the oracle-gated v_profile_customer runs the exact-
    // distinct mode so DuckDB can replay it
    "v_profile_customer_native" -> ((s, dir) => {
      graft.validate.Profiler.profile(t(s, dir, "customer"),
          Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))
        .orderBy("col_name")
    }),

    // corpus-scale containment: LSH candidate prefilter + exact
    // per-direction verify on candidates only — the production path
    // the subset-oracled ngram_containment_pairs verifies the math
    // for. Full documents table (the exact inverted index is n²-dense
    // here; this path is bounded by bucket caps + candidate count).
    // 8-row bands on THIS corpus: the synthetic word-soup's pairwise
    // Jaccard is so uniformly high that 4-row bands (the default,
    // right for Zipf-real corpora) admit a near-quadratic candidate
    // set — measured 19.6 s vs 1-2 s here; the banding-curve recall
    // trade is the operator's documented dial
    "ngram_containment_native" -> ((s, dir) => {
      Similarity.ngramContainmentLsh(t(s, dir, "documents"),
          "doc_id", "text", k = 5, threshold = 0.8,
          numHashes = 32, rowsPerBand = 8, estThreshold = 0.5)
        .orderBy("id1", "id2")
    }),

    // native 64-bit fused SimHash kernel (graft.expr.SimHash64)
    "dedup_simhash_native" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 1000)
      Similarity.simhashPairsFromHashes(
          Similarity.simhash(docs, "doc_id", "text").repartition(col("id")).cache(),
          maxHamming = 3, maxBucket = 500, bits = 64)
        .orderBy("id1", "id2")
    }),

    // fact-scale quality banding: per-language KLL quantile sketch →
    // broadcast boundary join → narrow when-chain. No per-group sort,
    // no window — the 100 TB path of q_quality_buckets (bucket edges
    // approximate by KLL rank error, so no exact oracle exists;
    // QuantilesSpec pins agreement with the exact form).
    "quality_buckets_native" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = graft.text.UnigramLm.scoreSelf(docs, "doc_id", "text")
        .join(docs.select("doc_id", "lang"), "doc_id")
      graft.ops.Quantiles.groupedBucketsSketch(scored, "lang", "lp_avg", n = 3)
        .groupBy("lang", "bucket").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "bucket")
    })
  )

  // ---------------------------------------------------------------- //
  // DuckDB oracles (ANSI-ish SQL over the same parquet tables).
  // The minhash/simhash/LSH queries run their md5-derived replayable
  // hash variants, so DuckDB recomputes the FULL pipeline (hashing,
  // banding, pairing, survivor selection) from the raw tables.
  // ---------------------------------------------------------------- //

  /** eTLD+1 CASE expression generated from the SAME bundled
    * public-suffix snapshot UrlOps.registeredDomainPsl matches
    * against — the oracle and the engine cannot drift because both
    * read one resource. Longest suffix first; `hostExpr` must be a
    * plain column reference (it is repeated per label). */
  private def pslDomainCaseSql(hostExpr: String): String = {
    val psl = graft.text.UrlOps.bundledSuffixes
    def lastK(k: Int): String =
      (k to 1 by -1).map(i => s"string_split($hostExpr, '.')[-$i]")
        .mkString(" || '.' || ")
    val len = s"len(string_split($hostExpr, '.'))"
    val whens = psl.labelCounts.map { k =>
      val inList = psl.byLabels(k).sorted.map(s => s"'$s'").mkString("(", ",", ")")
      s"WHEN $len >= ${k + 1} AND (${lastK(k)}) IN $inList THEN (${lastK(k + 1)})"
    }.mkString(" ")
    s"CASE $whens WHEN $len >= 2 THEN (${lastK(2)}) ELSE $hostExpr END"
  }

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

  /** Shared replay for the composed recipe: the hand-written pipeline
    * (q_recipe_pipeline) and the JSON-loaded recipe (q_recipe_config)
    * must produce the BIT-IDENTICAL frame, so they share one oracle. */
  private val recipePipelineSql: String =
    """WITH t AS (
        |  SELECT doc_id, lang, text,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |                x -> length(x) > 0) AS toks,
        |    CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS chars
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, lang, text, CAST(len(toks) AS BIGINT) AS n_words,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |      ELSE floor(chars / CAST(len(toks) AS DOUBLE) * 10000) / 10000
        |    END AS mean_word_q,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |      ELSE floor(CAST(len(list_filter(toks,
        |             x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
        |           / CAST(len(toks) AS DOUBLE) * 10000) / 10000
        |    END AS alpha_frac_q,
        |    CASE WHEN len(toks) < 2 THEN 0.0
        |      ELSE floor((CAST(1.0 AS DOUBLE)
        |             - CAST(len(list_distinct(list_transform(
        |                 generate_series(1, len(toks) - 1),
        |                 i -> toks[i] || ' ' || toks[i + 1]))) AS DOUBLE)
        |               / CAST(len(toks) - 1 AS DOUBLE)) * 10000) / 10000
        |    END AS dup_bigram_q
        |  FROM t),
        |kept AS (
        |  SELECT doc_id, lang, text, n_words FROM m
        |  WHERE (n_words BETWEEN 30 AND 100000)
        |    AND (mean_word_q BETWEEN 4.0 AND 10.0)
        |    AND alpha_frac_q >= 0.8 AND dup_bigram_q <= 0.05),
        |fp AS (
        |  SELECT doc_id, lang, n_words,
        |    md5(regexp_replace(trim(lower(nfc_normalize(text))),
        |        '\s+', ' ', 'g')) AS f
        |  FROM kept),
        |reps AS (SELECT f, min(doc_id) AS doc_id FROM fp GROUP BY f),
        |dd AS (
        |  SELECT fp.doc_id, fp.lang, fp.n_words
        |  FROM fp JOIN reps ON fp.f = reps.f AND fp.doc_id = reps.doc_id),
        |sz AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM dd GROUP BY lang),
        |tw AS (
        |  SELECT lang, n,
        |    CAST(CASE lang WHEN 'en' THEN 0.5 ELSE 0.125 END AS DOUBLE) AS w
        |  FROM sz),
        |scale AS (SELECT min(n / w) AS nn FROM tw),
        |rates AS (
        |  SELECT lang, least(CAST(1.0 AS DOUBLE), w * nn / n) AS rate
        |  FROM tw CROSS JOIN scale),
        |mixed AS (
        |  SELECT dd.doc_id, dd.lang, dd.n_words
        |  FROM dd JOIN rates r USING (lang)
        |  WHERE CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'),
        |          1, 15)) AS BIGINT) % 1099511627776 AS DOUBLE)
        |        < r.rate * CAST(1099511627776 AS DOUBLE)),
        |c AS (
        |  SELECT lang, n_words,
        |    sum(n_words) OVER (PARTITION BY lang ORDER BY
        |      CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'),
        |        1, 15)) AS BIGINT) % 1099511627776 AS DOUBLE), doc_id) AS cum
        |  FROM mixed)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS tokens
        |FROM c WHERE cum <= 2000
        |GROUP BY lang ORDER BY lang""".stripMargin

  def oracleSql: Map[String, String] = Map(

    "v_profile_corr" -> (Seq(
      corrPairSql("l_quantity", "l_extendedprice"),
      corrPairSql("l_quantity", "l_discount"),
      corrPairSql("l_quantity", "l_tax"),
      corrPairSql("l_extendedprice", "l_discount"),
      corrPairSql("l_extendedprice", "l_tax"),
      corrPairSql("l_discount", "l_tax"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_x, col_y")),

    // independently-authored SQL predicates for all ~68 bank rules
    // (BankRulesSql) over the dumped generator output — double-entry
    // validation of the whole rule engine
    "bank_gen_validate" ->
      graft.bank.BankRulesSql.summarySql(graft.bank.BankRulesSql.genPath),

    "bank_error_file" ->
      graft.bank.BankRulesSql.errorFileSql(
        graft.bank.BankRulesSql.brokenPath, "bankfile"),

    // md5 K-M double-hash minhash → banded buckets → capped candidate
    // pairs → signature-agreement estimate. Mirrors
    // Similarity.minhashSignaturesMd5 + minhashPairsFromSigs
    // (replayableBuckets) step by step.
    "dedup_minhash" ->
      """WITH d AS (
        |  SELECT doc_id AS id, lower(text) AS s FROM documents WHERE length(lower(text)) >= 5),
        |grams AS (
        |  SELECT DISTINCT id, substr(s, CAST(t.i AS INTEGER), 5) AS g
        |  FROM d, unnest(range(1, length(s) - 3)) AS t(i)),
        |gh AS (
        |  SELECT id, CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS h1,
        |         CAST(('0x' || substr(md5(g), 17, 14)) AS BIGINT) AS h2
        |  FROM grams),
        |sig AS (
        |  SELECT id, CAST(t.i AS INTEGER) AS i,
        |         min((h1 + t.i * h2) % 1152921504606846976) AS v
        |  FROM gh, unnest(range(0, 32)) AS t(i)
        |  GROUP BY 1, 2),
        |bands AS (
        |  SELECT id, i // 8 AS band,
        |         md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY i)) AS bucket
        |  FROM sig GROUP BY id, i // 8),
        |hot AS (SELECT band, bucket FROM bands GROUP BY band, bucket HAVING count(*) > 500),
        |capped AS (
        |  SELECT b.* FROM bands b WHERE NOT EXISTS (
        |    SELECT 1 FROM hot h WHERE h.band = b.band AND h.bucket = b.bucket)),
        |cand AS (
        |  SELECT DISTINCT a.id AS id1, b.id AS id2
        |  FROM capped a JOIN capped b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
        |agree AS (
        |  SELECT c.id1, c.id2,
        |         round(sum(CASE WHEN s1.v = s2.v THEN 1 ELSE 0 END) / 32.0, 4) AS est_jaccard
        |  FROM cand c JOIN sig s1 ON s1.id = c.id1
        |              JOIN sig s2 ON s2.id = c.id2 AND s2.i = s1.i
        |  GROUP BY c.id1, c.id2)
        |SELECT id1, id2, est_jaccard FROM agree WHERE est_jaccard >= 0.5 ORDER BY id1, id2""".stripMargin,

    // full survivor pipeline: same sigs/bands as dedup_minhash, plus
    // hot-bucket representative linking and the pair-victim anti join
    // (Similarity.dropNearDuplicatesFromSigs).
    "dedup_survivors" ->
      """WITH d AS (
        |  SELECT doc_id AS id, lower(text) AS s FROM documents WHERE length(lower(text)) >= 5),
        |grams AS (
        |  SELECT DISTINCT id, substr(s, CAST(t.i AS INTEGER), 5) AS g
        |  FROM d, unnest(range(1, length(s) - 3)) AS t(i)),
        |gh AS (
        |  SELECT id, CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS h1,
        |         CAST(('0x' || substr(md5(g), 17, 14)) AS BIGINT) AS h2
        |  FROM grams),
        |sig AS (
        |  SELECT id, CAST(t.i AS INTEGER) AS i,
        |         min((h1 + t.i * h2) % 1152921504606846976) AS v
        |  FROM gh, unnest(range(0, 32)) AS t(i)
        |  GROUP BY 1, 2),
        |bands AS (
        |  SELECT id, i // 8 AS band,
        |         md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY i)) AS bucket
        |  FROM sig GROUP BY id, i // 8),
        |hot AS (SELECT band, bucket FROM bands GROUP BY band, bucket HAVING count(*) > 500),
        |hotvic AS (
        |  SELECT b.id AS victim
        |  FROM bands b JOIN hot h ON h.band = b.band AND h.bucket = b.bucket
        |  QUALIFY b.id > min(b.id) OVER (PARTITION BY b.band, b.bucket)),
        |capped AS (
        |  SELECT b.* FROM bands b WHERE NOT EXISTS (
        |    SELECT 1 FROM hot h WHERE h.band = b.band AND h.bucket = b.bucket)),
        |cand AS (
        |  SELECT DISTINCT a.id AS id1, b.id AS id2
        |  FROM capped a JOIN capped b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
        |agree AS (
        |  SELECT c.id1, c.id2,
        |         round(sum(CASE WHEN s1.v = s2.v THEN 1 ELSE 0 END) / 32.0, 4) AS est_jaccard
        |  FROM cand c JOIN sig s1 ON s1.id = c.id1
        |              JOIN sig s2 ON s2.id = c.id2 AND s2.i = s1.i
        |  GROUP BY c.id1, c.id2),
        |vic AS (
        |  SELECT victim FROM hotvic
        |  UNION SELECT id2 AS victim FROM agree WHERE est_jaccard >= 0.8)
        |SELECT lang, count(*) AS survivors
        |FROM documents WHERE doc_id NOT IN (SELECT victim FROM vic)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // 60-bit md5-token simhash → pigeonhole bands → exact hamming
    // verify (Similarity.simhashMd5 + simhashPairsFromHashes).
    "dedup_simhash" ->
      """WITH d AS (
        |  SELECT doc_id AS id, trim(lower(text)) AS s FROM documents
        |  WHERE doc_id < 1000 AND trim(lower(text)) <> ''),
        |toks AS (
        |  SELECT id, t.tok FROM d, unnest(regexp_split_to_array(s, '\s+')) AS t(tok)
        |  WHERE t.tok <> ''),
        |th AS (SELECT id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks),
        |bits AS (
        |  SELECT id, CAST(b.b AS INTEGER) AS b,
        |         CASE WHEN sum(CASE WHEN (h >> CAST(b.b AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) > 0
        |              THEN 1 ELSE 0 END AS bit
        |  FROM th, unnest(range(0, 60)) AS b(b) GROUP BY 1, 2),
        |sh AS (
        |  SELECT id, CAST(sum(bit * (CAST(1 AS BIGINT) << b)) AS BIGINT) AS simhash
        |  FROM bits GROUP BY id),
        |bands AS (
        |  SELECT id, simhash, CAST(t.b AS INTEGER) AS band,
        |         (simhash >> CAST(t.b * 15 AS INTEGER)) & 32767 AS bandval
        |  FROM sh, unnest(range(0, 4)) AS t(b)),
        |hot AS (SELECT band, bandval FROM bands GROUP BY band, bandval HAVING count(*) > 500),
        |capped AS (
        |  SELECT b.* FROM bands b WHERE NOT EXISTS (
        |    SELECT 1 FROM hot h WHERE h.band = b.band AND h.bandval = b.bandval)),
        |cand AS (
        |  SELECT DISTINCT a.id AS id1, b.id AS id2, a.simhash AS s1, b.simhash AS s2
        |  FROM capped a JOIN capped b
        |    ON a.band = b.band AND a.bandval = b.bandval AND a.id < b.id)
        |SELECT id1, id2, CAST(bit_count(xor(s1, s2)) AS INTEGER) AS hamming
        |FROM cand WHERE bit_count(xor(s1, s2)) <= 3 ORDER BY id1, id2""".stripMargin,

    // md5-seeded sign-random-projection buckets + in-bucket cosine
    // top-k (Ann.lshBucketMd5 + lshTopK replayable path). Dots are
    // rounded to 6dp before the sign test, matching the Spark side.
    "ann_lsh_topk" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |pc AS (
        |  SELECT CAST(p.p AS INTEGER) AS p, CAST(d.i AS INTEGER) AS i,
        |         (CAST(('0x' || substr(md5(p.p || ':' || d.i), 1, 15)) AS BIGINT) % 2000000)
        |           / 1000000.0 - 1.0 AS c
        |  FROM unnest(range(0, 8)) AS p(p), unnest(range(0, 64)) AS d(i)),
        |dots AS (
        |  SELECT e.vec_id, pc.p, round(sum(e.v * pc.c), 6) AS dot
        |  FROM e JOIN pc ON pc.i = e.i - 1 GROUP BY 1, 2),
        |bk AS (
        |  SELECT vec_id,
        |         CAST(sum(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM dots GROUP BY vec_id),
        |dotp AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid, sum(a.v * b.v) AS dot
        |  FROM e a JOIN e b ON a.i = b.i AND b.vec_id <> a.vec_id
        |  WHERE a.vec_id < 5
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT d.qid AS query_id, d.cid AS neighbor_id,
        |         round(d.dot / (nq.nrm * nc.nrm), 6) AS cosine
        |  FROM dotp d
        |  JOIN n nq ON nq.vec_id = d.qid JOIN n nc ON nc.vec_id = d.cid
        |  JOIN bk bq ON bq.vec_id = d.qid JOIN bk bc ON bc.vec_id = d.cid
        |  WHERE bq.bucket = bc.bucket),
        |rk AS (
        |  SELECT query_id, neighbor_id, cosine,
        |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rnk
        |  FROM sc)
        |SELECT query_id, neighbor_id, cosine, rnk FROM rk WHERE rnk <= 10
        |ORDER BY query_id, rnk""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_shipping_priority" ->
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
        |LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,

    "q7_volume_shipping" ->
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
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q8_market_share" ->
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
        |GROUP BY 1 ORDER BY o_year""".stripMargin,

    "q10_returned_items" ->
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
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q14_promo_revenue" ->
      """SELECT floor(sum(CASE WHEN p_type LIKE 'PROMO%'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
        |    / sum(l_extendedprice * (1 - l_discount)) * 100.0 * 10000) / 10000
        |  AS promo_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin,

    "q_window_top_parts" ->
      """WITH rev AS (
        |  SELECT p_brand, p_partkey,
        |    round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand, p_partkey)
        |SELECT p_brand, p_partkey, revenue,
        |  CAST(row_number() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey ASC) AS INTEGER) AS rnk
        |FROM rev
        |QUALIFY rnk <= 3
        |ORDER BY p_brand, rnk""".stripMargin,

    "q_percentiles" ->
      """SELECT l_returnflag,
        |  floor(quantile_cont(l_extendedprice, 0.5) * 100) / 100 AS p50_price,
        |  floor(quantile_cont(l_extendedprice, 0.95) * 100) / 100 AS p95_price,
        |  floor(quantile_cont(l_quantity, 0.5) * 100) / 100 AS p50_qty
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_anti_customers" ->
      """SELECT c_mktsegment, count(*) AS n
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q_events_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |  count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour, event_type""".stripMargin,

    // hopping-window replay: window starts are the two 30-min-aligned
    // instants s with s <= ts < s + 1h, i.e. (floor(epoch/1800)-k)*1800
    // for k in {0,1}. Naive-timestamp arithmetic (epoch + interval from
    // TIMESTAMP '1970-01-01') — DuckDB's to_timestamp yields TIMESTAMPTZ
    // whose cast to TIMESTAMP shifts by the host session zone.
    "q_events_hopping" ->
      """SELECT TIMESTAMP '1970-01-01'
        |       + (CAST(floor(epoch(ts) / 1800) AS BIGINT) - k.k) * 1800 * INTERVAL 1 SECOND
        |       AS w_start,
        |  event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events, unnest(range(0, 2)) AS k(k)
        |GROUP BY 1, 2
        |ORDER BY w_start, event_type""".stripMargin,

    "q_events_sessions" ->
      """WITH x AS (
        |  SELECT user_id, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS es,
        |    lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pes
        |  FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CASE WHEN pes IS NULL OR es - pes > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
        |FROM x GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_top_purchasers" ->
      """WITH agg AS (
        |  SELECT user_id, round(sum(value), 2) AS total_spent
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT user_id, total_spent,
        |  CAST(row_number() OVER (ORDER BY total_spent DESC, user_id ASC) AS INTEGER) AS rnk
        |FROM agg
        |QUALIFY rnk <= 20
        |ORDER BY rnk""".stripMargin,

    "q_asof_signup" ->
      """SELECT l.event_id, l.user_id, r.value AS asof_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,

    // tolerance replay: ASOF match, then the freshness CASE — a
    // carried signup older than ts - 2 days (ns) nulls out, exactly
    // the engine's inclusive __t >= ts - tol bound
    "q_asof_tolerance" ->
      """SELECT l.event_id, l.user_id,
        |  CASE WHEN epoch_ns(r.ts) >= epoch_ns(l.ts) - 172800000000000
        |       THEN r.value END AS asof_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,

    "q_asof_native" ->
      """SELECT l.event_id, l.user_id, r.value AS asof_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,

    "q_rollup_revenue" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       count(*) AS n,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,

    "q_cube_counts" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,

    "q_small_quantity_revenue" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly, count(*) AS n
        |FROM lineitem l
        |WHERE l_quantity < (
        |  SELECT 0.2 * avg(l_quantity) FROM lineitem
        |  WHERE l_partkey = l.l_partkey)""".stripMargin,

    "q_semi_customers" ->
      """SELECT c_mktsegment, count(*) AS n
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q_kmv_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS approx_users
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_pivot_status" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_open,
        |  CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_finished,
        |  CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_pending
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       count(*) AS n,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))
        |ORDER BY returnflag, linestatus""".stripMargin,

    "q_range_clicks" ->
      """SELECT l.event_id, l.user_id, count(*) AS n_clicks,
        |       round(sum(r.value), 2) AS click_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |JOIN (SELECT * FROM events WHERE event_type = 'click') r
        |  ON r.user_id = l.user_id
        | AND epoch_ns(r.ts) >= epoch_ns(l.ts) - 3600000000000
        | AND epoch_ns(r.ts) <= epoch_ns(l.ts) - 1
        |GROUP BY 1, 2
        |ORDER BY l.event_id""".stripMargin,

    "q_min_retail_parts" ->
      """SELECT p_brand, p_partkey, p_retailprice
        |FROM part p
        |WHERE p_retailprice = (SELECT min(p_retailprice) FROM part p2
        |                       WHERE p2.p_brand = p.p_brand)
        |ORDER BY p_brand, p_partkey""".stripMargin,

    "q_decile_acctbal" ->
      """WITH d AS (
        |  SELECT c_acctbal,
        |    CAST(ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS INTEGER) AS decile
        |  FROM customer)
        |SELECT decile, count(*) AS n,
        |  round(min(c_acctbal), 2) AS lo, round(max(c_acctbal), 2) AS hi
        |FROM d GROUP BY decile ORDER BY decile""".stripMargin,

    "q_fuzzy_nations" ->
      """SELECT a.n_name AS name1, b.n_name AS name2,
        |  CAST(levenshtein(a.n_name, b.n_name) AS INTEGER) AS dist
        |FROM nation a JOIN nation b ON a.n_name < b.n_name
        |WHERE levenshtein(a.n_name, b.n_name) <= 4
        |ORDER BY name1, name2""".stripMargin,

    // winnowing replay: gram hashes from md5, per-window min with the
    // rightmost-min tie (max position among window rows at the min),
    // distinct selected positions
    "text_winnowing" ->
      """WITH d AS (
        |  SELECT doc_id, lower(text) AS s FROM documents
        |  WHERE doc_id < 100 AND length(lower(text)) >= 8),
        |g AS (
        |  SELECT doc_id, CAST(t.i AS BIGINT) AS p,
        |    CAST(('0x' || substr(md5(substring(s, CAST(t.i AS INTEGER), 5)), 1, 15)) AS BIGINT) AS h
        |  FROM d, unnest(range(1, length(s) - 3)) AS t(i)),
        |np AS (SELECT doc_id, max(p) AS n FROM g GROUP BY doc_id),
        |win AS (
        |  SELECT doc_id, CAST(j.j AS BIGINT) AS j
        |  FROM np, unnest(range(1, n - 2)) AS j(j)),
        |wm AS (
        |  SELECT w.doc_id, w.j, min(g.h) AS m
        |  FROM win w JOIN g ON g.doc_id = w.doc_id
        |    AND g.p BETWEEN w.j AND w.j + 3
        |  GROUP BY 1, 2),
        |sel AS (
        |  SELECT wm.doc_id, max(g.p) AS pos, wm.m AS fp
        |  FROM wm JOIN g ON g.doc_id = wm.doc_id
        |    AND g.p BETWEEN wm.j AND wm.j + 3 AND g.h = wm.m
        |  GROUP BY wm.doc_id, wm.j, wm.m)
        |SELECT DISTINCT doc_id, pos, fp FROM sel
        |ORDER BY doc_id, pos""".stripMargin,

    // shared-fingerprint pairs over the snippet-planted corpus: same
    // winnowing chain, distinct (doc, fp), fp-keyed self-join
    "text_winnow_pairs" ->
      """WITH d0 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 100),
        |snip AS (
        |  SELECT doc_id + 1000 AS doc_id, substring(text, 1, 120) AS text
        |  FROM d0 WHERE regexp_matches(text, '^[ -~]*$') AND length(text) >= 240),
        |d AS (
        |  SELECT doc_id, lower(text) AS s
        |  FROM (SELECT * FROM d0 UNION ALL SELECT * FROM snip)
        |  WHERE length(lower(text)) >= 8),
        |g AS (
        |  SELECT doc_id, CAST(t.i AS BIGINT) AS p,
        |    CAST(('0x' || substr(md5(substring(s, CAST(t.i AS INTEGER), 5)), 1, 15)) AS BIGINT) AS h
        |  FROM d, unnest(range(1, length(s) - 3)) AS t(i)),
        |np AS (SELECT doc_id, max(p) AS n FROM g GROUP BY doc_id),
        |win AS (
        |  SELECT doc_id, CAST(j.j AS BIGINT) AS j
        |  FROM np, unnest(range(1, n - 2)) AS j(j)),
        |wm AS (
        |  SELECT w.doc_id, w.j, min(g.h) AS m
        |  FROM win w JOIN g ON g.doc_id = w.doc_id
        |    AND g.p BETWEEN w.j AND w.j + 3
        |  GROUP BY 1, 2),
        |fps0 AS (SELECT DISTINCT doc_id, m AS fp FROM wm),
        |hot AS (SELECT fp FROM fps0 GROUP BY fp HAVING count(*) > 10),
        |fps AS (SELECT * FROM fps0 WHERE fp NOT IN (SELECT fp FROM hot))
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY id1, id2""".stripMargin,

    // record-linkage replay: same md5-name derivation, blocking key,
    // floor-quantized Levenshtein score and recursive closure
    "er_nation_entities" ->
      """WITH RECURSIVE recs AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS id,
        |    substring(md5(n_name), 1, 8) AS name FROM nation
        |  UNION ALL
        |  SELECT n_nationkey + 100,
        |    substring(substring(md5(n_name), 1, 8), 1, 2)
        |      || substring(substring(md5(n_name), 1, 8), 4)
        |  FROM nation
        |  UNION ALL
        |  SELECT n_nationkey + 200, substring(md5(n_name), 1, 8) || 'X'
        |  FROM nation),
        |b AS (SELECT id, name, lower(substring(name, 1, 2)) AS blk FROM recs),
        |jp AS (
        |  SELECT a.id AS id1, b2.id AS id2
        |  FROM b a JOIN b b2 ON a.blk = b2.blk AND a.id < b2.id
        |  WHERE floor((1.0 - CAST(levenshtein(a.name, b2.name) AS DOUBLE)
        |          / greatest(length(a.name), length(b2.name), 1)) / 1.0
        |          * 10000) / 10000 >= 0.7),
        |e AS (SELECT id1 AS src, id2 AS dst FROM jp
        |      UNION SELECT id2, id1 FROM jp),
        |reach AS (
        |  SELECT id AS a, id AS b FROM recs
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
        |lab AS (SELECT a AS id, CAST(min(b) AS BIGINT) AS entity
        |        FROM reach GROUP BY a)
        |SELECT id, entity FROM lab ORDER BY id""".stripMargin,

    // cross-match replay: pooled md5 sigs/bands (disjoint id spaces),
    // PER-SIDE hot-bucket caps, left×right candidates, agreement
    // scoring, row_number best-per-left
    "text_cross_match" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 150),
        |pool AS (
        |  SELECT doc_id AS id, lower(text) AS s FROM base
        |  UNION ALL
        |  SELECT doc_id + 2000, lower(text || ' x') FROM base WHERE doc_id < 50),
        |d AS (SELECT * FROM pool WHERE length(s) >= 5),
        |grams AS (
        |  SELECT DISTINCT id, substr(s, CAST(t.i AS INTEGER), 5) AS g
        |  FROM d, unnest(range(1, length(s) - 3)) AS t(i)),
        |gh AS (
        |  SELECT id, CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS h1,
        |         CAST(('0x' || substr(md5(g), 17, 14)) AS BIGINT) AS h2
        |  FROM grams),
        |sig AS (
        |  SELECT id, CAST(t.i AS INTEGER) AS i,
        |         min((h1 + t.i * h2) % 1152921504606846976) AS v
        |  FROM gh, unnest(range(0, 32)) AS t(i)
        |  GROUP BY 1, 2),
        |bands AS (
        |  SELECT id, i // 8 AS band,
        |         md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY i)) AS bucket
        |  FROM sig GROUP BY id, i // 8),
        |lbands AS (SELECT * FROM bands WHERE id < 50),
        |rbands AS (SELECT * FROM bands WHERE id >= 50),
        |lhot AS (SELECT band, bucket FROM lbands GROUP BY 1, 2 HAVING count(*) > 500),
        |rhot AS (SELECT band, bucket FROM rbands GROUP BY 1, 2 HAVING count(*) > 500),
        |lcap AS (SELECT b.* FROM lbands b WHERE NOT EXISTS (
        |  SELECT 1 FROM lhot h WHERE h.band = b.band AND h.bucket = b.bucket)),
        |rcap AS (SELECT b.* FROM rbands b WHERE NOT EXISTS (
        |  SELECT 1 FROM rhot h WHERE h.band = b.band AND h.bucket = b.bucket)),
        |cand AS (
        |  SELECT DISTINCT a.id AS lid, b.id AS rid
        |  FROM lcap a JOIN rcap b ON a.band = b.band AND a.bucket = b.bucket),
        |agree AS (
        |  SELECT c.lid, c.rid,
        |         round(sum(CASE WHEN s1.v = s2.v THEN 1 ELSE 0 END) / 32.0, 4) AS est
        |  FROM cand c JOIN sig s1 ON s1.id = c.lid
        |              JOIN sig s2 ON s2.id = c.rid AND s2.i = s1.i
        |  GROUP BY 1, 2),
        |best AS (
        |  SELECT lid, rid, est,
        |    row_number() OVER (PARTITION BY lid ORDER BY est DESC, rid ASC) AS rk
        |  FROM agree WHERE est >= 0.2)
        |SELECT lid AS left_id, rid AS right_id, est AS est_jaccard,
        |  CAST(rk AS INT) AS rnk
        |FROM best WHERE rk = 1 ORDER BY left_id""".stripMargin,

    // datasheet replay: each leg an independent aggregate, exact
    // interpolated percentiles, md5 dup keys
    "corpus_datasheet" ->
      """WITH toks AS (
        |  SELECT len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |           t -> length(t) > 0)) AS n_words,
        |    lang, n_chars, md5(text) AS h
        |  FROM documents)
        |SELECT * FROM (
        |  SELECT 'n_docs' AS metric, '' AS dim,
        |    floor(count(*) * 10000) / 10000 AS value FROM toks
        |  UNION ALL
        |  SELECT 'total_tokens', '', floor(CAST(sum(n_words) AS DOUBLE) * 10000) / 10000 FROM toks
        |  UNION ALL
        |  SELECT 'docs_by_lang', lang, floor(CAST(count(*) AS DOUBLE) * 10000) / 10000
        |  FROM toks GROUP BY lang
        |  UNION ALL
        |  SELECT 'exact_dup_rate', '',
        |    floor((1.0 - CAST(count(DISTINCT h) AS DOUBLE) / count(*)) * 10000) / 10000
        |  FROM toks
        |  UNION ALL
        |  SELECT 'p50_chars', '', floor(quantile_cont(n_chars, 0.5) * 10000) / 10000 FROM toks
        |  UNION ALL
        |  SELECT 'p90_chars', '', floor(quantile_cont(n_chars, 0.9) * 10000) / 10000 FROM toks)
        |ORDER BY metric, dim""".stripMargin,

    // negative-sampling replay: sqrt(f·sqrt(f)) quantized weights,
    // integer ceil-div bucket ranges, md5-mod bucket draws
    "text_negative_samples" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
        |  FROM documents WHERE doc_id < 200),
        |wf AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM toks
        |  WHERE length(word) > 0 GROUP BY word),
        |w AS (
        |  SELECT word,
        |    CAST(floor(sqrt(CAST(freq AS DOUBLE) * sqrt(CAST(freq AS DOUBLE))) * 1000000) AS BIGINT) AS w
        |  FROM wf),
        |c AS (
        |  SELECT word, w,
        |    CAST(sum(w) OVER (ORDER BY word ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(w) OVER () AS BIGINT) AS total
        |  FROM w),
        |buckets AS (
        |  SELECT unnest(generate_series(
        |      ((cum - w) * 4096 + total - 1) // total,
        |      ((cum * 4096 + total - 1) // total) - 1)) AS bucket,
        |    word AS neg_word
        |  FROM c
        |  WHERE ((cum - w) * 4096 + total - 1) // total
        |     <= ((cum * 4096 + total - 1) // total) - 1),
        |top20 AS (
        |  SELECT word AS center FROM wf
        |  ORDER BY freq DESC, word ASC LIMIT 20),
        |draws AS (
        |  SELECT center, CAST(r.r AS INTEGER) AS neg_rank,
        |    CAST(('0x' || substr(md5('w2v' || '|' || center || '|'
        |      || CAST(r.r AS VARCHAR)), 1, 15)) AS BIGINT) % 4096 AS bucket
        |  FROM top20, unnest(range(1, 6)) AS r(r))
        |SELECT d.center, d.neg_rank, b.neg_word
        |FROM draws d JOIN buckets b ON b.bucket = d.bucket
        |ORDER BY center, neg_rank""".stripMargin,

    // cross-table linkage replay: same derivation/blocking/score,
    // best-per-left via row_number (score desc, right id asc)
    "er_table_link" ->
      """WITH nat AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS id,
        |    substring(md5(n_name), 1, 8) AS name FROM nation),
        |dirty AS (
        |  SELECT id + 100 AS id, substring(name, 1, 2) || substring(name, 4) AS name FROM nat
        |  UNION ALL
        |  SELECT id + 200, name || 'X' FROM nat),
        |lb AS (SELECT id, name, lower(substring(name, 1, 2)) AS blk FROM nat),
        |rb AS (SELECT id, name, lower(substring(name, 1, 2)) AS blk FROM dirty),
        |sc AS (
        |  SELECT l.id AS left_id, r.id AS right_id,
        |    floor((1.0 - CAST(levenshtein(l.name, r.name) AS DOUBLE)
        |      / greatest(length(l.name), length(r.name), 1)) / 1.0
        |      * 10000) / 10000 AS score
        |  FROM lb l JOIN rb r ON l.blk = r.blk),
        |th AS (SELECT * FROM sc WHERE score >= 0.6),
        |best AS (
        |  SELECT left_id, right_id, score,
        |    row_number() OVER (PARTITION BY left_id
        |      ORDER BY score DESC, right_id ASC) AS rk
        |  FROM th)
        |SELECT left_id, right_id, score FROM best WHERE rk = 1
        |ORDER BY left_id""".stripMargin,

    "v_fd_discovery" ->
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
        |ORDER BY determinant, dependent""".stripMargin,

    "q_rfm_segments" ->
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
        |FROM coded GROUP BY 1 ORDER BY rfm_code""".stripMargin,

    // schema-infer replay: same feed derivation; bigint parseability
    // simulated with the integral regexp (Spark's try_cast rejects
    // fractional strings where DuckDB's would round — the regexp pins
    // Spark's semantics), double/date via try_cast (aligned engines)
    "v_schema_infer" ->
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
        |FROM c ORDER BY "column" """.stripMargin,

    "q_triangle_count" ->
      """WITH li AS (
        |  SELECT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
        |  WHERE l_orderkey < 5000),
        |e AS (
        |  SELECT DISTINCT a.sk AS x, b.sk AS y
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.sk < b.sk)
        |SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |FROM e e1 JOIN e e2 ON e1.y = e2.x
        |JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y""".stripMargin,

    "q_seasonal_residuals" ->
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
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_winsorize" ->
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
        |ORDER BY event_id""".stripMargin,

    "q_brand_lift" ->
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
        |ORDER BY brand1, brand2""".stripMargin,

    "q_event_transitions" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT prev AS from_type, event_type AS to_type,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM seq WHERE prev IS NOT NULL
        |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin,

    "q_revenue_gini" ->
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
        |FROM ranked""".stripMargin,

    "text_hapax" ->
      """WITH toks AS (
        |  SELECT lang, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |tf AS (
        |  SELECT lang, tok, CAST(count(*) AS BIGINT) AS n FROM toks
        |  WHERE length(tok) > 0 GROUP BY 1, 2)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(n) AS BIGINT) AS n_tokens,
        |  floor(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) * 10000) / 10000 AS hapax_ratio
        |FROM tf GROUP BY lang ORDER BY lang""".stripMargin,

    // MAD replay: exact interpolated medians both engines
    "q_outlier_mad" ->
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
        |ORDER BY event_id""".stripMargin,

    "q_rank_normalize" ->
      """SELECT event_id, event_type, value,
        |  floor(percent_rank() OVER (PARTITION BY event_type
        |    ORDER BY value, event_id) * 10000) / 10000 AS rnorm
        |FROM events
        |WHERE value IS NOT NULL AND event_id < 2000
        |ORDER BY event_id""".stripMargin,

    "q_setops_customers" ->
      """SELECT 'urgent_and_finished' AS set_op, count(*) AS n FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |UNION ALL
        |SELECT 'urgent_never_finished', count(*) FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |ORDER BY set_op""".stripMargin,

    "q_json_props" ->
      """WITH x AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(k) AS BIGINT) AS sum_k, count(DISTINCT k) AS n_k
        |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin,

    "v_customer_errors" ->
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
        |ORDER BY c_custkey""".stripMargin,

    "v_customer_summary" ->
      """SELECT * FROM (
        |  SELECT 'acctbal_nonneg' AS rule, count(*) FILTER (WHERE c_acctbal < 0) AS violations FROM customer
        |  UNION ALL
        |  SELECT 'mktsegment_enum', count(*) FILTER (WHERE c_mktsegment IS NOT NULL AND trim(c_mktsegment) <> '' AND c_mktsegment NOT IN ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY')) FROM customer
        |  UNION ALL
        |  SELECT 'name_format', count(*) FILTER (WHERE c_name IS NOT NULL AND trim(c_name) <> '' AND NOT regexp_matches(c_name, '^Customer#[0-9]{9}$')) FROM customer
        |  UNION ALL
        |  SELECT 'nationkey_range', count(*) FILTER (WHERE c_nationkey < 0 OR c_nationkey > 24) FROM customer)
        |ORDER BY rule""".stripMargin,

    "v_scenario_report" ->
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
        |ORDER BY scenario""".stripMargin,

    "v_orders_errors" ->
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
        |ORDER BY o_orderkey""".stripMargin,

    "v_lineitem_split" ->
      """SELECT status, count(*) AS cnt FROM (
        |  SELECT CASE WHEN (l_quantity < 1 OR l_quantity > 50) OR l_discount > 0.08
        |                    OR l_tax > 0.08 OR l_extendedprice <= 0
        |              THEN 'invalid' ELSE 'valid' END AS status
        |  FROM lineitem)
        |GROUP BY status ORDER BY status""".stripMargin,

    "v_profile_customer" ->
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
        |FROM s ORDER BY col_name""".stripMargin,

    "v_fk_orphans" ->
      """SELECT 'lineitem_without_order' AS chk, count(*) AS n
        |FROM lineitem l
        |WHERE l_orderkey IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL
        |SELECT 'orders_without_customer', count(*)
        |FROM orders o
        |WHERE o_custkey IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |ORDER BY chk""".stripMargin,

    "v_error_compare" ->
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
        |ORDER BY key, token""".stripMargin,

    "emb_near_dup" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |d AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid, sum(a.v * b.v) AS dot
        |  FROM e a JOIN e b ON a.i = b.i AND b.vec_id <> a.vec_id
        |  WHERE a.vec_id < 50
        |  GROUP BY 1, 2)
        |SELECT qid AS query_id, cid AS neighbor_id,
        |       round(dot / (na.nrm * nb.nrm), 6) AS cosine
        |FROM d JOIN n na ON na.vec_id = d.qid JOIN n nb ON nb.vec_id = d.cid
        |WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.3
        |ORDER BY query_id, neighbor_id""".stripMargin,

    "dedup_exact_docs" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents
        |GROUP BY md5(text)
        |ORDER BY content_hash""".stripMargin,

    "dup_key_docs" ->
      """SELECT lang, source, count(*) AS dup_count
        |FROM documents
        |GROUP BY lang, source
        |HAVING count(*) > 1
        |ORDER BY lang, source""".stripMargin,

    "dup_events_keys" ->
      """SELECT user_id, event_type, count(*) AS dup_count
        |FROM events
        |GROUP BY user_id, event_type
        |HAVING count(*) > 1
        |ORDER BY user_id, event_type""".stripMargin,

    "ngram_jaccard_pairs" ->
      """WITH docs AS (
        |  SELECT doc_id, lower(text) AS s FROM documents
        |  WHERE doc_id < 100 AND length(text) >= 5),
        |grams AS (
        |  SELECT DISTINCT doc_id, substring(s, CAST(i AS INTEGER), 5) AS g
        |  FROM docs, unnest(range(1, length(s) - 3)) AS t(i)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT p.id1, p.id2,
        |  round(p.inter / (sa.n + sb.n - p.inter), 4) AS jaccard
        |FROM pairs p
        |JOIN sizes sa ON sa.doc_id = p.id1
        |JOIN sizes sb ON sb.doc_id = p.id2
        |WHERE round(p.inter / (sa.n + sb.n - p.inter), 4) >= 0.2
        |ORDER BY id1, id2""".stripMargin,

    "q_dup_components" ->
      """WITH RECURSIVE alldocs AS (
        |  SELECT doc_id, lower(text) AS s FROM documents WHERE doc_id < 100),
        |docs5 AS (SELECT * FROM alldocs WHERE length(s) >= 5),
        |grams AS (
        |  SELECT DISTINCT doc_id, substring(s, CAST(i AS INTEGER), 5) AS g
        |  FROM docs5, unnest(range(1, length(s) - 3)) AS t(i)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        |pr AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jp AS (
        |  SELECT p.id1, p.id2
        |  FROM pr p JOIN sizes sa ON sa.doc_id = p.id1
        |            JOIN sizes sb ON sb.doc_id = p.id2
        |  WHERE round(p.inter / (sa.n + sb.n - p.inter), 4) >= 0.2),
        |e AS (SELECT id1 AS src, id2 AS dst FROM jp
        |      UNION SELECT id2, id1 FROM jp),
        |reach AS (
        |  SELECT doc_id AS a, doc_id AS b FROM alldocs
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
        |lab AS (SELECT a AS id, min(b) AS component FROM reach GROUP BY a)
        |SELECT component, count(*) AS n_members
        |FROM lab GROUP BY component ORDER BY component""".stripMargin,

    "ann_cosine_topk" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |d AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid, sum(a.v * b.v) AS dot
        |  FROM e a JOIN e b ON a.i = b.i AND b.vec_id <> a.vec_id
        |  WHERE a.vec_id < 5
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT qid AS query_id, cid AS neighbor_id,
        |         round(dot / (na.nrm * nb.nrm), 6) AS cosine
        |  FROM d JOIN n na ON na.vec_id = d.qid JOIN n nb ON nb.vec_id = d.cid)
        |SELECT query_id, neighbor_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rnk
        |FROM sc
        |QUALIFY rnk <= 10
        |ORDER BY query_id, rnk""".stripMargin,

    // mutual-knn cluster replay: full ranking, rank<=3 + threshold,
    // reciprocal-edge join, recursive-CTE closure, min-id labels
    "emb_knn_clusters" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |d AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid, sum(a.v * b.v) AS dot
        |  FROM e a JOIN e b ON a.i = b.i AND b.vec_id <> a.vec_id
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT qid AS query_id, cid AS neighbor_id,
        |         round(dot / (na.nrm * nb.nrm), 6) AS cosine,
        |         row_number() OVER (PARTITION BY qid
        |           ORDER BY round(dot / (na.nrm * nb.nrm), 6) DESC, cid ASC) AS rnk
        |  FROM d JOIN n na ON na.vec_id = d.qid JOIN n nb ON nb.vec_id = d.cid),
        |knn AS (
        |  SELECT query_id, neighbor_id FROM sc
        |  WHERE rnk <= 3 AND cosine >= 0.3),
        |ed AS (
        |  SELECT a.query_id AS src, a.neighbor_id AS dst
        |  FROM knn a JOIN knn b
        |    ON b.query_id = a.neighbor_id AND b.neighbor_id = a.query_id),
        |reach AS (
        |  SELECT vec_id AS a, vec_id AS b FROM embeddings
        |  UNION
        |  SELECT r.a, ed.dst FROM reach r JOIN ed ON r.b = ed.src),
        |lab AS (SELECT a AS id, min(b) AS component FROM reach GROUP BY a)
        |SELECT component, CAST(count(*) AS BIGINT) AS n_members
        |FROM lab GROUP BY component ORDER BY component""".stripMargin,

    // knn-graph replay: the brute cosine stack with NO query filter —
    // every vector ranks every other, top 3 kept
    "ann_knn_graph" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |d AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid, sum(a.v * b.v) AS dot
        |  FROM e a JOIN e b ON a.i = b.i AND b.vec_id <> a.vec_id
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT qid AS query_id, cid AS neighbor_id,
        |         round(dot / (na.nrm * nb.nrm), 6) AS cosine
        |  FROM d JOIN n na ON na.vec_id = d.qid JOIN n nb ON nb.vec_id = d.cid)
        |SELECT query_id, neighbor_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rnk
        |FROM sc
        |QUALIFY rnk <= 3
        |ORDER BY query_id, rnk""".stripMargin,

    // neighbor-purity replay: the ann_knn_graph top-3 CTE joined back
    // to labels, purity as exact-count division rounded 1e-6
    "emb_neighbor_purity" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |d AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid, sum(a.v * b.v) AS dot
        |  FROM e a JOIN e b ON a.i = b.i AND b.vec_id <> a.vec_id
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT qid AS query_id, cid AS neighbor_id,
        |         round(dot / (na.nrm * nb.nrm), 6) AS cosine
        |  FROM d JOIN n na ON na.vec_id = d.qid JOIN n nb ON nb.vec_id = d.cid),
        |g AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
        |  FROM sc QUALIFY rnk <= 3)
        |SELECT ql.label AS label,
        |  count(DISTINCT g.query_id) AS n_queries,
        |  count(*) AS n_edges,
        |  round(CAST(sum(CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*), 6) AS purity
        |FROM g
        |JOIN embeddings ql ON ql.vec_id = g.query_id
        |JOIN embeddings nl ON nl.vec_id = g.neighbor_id
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    // 3COSADD replay: same stride quads, element-wise b−a+c target,
    // round-6 cosine argmax over the vocabulary minus {a,b,c} with
    // the (cosine DESC, id ASC) tie order
    "emb_analogy_acc" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |tgt AS (
        |  -- quads derived IN element space (e ⋈ e, the knn-oracle
        |  -- shape): joining e against a separate quad CTE sends
        |  -- DuckDB through a per-outer-row delim join that re-runs
        |  -- the unnest (measured 110 s vs 1.1 s for this form)
        |  SELECT ea.vec_id AS a, ea.vec_id + 1 AS b, ea.vec_id + 7 AS c,
        |         ea.vec_id + 8 AS d, ea.i, eb.v - ea.v + ec.v AS tv
        |  FROM e ea
        |  JOIN e eb ON eb.vec_id = ea.vec_id + 1 AND eb.i = ea.i
        |  JOIN e ec ON ec.vec_id = ea.vec_id + 7 AND ec.i = ea.i
        |  JOIN embeddings dd ON dd.vec_id = ea.vec_id + 8),
        |tn AS (
        |  SELECT a, b, c, d, sqrt(sum(tv * tv)) AS tnrm
        |  FROM tgt GROUP BY 1, 2, 3, 4),
        |wn AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |dots AS (
        |  SELECT tgt.a, tgt.b, tgt.c, tgt.d, w.vec_id AS w,
        |         sum(tgt.tv * w.v) AS dot
        |  FROM tgt
        |  JOIN e w ON w.i = tgt.i
        |  WHERE w.vec_id <> tgt.a AND w.vec_id <> tgt.b AND w.vec_id <> tgt.c
        |  GROUP BY 1, 2, 3, 4, 5),
        |sc AS (
        |  SELECT dots.a, dots.b, dots.c, dots.d, dots.w,
        |         round(dots.dot / (tn.tnrm * wn.nrm), 6) AS cos
        |  FROM dots
        |  JOIN tn ON tn.a = dots.a AND tn.b = dots.b AND tn.c = dots.c AND tn.d = dots.d
        |  JOIN wn ON wn.vec_id = dots.w),
        |win AS (
        |  SELECT a, d, w,
        |    row_number() OVER (PARTITION BY a, b, c, d
        |                       ORDER BY cos DESC, w ASC) AS rnk
        |  FROM sc QUALIFY rnk = 1)
        |SELECT count(*) AS n_quads,
        |  CAST(sum(CASE WHEN w = d THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        |  round(CAST(sum(CASE WHEN w = d THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*), 6) AS accuracy
        |FROM win""".stripMargin,

    // Spearman replay: identical stride pair set, identical min-rank
    // (rank()) convention, exact-integer Σd², one final double divide
    "emb_sim_rank_corr" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |p AS (
        |  SELECT a.vec_id AS a_id, a.vec_id + t.st AS b_id
        |  FROM embeddings a, unnest([1, 7, 31, 101]) AS t(st)),
        |pd AS (
        |  SELECT p.a_id, p.b_id, sum(ea.v * eb.v) AS dot
        |  FROM p
        |  JOIN e ea ON ea.vec_id = p.a_id
        |  JOIN e eb ON eb.vec_id = p.b_id AND eb.i = ea.i
        |  GROUP BY 1, 2),
        |pr AS (
        |  SELECT -abs(la.label - lb.label) AS gold,
        |         round(pd.dot / (na.nrm * nb.nrm), 6) AS model
        |  FROM pd
        |  JOIN n na ON na.vec_id = pd.a_id
        |  JOIN n nb ON nb.vec_id = pd.b_id
        |  JOIN embeddings la ON la.vec_id = pd.a_id
        |  JOIN embeddings lb ON lb.vec_id = pd.b_id),
        |r AS (
        |  SELECT rank() OVER (ORDER BY gold ASC) AS rg,
        |         rank() OVER (ORDER BY model ASC) AS rm
        |  FROM pr)
        |SELECT count(*) AS n_pairs,
        |  CAST(sum((rg - rm) * (rg - rm)) AS BIGINT) AS sum_d2,
        |  round(1.0 - 6.0 * CAST(sum((rg - rm) * (rg - rm)) AS DOUBLE) /
        |    (CAST(count(*) AS DOUBLE) *
        |     (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE) - 1.0)), 6) AS rho
        |FROM r""".stripMargin,

    // centroid-outlier replay: same integer-quantized centroid (exact
    // in any sum order), same element joins, round6 cosine
    "emb_centroid_outliers" ->
      """WITH q AS (
        |  SELECT label AS grp, vec_id AS vid, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |cent AS (
        |  SELECT grp, i,
        |    CAST(sum(CAST(floor(v * 10000) AS BIGINT)) AS DOUBLE)
        |      / 10000.0 / count(*) AS c
        |  FROM q GROUP BY grp, i),
        |j AS (
        |  SELECT q.grp, q.vid,
        |    sum(q.v * cent.c) AS dot, sum(q.v * q.v) AS nv, sum(cent.c * cent.c) AS nc
        |  FROM q JOIN cent ON cent.grp = q.grp AND cent.i = q.i
        |  GROUP BY q.grp, q.vid)
        |SELECT grp, vid,
        |  round(dot / (sqrt(nv) * sqrt(nc)), 6) AS cos_centroid,
        |  round(dot / (sqrt(nv) * sqrt(nc)), 6) < 0.1 AS is_outlier
        |FROM j ORDER BY grp, vid""".stripMargin,

    // triplet replay: same ranking stack; positive = rank 1,
    // negatives = ranks 4..8 re-based to 1..5
    "emb_hard_negatives" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |d AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid, sum(a.v * b.v) AS dot
        |  FROM e a JOIN e b ON a.i = b.i AND b.vec_id <> a.vec_id
        |  WHERE a.vec_id < 5
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT qid AS query_id, cid AS neighbor_id,
        |         round(dot / (na.nrm * nb.nrm), 6) AS cosine,
        |         CAST(row_number() OVER (PARTITION BY qid
        |           ORDER BY round(dot / (na.nrm * nb.nrm), 6) DESC, cid ASC)
        |           AS INTEGER) AS rnk
        |  FROM d JOIN n na ON na.vec_id = d.qid JOIN n nb ON nb.vec_id = d.cid),
        |pos AS (SELECT query_id, neighbor_id AS pos_id FROM sc WHERE rnk = 1)
        |SELECT sc.query_id, pos.pos_id, sc.neighbor_id AS neg_id,
        |  CAST(sc.rnk - 3 AS INTEGER) AS neg_rank
        |FROM sc JOIN pos USING (query_id)
        |WHERE sc.rnk > 3 AND sc.rnk <= 8
        |ORDER BY sc.query_id, neg_rank""".stripMargin,

    // filtered-search replay: identical cosine stack with the label
    // predicate on the CANDIDATE side only (queries stay unfiltered)
    "ann_filtered_topk" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |d AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid, sum(a.v * b.v) AS dot
        |  FROM e a JOIN e b ON a.i = b.i AND b.vec_id <> a.vec_id
        |  WHERE a.vec_id < 5 AND b.label % 2 = 0
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT qid AS query_id, cid AS neighbor_id,
        |         round(dot / (na.nrm * nb.nrm), 6) AS cosine
        |  FROM d JOIN n na ON na.vec_id = d.qid JOIN n nb ON nb.vec_id = d.cid)
        |SELECT query_id, neighbor_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rnk
        |FROM sc
        |QUALIFY rnk <= 10
        |ORDER BY query_id, rnk""".stripMargin,

    "text_token_counts" ->
      """SELECT doc_id,
        |  CAST(coalesce(len(list_filter(regexp_split_to_array(text, '\s+'),
        |                                t -> length(t) > 0)), 0) AS INTEGER) AS ws_tokens,
        |  CAST(coalesce(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')), 0) AS INTEGER) AS bpeish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      """SELECT doc_id,
        |  floor(least(1.0,
        |    (CASE WHEN nchars > 0 THEN nalpha / nchars ELSE 0.0 END) * 0.4
        |    + (1.0 - least((CASE WHEN nchars > 0 THEN nsym / nchars ELSE 0.0 END) * 5, 1.0)) * 0.2
        |    + (CASE WHEN nchars >= 50 AND nchars <= 100000 THEN 1.0 ELSE 0.5 END) * 0.2
        |    + (CASE WHEN meanword >= 3 AND meanword <= 12 THEN 1.0 ELSE 0.5 END) * 0.2) * 10000) / 10000 AS quality
        |FROM (
        |  SELECT doc_id, nchars, ntokens, nalpha, nsym,
        |    CASE WHEN ntokens > 0 THEN nchars / ntokens ELSE 0.0 END AS meanword
        |  FROM (
        |    SELECT doc_id,
        |      CAST(length(trim(text)) AS DOUBLE) AS nchars,
        |      CAST(coalesce(len(list_filter(regexp_split_to_array(text, '\s+'),
        |                                    t -> length(t) > 0)), 0) AS DOUBLE) AS ntokens,
        |      CAST(coalesce(len(regexp_extract_all(trim(text), '[A-Za-z]')), 0) AS DOUBLE) AS nalpha,
        |      CAST(coalesce(len(regexp_extract_all(trim(text), '[^A-Za-z0-9\s]')), 0) AS DOUBLE) AS nsym
        |    FROM documents))
        |ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    // IVF mirrored step-by-step: md5-sampled centroids, rounded-score
    // cell assignment, nprobe probing, per-query top-k.
    "ann_ivf_topk" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |cents AS (
        |  SELECT vec_id AS cent_id FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 16),
        |cscores AS (
        |  SELECT a.vec_id AS item_id, c.cent_id,
        |         round(sum(a.v * b.v) / (na.nrm * nb.nrm), 6) AS score
        |  FROM e a
        |  JOIN cents c ON true
        |  JOIN e b ON b.vec_id = c.cent_id AND b.i = a.i
        |  JOIN n na ON na.vec_id = a.vec_id
        |  JOIN n nb ON nb.vec_id = c.cent_id
        |  GROUP BY a.vec_id, c.cent_id, na.nrm, nb.nrm),
        |assigned AS (
        |  SELECT item_id AS neighbor_id, cent_id AS cell FROM (
        |    SELECT item_id, cent_id,
        |      row_number() OVER (PARTITION BY item_id ORDER BY score DESC, cent_id ASC) AS rn
        |    FROM cscores) WHERE rn = 1),
        |probes AS (
        |  SELECT item_id AS query_id, cent_id AS cell FROM (
        |    SELECT item_id, cent_id,
        |      row_number() OVER (PARTITION BY item_id ORDER BY score DESC, cent_id ASC) AS rn
        |    FROM cscores WHERE item_id < 5) WHERE rn <= 4),
        |pairs AS (
        |  SELECT p.query_id, a.neighbor_id,
        |         round(sum(qe.v * ce.v) / (nq.nrm * nc.nrm), 6) AS cosine
        |  FROM probes p
        |  JOIN assigned a ON a.cell = p.cell AND a.neighbor_id <> p.query_id
        |  JOIN e qe ON qe.vec_id = p.query_id
        |  JOIN e ce ON ce.vec_id = a.neighbor_id AND ce.i = qe.i
        |  JOIN n nq ON nq.vec_id = p.query_id
        |  JOIN n nc ON nc.vec_id = a.neighbor_id
        |  GROUP BY p.query_id, a.neighbor_id, nq.nrm, nc.nrm)
        |SELECT query_id, neighbor_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rnk
        |FROM pairs
        |QUALIFY rnk <= 10
        |ORDER BY query_id, rnk""".stripMargin,

    // two-level IVF replay: md5-ordered seeds 1..4 → coarse (cent_id =
    // rank-1), seeds 5..20 → fine dealt round-robin (j = rank-5:
    // coarse_id = j % 4, global cent_id = coarse_id*4 + j//4);
    // assignment = argmax over the coarse-winner's fines; probes rank
    // fine cells of the query's top-3 coarse by coarse+fine score
    "ann_ivf2_topk" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |seeds AS (
        |  SELECT vec_id, row_number() OVER (
        |    ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC) AS rk
        |  FROM embeddings),
        |coarse AS (
        |  SELECT vec_id, CAST(rk - 1 AS BIGINT) AS cent_id
        |  FROM seeds WHERE rk <= 4),
        |fine AS (
        |  SELECT vec_id,
        |    CAST((rk - 5) % 4 AS BIGINT) AS coarse_id,
        |    CAST(((rk - 5) % 4) * 4 + (rk - 5) // 4 AS BIGINT) AS cent_id
        |  FROM seeds WHERE rk > 4 AND rk <= 20),
        |cs AS (
        |  SELECT a.vec_id AS item_id, c.cent_id,
        |         round(sum(a.v * b.v) / (na.nrm * nb.nrm), 6) AS score
        |  FROM e a JOIN coarse c ON true
        |  JOIN e b ON b.vec_id = c.vec_id AND b.i = a.i
        |  JOIN n na ON na.vec_id = a.vec_id
        |  JOIN n nb ON nb.vec_id = c.vec_id
        |  GROUP BY a.vec_id, c.cent_id, na.nrm, nb.nrm),
        |cbest AS (
        |  SELECT item_id, cent_id AS coarse_id FROM (
        |    SELECT item_id, cent_id,
        |      row_number() OVER (PARTITION BY item_id ORDER BY score DESC, cent_id ASC) AS rn
        |    FROM cs) WHERE rn = 1),
        |fs AS (
        |  SELECT a.vec_id AS item_id, f.cent_id, f.coarse_id,
        |         round(sum(a.v * b.v) / (na.nrm * nb.nrm), 6) AS score
        |  FROM e a JOIN fine f ON true
        |  JOIN e b ON b.vec_id = f.vec_id AND b.i = a.i
        |  JOIN n na ON na.vec_id = a.vec_id
        |  JOIN n nb ON nb.vec_id = f.vec_id
        |  GROUP BY a.vec_id, f.cent_id, f.coarse_id, na.nrm, nb.nrm),
        |assigned AS (
        |  SELECT item_id AS neighbor_id, cent_id AS cell FROM (
        |    SELECT x.item_id, x.cent_id,
        |      row_number() OVER (PARTITION BY x.item_id ORDER BY x.score DESC, x.cent_id ASC) AS rn
        |    FROM fs x JOIN cbest cb ON cb.item_id = x.item_id AND cb.coarse_id = x.coarse_id)
        |  WHERE rn = 1),
        |topc AS (
        |  SELECT item_id, cent_id AS coarse_id, score AS cscore FROM (
        |    SELECT item_id, cent_id, score,
        |      row_number() OVER (PARTITION BY item_id ORDER BY score DESC, cent_id ASC) AS rn
        |    FROM cs WHERE item_id < 5) WHERE rn <= 3),
        |probes AS (
        |  SELECT item_id AS query_id, cent_id AS cell FROM (
        |    SELECT x.item_id, x.cent_id,
        |      row_number() OVER (PARTITION BY x.item_id
        |        ORDER BY (tc.cscore + x.score) DESC, x.cent_id ASC) AS rn
        |    FROM fs x JOIN topc tc ON tc.item_id = x.item_id AND tc.coarse_id = x.coarse_id)
        |  WHERE rn <= 6),
        |pairs AS (
        |  SELECT p.query_id, a.neighbor_id,
        |         round(sum(qe.v * ce.v) / (nq.nrm * nc.nrm), 6) AS cosine
        |  FROM probes p
        |  JOIN assigned a ON a.cell = p.cell AND a.neighbor_id <> p.query_id
        |  JOIN e qe ON qe.vec_id = p.query_id
        |  JOIN e ce ON ce.vec_id = a.neighbor_id AND ce.i = qe.i
        |  JOIN n nq ON nq.vec_id = p.query_id
        |  JOIN n nc ON nc.vec_id = a.neighbor_id
        |  GROUP BY p.query_id, a.neighbor_id, nq.nrm, nc.nrm)
        |SELECT query_id, neighbor_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rnk
        |FROM pairs
        |QUALIFY rnk <= 10
        |ORDER BY query_id, rnk""".stripMargin,

    "q_vocab_top" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents)
        |SELECT token, count(*) AS freq FROM toks
        |WHERE length(token) > 0
        |GROUP BY token
        |ORDER BY freq DESC, token ASC
        |LIMIT 50""".stripMargin,

    "q_running_total" ->
      """SELECT o_custkey, o_orderkey,
        |  floor(sum(o_totalprice) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100) / 100
        |    AS running_spend
        |FROM orders WHERE o_custkey < 100
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "text_scrubbed" ->
      """SELECT doc_id,
        |  md5(regexp_replace(
        |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{7,}', '<NUM>', 'g')) AS scrubbed_fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    // crawl-pipeline replay: each stage's proven fragment chained —
    // the url_dedup normalize chain, the html_text strip chain, the
    // length>0-filtered token count, the text_fingerprint md5, and
    // the url_domain_cap PSL + md5-rank window
    "q_crawl_pipeline" ->
      ("""WITH crawl AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://www.' ELSE 'https://www.' END ||
        |    source ||
        |    CASE WHEN doc_id % 3 = 0 THEN '.co.uk' ELSE '.com' END ||
        |    '/p/' || (doc_id - doc_id % 4) ||
        |    CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN '#f' ELSE '' END AS url,
        |    '<html><body><h1>' || source || '</h1><p>' ||
        |    CASE WHEN doc_id % 10 = 9 THEN 'standard cookie banner page'
        |         ELSE text END ||
        |    '</p><script>x()</script></body></html>' AS html
        |  FROM documents),
        |nd AS (
        |  SELECT doc_id, url, html,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(trim(url), '#.*', ''),
        |          '([?&])((utm_[a-z]+|fbclid|gclid)=[^&]*&)+', '\1', 'g'),
        |        '[?&](utm_[a-z]+|fbclid|gclid)=[^&]*$', ''),
        |      '\?$', '') AS n
        |  FROM crawl),
        |norm AS (
        |  SELECT doc_id, url, html,
        |    regexp_replace(
        |      regexp_replace(lower(regexp_extract(n, '^([^/]*//[^/?#]*)', 1)), ':(80|443)$', '')
        |        || regexp_extract(n, '^[^/]*//[^/?#]*(.*)$', 1),
        |      '/$', '') AS nurl
        |  FROM nd),
        |keep1 AS (SELECT nurl, min(doc_id) AS doc_id FROM norm GROUP BY nurl),
        |s1 AS (SELECT norm.* FROM norm JOIN keep1 USING (nurl, doc_id)),
        |strip AS (
        |  SELECT doc_id, url, trim(regexp_replace(
        |   regexp_replace(
        |    regexp_replace(
        |     regexp_replace(
        |      regexp_replace(
        |       regexp_replace(
        |        regexp_replace(
        |         regexp_replace(
        |          regexp_replace(
        |           regexp_replace(
        |            regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |            '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |           '(?s)<!--.*?-->', ' ', 'g'),
        |          '<[^>]*>', ' ', 'g'),
        |         '&nbsp;', ' ', 'g'),
        |        '&lt;', '<', 'g'),
        |       '&gt;', '>', 'g'),
        |      '&quot;', '"', 'g'),
        |     '&#39;', '''', 'g'),
        |    '&amp;', '&', 'g'),
        |   '\s+', ' ', 'g')) AS clean
        |  FROM s1),
        |gated AS (
        |  SELECT * FROM strip
        |  WHERE len(list_filter(regexp_split_to_array(clean, '\s+'),
        |          x -> length(x) > 0)) >= 25),
        |f AS (
        |  SELECT *, md5(regexp_replace(trim(lower(clean)), '\s+', ' ', 'g')) AS fp
        |  FROM gated),
        |keep2 AS (SELECT fp, min(doc_id) AS doc_id FROM f GROUP BY fp),
        |s2 AS (SELECT f.* FROM f JOIN keep2 USING (fp, doc_id)),
        |dom AS (
        |  SELECT doc_id, clean,
        |    lower(regexp_extract(trim(url), '^[^/]*//([^/:?#]+)', 1)) AS host
        |  FROM s2),
        |domd AS (
        |  SELECT doc_id, clean,
        |    """.stripMargin + pslDomainCaseSql("host") + """ AS domain
        |  FROM dom),
        |r AS (
        |  SELECT doc_id, clean, domain,
        |    row_number() OVER (PARTITION BY domain
        |      ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 15)) AS BIGINT)
        |               % 1099511627776, doc_id) AS rk
        |  FROM domd)
        |SELECT doc_id, domain,
        |  CAST(len(list_filter(regexp_split_to_array(clean, '\s+'),
        |       x -> length(x) > 0)) AS BIGINT) AS n_tokens
        |FROM r WHERE rk <= 3
        |ORDER BY domain, doc_id""".stripMargin),

    // Luhn replay: same candidate regex, same struct-based
    // strip/validate/replace chain via list lambdas; checksum
    // arithmetic is pure integers, so parity is exact
    "text_cc_scrub" ->
      """WITH d AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 0 THEN ' pay 4532-0151-1283-0366 now' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' ref 1234 5678 1234 5678 x' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' amex 374245455400126 end' ELSE '' END AS t
        |  FROM documents),
        |cc AS (
        |  SELECT doc_id, t,
        |    regexp_extract_all(t, '[0-9](?:[ -]?[0-9]){12,18}') AS cands
        |  FROM d),
        |w AS (
        |  SELECT doc_id, t, cands,
        |    list_transform(
        |      list_filter(
        |        list_transform(cands, x ->
        |          struct_pack(orig := x, ds := regexp_replace(x, '[ -]', '', 'g'))),
        |        s -> length(s.ds) BETWEEN 13 AND 19 AND
        |          list_sum(list_transform(range(1, length(s.ds) + 1), i ->
        |            CASE WHEN (length(s.ds) - i) % 2 = 1
        |              THEN CASE WHEN CAST(s.ds[i] AS INTEGER) * 2 > 9
        |                   THEN CAST(s.ds[i] AS INTEGER) * 2 - 9
        |                   ELSE CAST(s.ds[i] AS INTEGER) * 2 END
        |              ELSE CAST(s.ds[i] AS INTEGER) END)) % 10 = 0),
        |      s -> s.orig) AS valid
        |  FROM cc)
        |SELECT doc_id,
        |  CAST(len(cands) AS BIGINT) AS n_cand,
        |  CAST(len(valid) AS BIGINT) AS n_valid,
        |  list_reduce(list_prepend(t, valid),
        |    (acc, x) -> replace(acc, x, '<CC>')) AS scrubbed
        |FROM w ORDER BY doc_id""".stripMargin,

    // boilerplate-forensics replay: winnow selection + df gate +
    // lexicographic-min (doc, pos) example + gram render, top-15
    "text_top_boilerplate" ->
      """WITH d0 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN substring(text, 1, 40) ||
        |        ' This Software Is Provided As Is Without Warranty Of Any Kind Express Or Implied ' ||
        |        substring(text, 41)
        |      ELSE text END ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN ' Subscribe To Our Newsletter For Updates And Offers ' ELSE '' END AS t
        |  FROM documents),
        |d AS (SELECT doc_id, t AS s FROM d0 WHERE length(t) >= 27),
        |g AS (
        |  SELECT doc_id, CAST(ti.i AS BIGINT) AS p,
        |    CAST(('0x' || substr(md5(substring(s, CAST(ti.i AS INTEGER), 20)), 1, 15)) AS BIGINT) AS h
        |  FROM d, unnest(range(1, length(s) - 18)) AS ti(i)),
        |np AS (SELECT doc_id, max(p) AS n FROM g GROUP BY doc_id),
        |win AS (
        |  SELECT doc_id, CAST(j.j AS BIGINT) AS j
        |  FROM np, unnest(range(1, n - 6)) AS j(j)),
        |wm AS (
        |  SELECT w.doc_id, w.j, min(g.h) AS m
        |  FROM win w JOIN g ON g.doc_id = w.doc_id
        |    AND g.p BETWEEN w.j AND w.j + 7
        |  GROUP BY 1, 2),
        |sel0 AS (
        |  SELECT wm.doc_id, max(g.p) AS pos, wm.m AS fp
        |  FROM wm JOIN g ON g.doc_id = wm.doc_id
        |    AND g.p BETWEEN wm.j AND wm.j + 7 AND g.h = wm.m
        |  GROUP BY wm.doc_id, wm.j, wm.m),
        |sel AS (SELECT DISTINCT doc_id, pos, fp FROM sel0),
        |dup AS (
        |  SELECT fp, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM (SELECT DISTINCT doc_id, fp FROM sel)
        |  GROUP BY fp HAVING count(*) >= 10),
        |ex AS (
        |  SELECT s.fp, dup.n_docs,
        |    min(struct_pack(id := s.doc_id, pos := s.pos)) AS at
        |  FROM sel s JOIN dup USING (fp)
        |  GROUP BY s.fp, dup.n_docs)
        |SELECT ex.n_docs,
        |  substring(d0.t, CAST((ex.at).pos AS INTEGER), 20) AS snippet
        |FROM ex JOIN d0 ON d0.doc_id = (ex.at).id
        |ORDER BY n_docs DESC, snippet ASC
        |LIMIT 15""".stripMargin,

    // substring-dedup replay: the full winnowing selection (k=20,
    // w=8, case-sensitive), df>=10 fingerprint gate, gap-19 span
    // merge via lag/sum windows, and segment-reconstruction strip
    "text_substr_dedup" ->
      """WITH d0 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN substring(text, 1, 40) ||
        |        ' This Software Is Provided As Is Without Warranty Of Any Kind Express Or Implied ' ||
        |        substring(text, 41)
        |      ELSE text END AS t
        |  FROM documents),
        |d AS (SELECT doc_id, t AS s FROM d0 WHERE length(t) >= 27),
        |g AS (
        |  SELECT doc_id, CAST(ti.i AS BIGINT) AS p,
        |    CAST(('0x' || substr(md5(substring(s, CAST(ti.i AS INTEGER), 20)), 1, 15)) AS BIGINT) AS h
        |  FROM d, unnest(range(1, length(s) - 18)) AS ti(i)),
        |np AS (SELECT doc_id, max(p) AS n FROM g GROUP BY doc_id),
        |win AS (
        |  SELECT doc_id, CAST(j.j AS BIGINT) AS j
        |  FROM np, unnest(range(1, n - 6)) AS j(j)),
        |wm AS (
        |  SELECT w.doc_id, w.j, min(g.h) AS m
        |  FROM win w JOIN g ON g.doc_id = w.doc_id
        |    AND g.p BETWEEN w.j AND w.j + 7
        |  GROUP BY 1, 2),
        |sel0 AS (
        |  SELECT wm.doc_id, max(g.p) AS pos, wm.m AS fp
        |  FROM wm JOIN g ON g.doc_id = wm.doc_id
        |    AND g.p BETWEEN wm.j AND wm.j + 7 AND g.h = wm.m
        |  GROUP BY wm.doc_id, wm.j, wm.m),
        |sel AS (SELECT DISTINCT doc_id, pos, fp FROM sel0),
        |dup AS (
        |  SELECT fp FROM (SELECT DISTINCT doc_id, fp FROM sel)
        |  GROUP BY fp HAVING count(*) >= 10),
        |fl AS (SELECT DISTINCT s.doc_id, s.pos FROM sel s JOIN dup USING (fp)),
        |mk AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos),
        |      -1000000) > 19 THEN 1 ELSE 0 END AS brk
        |  FROM fl),
        |sp0 AS (
        |  SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
        |  FROM mk),
        |sp AS (
        |  SELECT doc_id, span_id, min(pos) AS st,
        |    max(pos) + 20 - min(pos) AS len
        |  FROM sp0 GROUP BY 1, 2),
        |seg AS (
        |  SELECT doc_id, st, len,
        |    coalesce(lag(st + len) OVER (PARTITION BY doc_id ORDER BY st), 1) AS prev_end
        |  FROM sp),
        |agg AS (
        |  SELECT seg.doc_id,
        |    CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(sum(len) AS BIGINT) AS removed_chars,
        |    string_agg(substring(d0.t, CAST(prev_end AS INTEGER),
        |      CAST(st - prev_end AS INTEGER)), '' ORDER BY st) AS head,
        |    max(st + len) AS last_end
        |  FROM seg JOIN d0 ON d0.doc_id = seg.doc_id GROUP BY 1)
        |SELECT d0.doc_id,
        |  CASE WHEN agg.doc_id IS NULL THEN d0.t
        |       ELSE agg.head || substring(d0.t, CAST(agg.last_end AS INTEGER)) END AS cleaned,
        |  coalesce(agg.n_spans, 0) AS n_spans,
        |  coalesce(agg.removed_chars, 0) AS removed_chars
        |FROM d0 LEFT JOIN agg ON d0.doc_id = agg.doc_id
        |ORDER BY d0.doc_id""".stripMargin,

    // IBAN replay: same candidate regex; the mod-97 fold encodes each
    // rotated char as m*100+v (digit -> 1000+d, letter -> 10000+val)
    // so list_reduce folds a uniform BIGINT list with the 0
    // accumulator prepended — integer arithmetic, engine-exact
    "text_iban_scrub" ->
      """WITH d AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 0 THEN ' wire DE89 3704 0044 0532 0130 00 today' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' acct GB29NWBK60161331926819 ref' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' bad DE89 3704 0044 0532 0130 01 nope' ELSE '' END ||
        |    CASE WHEN doc_id % 9 = 0 THEN ' fr FR14 2004 1010 0505 0001 3M02 606 fin' ELSE '' END AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, t,
        |    regexp_extract_all(t, '[A-Z]{2}[0-9]{2}(?: ?[A-Z0-9]){10,30}') AS cands
        |  FROM d),
        |w AS (
        |  SELECT doc_id, t, cands,
        |    list_transform(
        |      list_filter(
        |        list_transform(cands, x ->
        |          struct_pack(orig := x,
        |            rot := substr(replace(x, ' ', ''), 5) || substr(replace(x, ' ', ''), 1, 4),
        |            n := length(replace(x, ' ', '')))),
        |        s -> s.n BETWEEN 15 AND 34 AND 1 =
        |          list_reduce(
        |            list_prepend(CAST(0 AS BIGINT),
        |              list_transform(range(1, s.n + 1), i ->
        |                CAST(CASE WHEN s.rot[i] BETWEEN '0' AND '9'
        |                  THEN 1000 + CAST(s.rot[i] AS INTEGER)
        |                  ELSE 10000 + ascii(s.rot[i]) - 55 END AS BIGINT))),
        |            (acc, e) -> (acc * (CASE WHEN e >= 10000 THEN 100 ELSE 10 END) + e % 100) % 97)),
        |      s -> s.orig) AS valid
        |  FROM c)
        |SELECT doc_id,
        |  CAST(len(cands) AS BIGINT) AS n_cand,
        |  CAST(len(valid) AS BIGINT) AS n_valid,
        |  list_reduce(list_prepend(t, valid),
        |    (acc, x) -> replace(acc, x, '<IBAN>')) AS scrubbed
        |FROM w ORDER BY doc_id""".stripMargin,

    // line-dedup replay: identical re-lining (banner/content/footer),
    // per-line df across the corpus, df<5 survivors re-joined in order
    "text_line_dedup" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'PLEASE ACCEPT COOKIES' || chr(10) ELSE '' END ||
        |    array_to_string(list_transform(
        |      range(1, CAST(ceil(len(string_split(text, ' ')) / 10.0) AS INTEGER) + 1),
        |      i -> array_to_string(string_split(text, ' ')[((i-1)*10+1):(i*10)], ' ')),
        |      chr(10)) ||
        |    chr(10) || 'footer of ' || source AS t
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, CAST(u.i AS INTEGER) AS pos,
        |         string_split(t, chr(10))[CAST(u.i AS INTEGER)] AS line
        |  FROM base, unnest(range(1, len(string_split(t, chr(10))) + 1)) AS u(i)),
        |stats AS (
        |  SELECT md5(trim(line)) AS key, count(DISTINCT doc_id) AS df
        |  FROM lines GROUP BY 1),
        |kept AS (
        |  SELECT l.doc_id, l.pos, l.line FROM lines l
        |  JOIN stats s ON s.key = md5(trim(l.line)) WHERE s.df < 5),
        |reass AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
        |         count(*) AS n FROM kept GROUP BY doc_id)
        |SELECT b.doc_id, md5(coalesce(r.text, '')) AS fp,
        |       CAST(coalesce(r.n, 0) AS BIGINT) AS n_lines_kept
        |FROM base b LEFT JOIN reass r ON r.doc_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin,

    // URL normalization replay: same rule chain as UrlOps.normalizeUrl
    // (fragment → tracking params → dangling ? → lowercase authority →
    // default ports → trailing slash); synthesized URLs always carry
    // an authority so the no-authority branch never fires
    "url_normalize" ->
      ("""WITH u AS (
        |  SELECT doc_id,
        |    'HTTPS://www.' || source ||
        |    CASE WHEN doc_id % 3 = 0 THEN '.co.uk' ELSE '.com' END ||
        |    ':443/Page/' || doc_id ||
        |    CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END ||
        |    CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x&n=' || doc_id ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS url
        |  FROM documents),
        |nd AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(trim(url), '#.*', ''),
        |          '([?&])((utm_[a-z]+|fbclid|gclid)=[^&]*&)+', '\1', 'g'),
        |        '[?&](utm_[a-z]+|fbclid|gclid)=[^&]*$', ''),
        |      '\?$', '') AS n,
        |    lower(regexp_extract(trim(url), '^[^/]*//([^/:?#]+)', 1)) AS host
        |  FROM u),
        |parts AS (
        |  SELECT doc_id, host,
        |    regexp_extract(n, '^([^/]*//[^/?#]*)', 1) AS auth,
        |    regexp_extract(n, '^[^/]*//[^/?#]*(.*)$', 1) AS rest
        |  FROM nd)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(lower(auth), ':(80|443)$', '') || rest,
        |    '/$', '') AS url_norm,
        |  host,
        |  """.stripMargin + pslDomainCaseSql("host") + """ AS domain
        |FROM parts ORDER BY doc_id""".stripMargin),

    // URL dedup replay: normalize (only the rules the variants
    // exercise matter, but the FULL chain runs for parity), then
    // min-id per normalized URL; the kept row's original url rides
    // along via the min-id self-join
    "url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.' ELSE 'https://www.' END ||
        |    'site' || ((doc_id - doc_id % 10) % 7) || '.com/page/' || (doc_id - doc_id % 10) ||
        |    CASE WHEN doc_id % 2 = 0 THEN '?utm_source=s' || doc_id ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN '#f' ELSE '' END AS url
        |  FROM documents),
        |nd AS (
        |  SELECT doc_id, url,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(trim(url), '#.*', ''),
        |          '([?&])((utm_[a-z]+|fbclid|gclid)=[^&]*&)+', '\1', 'g'),
        |        '[?&](utm_[a-z]+|fbclid|gclid)=[^&]*$', ''),
        |      '\?$', '') AS n
        |  FROM u),
        |norm AS (
        |  SELECT doc_id, url,
        |    regexp_replace(
        |      regexp_replace(lower(regexp_extract(n, '^([^/]*//[^/?#]*)', 1)), ':(80|443)$', '')
        |        || regexp_extract(n, '^[^/]*//[^/?#]*(.*)$', 1),
        |      '/$', '') AS nurl
        |  FROM nd),
        |keep AS (SELECT nurl, min(doc_id) AS doc_id FROM norm GROUP BY nurl)
        |SELECT n.doc_id, n.url FROM norm n
        |JOIN keep k ON k.nurl = n.nurl AND k.doc_id = n.doc_id
        |ORDER BY n.doc_id""".stripMargin,

    // per-domain cap replay: registered domain, kPerGroup's md5-fold
    // rank (first 15 hex of md5("id:salt") mod 2^40 — exact in the
    // heap's double score), row_number <= 3. The oracle may use a
    // window: it is DuckDB at sf0.01, not Spark at 100 TB.
    "url_domain_cap" ->
      ("""WITH u AS (
        |  SELECT doc_id,
        |    lower('www.' || source ||
        |      CASE WHEN doc_id % 3 = 0 THEN '.co.uk' ELSE '.com' END) AS host
        |  FROM documents),
        |d AS (
        |  SELECT doc_id,
        |    """.stripMargin + pslDomainCaseSql("host") + """ AS domain
        |  FROM u),
        |r AS (
        |  SELECT doc_id, domain,
        |    row_number() OVER (PARTITION BY domain
        |      ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 15)) AS BIGINT)
        |               % 1099511627776, doc_id) AS rk
        |  FROM d)
        |SELECT doc_id, domain FROM r WHERE rk <= 3
        |ORDER BY domain, doc_id""".stripMargin),

    // mojibake replay: same planted damage, same two deleted-length
    // regex counts (pair class counts 2 chars per artifact so the
    // length difference IS pairHits*2), same floor quantization.
    // Scala resolves the \-u escapes at compile time, so the SQL text
    // carries the literal characters both engines match on.
    "text_mojibake" ->
      ("""WITH d AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 0 THEN ' caf\u00C3\u00A9 don\u00C2\u00A0t' ELSE '' END ||
        |    CASE WHEN doc_id % 10 = 0 THEN ' bad\uFFFDchar' ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN length(t) = 0 THEN 0.0 ELSE
        |    floor(((length(t) - length(regexp_replace(t, '[\u00C2\u00C3][\u0080-\u00BF]', '', 'g')))
        |      + (length(t) - length(regexp_replace(t, '[\uFFFD\u0080-\u009F]', '', 'g'))))
        |      / length(t) * 10000) / 10000 END AS moji_score
        |FROM d ORDER BY doc_id""").stripMargin,

    // blocklist replay: same synthesized hosts, same generated PSL
    // domain CASE, NOT IN the blocked set
    "url_blocklist" ->
      ("""WITH u AS (
        |  SELECT doc_id,
        |    'https://' ||
        |    CASE WHEN doc_id % 5 = 0 THEN 'sub.spam-domain.com'
        |         WHEN doc_id % 7 = 0 THEN 'www.bad-site.co.uk'
        |         ELSE 'www.' || source || '.com' END ||
        |    '/p/' || doc_id AS url
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(url, '^[^/]*//([^/:?#]+)', 1)) AS host
        |  FROM u)
        |SELECT doc_id, url FROM (
        |  SELECT doc_id, url,
        |    """.stripMargin + pslDomainCaseSql("host") + """ AS dom
        |  FROM h)
        |WHERE dom NOT IN ('spam-domain.com', 'bad-site.co.uk')
        |ORDER BY doc_id""".stripMargin),

    // sentence replay: same planted punctuation, same marker
    // replace-then-split (chr(30) = U+001E, the same literal the
    // Scala side uses), same trim/filter and mean arithmetic
    "text_sentences" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    'First about ' || source || '. Second has id ' || doc_id ||
        |    '! Does it work? Tail of ' || lang AS t
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(
        |      string_split(regexp_replace(t, '([.!?])\s+', '\1' || chr(30), 'g'),
        |        chr(30)),
        |      x -> trim(x)), x -> length(x) > 0) AS sents
        |  FROM d)
        |SELECT doc_id, CAST(len(sents) AS BIGINT) AS n_sents,
        |  sents[1] AS first_sent,
        |  floor(CAST(list_sum(list_transform(sents, x -> length(x))) AS DOUBLE)
        |    / len(sents) * 10000) / 10000 AS mean_sent_chars
        |FROM s ORDER BY doc_id""".stripMargin,

    // HTML strip replay: same synthesized markup, same 11-step
    // regexp chain (script/style/comment/tag removal, fixed entity
    // set with &amp; decoded last, whitespace collapse) — inline
    // (?is) flags + 'g' so RE2 matches Java regex exactly
    "html_text" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || doc_id ||
        |    '</title><style type="text/css">body { color: red; }' ||
        |    '</style></head><body><!-- boilerplate comment --><h1>' ||
        |    source || '</h1><p>' || text ||
        |    ' A &amp; B &lt;tag&gt;</p>' ||
        |    '<script>var x = 1 < 2;</script></body></html>' AS html
        |  FROM documents)
        |SELECT doc_id, trim(regexp_replace(
        |  regexp_replace(
        |   regexp_replace(
        |    regexp_replace(
        |     regexp_replace(
        |      regexp_replace(
        |       regexp_replace(
        |        regexp_replace(
        |         regexp_replace(
        |          regexp_replace(
        |           regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |           '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |         '(?s)<!--.*?-->', ' ', 'g'),
        |        '<[^>]*>', ' ', 'g'),
        |       '&nbsp;', ' ', 'g'),
        |      '&lt;', '<', 'g'),
        |     '&gt;', '>', 'g'),
        |    '&quot;', '"', 'g'),
        |   '&#39;', '''', 'g'),
        |  '&amp;', '&', 'g'),
        | '\s+', ' ', 'g')) AS clean
        |FROM d ORDER BY doc_id""".stripMargin,

    // link-graph replay: same markup, same href extraction, absolute
    // http(s) filter, generated PSL domain CASE on both endpoints,
    // edge-weight count
    "html_links" ->
      ("""WITH d AS (
        |  SELECT doc_id,
        |    'https://www.' || source || '.com/p/' || doc_id AS url,
        |    '<p>x</p><a href="https://news.example' ||
        |    CASE WHEN doc_id % 3 = 0 THEN '.co.uk' ELSE '.com' END ||
        |    '/a/' || doc_id || '">n</a>' ||
        |    CASE WHEN doc_id % 2 = 0
        |      THEN '<a href=''http://blog.partner' || (doc_id % 5) || '.com/x''>b</a>'
        |      ELSE '' END ||
        |    '<a href="/local/page">rel</a><a href="mailto:a@b.c">m</a>' AS html
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, url,
        |    unnest(regexp_extract_all(html,
        |      '(?i)href\s*=\s*["'']([^"'']+)["'']', 1)) AS link
        |  FROM d),
        |f AS (
        |  SELECT lower(regexp_extract(url, '^[^/]*//([^/:?#]+)', 1)) AS src_host,
        |         lower(regexp_extract(link, '^[^/]*//([^/:?#]+)', 1)) AS dst_host
        |  FROM l WHERE regexp_matches(link, '(?i)^https?://')),
        |g AS (
        |  SELECT """.stripMargin + pslDomainCaseSql("src_host") +
        """ AS src_domain,
        |    """.stripMargin + pslDomainCaseSql("dst_host") + """ AS dst_domain
        |  FROM f)
        |SELECT src_domain, dst_domain, CAST(count(*) AS BIGINT) AS n
        |FROM g GROUP BY src_domain, dst_domain
        |ORDER BY src_domain, dst_domain""".stripMargin),

    // duplicate-token fraction: 1 - distinct/total over ws tokens
    "text_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                t -> length(t) > 0) AS tk
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN length(tk) = 0 THEN 0.0
        |       ELSE floor((CAST(1.0 AS DOUBLE) -
        |         CAST(length(list_distinct(tk)) AS DOUBLE) / length(tk)) * 10000) / 10000
        |  END AS rep_ratio
        |FROM toks ORDER BY doc_id""".stripMargin,

    // chr(769) = U+0301 combining acute, chr(233) = U+00E9 composed é
    "text_fingerprint_nfc" ->
      """SELECT doc_id,
        |  md5(regexp_replace(trim(lower(nfc_normalize(
        |    text || ' cafe' || chr(769) || ' caf' || chr(233)))), '\s+', ' ', 'g')) AS nfc_fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    // full BM25 replay from raw text: tokenize -> doc length ->
    // corpus stats (exact-sum avgdl) -> tf -> df -> idf * tf-norm.
    // Every fractional constant is CAST to DOUBLE (DuckDB literals are
    // DECIMAL; decimal arithmetic would diverge from Spark's doubles),
    // and the arithmetic shape mirrors the Column expression exactly.
    "text_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |dl AS (
        |  SELECT d.doc_id, CAST(coalesce(x.dl, 0) AS BIGINT) AS dl
        |  FROM documents d LEFT JOIN (
        |    SELECT doc_id, count(*) AS dl FROM toks WHERE length(token) > 0
        |    GROUP BY doc_id) x USING (doc_id)),
        |stats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM toks
        |  WHERE token IN ('spark', 'stream', 'vector') GROUP BY doc_id, token),
        |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token)
        |SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
        |  floor(ln(CAST(1.0 AS DOUBLE) +
        |           ((stats.n_docs - dfreq.df) + CAST(0.5 AS DOUBLE)) /
        |           (dfreq.df + CAST(0.5 AS DOUBLE))) *
        |        (tf.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))) /
        |        (tf.tf + CAST(1.2 AS DOUBLE) *
        |          (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl.dl / stats.avgdl))
        |        * 10000) / 10000 AS score
        |FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
        |ORDER BY doc_id, token""".stripMargin,

    // summed ranking replay: identical per-term floor-quantized
    // INTEGER partials, integer SUM (associative — no float-order
    // caveat), one final division
    "text_bm25_ranked" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |dl AS (
        |  SELECT d.doc_id, CAST(coalesce(x.dl, 0) AS BIGINT) AS dl
        |  FROM documents d LEFT JOIN (
        |    SELECT doc_id, count(*) AS dl FROM toks WHERE length(token) > 0
        |    GROUP BY doc_id) x USING (doc_id)),
        |stats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM toks
        |  WHERE token IN ('spark', 'stream', 'vector') GROUP BY doc_id, token),
        |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
        |terms AS (
        |  SELECT tf.doc_id,
        |    CAST(floor(ln(CAST(1.0 AS DOUBLE) +
        |             ((stats.n_docs - dfreq.df) + CAST(0.5 AS DOUBLE)) /
        |             (dfreq.df + CAST(0.5 AS DOUBLE))) *
        |          (tf.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))) /
        |          (tf.tf + CAST(1.2 AS DOUBLE) *
        |            (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl.dl / stats.avgdl))
        |          * 10000) AS BIGINT) AS score_q
        |  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats)
        |SELECT doc_id, CAST(sum(score_q) AS DOUBLE) / 10000 AS bm25
        |FROM terms GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id""".stripMargin,

    // k-per-group replay: identical md5 rank (15-hex prefix folded
    // into 2^40), window form — (rank asc, id asc) = the aggregate's
    // (-rank desc, id asc) retention order
    "q_sample_per_lang" ->
      """WITH r AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY
        |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 15)) AS BIGINT)
        |        % 1099511627776 ASC,
        |      doc_id ASC) AS rn
        |  FROM documents)
        |SELECT lang, doc_id FROM r WHERE rn <= 5
        |ORDER BY lang, doc_id""".stripMargin,

    // semantic-decontamination replay: brute cosine of every corpus
    // vector against the probe set, 6-decimal rounding BEFORE the
    // threshold/max, BIGINT hit counts
    "decontam_semantic" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |d AS (
        |  SELECT b.vec_id AS cid, a.vec_id AS pid, sum(a.v * b.v) AS dot
        |  FROM e a JOIN e b ON a.i = b.i
        |  WHERE a.vec_id < 20 AND b.vec_id >= 20
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT cid, round(dot / (na.nrm * nb.nrm), 6) AS c
        |  FROM d JOIN n na ON na.vec_id = d.pid JOIN n nb ON nb.vec_id = d.cid)
        |SELECT cid AS vec_id, max(c) AS max_cosine,
        |  CAST(count(*) AS BIGINT) AS n_hits
        |FROM sc WHERE c >= 0.35
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // decontamination replay: distinct word 4-grams per doc, probe set
    // = doc_id < 20, string-equality gram join, distinct-hit counts
    "decontam_overlap" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                t -> length(t) > 0) AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk) - 2),
        |    i -> array_to_string(list_slice(tk, i, i + 3), ' ')))) AS gram
        |  FROM tk WHERE len(tk) >= 4),
        |pg AS (SELECT DISTINCT doc_id AS probe_id, gram FROM grams WHERE doc_id < 20)
        |SELECT g.doc_id, CAST(count(DISTINCT g.gram) AS BIGINT) AS n_hits,
        |       CAST(count(DISTINCT pg.probe_id) AS BIGINT) AS n_probes
        |FROM grams g JOIN pg USING (gram) WHERE g.doc_id >= 20
        |GROUP BY g.doc_id
        |ORDER BY doc_id""".stripMargin,

    // identical oracle: the Bloom path must reproduce the exact answer
    "decontam_overlap_bloom" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                t -> length(t) > 0) AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk) - 2),
        |    i -> array_to_string(list_slice(tk, i, i + 3), ' ')))) AS gram
        |  FROM tk WHERE len(tk) >= 4),
        |pg AS (SELECT DISTINCT doc_id AS probe_id, gram FROM grams WHERE doc_id < 20)
        |SELECT g.doc_id, CAST(count(DISTINCT g.gram) AS BIGINT) AS n_hits,
        |       CAST(count(DISTINCT pg.probe_id) AS BIGINT) AS n_probes
        |FROM grams g JOIN pg USING (gram) WHERE g.doc_id >= 20
        |GROUP BY g.doc_id
        |ORDER BY doc_id""".stripMargin,

    // unigram-LM replay: token counts -> (N, V) -> Laplace-smoothed
    // ln p per token quantized to BIGINT 1e-4 -> integer sum per doc.
    // Casts pin every operand to the same types Spark divides.
    "text_unigram_lp" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |tk AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
        |freq AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tk GROUP BY token),
        |stats AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n_total,
        |         CAST(count(*) AS BIGINT) AS v_size FROM freq),
        |scored AS (
        |  SELECT tk.doc_id,
        |    CAST(floor(ln((coalesce(freq.cnt, 0) + 1) /
        |      CAST(stats.n_total + stats.v_size AS DOUBLE)) * 10000) AS BIGINT) AS lp_q
        |  FROM tk LEFT JOIN freq USING (token) CROSS JOIN stats)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(lp_q) AS BIGINT) / count(*) / 10000 AS lp_avg
        |FROM scored GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // bigram-LM replay: same pair generation (1-based adjacent
    // windows), same interpolation with identical float association
    // (0.8·ml + (1.0−0.8)·lap — the subtraction is evaluated in BOTH
    // engines so the imprecise 0.2 matches bit-for-bit), same
    // floor-1e-4 integer quantization
    "text_bigram_lp" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                x -> length(x) > 0) AS toks
        |  FROM documents),
        |uni AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(toks) AS token FROM tk) GROUP BY token),
        |stats AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n_total,
        |         CAST(count(*) AS BIGINT) AS v_size FROM uni),
        |p AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |  FROM tk, unnest(range(1, len(toks))) AS t(i)),
        |bi AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt12
        |  FROM p GROUP BY w1, w2),
        |scored AS (
        |  SELECT p.doc_id,
        |    CAST(floor(ln(
        |      0.8 * (CASE WHEN bi.cnt12 IS NULL THEN 0.0
        |                  ELSE CAST(bi.cnt12 AS DOUBLE) / u1.cnt END)
        |      + (1.0 - 0.8) * ((coalesce(u2.cnt, 0) + 1) /
        |          CAST(stats.n_total + stats.v_size AS DOUBLE))
        |    ) * 10000) AS BIGINT) AS lp_q
        |  FROM p
        |  LEFT JOIN bi USING (w1, w2)
        |  LEFT JOIN uni u1 ON u1.token = p.w1
        |  LEFT JOIN uni u2 ON u2.token = p.w2
        |  CROSS JOIN stats)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(lp_q) AS BIGINT) / count(*) / 10000 AS lp_avg
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // NB-filter replay: same tokenization, same Laplace smoothing,
    // same per-class integer-1e-4 floor quantization before the
    // subtraction and the per-doc sum; prior log-odds added once.
    "text_nb_filter" ->
      """WITH d AS (SELECT doc_id, text, (lang = 'en') AS y FROM documents),
        |toks AS (
        |  SELECT doc_id, y,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM d),
        |tk AS (SELECT doc_id, y, token FROM toks WHERE length(token) > 0),
        |model AS (
        |  SELECT token,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS cnt_pos,
        |    CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS cnt_neg
        |  FROM tk GROUP BY token),
        |priors AS (
        |  SELECT CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_docs,
        |         CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS n_neg_docs
        |  FROM d),
        |stats AS (
        |  SELECT CAST(sum(cnt_pos) AS BIGINT) AS n_pos,
        |         CAST(sum(cnt_neg) AS BIGINT) AS n_neg,
        |         CAST(count(*) AS BIGINT) AS v_size,
        |         CAST(floor(ln(CAST(p.n_pos_docs AS DOUBLE) / p.n_neg_docs)
        |           * 10000) AS BIGINT) AS prior_q
        |  FROM model CROSS JOIN priors p
        |  GROUP BY p.n_pos_docs, p.n_neg_docs),
        |scored AS (
        |  SELECT tk.doc_id, stats.prior_q,
        |    CAST(floor(ln((coalesce(model.cnt_pos, 0) + 1) /
        |        CAST(stats.n_pos + stats.v_size AS DOUBLE)) * 10000) AS BIGINT)
        |    - CAST(floor(ln((coalesce(model.cnt_neg, 0) + 1) /
        |        CAST(stats.n_neg + stats.v_size AS DOUBLE)) * 10000) AS BIGINT)
        |      AS llr_q
        |  FROM tk LEFT JOIN model USING (token) CROSS JOIN stats)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  (CAST(sum(llr_q) AS BIGINT) + any_value(prior_q)) / 10000.0 AS logit,
        |  ((CAST(sum(llr_q) AS BIGINT) + any_value(prior_q)) / 10000.0) > 0.0
        |    AS pred
        |FROM scored GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // Gopher bundle replay: same tokenization (length>0-filtered
    // whitespace split of the case-folded text), same metric shapes
    // and left-to-right association, same floor-1e-4 quantization.
    "text_gopher_flags" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |                x -> length(x) > 0) AS toks,
        |    CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS chars
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |      ELSE floor(chars / CAST(len(toks) AS DOUBLE) * 10000) / 10000
        |    END AS mean_word_q,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |      ELSE floor(CAST(len(list_filter(toks,
        |             x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
        |           / CAST(len(toks) AS DOUBLE) * 10000) / 10000
        |    END AS alpha_frac_q,
        |    CASE WHEN len(toks) < 2 THEN 0.0
        |      ELSE floor((CAST(1.0 AS DOUBLE)
        |             - CAST(len(list_distinct(list_transform(
        |                 generate_series(1, len(toks) - 1),
        |                 i -> toks[i] || ' ' || toks[i + 1]))) AS DOUBLE)
        |               / CAST(len(toks) - 1 AS DOUBLE)) * 10000) / 10000
        |    END AS dup_bigram_q
        |  FROM t)
        |SELECT doc_id, n_words, mean_word_q, alpha_frac_q, dup_bigram_q,
        |  (n_words BETWEEN 30 AND 100000)
        |    AND (mean_word_q BETWEEN 4.0 AND 10.0)
        |    AND alpha_frac_q >= 0.8 AND dup_bigram_q <= 0.05 AS keep
        |FROM m ORDER BY doc_id""".stripMargin,

    // weighted-sample replay: same md5 fold → u in (0,1] → E-S key
    // -ln(u)/w, floor-quantized at 1e-6 so a ULP of ln cannot reorder
    // except exactly at a boundary; ties → smaller doc_id, the heap's
    // own rule.
    "q_weighted_sample" ->
      """WITH d AS (
        |  SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS w,
        |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'),
        |      1, 15)) AS BIGINT) % 1099511627776 AS DOUBLE) AS h
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, lang,
        |    floor(-ln((h + CAST(1.0 AS DOUBLE)) / CAST(1099511627776 AS DOUBLE))
        |      / w * CAST(1000000 AS DOUBLE)) AS ky
        |  FROM d),
        |r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY ky ASC, doc_id ASC) AS rn
        |  FROM k)
        |SELECT lang, doc_id FROM r WHERE rn <= 3
        |ORDER BY lang, doc_id""".stripMargin,

    // token-budget replay: same tokenization, md5-fold order, and an
    // inclusive running-total window (RANGE==ROWS here: the
    // (hash, doc_id) order key is unique).
    "q_token_budget" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> length(x) > 0)) AS BIGINT) AS n_tokens,
        |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'),
        |      1, 15)) AS BIGINT) % 1099511627776 AS DOUBLE) AS h
        |  FROM documents),
        |c AS (
        |  SELECT lang, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id) AS cum
        |  FROM d)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens
        |FROM c WHERE cum <= 3000
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // recipe replay: gopher gate → NFC-fingerprint dedup → size-
    // solved mixing rates → md5 threshold → token-budget window —
    // each stage the same SQL its standalone oracle uses, chained.
    "q_recipe_pipeline" -> recipePipelineSql,
    "q_recipe_config" -> recipePipelineSql,

    // containment replay: same distinct char-5-gram inverted index as
    // q_dup_components' oracle, normalized per side instead of by the
    // union.
    "ngram_containment_pairs" ->
      """WITH d0 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 100),
        |snip AS (
        |  SELECT doc_id + 1000 AS doc_id, substring(text, 1, 120) AS text
        |  FROM d0 WHERE regexp_matches(text, '^[ -~]*$') AND length(text) >= 240),
        |du AS (SELECT * FROM d0 UNION ALL SELECT * FROM snip),
        |d AS (
        |  SELECT doc_id, lower(text) AS s FROM du
        |  WHERE length(lower(text)) >= 5),
        |grams AS (
        |  SELECT DISTINCT doc_id, substring(s, CAST(i AS INTEGER), 5) AS g
        |  FROM d, unnest(range(1, length(s) - 3)) AS t(i)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        |pr AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT p.id1, p.id2,
        |  round(p.inter / sa.n, 4) AS c1_in_2,
        |  round(p.inter / sb.n, 4) AS c2_in_1
        |FROM pr p JOIN sizes sa ON sa.doc_id = p.id1
        |          JOIN sizes sb ON sb.doc_id = p.id2
        |WHERE greatest(round(p.inter / sa.n, 4), round(p.inter / sb.n, 4)) >= 0.8
        |ORDER BY id1, id2""".stripMargin,

    // prefix-filtered containment is exact (guaranteed recall), so it
    // replays against the SAME brute inverted-index oracle as
    // ngram_containment_pairs — equality of the two paths' artifacts
    // is itself the recall proof
    "ngram_containment_prefix" ->
      """WITH d0 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 100),
        |snip AS (
        |  SELECT doc_id + 1000 AS doc_id, substring(text, 1, 120) AS text
        |  FROM d0 WHERE regexp_matches(text, '^[ -~]*$') AND length(text) >= 240),
        |du AS (SELECT * FROM d0 UNION ALL SELECT * FROM snip),
        |d AS (
        |  SELECT doc_id, lower(text) AS s FROM du
        |  WHERE length(lower(text)) >= 5),
        |grams AS (
        |  SELECT DISTINCT doc_id, substring(s, CAST(i AS INTEGER), 5) AS g
        |  FROM d, unnest(range(1, length(s) - 3)) AS t(i)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        |pr AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT p.id1, p.id2,
        |  round(p.inter / sa.n, 4) AS c1_in_2,
        |  round(p.inter / sb.n, 4) AS c2_in_1
        |FROM pr p JOIN sizes sa ON sa.doc_id = p.id1
        |          JOIN sizes sb ON sb.doc_id = p.id2
        |WHERE greatest(round(p.inter / sa.n, 4), round(p.inter / sb.n, 4)) >= 0.8
        |ORDER BY id1, id2""".stripMargin,

    // semantic-dedup replay: md5 hyperplanes → sign buckets →
    // within-bucket cosine pairs → recursive-CTE closure → min-id
    // survivors per label. Mirrors the ann_lsh_topk bucket CTEs.
    "emb_semantic_survivors" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |pc AS (
        |  SELECT CAST(p.p AS INTEGER) AS p, CAST(d.i AS INTEGER) AS i,
        |         (CAST(('0x' || substr(md5(p.p || ':' || d.i), 1, 15)) AS BIGINT) % 2000000)
        |           / 1000000.0 - 1.0 AS c
        |  FROM unnest(range(0, 4)) AS p(p), unnest(range(0, 64)) AS d(i)),
        |dots AS (
        |  SELECT e.vec_id, pc.p, round(sum(e.v * pc.c), 6) AS dot
        |  FROM e JOIN pc ON pc.i = e.i - 1 GROUP BY 1, 2),
        |bk AS (
        |  SELECT vec_id,
        |         CAST(sum(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM dots GROUP BY vec_id),
        |cand AS (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2
        |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
        |dotp AS (
        |  SELECT c.id1, c.id2, sum(ea.v * eb.v) AS dot
        |  FROM cand c JOIN e ea ON ea.vec_id = c.id1
        |              JOIN e eb ON eb.vec_id = c.id2 AND eb.i = ea.i
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT d.id1, d.id2
        |  FROM dotp d JOIN n na ON na.vec_id = d.id1
        |              JOIN n nb ON nb.vec_id = d.id2
        |  WHERE round(d.dot / (na.nrm * nb.nrm), 6) >= 0.4),
        |ed AS (SELECT id1 AS src, id2 AS dst FROM pairs
        |       UNION SELECT id2, id1 FROM pairs),
        |reach AS (
        |  SELECT vec_id AS a, vec_id AS b FROM embeddings
        |  UNION
        |  SELECT r.a, ed.dst FROM reach r JOIN ed ON r.b = ed.src),
        |lab AS (SELECT a AS id, min(b) AS component FROM reach GROUP BY a)
        |SELECT emb.label, CAST(count(*) AS BIGINT) AS n_survivors
        |FROM lab JOIN embeddings emb ON emb.vec_id = lab.id
        |WHERE lab.id = lab.component
        |GROUP BY emb.label ORDER BY emb.label""".stripMargin,

    // TF-IDF replay: same tokenization, smooth idf ln((1+N)/(1+df))+1
    // with identical association, md5-fold bucket, integer partials
    // summed per (doc, bucket).
    "text_tfidf_hashed" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'),
        |    x -> length(x) > 0)) AS token
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY 1, 2),
        |dfreq AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |w AS (
        |  SELECT tf.doc_id,
        |    CAST(('0x' || substr(md5(tf.token), 1, 15)) AS BIGINT) % 64 AS bucket,
        |    CAST(floor(CAST(tf.tf AS DOUBLE)
        |      * (ln((CAST(1.0 AS DOUBLE) + n_docs) / (CAST(1.0 AS DOUBLE) + df))
        |         + CAST(1.0 AS DOUBLE))
        |      * CAST(10000 AS DOUBLE)) AS BIGINT) AS wq
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN stats)
        |SELECT doc_id, bucket, CAST(sum(wq) AS BIGINT) AS w_q
        |FROM w GROUP BY doc_id, bucket
        |ORDER BY doc_id, bucket""".stripMargin,

    // ROUGE-2 replay: same pair construction, tokenization, 1-based
    // adjacent bigram windows, clipped least() match, left-join zeros.
    "q_rouge_adjacent" ->
      """WITH pairs AS (
        |  SELECT d1.doc_id, d1.text AS ref, d2.text AS cand
        |  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1),
        |tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(ref)), '\s+'),
        |                x -> length(x) > 0) AS rt,
        |    list_filter(regexp_split_to_array(trim(lower(cand)), '\s+'),
        |                x -> length(x) > 0) AS ct
        |  FROM pairs),
        |rg AS (
        |  SELECT doc_id, rt[i] || ' ' || rt[i + 1] AS gram
        |  FROM tk, unnest(range(1, len(rt))) AS t(i)),
        |cg AS (
        |  SELECT doc_id, ct[i] || ' ' || ct[i + 1] AS gram
        |  FROM tk, unnest(range(1, len(ct))) AS t(i)),
        |rc AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c_ref
        |       FROM rg GROUP BY 1, 2),
        |cc AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c_cand
        |       FROM cg GROUP BY 1, 2),
        |m AS (SELECT rc.doc_id, CAST(sum(least(c_ref, c_cand)) AS BIGINT) AS n_match
        |      FROM rc JOIN cc USING (doc_id, gram) GROUP BY 1),
        |sz AS (SELECT doc_id,
        |         CAST(greatest(len(rt) - 1, 0) AS BIGINT) AS n_ref,
        |         CAST(greatest(len(ct) - 1, 0) AS BIGINT) AS n_cand
        |       FROM tk)
        |SELECT sz.doc_id, n_ref, n_cand,
        |  CAST(coalesce(n_match, 0) AS BIGINT) AS n_match
        |FROM sz LEFT JOIN m USING (doc_id) ORDER BY doc_id""".stripMargin,

    // DSIR replay: same tokenization, same unigram+bigram features
    // (1-based adjacent windows), same md5-fold bucket, Laplace
    // ln((cnt+1)/(N+dim)) on each side with identical association,
    // per-bucket floor-1e-6 log-ratio, integer per-doc sum.
    "text_dsir_weights" ->
      """WITH tk AS (
        |  SELECT doc_id, lang, list_filter(
        |    regexp_split_to_array(trim(lower(text)), '\s+'),
        |    x -> length(x) > 0) AS toks
        |  FROM documents),
        |feats AS (
        |  SELECT doc_id, lang, unnest(toks) AS feat FROM tk
        |  UNION ALL
        |  SELECT doc_id, lang, toks[i] || ' ' || toks[i + 1] AS feat
        |  FROM tk, unnest(range(1, len(toks))) AS t(i)),
        |fb AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5(feat), 1, 15)) AS BIGINT) % 256 AS bucket,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM feats GROUP BY 1, 2, 3),
        |tgt AS (
        |  SELECT bucket, CAST(sum(cnt) AS BIGINT) AS cnt_t
        |  FROM fb WHERE lang = 'en' GROUP BY bucket),
        |rawb AS (
        |  SELECT bucket, CAST(sum(cnt) AS BIGINT) AS cnt_r FROM fb GROUP BY bucket),
        |tot AS (
        |  SELECT
        |    (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) FROM fb WHERE lang = 'en') AS n_t,
        |    (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) FROM fb) AS n_r),
        |ratio AS (
        |  SELECT rawb.bucket, CAST(floor(
        |    (ln((coalesce(cnt_t, 0) + 1.0) / (n_t + 256.0))
        |     - ln((cnt_r + 1.0) / (n_r + 256.0))) * 1000000.0) AS BIGINT) AS lr_q
        |  FROM rawb LEFT JOIN tgt USING (bucket) CROSS JOIN tot)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_feats,
        |  CAST(sum(cnt * lr_q) AS BIGINT) AS lw_q
        |FROM fb JOIN ratio USING (bucket)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // DSIR resample replay: the weights chain above + the md5-derived
    // Gumbel perturbation floor-quantized into the same 1e-6 units;
    // top-k by integer (score_q, doc_id).
    "q_dsir_sample" ->
      """WITH tk AS (
        |  SELECT doc_id, lang, list_filter(
        |    regexp_split_to_array(trim(lower(text)), '\s+'),
        |    x -> length(x) > 0) AS toks
        |  FROM documents),
        |feats AS (
        |  SELECT doc_id, lang, unnest(toks) AS feat FROM tk
        |  UNION ALL
        |  SELECT doc_id, lang, toks[i] || ' ' || toks[i + 1] AS feat
        |  FROM tk, unnest(range(1, len(toks))) AS t(i)),
        |fb AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5(feat), 1, 15)) AS BIGINT) % 256 AS bucket,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM feats GROUP BY 1, 2, 3),
        |tgt AS (
        |  SELECT bucket, CAST(sum(cnt) AS BIGINT) AS cnt_t
        |  FROM fb WHERE lang = 'en' GROUP BY bucket),
        |rawb AS (
        |  SELECT bucket, CAST(sum(cnt) AS BIGINT) AS cnt_r FROM fb GROUP BY bucket),
        |tot AS (
        |  SELECT
        |    (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) FROM fb WHERE lang = 'en') AS n_t,
        |    (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) FROM fb) AS n_r),
        |ratio AS (
        |  SELECT rawb.bucket, CAST(floor(
        |    (ln((coalesce(cnt_t, 0) + 1.0) / (n_t + 256.0))
        |     - ln((cnt_r + 1.0) / (n_r + 256.0))) * 1000000.0) AS BIGINT) AS lr_q
        |  FROM rawb LEFT JOIN tgt USING (bucket) CROSS JOIN tot),
        |w AS (
        |  SELECT doc_id, CAST(sum(cnt * lr_q) AS BIGINT) AS lw_q
        |  FROM fb JOIN ratio USING (bucket) GROUP BY doc_id),
        |scored AS (
        |  SELECT doc_id, lw_q, lw_q + CAST(floor(-ln(-ln(
        |      (CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'),
        |         1, 15)) AS BIGINT) % 1099511627776 AS DOUBLE) + 0.5)
        |      / 1099511627776.0)) * 1000000.0) AS BIGINT) AS score_q
        |  FROM w),
        |sel AS (
        |  SELECT doc_id, lw_q, score_q FROM scored
        |  ORDER BY score_q DESC, doc_id LIMIT 50)
        |SELECT doc_id, lw_q, score_q FROM sel ORDER BY doc_id""".stripMargin,

    // mixing replay: sizes → output scale (min over size/target) →
    // per-stratum rate (same multiply-then-divide order as the
    // driver) → md5-fold threshold. All fractional constants CAST to
    // DOUBLE (DuckDB literals are DECIMAL).
    "q_mixture_sample" ->
      """WITH sz AS (
        |  SELECT lang, CAST(count(*) AS DOUBLE) AS n
        |  FROM documents GROUP BY lang),
        |t AS (
        |  SELECT lang, n,
        |    CAST(CASE lang WHEN 'en' THEN 0.5 ELSE 0.125 END AS DOUBLE) AS tw
        |  FROM sz),
        |scale AS (SELECT min(n / tw) AS nn FROM t),
        |rates AS (
        |  SELECT lang, least(CAST(1.0 AS DOUBLE), tw * nn / n) AS rate
        |  FROM t CROSS JOIN scale),
        |kept AS (
        |  SELECT d.lang FROM documents d JOIN rates r USING (lang)
        |  WHERE CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'),
        |          1, 15)) AS BIGINT) % 1099511627776 AS DOUBLE)
        |        < r.rate * CAST(1099511627776 AS DOUBLE))
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_kept
        |FROM kept GROUP BY lang
        |ORDER BY lang""".stripMargin,

    // upsample replay: same per-stratum factor, same md5 fractional
    // draw, generate_series expansion; max_epoch = copies per doc
    "q_upsample_epochs" ->
      """WITH f AS (
        |  SELECT doc_id, lang,
        |    CASE lang WHEN 'en' THEN 2.5 WHEN 'de' THEN 2.0 ELSE 1.0 END AS fac,
        |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'),
        |        1, 15)) AS BIGINT) % 1099511627776 AS DOUBLE) AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang,
        |    CAST(floor(fac) AS INTEGER) +
        |    CASE WHEN h < (fac - floor(fac)) * 1099511627776.0 THEN 1 ELSE 0 END
        |      AS copies
        |  FROM f),
        |e AS (
        |  SELECT doc_id, lang, CAST(t.e AS INTEGER) AS epoch
        |  FROM c, unnest(range(1, copies + 1)) AS t(e)
        |  WHERE copies >= 1)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(max(epoch) AS INTEGER) AS max_epoch
        |FROM e GROUP BY lang ORDER BY lang""".stripMargin,

    // temperature-mix replay: same unnormalized sqrt weights, same
    // element-wise rate solve (min is exact, no float sum), same md5
    // keep threshold
    "q_temperature_mix" ->
      """WITH sz AS (
        |  SELECT lang, CAST(count(*) AS DOUBLE) AS n
        |  FROM documents GROUP BY lang),
        |w AS (SELECT lang, n, sqrt(n) AS wt FROM sz),
        |scale AS (SELECT min(n / wt) AS nn FROM w),
        |rates AS (
        |  SELECT lang, least(CAST(1.0 AS DOUBLE), wt * nn / n) AS rate
        |  FROM w CROSS JOIN scale),
        |kept AS (
        |  SELECT d.lang FROM documents d JOIN rates r USING (lang)
        |  WHERE CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'),
        |          1, 15)) AS BIGINT) % 1099511627776 AS DOUBLE)
        |        < r.rate * CAST(1099511627776 AS DOUBLE))
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_kept
        |FROM kept GROUP BY lang
        |ORDER BY lang""".stripMargin,

    // script replay: same injected rotation, per-script single-char
    // class counts, and the same (hits desc, script desc) tie-break
    // the struct array_max applies.
    "text_script_id" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 7 AS INTEGER)
        |      WHEN 0 THEN text
        |      WHEN 1 THEN '123 456 !!!'
        |      WHEN 2 THEN 'мир и труд май'
        |      WHEN 3 THEN '你好世界 こんにちは'
        |      WHEN 4 THEN 'مرحبا بالعالم'
        |      WHEN 5 THEN 'αβγ δεζ ηθι'
        |      ELSE '안녕하세요 세계' END AS s
        |  FROM documents),
        |cnt AS (
        |  SELECT doc_id, 'latin' AS script,
        |         len(regexp_extract_all(s, '[A-Za-zÀ-ɏ]')) AS hits FROM t
        |  UNION ALL SELECT doc_id, 'cyrillic',
        |         len(regexp_extract_all(s, '[Ѐ-ӿ]')) FROM t
        |  UNION ALL SELECT doc_id, 'greek',
        |         len(regexp_extract_all(s, '[Ͱ-Ͽ]')) FROM t
        |  UNION ALL SELECT doc_id, 'cjk',
        |         len(regexp_extract_all(s, '[぀-ヿ一-鿿]')) FROM t
        |  UNION ALL SELECT doc_id, 'arabic',
        |         len(regexp_extract_all(s, '[؀-ۿ]')) FROM t
        |  UNION ALL SELECT doc_id, 'hangul',
        |         len(regexp_extract_all(s, '[가-힯]')) FROM t),
        |best AS (
        |  SELECT doc_id, script, hits,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY hits DESC, script DESC) AS rn
        |  FROM cnt)
        |SELECT doc_id,
        |  CASE WHEN hits > 0 THEN script ELSE 'other' END AS script
        |FROM best WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    // the aggregate's (score desc, id asc) retention = window order
    "q_topk_brand_parts" ->
      """WITH r AS (
        |  SELECT p_brand, p_partkey, CAST(p_retailprice AS DOUBLE) AS price,
        |    row_number() OVER (PARTITION BY p_brand
        |      ORDER BY CAST(p_retailprice AS DOUBLE) DESC, p_partkey ASC) AS rnk
        |  FROM part)
        |SELECT p_brand, CAST(rnk AS INTEGER) AS rnk, p_partkey,
        |  floor(price * 100) / 100 AS price
        |FROM r WHERE rnk <= 3
        |ORDER BY p_brand, rnk""".stripMargin,

    // int8 quantization replay: identical double math (abs-max / 127,
    // floor(x/scale + 0.5)); all-zero vectors -> scale 0, zero quants
    "emb_quantize_int8" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127 AS scale
        |  FROM embeddings)
        |SELECT vec_id, scale,
        |  array_to_string(
        |    CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
        |         ELSE list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) / scale + CAST(0.5 AS DOUBLE)) AS INTEGER))
        |    END, ',') AS qvec
        |FROM s ORDER BY vec_id""".stripMargin,

    "q_order_count_dist" ->
      """WITH x AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM x GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q_string_agg" ->
      """SELECT c_mktsegment,
        |  string_agg(c_name, ',' ORDER BY c_name) AS names,
        |  count(*) AS n
        |FROM customer WHERE c_custkey < 100
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q_lag_gaps" ->
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_ns(ts) - lag(epoch_ns(ts)) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS gap_ns
        |  FROM events)
        |SELECT user_id, count(*) AS n_gaps,
        |  CAST(max(gap_ns) // 1000000000 AS BIGINT) AS max_gap_s,
        |  CAST(CAST(sum(gap_ns) AS BIGINT) // 1000000000 AS BIGINT) AS sum_gap_s
        |FROM g WHERE gap_ns IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_histogram_price" ->
      """SELECT CAST(floor(o_totalprice / 20000) AS BIGINT) AS bin,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY bin ORDER BY bin""".stripMargin,

    "q_outlier_events" ->
      """WITH stats AS (
        |  SELECT event_type AS et, avg(value) AS mu, stddev_samp(value) AS sigma
        |  FROM events GROUP BY event_type)
        |SELECT event_type, count(*) AS n_outliers,
        |  round(min(value), 2) AS min_outlier
        |FROM events JOIN stats ON event_type = et
        |WHERE value > mu + 3 * sigma
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_stratified_sample" ->
      """SELECT lang, source, count(*) AS n_sampled, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
        |      < CASE WHEN lang = 'en' THEN '80' ELSE '1a' END
        |GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,

    "q_seq_pack" ->
      """WITH x AS (
        |  SELECT source, n_chars,
        |    sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM documents)
        |SELECT source, CAST((cum - n_chars) // 32768 AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM x
        |GROUP BY source, bin
        |ORDER BY source, bin""".stripMargin,

    "q_scd2_customers" ->
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
        |ORDER BY c_custkey, valid_from""".stripMargin,

    "q_commitlog_pricing" ->
      """SELECT l_returnflag, sum(l_quantity) AS sum_qty,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem
        |WHERE NOT (l_orderkey BETWEEN 100 AND 199)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_commitlog_merge" ->
      """WITH feed_keys AS (
        |  SELECT c_custkey, c_nationkey FROM customer
        |  WHERE c_custkey % 10 = 7 AND c_nationkey IN (0, 1)
        |  UNION ALL SELECT 9000001, 7
        |  UNION ALL SELECT 9000002, 9
        |), kept AS (
        |  SELECT c.c_custkey, c.c_nationkey, c.c_acctbal FROM customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM feed_keys f
        |    WHERE f.c_custkey = c.c_custkey AND f.c_nationkey = c.c_nationkey)
        |), landed AS (
        |  SELECT c_custkey, c_nationkey, 0.0 AS c_acctbal FROM customer
        |  WHERE c_custkey % 10 = 7 AND c_nationkey = 0
        |  UNION ALL SELECT 9000001, 7, 111.11
        |  UNION ALL SELECT 9000002, 9, 222.22
        |), state AS (
        |  SELECT * FROM kept UNION ALL SELECT * FROM landed
        |)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
        |FROM state GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_commitlog_checked" ->
      """WITH checked AS (
        |  SELECT c_acctbal,
        |    concat_ws(', ',
        |      CASE WHEN c_acctbal < 0 THEN 'account balance negative' END,
        |      CASE WHEN c_custkey % 7 = 0 THEN 'custkey divisible by 7' END)
        |      AS errs
        |  FROM customer)
        |SELECT errs, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS bal_cents
        |FROM checked GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_commitlog_delete" ->
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS bal_cents
        |FROM customer
        |WHERE NOT (c_custkey % 10 = 4 AND c_acctbal > 0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_commitlog_cdc" ->
      """WITH state AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 20 = 3 THEN 'M2'
        |         WHEN c_custkey % 10 = 3 THEN 'M1'
        |         ELSE c_mktsegment END AS c_mktsegment,
        |    CASE WHEN c_custkey % 20 = 3 THEN 222.0
        |         WHEN c_custkey % 10 = 3 THEN 111.0
        |         ELSE c_acctbal END AS c_acctbal
        |  FROM customer
        |  WHERE c_custkey % 10 <> 7
        |    AND c_custkey NOT BETWEEN 10 AND 19)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS bal_cents
        |FROM state GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_commitlog_update" ->
      """WITH state AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_nationkey = 5 AND c_custkey % 2 = 0
        |           THEN 'UPDATED2'
        |         WHEN c_nationkey = 3 THEN 'UPDATED'
        |         ELSE c_mktsegment END AS c_mktsegment,
        |    CASE WHEN c_nationkey = 3 THEN c_acctbal + 1000.0
        |         ELSE c_acctbal END AS c_acctbal
        |  FROM customer)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS bal_cents
        |FROM state GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_latest_per_key" ->
      """SELECT user_id, event_id, event_type, value
        |FROM events
        |QUALIFY row_number() OVER (
        |  PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin,

    "q_funnel" ->
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
        |ORDER BY stage""".stripMargin,

    "q_resample_ffill" ->
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
        |ORDER BY g.user_id, g.ts""".stripMargin,

    // linear-interpolation replay: grid ∪ observations, both neighbor
    // carries as IGNORE NULLS window functions over the same total
    // (t, side, v) order, identical float formula and quantization
    "q_resample_interp" ->
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
        |ORDER BY user_id, ts""".stripMargin,

    "doc_chunks" ->
      """WITH idx AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(0, (length(text) - 1) // 400)) AS i
        |  FROM documents WHERE doc_id < 200)
        |SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
        |  CAST(length(substr(text, CAST(i * 400 + 1 AS INTEGER), 500)) AS INTEGER) AS chunk_len,
        |  md5(substr(text, CAST(i * 400 + 1 AS INTEGER), 500)) AS chunk_fp
        |FROM idx ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_popular_parts" ->
      """WITH c AS (SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY 1),
        |s AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS nparts FROM c)
        |SELECT l_partkey, cnt FROM c, s
        |WHERE cnt * nparts * 10 > total * 13
        |ORDER BY l_partkey""".stripMargin,

    "q_window_suite" ->
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
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_date_parts" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
        |  CAST(month(o_orderdate) AS INTEGER) AS m,
        |  CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
        |  count(*) AS n
        |FROM orders
        |GROUP BY 1, 2, 3
        |ORDER BY y, m, dow""".stripMargin,

    "q_string_funcs" ->
      """SELECT c_custkey,
        |  upper(c_mktsegment) AS seg_up,
        |  lower(c_name) AS name_lo,
        |  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_pad,
        |  regexp_replace(c_name, '[0-9]', '#', 'g') AS name_masked,
        |  substr(c_name, 1, 10) AS name_10,
        |  CAST(length(c_name) AS INTEGER) AS name_len,
        |  concat_ws('|', c_mktsegment, c_name) AS joined
        |FROM customer WHERE c_custkey < 50
        |ORDER BY c_custkey""".stripMargin,

    "q_argmax_balance" ->
      """SELECT c_mktsegment, c_acctbal AS top_bal, c_custkey AS top_cust
        |FROM customer
        |QUALIFY row_number() OVER (
        |  PARTITION BY c_mktsegment
        |  ORDER BY c_acctbal DESC, c_custkey DESC) = 1
        |ORDER BY c_mktsegment""".stripMargin,

    "v_table_diff" ->
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
        |ORDER BY diff_status""".stripMargin,

    "q_unpivot_status" ->
      """WITH wide AS (
        |  SELECT o_orderpriority,
        |    sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS n_open,
        |    sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS n_finished,
        |    sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS n_pending
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority, status, CAST(n AS BIGINT) AS n
        |FROM wide
        |UNPIVOT (n FOR status IN (n_open, n_finished, n_pending))
        |ORDER BY o_orderpriority, status""".stripMargin,

    "q_regex_extract" ->
      """SELECT CAST(regexp_extract(c_name, '^Customer#([0-9]+)$', 1) AS BIGINT)
        |         = c_custkey AS id_matches,
        |       count(*) AS n
        |FROM customer
        |GROUP BY 1 ORDER BY id_matches""".stripMargin,

    // full recompute — the incremental merge must equal this exactly
    "q_incremental_agg" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // hits = |stopword-list ∩ token-set| per language; argmax with the
    // lexicographically-largest language winning ties (mirrors the
    // struct array_max tie-break in TextAnalysis.langId): sequential
    // CASE checked fr → es → en → de with >= comparisons.
    // accent-fold replay: DuckDB's strip_accents IS NFD+strip-marks
    // (utf8proc), verified equivalent on diacritics, stroke letters,
    // and kana dakuten
    "text_fold_accents" ->
      ("""WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (CAST(9200001 AS BIGINT), 'café naïve señor Müller Zürich Ångström'),
        |    (CAST(9200002 AS BIGINT), 'ølsen Łódź stays partly'),
        |    (CAST(9200003 AS BIGINT), 'クラブ dakuten folds too'),
        |    (CAST(9200004 AS BIGINT), 'plain ascii unchanged')) AS p(doc_id, text))
        |SELECT doc_id, strip_accents(text) AS folded
        |FROM base ORDER BY doc_id""".stripMargin),

    // unwrap replay: identical five-pass regexp chain (RE2 replays
    // \p{L}, \s and the non-overlapping replaceAll semantics); the
    // sentinel chr(1) matches the engine's U+0001
    "text_unwrap" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (CAST(9100001 AS BIGINT), e'This is an exam-\nple of hyphen-\nated line wraps.\n\nNew para-\ngraph here.'),
        |    (CAST(9100002 AS BIGINT), e'CRLF line one\r\nline two\r\n\r\nsecond para'),
        |    (CAST(9100003 AS BIGINT), 'already one line'),
        |    (CAST(9100004 AS BIGINT), e'trailing spaces  \n   \nnext para')) AS p(doc_id, text))
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(text, '\r\n?', e'\n', 'g'),
        |          '(\p{L})-\n(\p{L})', '\1\2', 'g'),
        |        '\n\s*\n', chr(1), 'g'),
        |      '\n', ' ', 'g'),
        |    chr(1), e'\n\n', 'g') AS unwrapped
        |FROM base ORDER BY doc_id""".stripMargin,

    "text_lang_id" -> langIdOracleSql,

    // span-dedup replay: same length>0-filtered whitespace tokens,
    // same ceil(n/20) non-overlapping 20-word windows (1-based slice,
    // single-space rejoin), distinct-doc counts >= 2 → removed
    // everywhere, survivors re-joined in span order.
    "text_span_dedup" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS tk
        |  FROM documents),
        |sp0 AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, greatest(CAST(ceil(len(tk) / 20.0) AS INT), 1)),
        |    i -> {'idx': i, 'span': array_to_string(list_slice(tk, i*20 + 1, i*20 + 20), ' ')})) AS sp
        |  FROM tk),
        |spans AS (
        |  SELECT doc_id, sp.idx AS span_idx, sp.span AS span
        |  FROM sp0 WHERE length(sp.span) > 0),
        |hot AS (
        |  SELECT span FROM spans GROUP BY span
        |  HAVING count(DISTINCT doc_id) >= 2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |  string_agg(span, ' ' ORDER BY span_idx) AS cleaned
        |FROM spans WHERE span NOT IN (SELECT span FROM hot)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // quality-bucket replay: the text_unigram_lp scoring stack
    // verbatim (integer 1e-4 log-prob partials → order-independent
    // per-doc mean), then ntile(3) per language ordered (lp_avg,
    // doc_id) — same deterministic tie-break as the Spark window.
    "q_quality_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |tk AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
        |freq AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tk GROUP BY token),
        |stats AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n_total,
        |         CAST(count(*) AS BIGINT) AS v_size FROM freq),
        |scored AS (
        |  SELECT tk.doc_id,
        |    CAST(floor(ln((coalesce(freq.cnt, 0) + 1) /
        |      CAST(stats.n_total + stats.v_size AS DOUBLE)) * 10000) AS BIGINT) AS lp_q
        |  FROM tk LEFT JOIN freq USING (token) CROSS JOIN stats),
        |perdoc AS (
        |  SELECT doc_id, CAST(sum(lp_q) AS BIGINT) / count(*) / 10000 AS lp_avg
        |  FROM scored GROUP BY doc_id)
        |SELECT d.doc_id, d.lang,
        |  CAST(ntile(3) OVER (PARTITION BY d.lang
        |    ORDER BY p.lp_avg ASC, d.doc_id ASC) AS INT) AS bucket
        |FROM documents d JOIN perdoc p USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // split replay: md5 2^40 fold of 'doc_id:0', cumulative integer
    // thresholds floor(0.8*2^40)=879609302220 and
    // floor(0.9*2^40)=989560464998 (the exact values the Scala
    // computes — literals avoid cross-engine float drift).
    "q_split_assign" ->
      """WITH h AS (
        |  SELECT lang,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'),
        |      1, 15)) AS BIGINT) % 1099511627776 AS hx
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN hx < 879609302220 THEN 'train'
        |       WHEN hx < 989560464998 THEN 'val'
        |       ELSE 'test' END AS split,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM h GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,

    // BPE pair replay: distinct word frequencies of the case-folded
    // corpus, adjacent char pairs over the vocabulary weighted by
    // word frequency, top 20 by (count desc, pair asc).
    "text_bpe_pairs" ->
      """WITH w AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |    t -> length(t) > 0)) AS word
        |  FROM documents),
        |wf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM w GROUP BY word),
        |p AS (
        |  SELECT freq, unnest(list_transform(range(1, length(word)),
        |    i -> substr(word, i, 2))) AS pair
        |  FROM wf WHERE length(word) >= 2)
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS n_pairs
        |FROM p GROUP BY pair
        |ORDER BY n_pairs DESC, pair ASC LIMIT 20""".stripMargin,

    // random-projection replay: the same md5-nibble-parity ±1 matrix
    // (sign(i,j) = parity of first hex digit of md5('i:j:0')), the
    // same left-to-right fold (list_reduce's first-element init ==
    // Spark's 0.0 init bitwise, and both sides' trailing +0
    "emb_second_moments" ->
      """WITH ex AS (
        |  SELECT vec_id, unnest(embedding) AS x,
        |         generate_subscripts(embedding, 1) AS idx
        |  FROM embeddings)
        |SELECT CAST(a.idx - 1 AS INT) AS i, CAST(b.idx - 1 AS INT) AS j,
        |  CAST(sum(CAST(floor(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)
        |    * 1000000) AS BIGINT)) AS BIGINT) AS sum_q,
        |  CAST(count(*) AS BIGINT) AS n_vecs
        |FROM ex a JOIN ex b USING (vec_id)
        |WHERE a.idx <= b.idx
        |GROUP BY 1, 2
        |ORDER BY i, j""".stripMargin,

    // normalizes -0.0), the same floor-1e-4 quantization.
    "emb_rp_project" ->
      """WITH s AS (
        |  SELECT j, list(CASE WHEN CAST(('0x' || substr(md5(
        |      CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR) || ':0'), 1, 1))
        |      AS INT) % 2 = 0 THEN CAST(1.0 AS DOUBLE)
        |      ELSE CAST(-1.0 AS DOUBLE) END ORDER BY i) AS sg
        |  FROM range(0, 64) t1(i), range(0, 16) t2(j) GROUP BY j)
        |SELECT e.vec_id, CAST(s.j AS INT) AS dim_j,
        |  floor(list_reduce(list_transform(range(1, 65),
        |    ii -> CAST(e.embedding[ii] AS DOUBLE) * s.sg[ii]),
        |    (a, b) -> a + b) * 10000) / 10000 + 0 AS y_q
        |FROM embeddings e CROSS JOIN s
        |ORDER BY vec_id, dim_j""".stripMargin,

    // cohort replay: Monday-truncated weeks both engines, epoch-
    // second week offsets (UTC, no DST — exact multiples of 604800).
    "q_cohort_retention" ->
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
        |ORDER BY cohort_week, week_offset""".stripMargin,

    // all-pairs replay: BRUTE FORCE — the prefix filter prunes
    // candidates, never results, so the oracle recomputes every
    // shared-bucket pair's exact integer dot product and quantized
    // cosine from the same md5-bucketed TF-IDF (subset df/stats).
    "text_allpairs_cosine" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 100),
        |toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'),
        |    x -> length(x) > 0)) AS token
        |  FROM docs),
        |tf AS (
        |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY 1, 2),
        |dfreq AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM docs),
        |w AS (
        |  SELECT tf.doc_id,
        |    CAST(('0x' || substr(md5(tf.token), 1, 15)) AS BIGINT) % 64 AS bucket,
        |    CAST(floor(CAST(tf.tf AS DOUBLE)
        |      * (ln((CAST(1.0 AS DOUBLE) + n_docs) / (CAST(1.0 AS DOUBLE) + df))
        |         + CAST(1.0 AS DOUBLE))
        |      * CAST(10000 AS DOUBLE)) AS BIGINT) AS wq
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN stats),
        |v AS (
        |  SELECT doc_id, bucket, CAST(sum(wq) AS BIGINT) AS w_q
        |  FROM w GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(sum(w_q * w_q) AS BIGINT) AS n2 FROM v GROUP BY 1),
        |d AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2,
        |    CAST(sum(a.w_q * b.w_q) AS BIGINT) AS dot
        |  FROM v a JOIN v b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT id1, id2,
        |    CAST(floor(dot / (sqrt(CAST(n1.n2 AS DOUBLE)) * sqrt(CAST(nx.n2 AS DOUBLE)))
        |      * 10000) AS BIGINT) AS cos_q
        |  FROM d JOIN n n1 ON d.id1 = n1.doc_id JOIN n nx ON d.id2 = nx.doc_id)
        |SELECT id1, id2, cos_q FROM scored WHERE cos_q >= 6000
        |ORDER BY id1, id2""".stripMargin,

    // PageRank replay: the same integer arithmetic, three explicit
    // stages (recursive CTEs with aggregation in the recursive term
    // are not portable — unrolling is). '//' is DuckDB's integral
    // division; operands are positive so it matches Spark's `div`.
    "q_pagerank_suppliers" ->
      """WITH pairs AS (
        |  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS c,
        |                  's' || CAST(l.l_suppkey AS VARCHAR) AS s
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |edges AS (
        |  SELECT c AS src, s AS dst FROM pairs
        |  UNION ALL SELECT s AS src, c AS dst FROM pairs),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
        |c0 AS (SELECT CAST(1000000000000 // count(*) AS BIGINT) AS r0,
        |              CAST(((1000000000000 // count(*)) * 15) // 100 AS BIGINT) AS base
        |       FROM nodes),
        |it0 AS (SELECT node, (SELECT r0 FROM c0) AS r FROM nodes),
        |s1 AS (SELECT e.dst AS node,
        |         CAST(sum((r.r * 85) // (100 * d.deg)) AS BIGINT) AS m
        |       FROM edges e JOIN it0 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |       GROUP BY e.dst),
        |it1 AS (SELECT n.node, (SELECT base FROM c0) + coalesce(s1.m, 0) AS r
        |        FROM nodes n LEFT JOIN s1 ON n.node = s1.node),
        |s2 AS (SELECT e.dst AS node,
        |         CAST(sum((r.r * 85) // (100 * d.deg)) AS BIGINT) AS m
        |       FROM edges e JOIN it1 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |       GROUP BY e.dst),
        |it2 AS (SELECT n.node, (SELECT base FROM c0) + coalesce(s2.m, 0) AS r
        |        FROM nodes n LEFT JOIN s2 ON n.node = s2.node),
        |s3 AS (SELECT e.dst AS node,
        |         CAST(sum((r.r * 85) // (100 * d.deg)) AS BIGINT) AS m
        |       FROM edges e JOIN it2 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |       GROUP BY e.dst),
        |it3 AS (SELECT n.node, (SELECT base FROM c0) + coalesce(s3.m, 0) AS r
        |        FROM nodes n LEFT JOIN s3 ON n.node = s3.node)
        |SELECT node, CAST(r AS BIGINT) AS rank FROM it3
        |ORDER BY node""".stripMargin,

    // shard-manifest replay: same md5 60-bit fold of 'doc_id:0'
    // (full width — the XOR checksum uses all the entropy), same
    // pmod-8 assignment, same order-independent XOR.
    "q_shard_manifest" ->
      """WITH h AS (
        |  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'),
        |    1, 15)) AS BIGINT) AS h
        |  FROM documents)
        |SELECT CAST(h % 8 AS INT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  bit_xor(h) AS checksum
        |FROM h GROUP BY 1 ORDER BY shard""".stripMargin,

    "eval_quality_auc" ->
      (evalScoredSql +
       """g AS (
         |  SELECT score, sum(label) AS pos, count(*) - sum(label) AS neg
         |  FROM scored GROUP BY score),
         |cum AS (
         |  SELECT pos, neg,
         |    coalesce(sum(neg) OVER (ORDER BY score
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS negbelow
         |  FROM g),
         |tot AS (
         |  SELECT sum(pos * (negbelow * 2 + neg)) AS num2,
         |    sum(pos) AS np, sum(neg) AS nn
         |  FROM cum)
         |SELECT floor(CAST(num2 AS DOUBLE) / (np * nn * 2) * 1000000) / 1000000 AS auc,
         |  CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg
         |FROM tot""".stripMargin),

    "eval_quality_roc" ->
      (evalScoredSql +
       """g AS (
         |  SELECT score, sum(label) AS pos, count(*) - sum(label) AS neg
         |  FROM scored GROUP BY score),
         |cum AS (
         |  SELECT score,
         |    sum(pos) OVER (ORDER BY score DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
         |    sum(neg) OVER (ORDER BY score DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
         |    sum(pos) OVER () AS np, sum(neg) OVER () AS nn
         |  FROM g)
         |SELECT score, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
         |  CASE WHEN np <> 0 THEN floor(CAST(tp AS DOUBLE) / np * 1000000) / 1000000 END AS tpr,
         |  CASE WHEN nn <> 0 THEN floor(CAST(fp AS DOUBLE) / nn * 1000000) / 1000000 END AS fpr,
         |  CASE WHEN tp + fp <> 0 THEN floor(CAST(tp AS DOUBLE) / (tp + fp) * 1000000) / 1000000 END AS precision,
         |  CASE WHEN np <> 0 THEN floor(CAST(tp AS DOUBLE) / np * 1000000) / 1000000 END AS recall
         |FROM cum ORDER BY score""".stripMargin),

    "eval_quality_calibration" ->
      (evalScoredSql +
       """b AS (
         |  SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS bin,
         |    count(*) AS n, sum(label) AS n_pos,
         |    sum(CAST(floor(score * 1000000) AS BIGINT)) AS sq
         |  FROM scored GROUP BY 1)
         |SELECT bin, CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
         |  CASE WHEN n <> 0 THEN floor(CAST(n_pos AS DOUBLE) / n * 1000000) / 1000000 END AS pos_rate,
         |  floor(CAST(sq AS DOUBLE) / n / 1000000 * 1000000) / 1000000 AS mean_score
         |FROM b ORDER BY bin""".stripMargin),

    "eval_quality_confusion" ->
      (evalScoredSql +
       """c AS (
         |  SELECT
         |    sum(CASE WHEN score >= 0.7 AND label = 1 THEN 1 ELSE 0 END) AS tp,
         |    sum(CASE WHEN score >= 0.7 AND label = 0 THEN 1 ELSE 0 END) AS fp,
         |    sum(CASE WHEN score < 0.7 AND label = 1 THEN 1 ELSE 0 END) AS fn,
         |    sum(CASE WHEN score < 0.7 AND label = 0 THEN 1 ELSE 0 END) AS tn
         |  FROM scored)
         |SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
         |  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
         |  CASE WHEN tp + fp + fn + tn <> 0 THEN floor(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn) * 1000000) / 1000000 END AS accuracy,
         |  CASE WHEN tp + fp <> 0 THEN floor(CAST(tp AS DOUBLE) / (tp + fp) * 1000000) / 1000000 END AS precision,
         |  CASE WHEN tp + fn <> 0 THEN floor(CAST(tp AS DOUBLE) / (tp + fn) * 1000000) / 1000000 END AS recall,
         |  CASE WHEN tp * 2 + fp + fn <> 0 THEN floor(CAST(tp AS DOUBLE) * 2 / (tp * 2 + fp + fn) * 1000000) / 1000000 END AS f1
         |FROM c""".stripMargin),

    "eval_quality_auc_by_source" ->
      (evalScoredSql +
       """g AS (
         |  SELECT source, score, sum(label) AS pos,
         |    count(*) - sum(label) AS neg
         |  FROM scored GROUP BY 1, 2),
         |cum AS (
         |  SELECT source, pos, neg,
         |    coalesce(sum(neg) OVER (PARTITION BY source ORDER BY score
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS negbelow
         |  FROM g),
         |t AS (
         |  SELECT source, sum(pos * (negbelow * 2 + neg)) AS num2,
         |    sum(pos) AS np, sum(neg) AS nn
         |  FROM cum GROUP BY source)
         |SELECT source,
         |  CASE WHEN np * nn * 2 <> 0
         |    THEN floor(CAST(num2 AS DOUBLE) / (np * nn * 2) * 1000000) / 1000000 END AS auc,
         |  CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg
         |FROM t ORDER BY source""".stripMargin),

    "eval_best_threshold" ->
      (evalScoredSql +
       """g AS (
         |  SELECT score, sum(label) AS pos, count(*) - sum(label) AS neg
         |  FROM scored GROUP BY score),
         |cum AS (
         |  SELECT score,
         |    sum(pos) OVER (ORDER BY score DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
         |    sum(neg) OVER (ORDER BY score DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
         |    sum(pos) OVER () AS np
         |  FROM g),
         |f AS (
         |  SELECT score AS threshold, CAST(tp AS BIGINT) AS tp,
         |    CAST(fp AS BIGINT) AS fp, CAST(np - tp AS BIGINT) AS fn,
         |    CASE WHEN tp * 2 + fp + (np - tp) <> 0
         |      THEN floor(CAST(tp * 2 AS DOUBLE) / (tp * 2 + fp + (np - tp)) * 1000000) / 1000000 END AS f1
         |  FROM cum)
         |SELECT threshold, tp, fp, fn, f1
         |FROM f ORDER BY f1 DESC, threshold LIMIT 1""".stripMargin),

    // average-precision replay: same per-cut integer-quantized terms
    // (one pinned double chain each), same exact BIGINT sum, same
    // closing division order
    "eval_quality_pr" ->
      (evalScoredSql +
       """g AS (
         |  SELECT score, sum(label) AS pos, count(*) - sum(label) AS neg
         |  FROM scored GROUP BY score),
         |cum AS (
         |  SELECT pos,
         |    sum(pos) OVER (ORDER BY score DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
         |    sum(pos + neg) OVER (ORDER BY score DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(pos) OVER () AS np, sum(neg) OVER () AS nn
         |  FROM g),
         |terms AS (
         |  SELECT CAST(floor(CAST(pos AS DOUBLE) * tp / cum
         |      * 1000000000) AS BIGINT) AS term9, np, nn
         |  FROM cum WHERE pos > 0),
         |s AS (
         |  SELECT CAST(sum(term9) AS BIGINT) AS s9,
         |    max(np) AS np, max(nn) AS nn
         |  FROM terms)
         |SELECT CASE WHEN np > 0 THEN
         |    floor(CAST(s9 AS DOUBLE) / np / 1000000000.0 * 1000000)
         |      / 1000000 END AS ap,
         |  CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg
         |FROM s""".stripMargin),

    // KS replay: exact HUGEINT cross products under the max, lowest
    // attaining score, one closing division
    "eval_quality_ks" ->
      (evalScoredSql +
       """g AS (
         |  SELECT score, sum(label) AS pos, count(*) - sum(label) AS neg
         |  FROM scored GROUP BY score),
         |cum AS (
         |  SELECT score,
         |    sum(pos) OVER (ORDER BY score DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
         |    sum(neg) OVER (ORDER BY score DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
         |    sum(pos) OVER () AS np, sum(neg) OVER () AS nn
         |  FROM g),
         |d AS (
         |  SELECT score, np, nn,
         |    abs(CAST(tp AS HUGEINT) * nn - CAST(fp AS HUGEINT) * np) AS d
         |  FROM cum)
         |SELECT score AS threshold,
         |  CASE WHEN np > 0 AND nn > 0 THEN
         |    floor(CAST(d AS DOUBLE) /
         |      (CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)) * 1000000)
         |      / 1000000 END AS ks,
         |  CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg
         |FROM d ORDER BY d DESC, score LIMIT 1""".stripMargin),

    // lift-table replay: tie groups land in the bucket of their last
    // example (same double-division bucket formula), same pinned
    // lift/cum_gain chains
    "eval_quality_lift" ->
      (evalScoredSql +
       """g AS (
         |  SELECT score, sum(label) AS pos, count(*) - sum(label) AS neg
         |  FROM scored GROUP BY score),
         |cum AS (
         |  SELECT pos, neg,
         |    sum(pos + neg) OVER (ORDER BY score DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(pos) OVER () AS np,
         |    sum(pos + neg) OVER () AS n_all
         |  FROM g),
         |b AS (
         |  SELECT CAST(least(floor((cum - 1) * 10 / n_all), 9) AS BIGINT)
         |      AS bucket,
         |    pos, neg, np, n_all
         |  FROM cum),
         |grp AS (
         |  SELECT bucket, CAST(sum(pos) + sum(neg) AS BIGINT) AS n,
         |    CAST(sum(pos) AS BIGINT) AS n_pos,
         |    max(np) AS np, max(n_all) AS n_all
         |  FROM b GROUP BY bucket)
         |SELECT bucket, n, n_pos,
         |  CASE WHEN n <> 0 THEN
         |    floor(CAST(n_pos AS DOUBLE) / n * 1000000) / 1000000 END
         |    AS pos_rate,
         |  CASE WHEN np > 0 THEN
         |    floor(CAST(n_pos AS DOUBLE) * n_all /
         |      (CAST(n AS DOUBLE) * np) * 1000000) / 1000000 END AS lift,
         |  CASE WHEN np > 0 THEN
         |    floor(CAST(sum(n_pos) OVER (ORDER BY bucket
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS DOUBLE) / np * 1000000) / 1000000 END AS cum_gain
         |FROM grp ORDER BY bucket""".stripMargin),

    "q_hll_registers" ->
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
        |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q_global_shuffle" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':7')) - 1 AS BIGINT) AS pos
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_curriculum_order" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    floor(least(1.0,
        |      (CASE WHEN nchars > 0 THEN nalpha / nchars ELSE 0.0 END) * 0.4
        |      + (1.0 - least((CASE WHEN nchars > 0 THEN nsym / nchars ELSE 0.0 END) * 5, 1.0)) * 0.2
        |      + (CASE WHEN nchars >= 50 AND nchars <= 100000 THEN 1.0 ELSE 0.5 END) * 0.2
        |      + (CASE WHEN meanword >= 3 AND meanword <= 12 THEN 1.0 ELSE 0.5 END) * 0.2) * 10000) / 10000 AS score
        |  FROM (
        |    SELECT doc_id, nchars, nalpha, nsym,
        |      CASE WHEN ntokens > 0 THEN nchars / ntokens ELSE 0.0 END AS meanword
        |    FROM (
        |      SELECT doc_id,
        |        CAST(length(trim(text)) AS DOUBLE) AS nchars,
        |        CAST(coalesce(len(list_filter(regexp_split_to_array(text, '\s+'),
        |                                      t -> length(t) > 0)), 0) AS DOUBLE) AS ntokens,
        |        CAST(coalesce(len(regexp_extract_all(trim(text), '[A-Za-z]')), 0) AS DOUBLE) AS nalpha,
        |        CAST(coalesce(len(regexp_extract_all(trim(text), '[^A-Za-z0-9\s]')), 0) AS DOUBLE) AS nsym
        |      FROM documents)))
        |SELECT doc_id,
        |  CAST(row_number() OVER (
        |    ORDER BY CAST(floor(score * 1000000) AS BIGINT),
        |             md5(CAST(doc_id AS VARCHAR) || ':0')) - 1 AS BIGINT) AS pos
        |FROM scored ORDER BY doc_id""".stripMargin,

    "q_robots_filter" ->
      """SELECT agent, doc_id, allowed FROM (
        |  SELECT '*' AS agent, doc_id,
        |    (doc_id % 5 NOT IN (0, 2)) AS allowed FROM documents
        |  UNION ALL
        |  SELECT 'graftbot', doc_id, (doc_id % 5 <> 3) FROM documents)
        |ORDER BY agent, doc_id""".stripMargin,

    "text_skipgram" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                x -> length(x) > 0) AS toks
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, i - 1 AS pos, toks[i] AS w
        |  FROM tk, unnest(range(1, len(toks) + 1)) AS t(i)),
        |freq AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY w),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM freq),
        |kept AS (
        |  SELECT doc_id, pos, w
        |  FROM tok JOIN freq USING (w) CROSS JOIN tot
        |  WHERE CAST(('0x' || substr(md5(doc_id || ':' || pos || ':0'), 1, 15)) AS BIGINT)
        |          / CAST(1152921504606846976 AS DOUBLE)
        |        < sqrt(0.05 * n_total / cnt)),
        |reb AS (SELECT doc_id, list(w ORDER BY pos) AS toks FROM kept GROUP BY doc_id),
        |pr AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i + d] AS w2
        |  FROM reb, unnest(range(1, len(toks) + 1)) AS t(i), unnest([1, 2]) AS o(d)
        |  WHERE i + d <= len(toks)),
        |dirs AS (
        |  SELECT w1 AS center, w2 AS context FROM pr
        |  UNION ALL
        |  SELECT w2, w1 FROM pr)
        |SELECT center, context, CAST(count(*) AS BIGINT) AS n
        |FROM dirs GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY center, context""".stripMargin,

    "ann_bitext_pairs" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
        |  WHERE vec_id < 80),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |cosm AS (
        |  SELECT a.vec_id AS sid, b.vec_id AS tid,
        |         round(sum(a.v * b.v) /
        |           (max(na.nrm) * max(nb.nrm)), 6) AS c
        |  FROM e a JOIN e b ON a.i = b.i
        |  JOIN n na ON na.vec_id = a.vec_id JOIN n nb ON nb.vec_id = b.vec_id
        |  WHERE a.vec_id < 40 AND b.vec_id >= 40
        |  GROUP BY 1, 2),
        |f AS (
        |  SELECT sid, tid, CAST(round(c * 1000000) AS BIGINT) AS c6
        |  FROM (SELECT sid, tid, c,
        |          row_number() OVER (PARTITION BY sid ORDER BY c DESC, tid) AS r
        |        FROM cosm) WHERE r <= 4),
        |bk AS (
        |  SELECT sid, tid, CAST(round(c * 1000000) AS BIGINT) AS c6
        |  FROM (SELECT sid, tid, c,
        |          row_number() OVER (PARTITION BY tid ORDER BY c DESC, sid) AS r
        |        FROM cosm) WHERE r <= 4),
        |fs AS (SELECT sid, CAST(sum(c6) AS BIGINT) AS fsum6,
        |         CAST(count(*) AS BIGINT) AS kf FROM f GROUP BY sid),
        |bs AS (SELECT tid, CAST(sum(c6) AS BIGINT) AS bsum6,
        |         CAST(count(*) AS BIGINT) AS kb FROM bk GROUP BY tid),
        |cand AS (
        |  SELECT f.sid, f.tid,
        |    floor(CAST(c6 AS DOUBLE) /
        |      (CAST(fsum6 AS DOUBLE) / (kf * 2) + CAST(bsum6 AS DOUBLE) / (kb * 2))
        |      * 1000000) / 1000000 AS margin
        |  FROM f JOIN fs USING (sid) JOIN bs USING (tid)),
        |bsrc AS (
        |  SELECT sid, tid FROM (SELECT sid, tid,
        |      row_number() OVER (PARTITION BY sid ORDER BY margin DESC, tid) AS r
        |    FROM cand) WHERE r = 1),
        |btgt AS (
        |  SELECT sid, tid FROM (SELECT sid, tid,
        |      row_number() OVER (PARTITION BY tid ORDER BY margin DESC, sid) AS r
        |    FROM cand) WHERE r = 1)
        |SELECT cand.sid AS src_id, cand.tid AS tgt_id, margin
        |FROM cand
        |JOIN bsrc ON cand.sid = bsrc.sid AND cand.tid = bsrc.tid
        |JOIN btgt ON cand.sid = btgt.sid AND cand.tid = btgt.tid
        |ORDER BY src_id, tgt_id""".stripMargin,

    "text_code_split" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    'def f_' || doc_id || '(x):' || chr(10) ||
        |    '    return x * ' || doc_id ||
        |    CASE WHEN doc_id % 3 = 0 THEN chr(10) || '# comment line'
        |         ELSE '' END AS code,
        |    text FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    text || chr(10) || '```python' || chr(10) || code ||
        |    chr(10) || '```' || chr(10) || 'more prose' ||
        |    CASE WHEN doc_id % 4 = 0
        |      THEN chr(10) || '```' || chr(10) ||
        |           'raw block with a very long line ' || repeat('x', 130) ||
        |           chr(10) || '```'
        |      ELSE '' END AS md
        |  FROM d),
        |f AS (
        |  SELECT doc_id,
        |    regexp_extract_all(md, '(?s)```[A-Za-z0-9_+#-]*\r?\n(.*?)```', 1) AS blocks,
        |    md5(regexp_replace(md, '(?s)```[A-Za-z0-9_+#-]*\r?\n(.*?)```', ' ', 'g')) AS prose_fp
        |  FROM m),
        |c AS (
        |  SELECT doc_id, CAST(len(blocks) AS INT) AS n_blocks, prose_fp,
        |    blocks[1] AS code,
        |    string_split_regex(blocks[1], '\r?\n') AS ls
        |  FROM f)
        |SELECT doc_id, n_blocks, prose_fp,
        |  CAST(len(ls) AS BIGINT) AS n_lines,
        |  CAST(coalesce(list_max(list_transform(ls, l -> length(l))), 0) AS BIGINT) AS max_line_len,
        |  CASE WHEN len(ls) > 0 THEN
        |    floor(CAST(len(list_filter(ls, l -> length(l) > 120)) AS DOUBLE)
        |      / len(ls) * 1000000) / 1000000 END AS long_line_frac,
        |  CAST((length(code) - length(regexp_replace(code, '\{', '', 'g')))
        |     - (length(code) - length(regexp_replace(code, '\}', '', 'g'))) AS BIGINT) AS brace_delta,
        |  CASE WHEN len(ls) > 0 THEN
        |    floor(CAST(len(list_filter(ls, l -> regexp_matches(trim(l), '^(//|#|--|/\*)'))) AS DOUBLE)
        |      / len(ls) * 1000000) / 1000000 END AS comment_frac,
        |  CASE WHEN len(ls) > 0 THEN
        |    floor(CAST(len(list_filter(ls, l -> regexp_matches(l, '^[ \t]'))) AS DOUBLE)
        |      / len(ls) * 1000000) / 1000000 END AS indent_frac
        |FROM c ORDER BY doc_id""".stripMargin,

    "text_glove_cooc" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                x -> length(x) > 0) AS toks
        |  FROM documents),
        |pr AS (
        |  SELECT toks[i] AS w1, toks[i + d] AS w2, CAST(6 / d AS BIGINT) AS wq
        |  FROM tk, unnest(range(1, len(toks) + 1)) AS t(i), unnest([1, 2, 3]) AS o(d)
        |  WHERE i + d <= len(toks)),
        |dirs AS (
        |  SELECT w1 AS center, w2 AS context, wq FROM pr
        |  UNION ALL
        |  SELECT w2, w1, wq FROM pr)
        |SELECT center, context, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(wq) AS BIGINT) AS w_q, CAST(6 AS BIGINT) AS scale
        |FROM dirs GROUP BY 1, 2 HAVING count(*) >= 5
        |ORDER BY center, context""".stripMargin,

    "text_pmi" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                x -> length(x) > 0) AS toks
        |  FROM documents),
        |pr AS (
        |  SELECT toks[i] AS w1, toks[i + d] AS w2
        |  FROM tk, unnest(range(1, len(toks) + 1)) AS t(i), unnest([1, 2]) AS o(d)
        |  WHERE i + d <= len(toks)),
        |dirs AS (
        |  SELECT w1 AS center, w2 AS context FROM pr
        |  UNION ALL
        |  SELECT w2, w1 FROM pr),
        |counts AS (
        |  SELECT center, context, CAST(count(*) AS BIGINT) AS n
        |  FROM dirs GROUP BY 1, 2),
        |ct AS (SELECT center, CAST(sum(n) AS BIGINT) AS n_c FROM counts GROUP BY 1),
        |xt AS (SELECT context, CAST(sum(n) AS BIGINT) AS n_x FROM counts GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM counts)
        |SELECT center, context, n,
        |  CAST(floor(ln(CAST(n AS DOUBLE) * n_total /
        |    (CAST(n_c AS DOUBLE) * n_x)) * 10000) AS BIGINT) AS pmi_q
        |FROM counts JOIN ct USING (center) JOIN xt USING (context) CROSS JOIN tot
        |WHERE n >= 5 ORDER BY center, context""".stripMargin,

    "q_ordered_shards" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CAST(row_number() OVER (
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':5')) - 1 AS BIGINT) AS pos,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':5'),
        |      1, 15)) AS BIGINT) AS h
        |  FROM documents)
        |SELECT CAST(pos // 64 AS INT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  min(pos) AS min_pos, max(pos) AS max_pos,
        |  bit_xor(h) AS checksum
        |FROM p GROUP BY 1 ORDER BY shard""".stripMargin,

    "q_ewma_users" ->
      """WITH s AS (
        |  SELECT user_id,
        |    list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
        |  FROM events WHERE value IS NOT NULL GROUP BY user_id)
        |SELECT user_id, CAST(len(vals) AS BIGINT) AS n,
        |  floor(list_reduce(vals, (acc, x) -> acc * 0.75 + x * 0.25) * 1000000)
        |    / 1000000 AS level
        |FROM s ORDER BY user_id""".stripMargin,

    "q21_waiting_suppliers" ->
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
        |ORDER BY numwait DESC, s.s_name LIMIT 100""".stripMargin,

    // DP release replay: u = md5-derived uniform in (0,1), Laplace
    // noise by inverse CDF floor-quantized 1e-4, non-negative clamp
    "v_dp_segment_counts" ->
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
        |FROM u ORDER BY c_mktsegment, c_nationkey""".stripMargin,

    "v_dp_balance_sums" ->
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
        |FROM u ORDER BY c_mktsegment""".stripMargin,

    "v_kanon_audit" ->
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
        |FROM g""".stripMargin,

    "v_kanon_suppress" ->
      """WITH g AS (
        |  SELECT lang, source, count(*) AS n
        |  FROM documents GROUP BY 1, 2)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d JOIN g ON d.lang = g.lang AND d.source = g.source
        |WHERE g.n >= 15 ORDER BY d.doc_id""".stripMargin,

    "text_c4_clean" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    'Click here' || chr(10) ||
        |    array_to_string(string_split(text, ' ')[1:8], ' ') || '.' || chr(10) ||
        |    'Please enable JavaScript to continue.' || chr(10) ||
        |    array_to_string(string_split(text, ' ')[9:16], ' ') || '?' || chr(10) ||
        |    CASE WHEN doc_id % 7 = 0 THEN 'this page is lorem ipsum filler text.'
        |         ELSE 'real closing sentence with enough words here.' END || chr(10) ||
        |    CASE WHEN doc_id % 11 = 0 THEN 'inline code sample { braces }.'
        |         ELSE '' END AS text
        |  FROM documents),
        |cleaned AS (
        |  SELECT doc_id,
        |    array_to_string(list_filter(string_split(text, chr(10)),
        |      l -> regexp_matches(trim(l), '[.!?"'']$')
        |        AND len(list_filter(regexp_split_to_array(trim(l), '\s+'),
        |                            w -> length(w) > 0)) >= 5
        |        AND NOT contains(lower(trim(l)), 'javascript')),
        |      chr(10)) AS clean_text
        |  FROM base)
        |SELECT doc_id, md5(clean_text) AS fp,
        |  (NOT contains(lower(clean_text), 'lorem ipsum')
        |   AND NOT contains(clean_text, '{')
        |   AND coalesce(len(regexp_extract_all(clean_text, '[.!?]')), 0) >= 3) AS kept
        |FROM cleaned ORDER BY doc_id""".stripMargin,

    "dedup_best_docs" ->
      """WITH scored AS (
        |  SELECT doc_id, CAST(doc_id % 100 AS VARCHAR) AS grp,
        |    floor(least(1.0,
        |      (CASE WHEN nchars > 0 THEN nalpha / nchars ELSE 0.0 END) * 0.4
        |      + (1.0 - least((CASE WHEN nchars > 0 THEN nsym / nchars ELSE 0.0 END) * 5, 1.0)) * 0.2
        |      + (CASE WHEN nchars >= 50 AND nchars <= 100000 THEN 1.0 ELSE 0.5 END) * 0.2
        |      + (CASE WHEN meanword >= 3 AND meanword <= 12 THEN 1.0 ELSE 0.5 END) * 0.2) * 10000) / 10000 AS score
        |  FROM (
        |    SELECT doc_id, nchars, nalpha, nsym,
        |      CASE WHEN ntokens > 0 THEN nchars / ntokens ELSE 0.0 END AS meanword
        |    FROM (
        |      SELECT doc_id,
        |        CAST(length(trim(text)) AS DOUBLE) AS nchars,
        |        CAST(coalesce(len(list_filter(regexp_split_to_array(text, '\s+'),
        |                                      t -> length(t) > 0)), 0) AS DOUBLE) AS ntokens,
        |        CAST(coalesce(len(regexp_extract_all(trim(text), '[A-Za-z]')), 0) AS DOUBLE) AS nalpha,
        |        CAST(coalesce(len(regexp_extract_all(trim(text), '[^A-Za-z0-9\s]')), 0) AS DOUBLE) AS nsym
        |      FROM documents))),
        |r AS (
        |  SELECT doc_id, grp, score,
        |    row_number() OVER (PARTITION BY grp ORDER BY score DESC, doc_id) AS rn
        |  FROM scored)
        |SELECT doc_id, grp, score FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "html_anchors" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    '<p>intro</p><a href="https://site' || (doc_id % 7) ||
        |    '.com/t/' || doc_id || '"><b>Doc ' || doc_id ||
        |    '</b> &amp; more</a>' ||
        |    CASE WHEN doc_id % 2 = 0
        |      THEN '<a href=''/rel/' || doc_id || ''' class="x">  </a>'
        |      ELSE '<a href="https://t.example.org">plain</a>' END AS h
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    regexp_extract_all(h, '(?is)<a\s[^>]*href\s*=\s*["'']([^"'']+)["''][^>]*>(.*?)</a>', 1) AS hrefs,
        |    regexp_extract_all(h, '(?is)<a\s[^>]*href\s*=\s*["'']([^"'']+)["''][^>]*>(.*?)</a>', 2) AS inners
        |  FROM d),
        |e AS (
        |  SELECT doc_id, CAST(i - 1 AS INT) AS pos, hrefs[i] AS href, inners[i] AS am
        |  FROM m, unnest(range(1, len(hrefs) + 1)) AS t(i)),
        |s AS (
        |  SELECT doc_id, pos, href, trim(regexp_replace(
        |    regexp_replace(
        |     regexp_replace(
        |      regexp_replace(
        |       regexp_replace(
        |        regexp_replace(
        |         regexp_replace(
        |          regexp_replace(
        |           regexp_replace(
        |            regexp_replace(
        |             regexp_replace(am, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |             '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |           '(?s)<!--.*?-->', ' ', 'g'),
        |          '<[^>]*>', ' ', 'g'),
        |         '&nbsp;', ' ', 'g'),
        |        '&lt;', '<', 'g'),
        |       '&gt;', '>', 'g'),
        |      '&quot;', '"', 'g'),
        |     '&#39;', '''', 'g'),
        |    '&amp;', '&', 'g'),
        |   '\s+', ' ', 'g')) AS anchor
        |  FROM e)
        |SELECT doc_id, pos, href, anchor FROM s
        |WHERE anchor <> '' ORDER BY doc_id, pos""".stripMargin,

    "text_kn_lp" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                x -> length(x) > 0) AS toks
        |  FROM documents),
        |tr AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
        |  FROM tk, unnest(range(1, len(toks) - 1)) AS t(i)),
        |tric AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c123
        |  FROM tr GROUP BY 1, 2, 3),
        |n12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n1p_12dot
        |  FROM tric GROUP BY 1, 2),
        |n23 AS (SELECT w2, w3, CAST(count(*) AS BIGINT) AS n1p_dot23
        |  FROM tric GROUP BY 1, 2),
        |p AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |  FROM tk, unnest(range(1, len(toks))) AS t(i)),
        |bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM p GROUP BY 1, 2),
        |mid AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p_dot2dot
        |  FROM tric GROUP BY w2),
        |mid2 AS (SELECT w1 AS w2, CAST(count(*) AS BIGINT) AS n1p_2dot
        |  FROM bi GROUP BY w1),
        |cont AS (SELECT w2 AS w3, CAST(count(*) AS BIGINT) AS n1p_dot3
        |  FROM bi GROUP BY w2),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n1pp FROM bi),
        |occ AS (SELECT doc_id, w1, w2, w3, CAST(count(*) AS BIGINT) AS m
        |  FROM tr GROUP BY 1, 2, 3, 4),
        |scored AS (
        |  SELECT occ.doc_id, occ.m,
        |    occ.m * CAST(floor(ln(
        |      greatest(c123 - 0.75, 0.0) / c12 +
        |      (0.75 * n1p_12dot / c12) * (
        |        greatest(n1p_dot23 - 0.75, 0.0) / n1p_dot2dot +
        |        (0.75 * n1p_2dot / n1p_dot2dot) * (
        |          (n1p_dot3 + 1) / CAST(n1pp + 1 AS DOUBLE)))
        |    ) * 10000) AS BIGINT) AS lp_m
        |  FROM occ
        |  JOIN tric USING (w1, w2, w3) JOIN n12 USING (w1, w2)
        |  JOIN n23 USING (w2, w3) JOIN bi USING (w1, w2)
        |  JOIN mid USING (w2) JOIN mid2 USING (w2)
        |  JOIN cont USING (w3) CROSS JOIN stats)
        |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_tris,
        |  CAST(sum(lp_m) AS BIGINT) / sum(m) / 10000 AS lp_avg
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // textbook EXISTS formulation — verifies the semi-join rewrite
    "q4_order_priority" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1997-07-01'
        |  AND o_orderdate < TIMESTAMP '1997-10-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 100)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |  AND l_shipdate < TIMESTAMP '1999-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q9_product_profit" ->
      """SELECT n_name AS nation,
        |  CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS profit_cents
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    // Q11 replay: same derived supply values, same exact-integer
    // count-scaled threshold (value·n·10 > total·13, i.e. 1.3× the
    // mean part value — scale-invariant selectivity), no division
    "q11_important_stock" ->
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
        |ORDER BY value_cents DESC, p_partkey""".stripMargin,

    "q2_min_cost_supplier" ->
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
        |LIMIT 100""".stripMargin,

    "q16_part_supplier_counts" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'ECONOMY'
        |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q20_potential_suppliers" ->
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
        |ORDER BY s_name""".stripMargin,

    "q12_late_priority" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |  AND l_shipdate < TIMESTAMP '1999-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 45 DAY
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q15_top_supplier" ->
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
        |ORDER BY s_suppkey""".stripMargin,

    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 180)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  total_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        |LIMIT 100""".stripMargin,

    "q19_disjunctive_revenue" ->
      """SELECT CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q22_idle_customers" ->
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
        |GROUP BY 1 ORDER BY nation""".stripMargin,

    // shortest-paths replay: same co-purchase edges, 4 unrolled
    // relax-and-merge stages (recursive CTEs with aggregation in the
    // recursive term are not portable — unrolling is, exactly as the
    // PageRank oracle does). Relaxation here runs from the FULL d_k
    // frame where the engine runs from the improved frontier — same
    // fixpoint: a non-improved node only regenerates candidates that
    // already lost an earlier min.
    "q_sssp_parts" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |            FROM lineitem),
        |edges AS (
        |  SELECT a.p AS src, b.p AS dst,
        |    CAST(100 - least(count(*), 99) AS BIGINT) AS w
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.p <> b.p
        |  GROUP BY a.p, b.p),
        |d0 AS (SELECT DISTINCT l_partkey AS node, CAST(0 AS BIGINT) AS dist
        |       FROM lineitem
        |       WHERE l_suppkey = (SELECT min(l_suppkey) FROM lineitem)),
        |c1 AS (SELECT e.dst AS node, min(d.dist + e.w) AS nd
        |       FROM d0 d JOIN edges e ON d.node = e.src GROUP BY e.dst),
        |d1 AS (SELECT coalesce(d.node, c.node) AS node,
        |         least(coalesce(d.dist, 9223372036854775807),
        |               coalesce(c.nd, 9223372036854775807)) AS dist
        |       FROM d0 d FULL JOIN c1 c ON d.node = c.node),
        |c2 AS (SELECT e.dst AS node, min(d.dist + e.w) AS nd
        |       FROM d1 d JOIN edges e ON d.node = e.src GROUP BY e.dst),
        |d2 AS (SELECT coalesce(d.node, c.node) AS node,
        |         least(coalesce(d.dist, 9223372036854775807),
        |               coalesce(c.nd, 9223372036854775807)) AS dist
        |       FROM d1 d FULL JOIN c2 c ON d.node = c.node),
        |c3 AS (SELECT e.dst AS node, min(d.dist + e.w) AS nd
        |       FROM d2 d JOIN edges e ON d.node = e.src GROUP BY e.dst),
        |d3 AS (SELECT coalesce(d.node, c.node) AS node,
        |         least(coalesce(d.dist, 9223372036854775807),
        |               coalesce(c.nd, 9223372036854775807)) AS dist
        |       FROM d2 d FULL JOIN c3 c ON d.node = c.node),
        |c4 AS (SELECT e.dst AS node, min(d.dist + e.w) AS nd
        |       FROM d3 d JOIN edges e ON d.node = e.src GROUP BY e.dst),
        |d4 AS (SELECT coalesce(d.node, c.node) AS node,
        |         least(coalesce(d.dist, 9223372036854775807),
        |               coalesce(c.nd, 9223372036854775807)) AS dist
        |       FROM d3 d FULL JOIN c4 c ON d.node = c.node)
        |SELECT node AS part, dist FROM d4 ORDER BY part""".stripMargin,

    // attribution replay: identical path windows over nanosecond
    // instants; '//' is DuckDB integral division (operands positive).
    "q_attribution" ->
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
        |FROM path GROUP BY channel ORDER BY channel""".stripMargin,

    // ECOD replay: same 1/1000 quantization (FLOAT→DOUBLE cast before
    // the multiply on both engines), same histogram-cumulative depth.
    "emb_ecod_depth" ->
      """WITH ex AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS dim,
        |    CAST(floor(CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE)
        |      * 1000) AS BIGINT) AS qv
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |counts AS (SELECT dim, qv, count(*) AS cnt FROM ex GROUP BY 1, 2),
        |nn AS (SELECT count(*) AS n FROM embeddings),
        |cdf AS (
        |  SELECT dim, qv,
        |    least(sum(cnt) OVER (PARTITION BY dim ORDER BY qv),
        |      (SELECT n FROM nn) -
        |        (sum(cnt) OVER (PARTITION BY dim ORDER BY qv) - cnt))
        |      AS cell_depth
        |  FROM counts)
        |SELECT e.vec_id, CAST(sum(c.cell_depth) AS BIGINT) AS depth
        |FROM ex e JOIN cdf c ON e.dim = c.dim AND e.qv = c.qv
        |GROUP BY e.vec_id ORDER BY vec_id""".stripMargin,

    // spatial replay: brute-force radius scan (the grid is pruning
    // only), same md5 coordinate derivation, argmin by (d2, supplier)
    "q_spatial_nearest" ->
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
        |ORDER BY cust""".stripMargin,

    // Zipf replay: same tokenization as q_vocab_top, same millinat
    // quantization, same OLS expression tree (division order pinned)
    "text_zipf_alpha" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |top AS (
        |  SELECT token, count(*) AS freq FROM toks
        |  WHERE length(token) > 0
        |  GROUP BY token ORDER BY freq DESC, token ASC LIMIT 1000),
        |ranked AS (
        |  SELECT freq, row_number() OVER (ORDER BY freq DESC, token ASC)
        |    AS rank
        |  FROM top),
        |pts AS (
        |  SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1000) AS BIGINT) AS x,
        |         CAST(round(ln(CAST(freq AS DOUBLE)) * 1000) AS BIGINT) AS y
        |  FROM ranked),
        |sums AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM pts)
        |SELECT n AS top_k,
        |  floor(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000) / 1000000
        |    AS slope,
        |  floor((CAST(sy AS DOUBLE)
        |    - (CAST(n * sxy - sx * sy AS DOUBLE)
        |       / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE) / 1000.0 * 1000000) / 1000000
        |    AS intercept
        |FROM sums""".stripMargin,

    // personalized-PageRank replay: the q_pagerank_suppliers oracle
    // with the teleport term gated to the seed intersection |S ∩ V|
    "q_ppr_building" ->
      """WITH pairs AS (
        |  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS c,
        |                  's' || CAST(l.l_suppkey AS VARCHAR) AS s
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |edges AS (
        |  SELECT c AS src, s AS dst FROM pairs
        |  UNION ALL SELECT s AS src, c AS dst FROM pairs),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
        |        FROM edges GROUP BY src),
        |seeds AS (SELECT DISTINCT 'c' || CAST(c_custkey AS VARCHAR) AS node
        |          FROM customer WHERE c_mktsegment = 'BUILDING'),
        |srcn AS (SELECT n.node FROM nodes n JOIN seeds s ON n.node = s.node),
        |c0 AS (SELECT CAST(1000000000000 // count(*) AS BIGINT) AS r0,
        |              CAST((1000000000000 * 15 // 100) // count(*) AS BIGINT)
        |                AS base
        |       FROM srcn),
        |it0 AS (SELECT n.node,
        |          CASE WHEN s.node IS NOT NULL
        |               THEN (SELECT r0 FROM c0) ELSE 0 END AS r
        |        FROM nodes n LEFT JOIN srcn s ON n.node = s.node),
        |s1 AS (SELECT e.dst AS node,
        |         CAST(sum((r.r * 85) // (100 * d.deg)) AS BIGINT) AS m
        |       FROM edges e JOIN it0 r ON e.src = r.node
        |         JOIN deg d ON e.src = d.src
        |       GROUP BY e.dst),
        |it1 AS (SELECT n.node,
        |          (CASE WHEN s.node IS NOT NULL
        |                THEN (SELECT base FROM c0) ELSE 0 END)
        |            + coalesce(s1.m, 0) AS r
        |        FROM nodes n LEFT JOIN srcn s ON n.node = s.node
        |          LEFT JOIN s1 ON n.node = s1.node),
        |s2 AS (SELECT e.dst AS node,
        |         CAST(sum((r.r * 85) // (100 * d.deg)) AS BIGINT) AS m
        |       FROM edges e JOIN it1 r ON e.src = r.node
        |         JOIN deg d ON e.src = d.src
        |       GROUP BY e.dst),
        |it2 AS (SELECT n.node,
        |          (CASE WHEN s.node IS NOT NULL
        |                THEN (SELECT base FROM c0) ELSE 0 END)
        |            + coalesce(s2.m, 0) AS r
        |        FROM nodes n LEFT JOIN srcn s ON n.node = s.node
        |          LEFT JOIN s2 ON n.node = s2.node),
        |s3 AS (SELECT e.dst AS node,
        |         CAST(sum((r.r * 85) // (100 * d.deg)) AS BIGINT) AS m
        |       FROM edges e JOIN it2 r ON e.src = r.node
        |         JOIN deg d ON e.src = d.src
        |       GROUP BY e.dst),
        |it3 AS (SELECT n.node,
        |          (CASE WHEN s.node IS NOT NULL
        |                THEN (SELECT base FROM c0) ELSE 0 END)
        |            + coalesce(s3.m, 0) AS r
        |        FROM nodes n LEFT JOIN srcn s ON n.node = s.node
        |          LEFT JOIN s3 ON n.node = s3.node)
        |SELECT node, CAST(r AS BIGINT) AS rank FROM it3
        |ORDER BY node""".stripMargin,

    // KMV overlap replay: same md5 60-bit fold, same bottom-256 union
    // sketch, same pinned double chain for the estimate
    "q_join_card_est" ->
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
        |FROM agg, act""".stripMargin,

    // RRF replay: same top-1000 cuts, same integer contributions
    "q_rrf_docs" ->
      """WITH la AS (SELECT doc_id, n_chars AS score FROM documents),
        |lb AS (
        |  SELECT d.doc_id, CAST(count(DISTINCT t.token) AS BIGINT) AS score
        |  FROM documents d,
        |    unnest(regexp_split_to_array(trim(lower(d.text)), '\s+')) AS t(token)
        |  WHERE length(t.token) > 0
        |  GROUP BY d.doc_id),
        |ra AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM (SELECT * FROM la ORDER BY score DESC, doc_id ASC LIMIT 1000)),
        |rb AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM (SELECT * FROM lb ORDER BY score DESC, doc_id ASC LIMIT 1000)),
        |c AS (
        |  SELECT doc_id, 1000000000 // (60 + rank) AS c FROM ra
        |  UNION ALL
        |  SELECT doc_id, 1000000000 // (60 + rank) AS c FROM rb)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_score,
        |  CAST(count(*) AS BIGINT) AS n_lists
        |FROM c GROUP BY doc_id
        |ORDER BY rrf_score DESC, doc_id ASC LIMIT 100""".stripMargin,

    // entropy replay: same unpivot-to-strings, same 10^6-quantized
    // cnt·ln(cnt) terms (HUGEINT sum = the engine's decimal), same
    // pinned closing chain
    "v_profile_entropy" ->
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
        |FROM agg ORDER BY col_name""".stripMargin,

    // edit-join replay: brute-force levenshtein over the same ASCII
    // prefix frame (the segment filter is complete, so brute force IS
    // the answer). ASCII-only keeps DuckDB's byte-based levenshtein
    // aligned with Spark's char-based one.
    "q_edit_pairs" ->
      """WITH d AS (
        |  SELECT doc_id, lower(substr(text, 1, 24)) AS s FROM documents
        |  WHERE doc_id < 600),
        |f AS (SELECT * FROM d
        |      WHERE regexp_matches(s, '^[ -~]*$') AND length(s) >= 3)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist
        |FROM f a JOIN f b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.s, b.s) <= 2
        |ORDER BY id1, id2""".stripMargin,

    // changepoint replay: same exact-integer cumulatives (HUGEINT =
    // the engine's DECIMAL(38,0)), same IEEE closing division, same
    // (score desc, i asc) argmax
    "q_changepoint_revenue" ->
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
        |FROM best WHERE rn = 1 ORDER BY prio""".stripMargin,

    // trend replay: same ranked x, exact HUGEINT sums, pinned chains
    "q_trend_priority" ->
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
        |FROM d ORDER BY prio""".stripMargin,

    // ABA replay: same md5-derived routing numbers, same weighted
    // mod-10 (all synthetic rtn are 9-digit numeric by construction,
    // so the format branch never fires on either engine)
    "v_aba_checksum" ->
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
        |FROM d GROUP BY nation ORDER BY nation""".stripMargin,

    // Adamic-Adar replay: same wedge join, same integer terms
    "q_adamic_adar" ->
      """WITH cs AS (
        |  SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |deg AS (
        |  SELECT ck, CAST(count(*) AS BIGINT) AS deg FROM cs
        |  GROUP BY ck HAVING count(*) >= 2),
        |c AS (
        |  SELECT cs.ck, cs.sk,
        |    CAST(round(1000000.0 / ln(CAST(d.deg AS DOUBLE))) AS BIGINT)
        |      AS term
        |  FROM cs JOIN deg d ON cs.ck = d.ck)
        |SELECT a.sk AS id1, b.sk AS id2,
        |  CAST(sum(a.term) AS BIGINT) AS aa_score,
        |  CAST(count(*) AS BIGINT) AS n_common
        |FROM c a JOIN c b ON a.ck = b.ck AND a.sk < b.sk
        |GROUP BY a.sk, b.sk
        |ORDER BY aa_score DESC, id1, id2 LIMIT 2000""".stripMargin,

    // Brier replay: same 1e-6 score quantization before squaring,
    // same per-bin 1e-9 term quantization, same pinned closings
    "eval_quality_brier" ->
      (evalScoredSql +
       """b AS (
         |  SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS bin,
         |    count(*) AS nk, sum(label) AS npk,
         |    sum(CAST(floor(score * 1000000) AS BIGINT)) AS sqk,
         |    sum(CAST((CAST(floor(score * 1000000) AS BIGINT) - label * 1000000)
         |      * (CAST(floor(score * 1000000) AS BIGINT) - label * 1000000)
         |      AS HUGEINT)) AS se2
         |  FROM scored GROUP BY 1),
         |w AS (
         |  SELECT nk, npk, sqk, se2,
         |    sum(nk) OVER () AS n, sum(npk) OVER () AS np
         |  FROM b),
         |terms AS (
         |  SELECT n, np, se2,
         |    CAST(floor(CAST((CAST(sqk AS HUGEINT) - CAST(npk AS HUGEINT) * 1000000)
         |        * (CAST(sqk AS HUGEINT) - CAST(npk AS HUGEINT) * 1000000) AS DOUBLE)
         |      / nk / 1000000000000.0 * 1000000000) AS BIGINT) AS rel9,
         |    CAST(floor(CAST((CAST(npk AS HUGEINT) * n - CAST(np AS HUGEINT) * nk)
         |        * (CAST(npk AS HUGEINT) * n - CAST(np AS HUGEINT) * nk) AS DOUBLE)
         |      / nk / n / n * 1000000000) AS BIGINT) AS res9
         |  FROM w),
         |s AS (
         |  SELECT n, np, sum(se2) AS se2, sum(rel9) AS srel9,
         |    sum(res9) AS sres9
         |  FROM terms GROUP BY n, np)
         |SELECT CAST(n AS BIGINT) AS n,
         |  floor(CAST(se2 AS DOUBLE) / n / 1000000000000.0 * 1000000) / 1000000 AS brier,
         |  floor(CAST(np AS DOUBLE) * (n - np) / (CAST(n AS DOUBLE) * n) * 1000000) / 1000000 AS uncertainty,
         |  floor(CAST(sres9 AS DOUBLE) / n / 1000000000.0 * 1000000) / 1000000 AS resolution,
         |  floor(CAST(srel9 AS DOUBLE) / n / 1000000000.0 * 1000000) / 1000000 AS reliability
         |FROM s""".stripMargin),

    // Benford replay: first digit from the BIGINT's decimal string
    // (identical printing), pinned quantized expected shares
    "v_benford_prices" ->
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
        |FROM e ORDER BY digit""".stripMargin,

    // moments replay: same quantized DECIMAL power sums, same pinned
    // central-moment chains (sqrt, never pow)
    "v_profile_moments" ->
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
        |FROM cm ORDER BY col_name""".stripMargin,

    // sequence-pattern replay: same per-(sequence, item) time bounds,
    // same first-b-after-a minimum, strict inequalities throughout
    "q_seq_patterns" ->
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
        |ORDER BY k, a, b, c""".stripMargin,

    // itemset replay: prune-free self-joins — downward closure is
    // lossless, so the unpruned enumeration returns identical rows
    "q_freq_itemsets" ->
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
        |ORDER BY k, i1, i2, i3""".stripMargin,

    // WoE replay: same smoothed shares, same single-ln chain, same
    // 1e-9 IV term quantization
    "q_woe_segments" ->
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
        |FROM c ORDER BY category""".stripMargin,

    // target-encoding replay: same exact sums, same pinned
    // leave-one-out chain — (sum−y+prior·m)/(n−1+m) floored to 1e-6
    "q_target_encode" ->
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
        |ORDER BY o_orderkey""".stripMargin,

    // HITS replay: 2 rounds unrolled — integral sums, exact (s·1e12)
    // div max normalization each half-step, absent-side scores 0
    "q_hits_purchases" ->
      """WITH e AS (
        |  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
        |    's' || CAST(l.l_suppkey AS VARCHAR) AS dst
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |a1s AS (
        |  SELECT dst AS node,
        |    CAST(count(*) AS HUGEINT) * 1000000000000 AS s
        |  FROM e GROUP BY dst),
        |a1 AS (SELECT node, (s * 1000000000000) //
        |         (SELECT max(s) FROM a1s) AS a FROM a1s),
        |a1f AS (SELECT n.node, coalesce(a1.a, 0) AS a
        |        FROM nodes n LEFT JOIN a1 ON n.node = a1.node),
        |h1s AS (
        |  SELECT e.src AS node, CAST(sum(CAST(f.a AS HUGEINT)) AS HUGEINT) AS s
        |  FROM e JOIN a1f f ON e.dst = f.node GROUP BY e.src),
        |h1 AS (SELECT node, (s * 1000000000000) //
        |         (SELECT max(s) FROM h1s) AS h FROM h1s),
        |h1f AS (SELECT n.node, coalesce(h1.h, 0) AS h
        |        FROM nodes n LEFT JOIN h1 ON n.node = h1.node),
        |a2s AS (
        |  SELECT e.dst AS node, CAST(sum(CAST(f.h AS HUGEINT)) AS HUGEINT) AS s
        |  FROM e JOIN h1f f ON e.src = f.node GROUP BY e.dst),
        |a2 AS (SELECT node, (s * 1000000000000) //
        |         (SELECT max(s) FROM a2s) AS a FROM a2s),
        |a2f AS (SELECT n.node, coalesce(a2.a, 0) AS a
        |        FROM nodes n LEFT JOIN a2 ON n.node = a2.node),
        |h2s AS (
        |  SELECT e.src AS node, CAST(sum(CAST(f.a AS HUGEINT)) AS HUGEINT) AS s
        |  FROM e JOIN a2f f ON e.dst = f.node GROUP BY e.src),
        |h2 AS (SELECT node, (s * 1000000000000) //
        |         (SELECT max(s) FROM h2s) AS h FROM h2s),
        |h2f AS (SELECT n.node, coalesce(h2.h, 0) AS h
        |        FROM nodes n LEFT JOIN h2 ON n.node = h2.node)
        |SELECT h2f.node, CAST(h2f.h AS BIGINT) AS hub,
        |  CAST(a2f.a AS BIGINT) AS authority
        |FROM h2f JOIN a2f ON h2f.node = a2f.node
        |ORDER BY h2f.node""".stripMargin,

    // assortativity replay: same exact HUGEINT moment sums over edge
    // endpoint degrees, same pinned closing chain
    "q_assortativity" ->
      """WITH e AS (
        |  SELECT DISTINCT o.o_custkey AS src, l.l_suppkey AS dst
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |od AS (SELECT src, count(*) AS dx FROM e GROUP BY src),
        |ind AS (SELECT dst, count(*) AS dy FROM e GROUP BY dst),
        |j AS (
        |  SELECT CAST(od.dx AS HUGEINT) AS dx, CAST(ind.dy AS HUGEINT) AS dy
        |  FROM e JOIN od ON e.src = od.src JOIN ind ON e.dst = ind.dst),
        |s AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS m,
        |    sum(dx) AS sx, sum(dy) AS sy,
        |    sum(dx * dx) AS sxx, sum(dy * dy) AS syy,
        |    sum(dx * dy) AS sxy
        |  FROM j)
        |SELECT CAST(m AS BIGINT) AS n_edges,
        |  CASE WHEN (m * sxx - sx * sx) > 0 AND (m * syy - sy * sy) > 0
        |    THEN floor(CAST(m * sxy - sx * sy AS DOUBLE) /
        |      sqrt(CAST(m * sxx - sx * sx AS DOUBLE) *
        |           CAST(m * syy - sy * sy AS DOUBLE)) * 1000000) / 1000000
        |    END AS assortativity
        |FROM s""".stripMargin,

    // readability replay: same vowel-group syllable proxy, same
    // terminator-group sentence count, same pinned formula chains
    "text_readability" ->
      """SELECT doc_id,
        |  CAST(coalesce(len(list_filter(regexp_split_to_array(text, '\s+'),
        |    t -> length(t) > 0)), 0) AS BIGINT) AS n_words,
        |  CAST(greatest(coalesce(len(regexp_extract_all(text, '[.!?]+')), 0),
        |    1) AS BIGINT) AS n_sentences,
        |  CAST(coalesce(len(regexp_extract_all(lower(text), '[aeiouy]+')),
        |    0) AS BIGINT) AS n_syllables,
        |  CASE WHEN coalesce(len(list_filter(regexp_split_to_array(text,
        |      '\s+'), t -> length(t) > 0)), 0) > 0 THEN
        |    floor((206.835
        |      - 1.015 * (CAST(coalesce(len(list_filter(
        |          regexp_split_to_array(text, '\s+'),
        |          t -> length(t) > 0)), 0) AS DOUBLE)
        |        / CAST(greatest(coalesce(len(regexp_extract_all(text,
        |            '[.!?]+')), 0), 1) AS DOUBLE))
        |      - 84.6 * (CAST(coalesce(len(regexp_extract_all(lower(text),
        |          '[aeiouy]+')), 0) AS DOUBLE)
        |        / CAST(coalesce(len(list_filter(regexp_split_to_array(text,
        |            '\s+'), t -> length(t) > 0)), 0) AS DOUBLE)))
        |      * 10000) / 10000 END AS flesch,
        |  CASE WHEN coalesce(len(list_filter(regexp_split_to_array(text,
        |      '\s+'), t -> length(t) > 0)), 0) > 0 THEN
        |    floor((0.39 * (CAST(coalesce(len(list_filter(
        |          regexp_split_to_array(text, '\s+'),
        |          t -> length(t) > 0)), 0) AS DOUBLE)
        |        / CAST(greatest(coalesce(len(regexp_extract_all(text,
        |            '[.!?]+')), 0), 1) AS DOUBLE))
        |      + 11.8 * (CAST(coalesce(len(regexp_extract_all(lower(text),
        |          '[aeiouy]+')), 0) AS DOUBLE)
        |        / CAST(coalesce(len(list_filter(regexp_split_to_array(text,
        |            '\s+'), t -> length(t) > 0)), 0) AS DOUBLE))
        |      - 15.59) * 10000) / 10000 END AS fk_grade
        |FROM documents ORDER BY doc_id""".stripMargin,

    // bootstrap replay: same md5 uniforms (one digest per block of 3
    // replicates, 40-bit hex lanes), same 17-digit Poisson CDF
    // literals (both engines parse them to identical doubles), same
    // exact integer weighted sums and order-statistic bounds
    "q_bootstrap_ci" ->
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
        |FROM pt, bounds""".stripMargin,

    // embedding-drift replay: same quantized per-dim sums, the n's
    // cancel in the mean cosine, same pinned chains
    "q_emb_drift" ->
      """WITH ex AS (
        |  SELECT (vec_id % 2 = 0) AS h, CAST(t.i AS INTEGER) AS dim,
        |    CAST(floor(CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE)
        |      * 1000000) AS BIGINT) AS q
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |sums AS (
        |  SELECT h, dim, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(q) AS BIGINT) AS sq,
        |    CAST(sum(q * q) AS HUGEINT) AS sqq
        |  FROM ex GROUP BY h, dim),
        |j AS (
        |  SELECT a.dim, a.sq AS sqa, b.sq AS sqb,
        |    CAST(a.sqq * b.n AS DOUBLE) AS m2an,
        |    CAST(b.sqq * a.n AS DOUBLE) AS m2bn
        |  FROM sums a JOIN sums b ON a.dim = b.dim AND a.h AND NOT b.h),
        |agg AS (
        |  SELECT CAST(sum(CAST(sqa * sqb AS HUGEINT)) AS HUGEINT) AS sab,
        |    CAST(sum(CAST(sqa * sqa AS HUGEINT)) AS HUGEINT) AS saa,
        |    CAST(sum(CAST(sqb * sqb AS HUGEINT)) AS HUGEINT) AS sbb,
        |    max(greatest(m2an / m2bn, m2bn / m2an)) AS mr
        |  FROM j)
        |SELECT floor(CAST(sab AS DOUBLE) / (sqrt(CAST(saa AS DOUBLE))
        |    * sqrt(CAST(sbb AS DOUBLE))) * 1000000) / 1000000
        |    AS mean_cosine,
        |  floor(mr * 1000000) / 1000000 AS worst_m2_ratio
        |FROM agg""".stripMargin,

    // keyword replay: same tokenization, same quantized idf, same
    // (score desc, token asc) rank
    "text_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |tk AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |dfc AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS df
        |  FROM (SELECT DISTINCT doc_id, token FROM tk) GROUP BY token),
        |dfreq AS (
        |  SELECT token,
        |    CAST(round(ln(((SELECT n FROM nd) + 1.0)
        |      / CAST(df + 1 AS DOUBLE)) * 1000000000) AS BIGINT) AS idf9
        |  FROM dfc),
        |tf AS (
        |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM tk WHERE doc_id < 100 GROUP BY doc_id, token),
        |scored AS (
        |  SELECT t.doc_id, t.token, t.tf * d.idf9 AS score9
        |  FROM tf t JOIN dfreq d ON t.token = d.token),
        |r AS (
        |  SELECT doc_id, token, score9,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY score9 DESC, token ASC) AS rnk
        |  FROM scored)
        |SELECT doc_id, CAST(rnk AS INT) AS rnk, token,
        |  CAST(score9 AS BIGINT) AS score9
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

    // chi-squared replay: same margins, same 1e-9-quantized per-cell
    // contributions (exact BIGINT sum), same pinned V chain
    "q_chi2_orders" ->
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
        |FROM agg""".stripMargin,

    // Theil-Sen replay: same pairwise-slope enumeration, same
    // lower-median order statistic with (slope, xi, xj) ties
    "q_theilsen_priority" ->
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
        |FROM r WHERE rn = (n_pairs + 1) // 2 ORDER BY prio""".stripMargin,

    // survival replay: same life table over the duration histogram,
    // exact integer hazard, same quantized-log KM product
    "q_survival_conversion" ->
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
        |FROM k ORDER BY t""".stripMargin,

    // seasonal replay: same centered-MA frame, same phase ranks, same
    // floor-of-exact-division means
    "q_seasonal_decomp" ->
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
        |ORDER BY prio, phase""".stripMargin,

    // Welch replay: exact HUGEINT sufficient statistics, identical
    // pinned chain (mean, variance, se², z — same division order)
    "q_welch_acctbal" ->
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
        |FROM d""".stripMargin,

    // Mann-Whitney replay: same doubled-rank histogram cumulative,
    // same tie-corrected variance chain
    "q_mannwhitney_chars" ->
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
        |FROM d""".stripMargin,

    // Kruskal-Wallis replay: same histogram doubled ranks, same
    // N³-relative 1e-12 term grid, same pinned closing chain
    "q_kruskal_segments" ->
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
        |FROM terms, tsum""".stripMargin
  )

  /** Shared WITH prefix for the eval_* oracles: the text_quality score
    * formula (kept in lockstep with TextAnalysis.qualityScore) plus the
    * lang=='en' label. Ends mid-WITH — each consumer appends its own
    * stages. */
  private val evalScoredSql: String =
    """WITH scored AS (
      |  SELECT source,
      |    floor(least(1.0,
      |      (CASE WHEN nchars > 0 THEN nalpha / nchars ELSE 0.0 END) * 0.4
      |      + (1.0 - least((CASE WHEN nchars > 0 THEN nsym / nchars ELSE 0.0 END) * 5, 1.0)) * 0.2
      |      + (CASE WHEN nchars >= 50 AND nchars <= 100000 THEN 1.0 ELSE 0.5 END) * 0.2
      |      + (CASE WHEN meanword >= 3 AND meanword <= 12 THEN 1.0 ELSE 0.5 END) * 0.2) * 10000) / 10000 AS score,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
      |  FROM (
      |    SELECT source, lang, nchars, nalpha, nsym,
      |      CASE WHEN ntokens > 0 THEN nchars / ntokens ELSE 0.0 END AS meanword
      |    FROM (
      |      SELECT source, lang,
      |        CAST(length(trim(text)) AS DOUBLE) AS nchars,
      |        CAST(coalesce(len(list_filter(regexp_split_to_array(text, '\s+'),
      |                                      t -> length(t) > 0)), 0) AS DOUBLE) AS ntokens,
      |        CAST(coalesce(len(regexp_extract_all(trim(text), '[A-Za-z]')), 0) AS DOUBLE) AS nalpha,
      |        CAST(coalesce(len(regexp_extract_all(trim(text), '[^A-Za-z0-9\s]')), 0) AS DOUBLE) AS nsym
      |      FROM documents))),
      |""".stripMargin
}
