package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Smoke.{fmt3 => fmt, warmMin}

/** Analytics-suite scale smoke (the r6 verdict's missing evidence):
  * the 48 analytics queries had only ever run at sf0.1 (~600 K
  * lineitem). This main generates schema-identical synthetic tables at
  * 1× and `mult`× the sf0.1 row counts — the BankDataGen seeded-hash
  * technique (spark.range + xxhash64-derived columns, fully
  * distributed, no driver loop) applied to the TPC-H-ish star schema —
  * and times a representative query subset at both scales on the SAME
  * distribution. A query whose time grows ≫ mult× has a scale problem
  * its sf0.1 number hides; ~mult× (or less, where a filter or
  * broadcast caps the growth) is the pass grade. One JSON line →
  * BENCH_SCALE_SQL.json.
  *
  * Not covered here: ANN/embedding queries (BENCH_SCALE_ANN.json) and
  * the validation stack (BENCH_SCALE.json) — both already measured at
  * 2 M vectors / 50 M rows.
  */
object SqlScaleSmoke {

  private val seed = 0x57a1e7L

  /** Deterministic per-row stream `tag` over [0, n). */
  private def pm(tag: String, n: Long): Column =
    pmod(xxhash64(lit(seed), lit(tag), col("id")), lit(n))

  private def pick(tag: String, vals: String*): Column =
    element_at(array(vals.map(lit): _*), (pm(tag, vals.size) + 1).cast("int"))

  /** sf0.1-shaped tables at multiplier `m`, parquet under `dir` with
    * the exact TESTDATA.md names/schemas so SparkEntry.queries run
    * unmodified against `dir`. */
  def generate(spark: SparkSession, dir: String, m: Long): Unit = {
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val nCust = 15000L * m
    val nOrd = 150000L * m
    val nPart = 20000L * m
    val nSupp = 1000L * m
    val nUsers = 2000L * m

    write(spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .map(lit): _*), col("id").cast("int") + 1).as("r_name")), "region")

    write(spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      format_string("NATION_%02d", col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), "nation")

    write(spark.range(nCust).select(col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"),
      pm("cn", 25).cast("int").as("c_nationkey"),
      ((pm("cb", 1100000) - 100000) / 100.0).as("c_acctbal"),
      pick("cs", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        .as("c_mktsegment")), "customer")

    write(spark.range(nSupp).select(col("id").as("s_suppkey"),
      concat(lit("Supplier#"), col("id")).as("s_name"),
      pm("sn", 25).cast("int").as("s_nationkey"),
      ((pm("sb", 1100000) - 100000) / 100.0).as("s_acctbal")), "supplier")

    write(spark.range(nPart).select(col("id").as("p_partkey"),
      concat(lit("part "), col("id")).as("p_name"),
      concat(lit("Brand#"), pm("pb", 25) + 1).as("p_brand"),
      pick("pt", "ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD").as("p_type"),
      (pm("ps", 50) + 1).cast("int").as("p_size"),
      ((pm("pr", 200000) + 90000) / 100.0).as("p_retailprice")), "part")

    write(spark.range(nOrd).select(col("id").as("o_orderkey"),
      pm("oc", nCust).as("o_custkey"),
      pick("os", "F", "O", "P").as("o_orderstatus"),
      ((pm("ot", 45000000) + 100000) / 100.0).as("o_totalprice"),
      to_timestamp(date_add(to_date(lit("1995-01-01")),
        pm("od", 2400).cast("int"))).as("o_orderdate"),
      pick("op", "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        .as("o_orderpriority")), "orders")

    // 4 lines per order: l_orderkey = id div 4 keys into the full
    // orders range, matching TPC-H's few-lines-per-order fan-out
    write(spark.range(nOrd * 4).select((col("id") / 4).cast("long").as("l_orderkey"),
      pm("lp", nPart).as("l_partkey"),
      pm("ls", nSupp).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (pm("lq", 50) + 1).cast("double").as("l_quantity"),
      ((pm("le", 9000000) + 100000) / 100.0).as("l_extendedprice"),
      (pm("ld", 11) / 100.0).as("l_discount"),
      (pm("lt", 9) / 100.0).as("l_tax"),
      pick("lr", "A", "N", "R").as("l_returnflag"),
      pick("ll", "F", "O").as("l_linestatus"),
      to_timestamp(date_add(to_date(lit("1995-01-01")),
        pm("lsd", 2550).cast("int"))).as("l_shipdate")), "lineitem")

    // ts stays INT64 raw nanoseconds — exactly how the testdata events
    // table reads under nanosAsLong (graft.Tables.events)
    val ns0 = 1704067200000000000L // 2024-01-01T00:00:00Z
    write(spark.range(100000L * m).select(col("id").as("event_id"),
      (lit(ns0) + pm("ets", 2592000L) * 1000000000L + pm("etn", 1000000000L)).as("ts"),
      pm("eu", nUsers).as("user_id"),
      pick("ee", "click", "error", "purchase", "signup", "view").as("event_type"),
      (pm("ev", 56021) / 100.0).as("value"),
      concat(lit("{\"k\": "), pm("ek", 100), lit("}")).as("props")), "events")

    val vocab = ("spark stream vector batch part line column order small sort " +
      "fast value scan a hash slow group agg filter query big key window row " +
      "table merge data join scale shuffle plan").split(" ").toSeq
    write(spark.range(5000L * m)
      .select(col("id").as("doc_id"),
        concat_ws(" ", transform(
          sequence(lit(1), (pm("dn", 60) + 40).cast("int")),
          i => element_at(array(vocab.map(lit): _*),
            pmod(xxhash64(lit(seed), col("id"), i), lit(vocab.size)).cast("int") + 1)))
          .as("text"),
        pick("dl", "de", "en", "es", "fr", "zh").as("lang"),
        concat(lit("src"), pm("dsrc", 20)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")), "documents")
  }

  /** The headline TPC-H-shaped / window / join / text queries plus the
    * eight entries the r6 capture spiked — the set whose >sf0.1
    * behavior was unmeasured — plus (r7) the LLM-recipe queries over
    * the documents table (quality bundle, script ID, mixing, token
    * budget, hashed TF-IDF). emb_semantic_survivors is excluded: its
    * blocking parameters are corpus-size-tuned and its scale path is
    * measured in AnnScaleSmoke at 2 M vectors instead. */
  val names: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "q_window_top_parts", "q_small_quantity_revenue", "q_rollup_revenue",
    "q_order_count_dist", "q_incremental_agg",
    "q_events_hourly", "q_events_sessions", "q_top_purchasers",
    "q_asof_native", "q_latest_per_key", "q_lag_gaps", "q_funnel",
    "q_outlier_events", "q_running_total", "q_window_suite",
    "q_scd2_customers", "v_error_compare", "dup_key_docs", "text_bm25",
    "text_gopher_flags", "text_script_id", "q_mixture_sample",
    "q_token_budget", "text_tfidf_hashed", "q_weighted_sample",
    "q_recipe_pipeline",
    // span dedup: the biggest text shuffle (corpus/20 span rows, two
    // agg exchanges + broadcast anti join); BPE: vocabulary-collapse
    // then pair explosion; quality bands: the exact ntile form NEXT TO
    // its KLL sketch path — the pair measures precisely the per-group-
    // sort degradation the sketch path exists to avoid
    "text_span_dedup", "text_bpe_pairs", "q_quality_buckets",
    "quality_buckets_native",
    // cohort: two user_id-keyed shuffles; shards: narrow map + N-row
    // agg; pagerank: 3 iterative join+agg rounds over the ~1.2M-edge
    // (at 10x) purchase graph — the heaviest legitimate entry
    "q_cohort_retention", "q_shard_manifest", "q_pagerank_suppliers",
    // r11 text additions: html_text (the heaviest regexp scan — 11
    // chained replaces per doc), bigram LM (two corpus-pair equi-joins,
    // the biggest new text shuffle), NB filter (token join + agg),
    // Luhn scrub (per-char lambda aggregate), deflate (native zlib
    // per row) — all scan- or vocabulary-bound, expected ~mult×
    "html_text", "text_bigram_lp", "text_nb_filter", "text_cc_scrub",
    "text_deflate_ratio",
    // the composed crawl front door: url dedup + html strip + gate +
    // content dedup + domain cap in one query — the multi-stage text
    // shape most likely to hide a superlinear join
    "q_crawl_pipeline", "text_sentences",
    // r11 second-session additions that scale with the corpus: linear
    // interpolation (grid-union window over full events), MAD outliers
    // (two exact-median aggregates over full events), Bloom-prefilter
    // decontamination (corpus-side gram stream vs the fixed probe
    // set), and full-corpus winnowing (bench-only xxhash path)
    "q_resample_interp", "q_outlier_mad", "decontam_overlap_bloom",
    "winnow_corpus",
    // r12 additions: SSSP (iterative relax over the co-purchase pair
    // explosion — the new heaviest graph entry beside pagerank),
    // attribution (user-keyed join + path windows), spatial ring join
    // (9x probe explode + cell equi-join), Zipf (token agg + vocab
    // top-K) — all expected ~mult× or better
    "q_sssp_parts", "q_attribution", "q_spatial_nearest",
    "text_zipf_alpha",
    // r12 second batch: PPR (iterative), RRF (two corpus rankings cut
    // by TakeOrdered), correlation matrix + entropy (one-pass wide
    // aggregates), edit join (segment-filter equi-join + verify),
    // changepoint (per-key window + argmax), KMV overlap sketches
    "q_ppr_building", "q_rrf_docs", "v_profile_corr",
    "v_profile_entropy", "q_edit_pairs", "q_changepoint_revenue",
    "q_join_card_est",
    // r12 third batch: wedge join (AA), 200x-replicate explode
    // (bootstrap), histogram-rank tests, routing checksum, trend fit
    "q_adamic_adar", "q_bootstrap_ci", "q_welch_acctbal",
    "q_mannwhitney_chars", "v_aba_checksum", "q_trend_priority",
    // r12 fourth batch: survival histogram, seasonal windows, the
    // per-key O(n²) Theil-Sen (pairs constant in sf — date range
    // fixed), chi-squared margins, keyword idf join
    "q_survival_conversion", "q_seasonal_decomp", "q_theilsen_priority",
    "q_chi2_orders", "text_keywords",
    // r12 fifth batch: basket self-joins (itemsets), time-bound joins
    // (sequence mining), distinct-score-frame metrics (PR/KS/lift/
    // Brier), k-group histogram ranks, moment/endpoint-degree sums
    "q_freq_itemsets", "q_seq_patterns", "eval_quality_pr",
    "eval_quality_ks", "eval_quality_lift", "eval_quality_brier",
    "q_kruskal_segments", "q_assortativity", "v_profile_moments",
    "v_benford_prices", "text_readability",
    // r12 sixth batch: integral HITS rounds, category-stat joins
    "q_hits_purchases", "q_target_encode", "q_woe_segments",
    // r13 additions: 39-language script-routed langId (native byte
    // pass + per-script votes — the corpus-wide text front door),
    // five-pass unwrap regexp chain, Q11's reused-aggregate scalar
    // subquery over the derived supply relation
    "text_lang_id", "text_unwrap", "q11_important_stock",
    // r15 additions: cross-doc substring dedup (full-corpus winnowing
    // fingerprints + df gate + per-doc window merge + reconstruction —
    // the heaviest new text shuffle), IBAN scrub (per-char mod-97
    // lambda aggregate, the Luhn-scrub cost shape), 46-language langId
    // already rides text_lang_id above
    "text_substr_dedup", "text_iban_scrub")

  /** Adversarial-skew smoke: a Zipf-keyed fact-fact join where 60% of
    * the left fact lands on ONE key, against a right fact too big to
    * broadcast (enforced via autoBroadcastJoinThreshold=-1, simulating
    * the right side outgrowing the driver at cluster scale). Under the
    * default plan the hot key is one reducer's entire world — the job
    * runs at the straggler's speed; at smoke scale AQE's skew split
    * does not trigger (partitions sit under
    * skewedPartitionThresholdInBytes), exactly like a moderately-hot
    * key in production. [[graft.ops.Skew.saltedJoin]] spreads the hot
    * key across `factor` reducers by replicating the right side.
    * Returns (unsaltedSec, saltedSec) on an identical-answer join-agg;
    * also cross-checks both sums so the speedup is not bought with a
    * wrong plan. */
  def skewSmoke(spark: SparkSession, mult: Long, factor: Int = 16): (Double, Double) = {
    import org.apache.spark.sql.internal.SQLConf
    val nLeft = 400000L * mult
    val nKeys = 100000L
    // 60% of rows on key 0, rest log-uniform over [1, nKeys) — count
    // of key k falls off ~1/k, the classic Zipf tail. `pad` is the
    // fact payload (64 derived chars): real facts are wide, and it is
    // the payload bytes that make the hot partition's shuffle/sort/
    // downstream work expensive — a key-only smoke understates skew.
    val left = spark.range(nLeft).select(
      when(pm("zh", 10) < 6, lit(0L))
        .otherwise(pow(lit(nKeys.toDouble), pm("zu", 1000000) / 1000000.0)
          .cast("long") % nKeys).as("key"),
      (pm("zv", 1000) / 10.0).as("value"),
      concat_ws("", array((0 until 4).map(i =>
        lpad(hex(pm(s"zp$i", Long.MaxValue)), 16, "0")): _*)).as("pad"),
      col("id"))
    val right = spark.range(nKeys * 4).select(
      (col("id") / 4).cast("long").as("key"),
      (pm("zw", 1000) / 10.0).as("rvalue"))

    val prev = spark.conf.get(SQLConf.AUTO_BROADCASTJOIN_THRESHOLD.key)
    spark.conf.set(SQLConf.AUTO_BROADCASTJOIN_THRESHOLD.key, "-1")
    try {
      // the agg consumes pad TOGETHER WITH the right side (crc32 over
      // their concat), so the payload cannot be projected away or
      // pre-aggregated below the join — every joined row does real
      // per-row work in the join task, like a real enrichment job
      def agg(df: DataFrame): org.apache.spark.sql.Row =
        df.agg(sum(crc32(concat(col("pad"), col("rvalue")))).as("s"),
          count(lit(1)).as("n")).head()
      val plainRow = agg(left.join(right, Seq("key")))
      val saltRow = agg(graft.ops.Skew.saltedJoin(left, right, "key", factor,
        uniqueCol = Some("id")))
      require(plainRow.getLong(1) == saltRow.getLong(1) &&
        plainRow.getLong(0) == saltRow.getLong(0),
        s"salted join changed the answer: $plainRow vs $saltRow")
      val tPlain = warmMin(agg(left.join(right, Seq("key"))).getLong(1))
      val tSalted = warmMin(agg(graft.ops.Skew.saltedJoin(left, right, "key", factor,
        uniqueCol = Some("id"))).getLong(1))
      (tPlain, tSalted)
    } finally spark.conf.set(SQLConf.AUTO_BROADCASTJOIN_THRESHOLD.key, prev)
  }

  /** Hot-domain perDomainCap smoke: 60% of all URLs on one domain, the
    * rest log-uniform over `nDomains` — the crawl-corpus shape the
    * operator exists for. Times the shipped bounded-heap path against
    * the row_number-window shape it replaced (both capped at the same
    * k, survivor sets asserted equal) so the artifact records WHY the
    * window was evicted: the window funnels the hot domain's every row
    * through one task's sort; the heap ships k·tasks rows per domain. */
  def hotDomainSmoke(spark: SparkSession, mult: Long,
                     cap: Int = 100): (Double, Double) = {
    import org.apache.spark.sql.expressions.Window
    val nRows = 400000L * mult
    val nDomains = 50000L
    // pad = the document body riding with each URL (16×16 derived hex
    // chars): crawl rows are wide, and it is the payload bytes that
    // make the hot partition's single-task shuffle+sort expensive — a
    // key-only smoke understates the skew (same rationale as
    // skewSmoke's pad)
    val urls = spark.range(nRows).select(
      col("id").as("doc_id"),
      concat(lit("https://www.d"),
        when(pm("hd", 10) < 6, lit(0L))
          .otherwise(pow(lit(nDomains.toDouble), pm("hu", 1000000) / 1000000.0)
            .cast("long") % nDomains).cast("string"),
        lit(".com/page/"), col("id").cast("string")).as("url"),
      concat_ws("", array((0 until 16).map(i =>
        lpad(hex(pm(s"hp$i", Long.MaxValue)), 16, "0")): _*)).as("body"))
      .cache() // time the operator shapes, not the row generator

    // consume the body downstream so neither plan can prune it — the
    // point is what each shape pays to DELIVER the surviving payloads
    def consume(df: DataFrame): (Long, Long) = {
      val r = df.agg(sum(crc32(col("body"))).as("s"), count(lit(1)).as("n")).head()
      (r.getLong(0), r.getLong(1))
    }
    def heap(): (Long, Long) =
      consume(graft.text.UrlOps.perDomainCap(urls, "doc_id", "url", cap))
    // the pre-r11 shape, kept here ONLY as the measured counter-example
    def window(): (Long, Long) = {
      val rank = (conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(":"), lit(0L))), 1, 15), 16, 10).cast("long")
        % lit(1099511627776L)).cast("double")
      consume(urls.withColumn("_dom",
          graft.text.UrlOps.registeredDomain(graft.text.UrlOps.host(col("url"))))
        .withColumn("_rk", row_number().over(
          Window.partitionBy("_dom").orderBy(rank, col("doc_id"))))
        .where(col("_rk") <= cap))
    }
    require(heap() == window(), "heap and window caps disagree on survivors")
    try (warmMin(window()), warmMin(heap()))
    finally { urls.unpersist(blocking = true); () }
  }

  /** Global-position smoke: GlobalOrder.shuffled (range exchange +
    * per-bucket offsets) against the naive unpartitioned row_number
    * window — the shape Spark itself warns moves everything to one
    * task. Wide payload rows for the same reason as hotDomainSmoke;
    * position assignments asserted identical by checksum. */
  def globalOrderSmoke(spark: SparkSession, mult: Long): (Double, Double) = {
    import org.apache.spark.sql.expressions.Window
    val nRows = 400000L * mult
    val rows = spark.range(nRows).select(
      col("id").as("doc_id"),
      concat_ws("", array((0 until 16).map(i =>
        lpad(hex(pm(s"gp$i", Long.MaxValue)), 16, "0")): _*)).as("body"))
      .cache()
    def consume(df: DataFrame): (Long, Long) = {
      val r = df.agg(
        sum(crc32(concat_ws(":", col("doc_id"), col("pos"), col("body")))).as("s"),
        count(lit(1)).as("n")).head()
      (r.getLong(0), r.getLong(1))
    }
    def ranged(): (Long, Long) =
      consume(graft.ops.GlobalOrder.shuffled(rows, "doc_id", salt = 5L))
    def naive(): (Long, Long) =
      consume(rows.withColumn("pos",
        row_number().over(Window.orderBy(
          md5(concat_ws(":", col("doc_id"), lit(5L))))).cast("long") - 1))
    require(ranged() == naive(), "ranged and naive positions disagree")
    try (warmMin(naive()), warmMin(ranged()))
    finally { rows.unpersist(blocking = true); () }
  }

  // "longdoc": the CRAWL-LENGTH document smoke — the bench corpus
  // averages ~400 chars/doc, which hid the O(len²) substring-walk
  // cost of char-gram generation until r11; this mode measures the
  // gram primitive and end-to-end MinHash at two doc lengths and
  // fails loudly if the ratio turns superlinear again
  def longdocSmoke(s: SparkSession): Unit = {
    def docsOf(n: Int, len: Int): DataFrame = {
      // hash-derived chars, built in chunks of 16 (hex of xxhash64)
      // — generator codegen stays under the 64KB method limit
      val chunks = (0 until len / 16).map(i =>
        lower(hex(xxhash64(lit("ld"), col("id"), lit(i)))))
      s.range(n).select(col("id").as("doc_id"),
        concat_ws("", chunks: _*).as("text"))
    }
    def time(df: => DataFrame): Double = warmMin(df.count())
    val results = Seq(4000, 16000).map { len =>
      val d = docsOf(2000, len).cache(); d.count()
      val tg = time(d.select(explode(
        graft.expr.CharGrams.charGrams(col("text"), 5)).as("g")))
      // aggregate over the signature values — a bare count() lets
      // column pruning skip the signature computation entirely
      val tm = time(graft.ops.Similarity.minhashSignaturesMd5(
        d, "doc_id", "text")
        .select(sum(element_at(col("sig"), 1)).as("x")))
      d.unpersist()
      println(f"LONGDOC len=$len%6d grams $tg%7.2f s  minhash_md5 $tm%7.2f s")
      (len, tg, tm)
    }
    val (r1, r2) = (results(1)._2 / results(0)._2, results(1)._3 / results(0)._3)
    println(f"LONGDOC 4x-length ratios: grams $r1%.2f minhash $r2%.2f (linear ~4)")
    require(r1 < 8 && r2 < 8, s"long-doc gram path went superlinear: $r1 / $r2")
    Smoke.artifact("BENCH_SCALE_LONGDOC.json",
      f"""{"metric":"longdoc","docs":2000,"lens":[4000,16000],""" +
      f""""gram_secs":[${results(0)._2}%.3f,${results(1)._2}%.3f],""" +
      f""""minhash_secs":[${results(0)._3}%.3f,${results(1)._3}%.3f],""" +
      f""""gram_ratio":$r1%.3f,"minhash_ratio":$r2%.3f}""")
  }

  // "decontam [mult]": stage attribution for the Bloom-prefilter
  // decontamination — per scale, time (a) the probe-side Bloom build
  // (fixed probe set: must be scale-FLAT), (b) the corpus gram
  // stream alone (the linear part), (c) the full query. The r17
  // verdict flagged the 2.99x end-to-end ratio as unpinned; this
  // mode is the measurement.
  def decontamSmoke(s: SparkSession, m: Long): Unit = {
    val root = java.nio.file.Files.createTempDirectory("decontam-scale").toString
    generate(s, s"$root/m1", 1L)
    generate(s, s"$root/m$m", m)
    val out = Seq(s"$root/m1", s"$root/m$m").map { dir =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val corpus = docs.where(col("doc_id") >= 20)
      val probes = docs.where(col("doc_id") < 20)
      val tBloom = warmMin {
        graft.ops.Decontaminate.wordNgrams(probes, "doc_id", "text", 4)
          .select(col("gram")).distinct()
          .stat.bloomFilter("gram", 100000L, 0.01); ()
      }
      val tGrams = warmMin {
        graft.ops.Decontaminate.wordNgrams(corpus, "doc_id", "text", 4)
          .count(); ()
      }
      val tFull = warmMin {
        graft.ops.Decontaminate.overlapsBloom(corpus, probes,
          "doc_id", "text", n = 4, minHits = 1L,
          expectedItems = 100000L, fpp = 0.01).count(); ()
      }
      println(f"DECONTAM $dir bloom $tBloom%.3f grams $tGrams%.3f full $tFull%.3f")
      (tBloom, tGrams, tFull)
    }
    val (b1, g1, f1) = out(0); val (bN, gN, fN) = out(1)
    println(f"DECONTAM x$m ratios: bloom ${bN / b1}%.2f grams ${gN / g1}%.2f full ${fN / f1}%.2f")
    Smoke.artifact("BENCH_SCALE_DECONTAM.json",
      f"""{"metric":"decontam_scale","mult":$m,""" +
      f""""bloom_secs":[$b1%.3f,$bN%.3f],"gram_secs":[$g1%.3f,$gN%.3f],""" +
      f""""full_secs":[$f1%.3f,$fN%.3f]}""")
  }

  // "zorder [mult]": OPTIMIZE ... ZORDER BY effectiveness at scale —
  // a commit-log table whose every file spans the full key range
  // (the streaming-ingest arrival order) vs the same table after a
  // z-order pass: files LISTED by a range scan and the scan's wall
  // time, before and after. The claim under measurement is the r18
  // per-file-stats rung: at 100 TB the difference between opening
  // every file of every surviving batch and opening the one z-range
  // file per batch a bound selects.
  def zorderSmoke(s: SparkSession, m: Long): Unit = {
    import graft.sources.{CommitLog, CommitLogDataSource}
    val table = java.nio.file.Files
      .createTempDirectory("zorder-scale").toString + "/t"
    val rowsPerBatch = 250000L * m
    val nBatches = 8
    for (b <- 0 until nBatches) {
      // x uniform over [0, 1e6) in ARRIVAL order — every one of the
      // 8 files per batch spans the whole range
      val df = s.range(rowsPerBatch).select(
        pmod(xxhash64(lit("zx"), col("id"), lit(b)), lit(1000000L)).as("x"),
        concat(lit(s"b$b-"), col("id")).as("v"))
        .repartition(8)
      CommitLog.writeBatchWithStats(df, table, "r1", b.toLong, Seq("x"))
    }
    def query(): (Double, Int, Long) = {
      val df = s.read.format("graft_commitlog").load(table)
        .where(col("x").between(500000L, 500999L))
      val files = CommitLogDataSource.scanInputFiles(df).size
      df.count() // warm
      val t0 = System.nanoTime()
      val n = df.count()
      ((System.nanoTime() - t0) / 1e9, files, n)
    }
    val (secB, filesB, nB) = query()
    val t0 = System.nanoTime()
    CommitLog.compactFiles(s, table, targetBytes = 16L * 1024 * 1024,
      zorderBy = Seq("x"))
    val optSec = (System.nanoTime() - t0) / 1e9
    val (secA, filesA, nA) = query()
    require(nA == nB, s"zorder changed the answer: $nA vs $nB")
    require(filesA < filesB, s"zorder must prune files: $filesA vs $filesB")
    val json =
      s"""{"metric":"zorder_scale","mult":$m,"rows":${rowsPerBatch * nBatches},""" +
      s""""batches":$nBatches,"files_listed_before":$filesB,""" +
      s""""files_listed_after":$filesA,"query_sec_before":${fmt(secB)},""" +
      s""""query_sec_after":${fmt(secA)},"optimize_sec":${fmt(optSec)},""" +
      s""""rows_matched":$nA}"""
    Smoke.artifact("BENCH_SCALE_ZORDER.json", json)
  }

  // "widemerge [batches]": the r18 single-job copy-on-write rewrite
  // measured against the EVICTED r17 shape (one read→anti-join→write
  // Spark job per affected batch from a driver loop), on identical
  // tables with an identical feed touching EVERY batch — the
  // maintenance/CDC case the rework exists for. Results are asserted
  // equal; the JSON records wall secs and Spark job counts for both.
  def wideMergeSmoke(s: SparkSession, nB: Int): Unit = {
    import graft.sources.CommitLog
    val root = java.nio.file.Files.createTempDirectory("widemerge").toString
    val (ta, tb) = (s"$root/a", s"$root/b")
    for (t <- Seq(ta, tb); b <- 0 until nB) {
      val lo = b.toLong * 10000
      CommitLog.writeBatchWithStats(
        s.range(lo, lo + 2000).select(col("id"),
          concat(lit("v-"), col("id")).as("v")).coalesce(1),
        t, "r1", b.toLong, Seq("id"))
    }
    val feedKeys = (0 until nB).map(b => b.toLong * 10000 + 3)
    def feed = s.createDataFrame(
      s.sparkContext.parallelize(feedKeys.map(org.apache.spark.sql.Row(_)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false))))
      .select(col("id"), concat(lit("NEW-"), col("id")).as("v"))
    def jobsIn(group: String)(fn: => Unit): (Double, Int) = {
      s.sparkContext.setJobGroup(group, group)
      val t0 = System.nanoTime()
      try fn finally s.sparkContext.clearJobGroup()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1000)
      (sec, s.sparkContext.statusTracker.getJobIdsForGroup(group).length)
    }
    // shipped single-job path
    val (secSingle, jobsSingle) = jobsIn("wm-single") {
      CommitLog.merge(s, ta, feed, Seq("id"), "cdc", 0L,
        statsCols = Seq("id"))
    }
    // the evicted r17 shape, reproduced through the same public
    // building blocks: per batch, read its dir, anti-join the
    // broadcast keys, dynamic-overwrite its rewrite partition,
    // recompute stats — then ONE txn marker (identical protocol)
    val (secLoop, jobsLoop) = jobsIn("wm-loop") {
      val keys = broadcast(feed.select(col("id").as("__k")))
      val adds = (0 until nB).map { b =>
        val kept = s.read.parquet(s"$tb/run_id=r1/batch_id=$b")
          .join(keys, col("id") === col("__k"), "left_anti")
          .localCheckpoint(eager = false)
        val rw = f"r1up$b%08x"
        kept.withColumn("run_id", lit(rw))
          .withColumn("batch_id", lit(b.toLong))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("run_id", "batch_id").parquet(tb)
        val r = kept.agg(min("id"), max("id")).head()
        CommitLog.TxnAdd(rw, b.toLong,
          Seq(CommitLog.ColStats("id", "num",
            r.get(0).toString, r.get(1).toString)),
          Seq("id" -> "BIGINT", "v" -> "STRING"))
      }
      val newRw = "cdc"
      feed.withColumn("run_id", lit(newRw)).withColumn("batch_id", lit(0L))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("run_id", "batch_id").parquet(tb)
      CommitLog.commitTxn(s, tb,
        adds :+ CommitLog.TxnAdd(newRw, 0L,
          Seq(CommitLog.ColStats("id", "num", feedKeys.min.toString,
            feedKeys.max.toString)),
          Seq("id" -> "BIGINT", "v" -> "STRING")),
        retires = (0 until nB).map(b => ("r1", b.toLong)))
    }
    // identical end state
    def sig(t: String) = CommitLog.readCommitted(s, t).get
      .select(xxhash64(col("id"), col("v")).as("h"))
      .agg(expr("bit_xor(h)").as("h")).head().getLong(0)
    val (na, nb2) = (CommitLog.readCommitted(s, ta).get.count(),
      CommitLog.readCommitted(s, tb).get.count())
    require(na == nb2 && sig(ta) == sig(tb),
      s"single-job and per-batch merges disagree: $na vs $nb2")
    import graft.Smoke.{fmt2 => fmt}
    val json =
      s"""{"metric":"widemerge_scale","batches":$nB,""" +
      s""""single_job_sec":${fmt(secSingle)},"single_job_jobs":$jobsSingle,""" +
      s""""per_batch_sec":${fmt(secLoop)},"per_batch_jobs":$jobsLoop,""" +
      s""""speedup":${fmt(secLoop / secSingle)}}"""
    Smoke.artifact("BENCH_SCALE_WIDEMERGE.json", json)
  }

  /** Default mode (`runMain graft.SqlScaleSmoke [mult] [q1,q2,...]`):
    * the query sweep at 1× and `mult`×, plus the skew and hot-domain
    * entries. A non-empty `only` runs just those queries and skips the
    * artifact, so BENCH_SCALE_SQL.json stays complete. */
  def sweep(spark: SparkSession, mult: Long, only: Set[String]): Unit = {
    val root = java.nio.file.Files.createTempDirectory("sql-scale").toString
    val (dir1, dirN) = (s"$root/m1", s"$root/m$mult")
    val t0 = System.nanoTime()
    generate(spark, dir1, 1L)
    generate(spark, dirN, mult)
    val tGen = (System.nanoTime() - t0) / 1e9

    def timeOn(dir: String, fn: (SparkSession, String) => DataFrame): Double = {
      val t = warmMin(fn(spark, dir).count())
      spark.catalog.clearCache()
      t
    }

    def measure(name: String): (Double, Double, Double) = {
      val fn = (SparkEntry.queries ++ SparkEntry.benchOnlyQueries)(name)
      val (t1, tN) =
        try (timeOn(dir1, fn), timeOn(dirN, fn))
        catch { case e: Throwable =>
          println(s"FAIL $name: ${e.getMessage}"); (-1.0, -1.0) }
      (t1, tN, if (t1 > 0) tN / t1 else -1.0)
    }
    val firstPass = names.filter(n => only.isEmpty || only(n)).map { name =>
      val r = measure(name)
      println(f"SCALE $name%-26s x1 ${fmt(r._1)}%7s  x$mult ${fmt(r._2)}%7s  ratio ${fmt(r._3)}%6s")
      name -> r
    }
    // Outlier re-run (same discipline as Bench.scala): a contention
    // burst spanning one query's three executions fakes its ratio in
    // either direction — high when it hits the mult× side, low (with an
    // inflated t1) when it hits the 1× side. A second measurement
    // window minutes later almost never hits the same burst; keep the
    // elementwise min of the two windows.
    val rows = firstPass.map { case (name, first @ (t1, tN, ratio)) =>
      val suspect = ratio > 2.5 || (ratio > 0 && ratio < 0.5 && t1 > 0.3)
      name -> (if (!suspect) first
      else {
        val (u1, uN, _) = measure(name)
        val (b1, bN) = (if (u1 > 0) math.min(t1, u1) else t1,
          if (uN > 0) math.min(tN, uN) else tN)
        val r = (b1, bN, if (b1 > 0) bN / b1 else -1.0)
        println(f"RERUN $name%-26s x1 ${fmt(r._1)}%7s  x$mult ${fmt(r._2)}%7s  ratio ${fmt(r._3)}%6s")
        r
      })
    }
    val qs = rows.map { case (n, (t1, tN, r)) =>
      s""""$n":{"t1":${fmt(t1)},"t$mult":${fmt(tN)},"ratio":${fmt(r)}}"""
    }.mkString("{", ",", "}")
    // adversarial-skew entry: salted-vs-unsalted on the Zipf fact-fact
    // join at the mult× scale (skipped for focused partial runs)
    val skewJson = if (only.nonEmpty) "" else {
      val (tPlain, tSalted) = skewSmoke(spark, mult)
      println(f"SKEW  fact-fact x$mult unsalted ${fmt(tPlain)}%7s  salted ${fmt(tSalted)}%7s  " +
        f"speedup ${fmt(tPlain / tSalted)}%6s")
      s""","skew_join":{"unsalted":${fmt(tPlain)},"salted":${fmt(tSalted)},""" +
        s""""speedup":${fmt(tPlain / tSalted)}}"""
    }
    // hot-domain per-domain-cap entry: shipped heap path vs the evicted
    // window shape at the mult× scale (skipped for focused partial runs)
    val hotDomJson = if (only.nonEmpty) "" else {
      val (tWin, tHeap) = hotDomainSmoke(spark, mult)
      println(f"HOTDOM domain-cap x$mult window ${fmt(tWin)}%7s  heap ${fmt(tHeap)}%7s  " +
        f"speedup ${fmt(tWin / tHeap)}%6s")
      s""","hot_domain_cap":{"window":${fmt(tWin)},"heap":${fmt(tHeap)},""" +
        s""""speedup":${fmt(tWin / tHeap)}}"""
    }
    val json =
      s"""{"metric":"sql_scale","mult":$mult,"lineitem_rows":${600000L * mult},""" +
      s""""gen_sec":${fmt(tGen)},"t1_total":${fmt(rows.map(_._2._1).filter(_ > 0).sum)},""" +
      s""""t$mult${"_total"}":${fmt(rows.map(_._2._2).filter(_ > 0).sum)},"queries":$qs$skewJson$hotDomJson}"""
    if (only.isEmpty) Smoke.artifact("BENCH_SCALE_SQL.json", json)
    else println(json)
    // both generated datasets are gigabytes at mult=10 — don't leave
    // them on /tmp (same discipline as ScaleSmoke)
    new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
  }

  def main(args: Array[String]): Unit = {
    def argAt(i: Int, default: Long) = if (args.length > i) args(i).toLong else default
    val spark = GraftSession.local(GraftSession.defaultCores, "graft-sql-smoke")
    // generated tables are written as ~1 MB part files that
    // file-packing would fuse into ONE read split — narrow per-row
    // operators (winnowing) then run single-task and masquerade as
    // superlinear (measured 6.1x at 10x data; 1.3x once scans split
    // across cores)
    spark.conf.set("spark.sql.files.openCostInBytes", (8 << 20).toString)
    args.headOption match {
      // range-exchange positions vs naive window
      case Some("globalorder") =>
        val m = argAt(1, 10L)
        val (tw, tr) = globalOrderSmoke(spark, m)
        println(f"GLOBALORDER x$m window $tw%.3f ranged $tr%.3f speedup ${tw / tr}%.2f")
      // the per-domain-cap smoke alone
      case Some("hotdomain") =>
        val m = argAt(1, 10L)
        val (tw, th) = hotDomainSmoke(spark, m)
        println(f"HOTDOM x$m window $tw%.3f heap $th%.3f speedup ${tw / th}%.2f")
      case Some("longdoc") => longdocSmoke(spark)
      case Some("decontam") => decontamSmoke(spark, argAt(1, 10L))
      case Some("zorder") => zorderSmoke(spark, argAt(1, 10L))
      case Some("widemerge") => wideMergeSmoke(spark, argAt(1, 128L).toInt)
      // the adversarial-skew smoke alone (local iteration)
      case Some("skew") =>
        val m = argAt(1, 10L)
        val (tp, ts) = skewSmoke(spark, m)
        println(f"SKEW fact-fact x$m unsalted $tp%.3f salted $ts%.3f speedup ${tp / ts}%.2f")
      case _ =>
        // optional 2nd arg: comma-separated query names (focused
        // triage re-runs without the full sweep)
        sweep(spark, argAt(0, 10L),
          if (args.length > 1) args(1).split(",").toSet else Set.empty[String])
    }
    spark.stop()
  }
}
