package graft
package entries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Entry.t

/** Corpus curation: sampling and mixing, token budgets, quality
  * buckets, composed recipes, sharding and global orderings. */
private[graft] object CorpusEntries {

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

  val all: Seq[Entry] = Seq(

    // corpus datasheet ("datasheets for datasets" shape): one long-
    // format frame of corpus-level curation stats — volume, token
    // mass, language mix, exact-dup rate, length percentiles — each
    // leg an independent map-side-partial aggregate, unioned small
    Entry("corpus_datasheet", (s, dir) => {
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
    }, Some(
      // datasheet replay: each leg an independent aggregate, exact
      // interpolated percentiles, md5 dup keys
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
        |ORDER BY metric, dim""".stripMargin)),

    // deterministic exact-k-per-group sampling (reservoir shape):
    // md5-rank rows within each lang, keep the 5 smallest — selection
    // via the mergeable bounded-heap aggregate, no window shuffle
    Entry("q_sample_per_lang", (s, dir) => {
      graft.ops.Sampling.kPerGroup(t(s, dir, "documents"), "lang", "doc_id", k = 5)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    }, Some(
      // k-per-group replay: identical md5 rank (15-hex prefix folded
      // into 2^40), window form — (rank asc, id asc) = the aggregate's
      // (-rank desc, id asc) retention order
      """WITH r AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY
        |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 15)) AS BIGINT)
        |        % 1099511627776 ASC,
        |      doc_id ASC) AS rn
        |  FROM documents)
        |SELECT lang, doc_id FROM r WHERE rn <= 5
        |ORDER BY lang, doc_id""".stripMargin)),

    // weighted k-per-group sample (Efraimidis–Spirakis derandomized):
    // longer docs (n_chars weight) are proportionally likelier; the
    // bounded-heap aggregate keeps selection map-side.
    Entry("q_weighted_sample", (s, dir) => {
      graft.ops.Sampling.weightedKPerGroup(t(s, dir, "documents"),
          "lang", "doc_id", "n_chars", k = 3)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    }, Some(
      // weighted-sample replay: same md5 fold → u in (0,1] → E-S key
      // -ln(u)/w, floor-quantized at 1e-6 so a ULP of ln cannot reorder
      // except exactly at a boundary; ties → smaller doc_id, the heap's
      // own rule.
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
        |ORDER BY lang, doc_id""".stripMargin)),

    // per-language token-budget cap: keep docs in deterministic
    // hash order while the language's running token total fits the
    // budget — the "N tokens per source" recipe step. Window per
    // group; inclusive running total ⇒ hard cap.
    Entry("q_token_budget", (s, dir) => {
      val docs = t(s, dir, "documents").withColumn("n_tokens",
        graft.text.TextAnalysis.wsTokenCount(col("text")))
      graft.ops.Sampling.tokenBudget(docs, "lang", "doc_id", "n_tokens",
          budget = 3000L)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("tokens"))
        .orderBy("lang")
    }, Some(
      // token-budget replay: same tokenization, md5-fold order, and an
      // inclusive running-total window (RANGE==ROWS here: the
      // (hash, doc_id) order key is unique).
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
        |GROUP BY lang ORDER BY lang""".stripMargin)),

    // END-TO-END LLM data recipe, composed from the r7 operators and
    // verified as ONE query: Gopher quality gate → exact dedup on the
    // NFC-canonical fingerprint (keep min doc_id) → mix languages to
    // target proportions → cap each language at a token budget →
    // per-language doc/token counts. Every stage is individually
    // oracle-checked elsewhere; this entry proves they COMPOSE with
    // replayable parity — the form a real pipeline runs.
    Entry("q_recipe_pipeline", (s, dir) => {
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
    }, Some(
      // recipe replay: gopher gate → NFC-fingerprint dedup → size-
      // solved mixing rates → md5 threshold → token-budget window —
      // each stage the same SQL its standalone oracle uses, chained.
      recipePipelineSql)),

    // dataset mixing: downsample each language so the output matches
    // target proportions (training-data recipe step). Rates solve
    // from observed stratum sizes (one tiny aggregate); the keep
    // decision is a content-hash threshold — a pure filter, no
    // shuffle of the corpus. Power-of-two weights normalize exactly,
    // so driver and oracle compute bit-identical rates.
    Entry("q_mixture_sample", (s, dir) => {
      graft.ops.Sampling.mix(t(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> 0.5, "de" -> 0.125, "es" -> 0.125,
            "fr" -> 0.125, "zh" -> 0.125),
          replayable = true)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
        .orderBy("lang")
    }, Some(
      // mixing replay: sizes → output scale (min over size/target) →
      // per-stratum rate (same multiply-then-divide order as the
      // driver) → md5-fold threshold. All fractional constants CAST to
      // DOUBLE (DuckDB literals are DECIMAL).
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
        |ORDER BY lang""".stripMargin)),

    // epoch-style upsampling: en ×2.5 (2 full copies + half get a
    // third), de ×2, others pass at 1×; epoch column distinguishes
    // copies; fractional draw is the replayable md5 gate
    Entry("q_upsample_epochs", (s, dir) => {
      graft.ops.Sampling.upsample(t(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> 2.5, "de" -> 2.0), replayable = true)
        .groupBy("lang").agg(count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_docs"),
          max(col("epoch")).as("max_epoch"))
        .orderBy("lang")
    }, Some(
      // upsample replay: same per-stratum factor, same md5 fractional
      // draw, generate_series expansion; max_epoch = copies per doc
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
        |FROM e GROUP BY lang ORDER BY lang""".stripMargin)),

    // temperature-flattened mixture (output ∝ size^0.5): the
    // multilingual rebalancing move; rates solved from observed sizes
    // via sqrt (IEEE-exact both engines) with unnormalized weights,
    // md5-threshold keep — fully replayable
    Entry("q_temperature_mix", (s, dir) => {
      graft.ops.Sampling.temperatureMix(t(s, dir, "documents"), "lang",
          "doc_id", alpha = 0.5, replayable = true)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
        .orderBy("lang")
    }, Some(
      // temperature-mix replay: same unnormalized sqrt weights, same
      // element-wise rate solve (min is exact, no float sum), same md5
      // keep threshold
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
        |ORDER BY lang""".stripMargin)),

    // CCNet-style head/middle/tail quality bands: rank docs by the
    // unigram-LM mean log-prob WITHIN each language, cut into 3
    // equal-frequency buckets (exact ntile form — the KLL-sketch
    // scale path is benched as quality_buckets_native).
    Entry("q_quality_buckets", (s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = graft.text.UnigramLm.scoreSelf(docs, "doc_id", "text")
        .join(docs.select("doc_id", "lang"), "doc_id")
      graft.ops.Quantiles.groupedBucketsExact(scored, "lang", "doc_id",
          "lp_avg", n = 3)
        .select("doc_id", "lang", "bucket")
        .orderBy("doc_id")
    }, Some(
      // quality-bucket replay: the text_unigram_lp scoring stack
      // verbatim (integer 1e-4 log-prob partials → order-independent
      // per-doc mean), then ntile(3) per language ordered (lp_avg,
      // doc_id) — same deterministic tie-break as the Spark window.
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
        |ORDER BY doc_id""".stripMargin)),

    // fact-scale quality banding: per-language KLL quantile sketch →
    // broadcast boundary join → narrow when-chain. No per-group sort,
    // no window — the 100 TB path of q_quality_buckets (bucket edges
    // approximate by KLL rank error, so no exact oracle exists;
    // QuantilesSpec pins agreement with the exact form).
    Entry("quality_buckets_native", (s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = graft.text.UnigramLm.scoreSelf(docs, "doc_id", "text")
        .join(docs.select("doc_id", "lang"), "doc_id")
      graft.ops.Quantiles.groupedBucketsSketch(scored, "lang", "lp_avg", n = 3)
        .groupBy("lang", "bucket").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "bucket")
    }, None),

    // deterministic train/val/test split: membership is a pure
    // function of the doc id's content hash, so adding rows or
    // re-running never moves a document between splits. Narrow map;
    // the md5 2^40 fold replays in any engine.
    Entry("q_split_assign", (s, dir) => {
      graft.ops.Sampling.assignSplit(t(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("lang", "split").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "split")
    }, Some(
      // split replay: md5 2^40 fold of 'doc_id:0', cumulative integer
      // thresholds floor(0.8*2^40)=879609302220 and
      // floor(0.9*2^40)=989560464998 (the exact values the Scala
      // computes — literals avoid cross-engine float drift).
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
        |FROM h GROUP BY 1, 2 ORDER BY lang, split""".stripMargin)),

    // sharded-output manifest (the pipeline's last step): stable
    // content-hash shard membership + per-shard row count and an
    // order-independent XOR identity checksum — a narrow map and one
    // N-row aggregation; an external engine re-derives the whole
    // manifest from the data, which is the integrity property.
    Entry("q_shard_manifest", (s, dir) => {
      graft.ops.Shards.manifest(t(s, dir, "documents"), "doc_id",
          numShards = 8)
        .orderBy("shard")
    }, Some(
      // shard-manifest replay: same md5 60-bit fold of 'doc_id:0'
      // (full width — the XOR checksum uses all the entropy), same
      // pmod-8 assignment, same order-independent XOR.
      """WITH h AS (
        |  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'),
        |    1, 15)) AS BIGINT) AS h
        |  FROM documents)
        |SELECT CAST(h % 8 AS INT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  bit_xor(h) AS checksum
        |FROM h GROUP BY 1 ORDER BY shard""".stripMargin)),

    // Both orderings assign GLOBAL dense positions without a global
    // single-task sort: range exchange + per-bucket offsets + a
    // parallel bucket-partitioned rank. The oracle replays positions
    // with a plain row_number over the same key — engine-independent
    // because the order key is unique per row.
    Entry("q_global_shuffle", (s, dir) => {
      graft.ops.GlobalOrder.shuffled(
          t(s, dir, "documents").select("doc_id"), "doc_id", salt = 7L)
        .select("doc_id", "pos")
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |  CAST(row_number() OVER (
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':7')) - 1 AS BIGINT) AS pos
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Entry("q_curriculum_order", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        graft.text.TextAnalysis.qualityScore(col("text")).as("score"))
      graft.ops.GlobalOrder.byCurriculum(docs, "score", "doc_id")
        .select("doc_id", "pos")
        .orderBy("doc_id")
    }, Some(
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
        |FROM scored ORDER BY doc_id""".stripMargin)),

    // ordered-shard manifest: global md5 positions → arithmetic
    // shard ranges + XOR checksums, the auditor's recomputation of
    // what writeOrderedShards lays on disk
    Entry("q_ordered_shards", (s, dir) => {
      graft.ops.Shards.orderedManifest(
          t(s, dir, "documents").select("doc_id"), "doc_id",
          rowsPerShard = 64, salt = 5L)
        .orderBy("shard")
    }, Some(
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
        |FROM p GROUP BY 1 ORDER BY shard""".stripMargin)),

    // the SAME composed recipe as q_recipe_pipeline, but every stage
    // loaded from a JSON document (graft.recipe.RecipeConfig) — the
    // rules-live-in-config principle applied to curation recipes; the
    // shared oracle pins bit-identity with the hand-written chain.
    Entry("q_recipe_config", (s, dir) => {
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
    }, Some(recipePipelineSql))
  )
}
