package graft
package entries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Entry.t

/** The measurement half of the quality-filter loop: score every doc
  * with the (SQL-replayable) heuristic quality signal, label with
  * the corpus ground truth lang=='en', and grade the score as an
  * English-quality classifier. All four reduce by DISTINCT score
  * first, so the per-example frame shuffles once into a frame the
  * size of the score codomain (here ≤10⁴ after the score's own
  * quantization) — the ranking windows never see corpus rows. */
private[graft] object EvalEntries {

  /** Shared scoring frame for the eval_* queries: heuristic quality as
    * the score, lang=='en' as the binary label, `source` carried for
    * the grouped metrics. */
  private def evalScored(docs: DataFrame): DataFrame =
    // widenScan (r21): the two regexp_count passes inside qualityScore
    // ran as ONE task on the unsplittable local documents file (a
    // 1.2-1.5 s single-task stage in every eval_quality_* entry while
    // 31 cores idled); a properly-split corpus passes through untouched
    graft.ops.Adaptive.widenScan(
        docs.select(col("source"), col("text"), col("lang")))
      .select(
        col("source"),
        graft.text.TextAnalysis.qualityScore(col("text")).as("score"),
        coalesce((col("lang") === "en").cast("int"), lit(0)).as("label"))

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

  val all: Seq[Entry] = Seq(

    Entry("eval_quality_auc", (s, dir) => {
      graft.ops.Eval.auc(evalScored(t(s, dir, "documents")), "score", "label")
    }, Some(
      evalScoredSql +
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
        |FROM tot""".stripMargin)),

    Entry("eval_quality_roc", (s, dir) => {
      graft.ops.Eval.rocPoints(evalScored(t(s, dir, "documents")), "score", "label")
        .orderBy("score")
    }, Some(
      evalScoredSql +
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
        |FROM cum ORDER BY score""".stripMargin)),

    Entry("eval_quality_calibration", (s, dir) => {
      graft.ops.Eval.calibrationBins(evalScored(t(s, dir, "documents")),
          "score", "label", bins = 10)
        .orderBy("bin")
    }, Some(
      evalScoredSql +
      """b AS (
        |  SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS bin,
        |    count(*) AS n, sum(label) AS n_pos,
        |    sum(CAST(floor(score * 1000000) AS BIGINT)) AS sq
        |  FROM scored GROUP BY 1)
        |SELECT bin, CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
        |  CASE WHEN n <> 0 THEN floor(CAST(n_pos AS DOUBLE) / n * 1000000) / 1000000 END AS pos_rate,
        |  floor(CAST(sq AS DOUBLE) / n / 1000000 * 1000000) / 1000000 AS mean_score
        |FROM b ORDER BY bin""".stripMargin)),

    Entry("eval_quality_confusion", (s, dir) => {
      graft.ops.Eval.confusionAt(evalScored(t(s, dir, "documents")),
          "score", "label", threshold = 0.7)
    }, Some(
      evalScoredSql +
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
        |FROM c""".stripMargin)),

    // per-slice ranking audit: the same score/label graded WITHIN each
    // source — a filter that only works on average hides failing
    // slices; windows partition by the group, so slices rank parallel
    Entry("eval_quality_auc_by_source", (s, dir) => {
      graft.ops.Eval.aucByGroup(evalScored(t(s, dir, "documents")),
          "source", "score", "label")
        .orderBy("source")
    }, Some(
      evalScoredSql +
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
        |FROM t ORDER BY source""".stripMargin)),

    // the operating point: f1-maximizing threshold over the distinct
    // scores, lowest score on ties
    Entry("eval_best_threshold", (s, dir) => {
      graft.ops.Eval.bestThresholdByF1(evalScored(t(s, dir, "documents")),
          "score", "label")
    }, Some(
      evalScoredSql +
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
        |FROM f ORDER BY f1 DESC, threshold LIMIT 1""".stripMargin)),

    // average precision (PR-AUC): ΔRecall·Precision summed over the
    // distinct-score cuts, per-term integer-quantized at 1e-9 so the
    // BIGINT sum is partition-order-independent
    Entry("eval_quality_pr", (s, dir) => {
      graft.ops.Eval.averagePrecision(evalScored(t(s, dir, "documents")),
          "score", "label")
    }, Some(
      // average-precision replay: same per-cut integer-quantized terms
      // (one pinned double chain each), same exact BIGINT sum, same
      // closing division order
      evalScoredSql +
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
        |FROM s""".stripMargin)),

    // Kolmogorov-Smirnov separation: max |TPR - FPR| with the
    // attaining threshold, max'd on exact DECIMAL cross products
    Entry("eval_quality_ks", (s, dir) => {
      graft.ops.Eval.ksStatistic(evalScored(t(s, dir, "documents")),
          "score", "label")
    }, Some(
      // KS replay: exact HUGEINT cross products under the max, lowest
      // attaining score, one closing division
      evalScoredSql +
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
        |FROM d ORDER BY d DESC, score LIMIT 1""".stripMargin)),

    // decile lift/gains: equal-population score bands (ties never
    // split), per-band positive rate, lift over base, cumulative gain
    Entry("eval_quality_lift", (s, dir) => {
      graft.ops.Eval.liftTable(evalScored(t(s, dir, "documents")),
          "score", "label", buckets = 10)
        .orderBy("bucket")
    }, Some(
      // lift-table replay: tie groups land in the bucket of their last
      // example (same double-division bucket formula), same pinned
      // lift/cum_gain chains
      evalScoredSql +
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
        |FROM grp ORDER BY bucket""".stripMargin)),

    // Brier score + Murphy decomposition: is a bad probability score
    // miscalibrated (reliability) or undiscriminating (resolution)?
    Entry("eval_quality_brier", (s, dir) => {
      graft.ops.Eval.brierDecomposition(evalScored(t(s, dir, "documents")),
          "score", "label", bins = 10)
    }, Some(
      // Brier replay: same 1e-6 score quantization before squaring,
      // same per-bin 1e-9 term quantization, same pinned closings
      evalScoredSql +
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
        |FROM s""".stripMargin))
  )
}
