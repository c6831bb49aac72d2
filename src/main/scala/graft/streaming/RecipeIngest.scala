package graft.streaming

import graft.sources.CommitLog
import graft.text.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming training-data recipe: the composed quality-gate →
  * exact-dedup → mixture pipeline (the batch `q_recipe_pipeline`
  * shape) as continuous ingest over document file drops.
  *
  * Per micro-batch:
  *   1. GATE — Gopher-style quality rules (one codegen'd predicate,
  *      narrow scan; rejects land in `rejectedPath` with the batch
  *      they arrived in);
  *   2. DEDUP — canonical fingerprint (NFC + md5), keep the min-id
  *      doc per fingerprint within the batch, then anti-join the
  *      PERSISTED fingerprint index so re-drops and cross-batch
  *      copies are dropped exactly once across the run;
  *   3. MIX — down-sample surviving docs to the target language
  *      proportions (deterministic hash gate, so a retried batch
  *      makes identical keep decisions), stamp `n_tokens`, and land
  *      in `acceptedPath`.
  *
  * Exactly-once ([[MicroBatch]]): every sink (accepted, rejected,
  * fingerprint index) is written into the batch's own (run_id,
  * batch_id) partition, and every index is read without that
  * partition, so a retried batch routes as its first attempt did. The
  * fingerprint index is the only cross-batch
  * state: an append-only parquet of 32-char fingerprints, no
  * streaming state store, restart-safe by construction.
  *
  * Scale shape: gate and fingerprint are scan-speed projections; the
  * within-batch dedup shuffles one md5 per doc; the vs-index probe
  * anti-joins the batch (small side, broadcast under AQE once the
  * index outgrows it) against the index's fingerprint column only —
  * ~32 bytes of state per corpus doc ever read per batch. At corpus
  * sizes where even that scan dominates, put a Bloom filter of the
  * index in front (graft.expr Bloom runtime-filter machinery) — the
  * probe is then scan-free for the overwhelmingly-novel common case.
  *
  * Mixing note: proportions are enforced PER BATCH (each batch is
  * down-sampled to the target mix). Corpus-level proportions follow
  * when drops are mix-stationary; for a DRIFTING feed pass
  * `remixEvery`/`remixedPath` and every N batches [[remix]] re-solves
  * the keep-rates over the WHOLE accepted corpus and rewrites the
  * remixed snapshot — corpus-level proportions then hold regardless
  * of how the feed's mix wanders.
  */
object RecipeIngest {

  /** `urlCol`/`urlIndexPath` (both or neither) prepend a stage 0 —
    * URL dedup — before the quality gate: crawl pipelines always
    * dedup by normalized URL first because it needs no text
    * processing at all. Within-batch min-id per normalized URL, then
    * an anti-join against the persisted url-hash index; novel hashes
    * land in the index with the same (run_id, batch_id) exactly-once
    * discipline as the fingerprint index.
    *
    * `lineIndexPath` (optional) inserts the CCNet boilerplate move as
    * stage 0.5: lines whose hash has been seen in at least
    * `lineMinDf` distinct docs ACROSS THE RUN (persisted per-batch
    * line-hash counts, summed at read) are stripped from every doc
    * before the quality gate — so recurring banners/navigation
    * neither prop up nor water down quality scores, and the
    * fingerprint dedup downstream fingerprints the content, not the
    * chrome. */
  /** `clfModelPath` (optional) inserts a stage 1.5 — a trained
    * Naive-Bayes filter ([[graft.text.NbClassifier]], fit offline on
    * a labeled seed set via `trainAndSave`) — between the rule-based
    * quality gate and fingerprint dedup: docs whose class
    * log-likelihood ratio is at most `clfThreshold` are routed to
    * `rejectedPath` alongside the gate's rejects. This is the
    * CCNet/LLaMA "model-based quality filter after the cheap rules"
    * composition: rules kill the obvious junk at scan speed, the
    * classifier catches fluent-but-off-distribution text the rules
    * can't see. The model is a vocabulary-sized table (token class
    * counts + 1-row priors), read per batch and joined on token —
    * no driver-side model, no broadcast assumption. */
  def start(docs: DataFrame, idCol: String, textCol: String, langCol: String,
            acceptedPath: String, rejectedPath: String, indexPath: String,
            checkpoint: String, targetWeights: Map[String, Double],
            mixSalt: Long = 0L,
            remixEvery: Int = 0, remixedPath: String = null,
            urlCol: String = null, urlIndexPath: String = null,
            lineIndexPath: String = null, lineMinDf: Int = 3,
            clfModelPath: String = null,
            clfThreshold: Double = 0.0,
            c4Clean: Boolean = false): StreamingQuery = {
    require((urlCol == null) == (urlIndexPath == null),
      "urlCol and urlIndexPath come together")
    MicroBatch.start(docs, checkpoint) { (batch, runId, batchId) =>
      // indexes are committed only AFTER processBatch wrote the
      // batch's outputs from the survivors
      val staged =
        if (urlCol == null) None
        else Some(urlDedupBatch(batch, idCol, urlCol, urlIndexPath, runId, batchId))
      val lined =
        if (lineIndexPath == null) None
        else {
          val in = staged.map(_.drop("_uh")).getOrElse(batch)
          Some(stripHotLinesBatch(in, idCol, textCol, lineIndexPath, lineMinDf,
            runId = runId, batchId = batchId))
        }
      try {
        val afterStages0 = lined.map(_._1)
          .orElse(staged.map(_.drop("_uh"))).getOrElse(batch)
        // stage 0.75 (optional, stateless): C4 line-level cleanup —
        // junk lines vanish from the text the gate/fingerprint see;
        // pages failing the C4 page gate are emptied, so the rule
        // gate downstream rejects them through the normal routed
        // sink (one writer per sink per batch — no partition clash)
        val afterStages =
          if (!c4Clean) afterStages0
          else {
            val cleaned = graft.text.C4Filter.cleanLines(col(textCol))
            afterStages0.withColumn(textCol,
              when(graft.text.C4Filter.pageKeep(cleaned), cleaned)
                .otherwise(lit("")))
          }
        processBatch(afterStages, idCol, textCol, langCol, acceptedPath,
          rejectedPath, indexPath, runId, batchId, targetWeights, mixSalt,
          clfModelPath, clfThreshold)
        staged.foreach(novel =>
          CommitLog.writeDataOnly(novel.select("_uh"), urlIndexPath, runId, batchId))
        lined.foreach { case (_, stats) =>
          CommitLog.writeDataOnly(stats, lineIndexPath, runId, batchId) }
      } finally {
        staged.foreach { n => n.unpersist(); () }
        lined.foreach { case (s, _) => s.unpersist(); () }
      }
      if (remixEvery > 0 && remixedPath != null && (batchId + 1) % remixEvery == 0)
        remix(batch.sparkSession, acceptedPath, remixedPath, langCol, idCol,
          targetWeights, mixSalt)
    }
  }

  /** Stage 0.5: strip lines hot across the RUN from every doc of one
    * micro-batch. A line is hot when its all-time distinct-doc count
    * (persisted per-batch counts summed at read, PLUS this batch's)
    * reaches `minDf` — so a banner planted across batches starts
    * being stripped the moment its cumulative df crosses the bar.
    * Returns (stripped batch — cached and materialized against the
    * PRE-commit index, this batch's (line hash, df) stats for the
    * caller to commit afterward). State is ~40 B per distinct line
    * ever seen; at corpus scale front the read with a count-min
    * sketch (graft.expr.CountMin) the same way the fingerprint index
    * docs suggest a Bloom filter. */
  private[graft] def stripHotLinesBatch(batch: DataFrame, idCol: String,
      textCol: String, lineIndexPath: String, minDf: Int,
      sep: String = "\n", runId: String = "", batchId: Long = -1L): (DataFrame, DataFrame) = {
    val spark = batch.sparkSession
    require(minDf >= 2, "minDf < 2 would drop every line")
    val lines = batch
      .select(col(idCol).as("_id"),
        posexplode(split(col(textCol), sep)).as(Seq("_pos", "_line")))
      .withColumn("_key", md5(trim(col("_line"))))
    val batchStats = lines.groupBy("_key")
      .agg(countDistinct(col("_id")).as("_df"))
    val index: DataFrame = MicroBatch.prior(spark, lineIndexPath, runId, batchId)
      .map(_.groupBy("_key").agg(sum(col("_df")).as("_prev")))
      .getOrElse(spark.emptyDataFrame
        .select(lit("").as("_key"), lit(0L).as("_prev")).limit(0))
    val hot = batchStats.join(index, Seq("_key"), "left")
      .where(col("_df") + coalesce(col("_prev"), lit(0L)) >= minDf)
      .select("_key")
    val kept = lines.join(hot, Seq("_key"), "left_anti")
    val reassembled = kept.groupBy("_id").agg(
      concat_ws(sep, expr(
        "transform(array_sort(collect_list(struct(_pos, _line))), x -> x._line)"))
        .as("_newtext"))
    val stripped = batch
      .join(reassembled.withColumnRenamed("_id", idCol), Seq(idCol), "left")
      .withColumn(textCol, coalesce(col("_newtext"), lit("")))
      .drop("_newtext")
      .cache()
    stripped.count() // materialize against the pre-commit index state
    (stripped, batchStats)
  }

  /** Stage 0: URL dedup for one micro-batch — min-id survivor per
    * [[graft.text.UrlOps.normalizeUrl]] class within the batch, then
    * drop URLs whose md5 already sits in the persisted index (32 B/URL
    * of state, the same shape as the fingerprint index). Returns the
    * cached, materialized survivors with `_uh` still attached; the
    * caller commits the batch's hashes to the index after downstream
    * consumption and unpersists. */
  private[graft] def urlDedupBatch(batch: DataFrame, idCol: String,
      urlCol: String, urlIndexPath: String,
      runId: String = "", batchId: Long = -1L): DataFrame = {
    val spark = batch.sparkSession
    val keyed = batch.withColumn("_uh",
      md5(graft.text.UrlOps.normalizeUrl(col(urlCol))))
    val reps = keyed.groupBy("_uh").agg(min(col(idCol)).as(idCol))
    val batchUnique = keyed.join(reps, Seq("_uh", idCol), "left_semi")
    val novel = MicroBatch.prior(spark, urlIndexPath, runId, batchId)
      .fold(batchUnique)(index =>
        batchUnique.join(index.select("_uh"), Seq("_uh"), "left_anti"))
      .cache()
    novel.count() // materialize against the PRE-commit index state
    novel
  }

  /** Corpus-level periodic re-mix: re-solve the mixture over the FULL
    * accepted table and rewrite the remixed snapshot. This is the
    * drifting-feed corrective the per-batch mix can't provide — after
    * a drift, per-batch mixing leaves the corpus over-weighted in
    * whatever the early feed favored; the remix recomputes stratum
    * sizes over everything landed so far and downsamples to the
    * target proportions globally.
    *
    * Stability: [[graft.ops.Sampling.mix]]'s keep gate is a
    * content-keyed hash threshold, so re-mix epochs are MONOTONE per
    * stratum — a doc flips keep→drop only when its stratum's corpus
    * keep-rate falls (and back only if it rises). Consecutive
    * snapshots therefore differ by exactly the drift correction, not
    * by sampling churn, and a re-run of the same epoch is idempotent.
    *
    * Cost: one count-per-stratum aggregate + one narrow filtered
    * rewrite of the accepted table — no shuffle of the payload. The
    * snapshot is derived data: full overwrite, safe to regenerate. */
  def remix(spark: SparkSession, acceptedPath: String, remixedPath: String,
            langCol: String, idCol: String,
            targetWeights: Map[String, Double], mixSalt: Long = 0L): Unit = {
    MicroBatch.landed(spark, acceptedPath).foreach { accepted =>
      if (!accepted.where(col(langCol).isin(targetWeights.keys.toSeq: _*)).isEmpty)
        graft.ops.Sampling.mix(accepted, langCol, idCol, targetWeights, salt = mixSalt)
          .write.mode("overwrite").parquet(remixedPath)
    }
  }

  /** One micro-batch; factored out so tests and the scale smoke can
    * drive it directly. */
  private[graft] def processBatch(batch: DataFrame, idCol: String,
      textCol: String, langCol: String,
      acceptedPath: String, rejectedPath: String, indexPath: String,
      runId: String, batchId: Long,
      targetWeights: Map[String, Double], mixSalt: Long,
      clfModelPath: String = null, clfThreshold: Double = 0.0): Unit = {
    val spark = batch.sparkSession

    val gated = batch.withColumn("_keep", TextAnalysis.gopherKeep(col(textCol)))
    val gatePass = gated.where(col("_keep")).drop("_keep")
    // stage 1.5: trained NB filter — semi/anti split on the ids whose
    // logit clears the threshold (docs the gate passed always have
    // tokens, so every one gets a defined score)
    val (clfPass, clfRej) =
      if (clfModelPath == null) (gatePass, None)
      else {
        val (model, priors) = graft.text.NbClassifier.loadModel(spark, clfModelPath)
        val passIds = graft.text.NbClassifier
          .score(gatePass, idCol, textCol, model, priors)
          .where(col("logit") > clfThreshold)
          .select(col("doc_id").as(idCol))
        (gatePass.join(passIds, Seq(idCol), "left_semi"),
          Some(gatePass.join(passIds, Seq(idCol), "left_anti")))
      }
    // fingerprinted survivors of the gates — cached: feeds the
    // within-batch reps aggregate, the anti-join probe, mix's stratum
    // sizes, and the two writes (the same 4-consumer shape whose
    // re-execution the batch recipe's cache barrier fixed)
    val fp = clfPass
      .withColumn("_fp", TextAnalysis.canonicalFingerprint(col(textCol)))
      .cache()
    try {
      val rejected = clfRej.foldLeft(
        gated.where(!col("_keep")).drop("_keep"))(_ unionByName _)

      // within-batch exact dedup: min id per fingerprint
      val reps = fp.groupBy("_fp").agg(min(col(idCol)).as(idCol))
      val batchUnique = fp.join(reps, Seq("_fp", idCol), "left_semi")

      // cross-batch dedup: drop fingerprints already in the index
      // (fingerprint column only — ~32 B per corpus doc)
      val novel = MicroBatch.prior(spark, indexPath, runId, batchId)
        .fold(batchUnique)(index =>
          batchUnique.join(index.select("_fp"), Seq("_fp"), "left_anti"))
        .cache()

      // per-batch mixture to target proportions; deterministic hash
      // gate ⇒ a retried batch reproduces the identical sample.
      // Sampling.mix rejects a frame with no targeted stratum — for a
      // batch that gated/deduped to nothing (or carries only
      // off-target languages, which mix drops anyway) emit the empty
      // frame instead of killing the stream.
      val survivors = novel.drop("_fp")
      val hasTarget = !survivors
        .where(col(langCol).isin(targetWeights.keys.toSeq: _*)).isEmpty
      val mixed = (if (hasTarget)
          graft.ops.Sampling.mix(survivors, langCol, idCol,
            targetWeights, salt = mixSalt)
        else survivors.where(lit(false)))
        .withColumn("n_tokens", TextAnalysis.wsTokenCount(col(textCol)))

      CommitLog.writeDataOnly(mixed, acceptedPath, runId, batchId)
      CommitLog.writeDataOnly(rejected, rejectedPath, runId, batchId)
      CommitLog.writeDataOnly(novel.select("_fp"), indexPath, runId, batchId)
      novel.unpersist()
      ()
    } finally { fp.unpersist(); () }
  }
}
