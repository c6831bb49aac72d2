package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  * arXiv:2302.03169): pick raw-corpus documents whose hashed n-gram
  * distribution looks like a TARGET corpus (e.g. select from Common
  * Crawl the documents that "read like" Wikipedia+books). The method
  * that scaled to Pile-sized corpora precisely because every step is
  * a bag-of-hashed-ngrams count — no model inference per doc:
  *
  *  1. featurize: unigrams + bigrams of whitespace words, hashed into
  *     `dim` buckets (collisions add — the hashing trick, same
  *     property [[TfIdf]] exploits);
  *  2. fit two smoothed bucket distributions p (target) and q (raw)
  *     by counting;
  *  3. per raw doc, importance log-weight `Σ_b cnt_b · (ln p_b − ln q_b)`;
  *  4. resample: Gumbel top-k over the log-weights (sampling WITHOUT
  *     replacement from the softmax of weights — the paper's
  *     resampling step), derandomized here with the content-keyed md5
  *     uniform the other samplers use, so selection is reproducible
  *     under retries and replayable by the oracle.
  *
  * Determinism: the per-bucket log-ratio is floor-quantized to 1e-6
  * integers BEFORE the per-doc sum (order-independent integer adds —
  * the [[TfIdf]]/[[Bm25]] convention), and the Gumbel perturbation is
  * floor-quantized into the same 1e-6 units, so ranking compares
  * integers, never accumulated floats.
  *
  * Scale shape: featurization is narrow (explode) into one
  * (doc, bucket) map-side-combined count shuffle per corpus; the
  * bucket stats frames are `dim` rows (a BROADCAST join against doc
  * features — dim is 1e4-1e5 in the paper, kilobytes); the per-doc
  * sum is one groupBy on doc_id; top-k is TakeOrdered (per-partition
  * heaps, k rows to the driver). Nothing driver-resident scales with
  * corpus size. 100 TB-safe.
  */
object Dsir {

  /** Hashed unigram+bigram bag: (doc_id, bucket, cnt). `replayable`
    * buckets via the md5 fold any engine recomputes; default xxhash64
    * is the cheaper production hash. */
  def hashedFeatures(docs: DataFrame, idCol: String, textCol: String,
      dim: Int, replayable: Boolean = false): DataFrame = {
    require(dim > 0, s"dim $dim must be positive")
    val toks = filter(split(lower(trim(col(textCol))), "\\s+"),
      t => length(t) > 0)
    // adjacent-pair bigrams via zip_with over shifted slices — NOT
    // transform(sequence(...), i => element_at(toks, i)): a lambda
    // referencing the derived `toks` re-evaluates the whole
    // split+filter per ELEMENT after CollapseProject inlines it
    // (O(len²) per doc); slice arguments evaluate it O(1) times
    val len = greatest(size(toks) - 1, lit(0))
    val bigrams = zip_with(slice(toks, lit(1), len), slice(toks, lit(2), len),
      (x, y) => concat_ws(" ", x, y))
    // widenScan (r20): tokenize+hash is the heavy per-row stage and the
    // per-(doc,bucket) partial aggregation runs right behind it in the
    // scan stage — on an unsplittable local file that whole pipeline
    // sat on one task (0.8 s while 31 cores idled). Guarded: derived
    // (non-scan-shaped) inputs pass through untouched.
    val feats = graft.ops.Adaptive.widenScan(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc_id"),
        explode(concat(toks, bigrams)).as("feat"))
    val bucket =
      if (replayable)
        conv(substring(md5(col("feat")), 1, 15), 16, 10).cast("long") % dim
      else pmod(xxhash64(col("feat")), lit(dim.toLong))
    feats.select(col("doc_id"), bucket.as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Per-bucket corpus stats: (bucket, cnt) over all docs, plus the
    * grand total as a 1-row frame. */
  private def bucketStats(features: DataFrame): (DataFrame, DataFrame) = {
    val byBucket = features.groupBy("bucket").agg(sum("cnt").as("cnt"))
    val total = byBucket.agg(coalesce(sum("cnt"), lit(0L)).as("n"))
    (byBucket, total)
  }

  /** Importance log-weights for every `raw` doc against the `target`
    * distribution: (doc_id, n_feats, lw_q) where
    * `lw_q = Σ_b cnt_b · floor((ln p_b − ln q_b)·10⁶)` with
    * Laplace-smoothed `p_b = (cnt_target_b + 1)/(N_target + dim)` (and
    * q likewise from raw). Integer units of 1e-6 nats. */
  def importanceWeights(raw: DataFrame, target: DataFrame,
      idCol: String, textCol: String, dim: Int,
      replayable: Boolean = false): DataFrame = {
    val rawFeats = hashedFeatures(raw, idCol, textCol, dim, replayable)
    val (tB, tN) = bucketStats(hashedFeatures(target, idCol, textCol, dim, replayable))
    val (rB, rN) = bucketStats(rawFeats)
    // bucket stats are dim rows; raw-side buckets anchor the lookup (a
    // bucket absent from raw joins no doc rows, so it can't matter —
    // and left join broadcasts where full_outer can't)
    val ratio = rB.withColumnRenamed("cnt", "cnt_r")
      .join(broadcast(tB.withColumnRenamed("cnt", "cnt_t")), Seq("bucket"), "left")
      .crossJoin(broadcast(tN.withColumnRenamed("n", "n_t")))
      .crossJoin(broadcast(rN.withColumnRenamed("n", "n_r")))
      .select(col("bucket"),
        floor((log((coalesce(col("cnt_t"), lit(0L)) + lit(1.0)) /
                   (col("n_t") + lit(dim.toDouble)))
             - log((coalesce(col("cnt_r"), lit(0L)) + lit(1.0)) /
                   (col("n_r") + lit(dim.toDouble))))
          * lit(1000000.0)).cast("long").as("lr_q"))
    rawFeats.join(broadcast(ratio), "bucket")
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_feats"),
        sum(col("cnt") * col("lr_q")).as("lw_q"))
  }

  /** The paper's resampling step, derandomized: Gumbel top-k over the
    * importance weights. Each doc's score is
    * `lw_q + floor(gumbel(u)·10⁶)` with `u = (md5_40(id)+0.5)/2⁴⁰` —
    * sampling k docs without replacement from softmax(lw), as one
    * integer ordering every engine agrees on. Returns the selected
    * (doc_id, n_feats, lw_q, score_q), highest score first by rank.
    * Distributed top-k (TakeOrdered): only k rows leave the executors.
    */
  def resample(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, dim: Int, k: Int, replayable: Boolean = false,
      salt: Long = 0L): DataFrame = {
    require(k > 0, "k must be positive")
    val w = importanceWeights(raw, target, idCol, textCol, dim, replayable)
    val u = (graft.ops.Sampling.md5Hash40(col("doc_id"), salt) + lit(0.5)) /
      lit(1099511627776.0)
    val gumbelQ = floor(-log(-log(u)) * lit(1000000.0)).cast("long")
    w.withColumn("score_q", col("lw_q") + gumbelQ)
      .orderBy(col("score_q").desc, col("doc_id"))
      .limit(k)
  }
}
