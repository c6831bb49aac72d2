package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skip-gram training-pair generation with frequency subsampling
  * (Mikolov et al. 2013, word2vec) — the embedding-training data
  * operator: every (center, context) co-occurrence within a window,
  * after the famous subsampling step that discards occurrences of
  * very frequent words with probability 1 − √(t/f) (function words
  * would otherwise dominate the pair distribution while carrying no
  * signal; discarding them from the STREAM also widens effective
  * windows, which is the published behavior — pairs are generated on
  * the filtered sequence, not filtered after generation).
  *
  * Scale shape: pair generation is zip_with over shifted slices — one
  * narrow explode per document, no join (the O(len) construction the
  * n-gram paths use). Subsampling joins exploded tokens to the
  * vocab-sized frequency table, keeps positions by a content-keyed
  * md5 uniform (deterministic under retries, engine-replayable), and
  * rebuilds each document's filtered sequence with ONE per-doc
  * groupBy — two shuffles total, both on (token | doc) keys.
  */
object SkipGram {

  private def toksCol(textCol: Column): Column =
    filter(split(trim(lower(textCol)), "\\s+"), t => length(t) > 0)

  /** All (center, context) pairs within `window` positions, both
    * directions, over a pre-tokenized array column. */
  private def pairsOf(toks: Column, window: Int): Column = {
    val perOffset = (1 to window).map { d =>
      val len = greatest(size(toks) - d, lit(0))
      zip_with(slice(toks, lit(1), len), slice(toks, lit(1 + d), len),
        (a, b) => struct(a.as("w1"), b.as("w2")))
    }
    concat(perOffset: _*)
  }

  /** Pairs without subsampling: (doc_id, center, context), one row
    * per co-occurrence, both orientations. */
  def pairs(docs: DataFrame, idCol: String, textCol: String,
            window: Int = 2): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    docs.select(col(idCol).as("doc_id"),
        explode(pairsOf(toksCol(col(textCol)), window)).as("p"))
      .select(col("doc_id"),
        explode(array(
          struct(col("p.w1").as("center"), col("p.w2").as("context")),
          struct(col("p.w2").as("center"), col("p.w1").as("context")))).as("e"))
      .select(col("doc_id"), col("e.center"), col("e.context"))
  }

  /** GloVe-style distance-weighted co-occurrence counts (Pennington
    * et al. 2014 weight 1/d for offset d): the input matrix of GloVe
    * training and a sharper collocation signal than flat counts.
    * Weights are EXACT scaled integers — lcm(1..window)/d per offset
    * (window 3 → 6,3,2) — so the aggregate sums in BIGINT, immune to
    * float summation order; callers divide by `scale` at the end.
    * Output: (center, context, n, w_q) + the constant scale column. */
  def weightedCooc(docs: DataFrame, idCol: String, textCol: String,
                   window: Int = 3): DataFrame = {
    require(window >= 1 && window <= 16, s"window must be in [1,16]: $window")
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val scale = (1 to window).foldLeft(1L)((acc, d) => acc / gcd(acc, d) * d)
    val toks = toksCol(col("_t"))
    val perOffset = (1 to window).map { d =>
      val len = greatest(size(toks) - d, lit(0))
      zip_with(slice(toks, lit(1), len), slice(toks, lit(1 + d), len),
        (a, b) => struct(a.as("w1"), b.as("w2"), lit(scale / d).as("wq")))
    }
    // widenScan (r21): the window-3 weighted pair generation is heavy
    // enough per row that spreading the unsplittable local scan pays
    // (unlike the plain window-2 pairs()/trainingPairs() tokenize,
    // where the r20 A/B measured the extra exchange as a net loss);
    // a properly-split corpus passes through untouched
    graft.ops.Adaptive.widenScan(docs.select(col(idCol).as("doc_id"),
        col(textCol).as("_t")))
      .select(col("doc_id"), explode(concat(perOffset: _*)).as("p"))
      .select(explode(array(
        struct(col("p.w1").as("center"), col("p.w2").as("context"),
          col("p.wq").as("wq")),
        struct(col("p.w2").as("center"), col("p.w1").as("context"),
          col("p.wq").as("wq")))).as("e"))
      .select(col("e.center"), col("e.context"), col("e.wq"))
      .groupBy("center", "context")
      .agg(count(lit(1)).as("n"), sum("wq").as("w_q"))
      .withColumn("scale", lit(scale))
  }

  /** Pointwise mutual information over a pair frame — collocation
    * mining (Church & Hanks 1990): PMI = ln(n(c,x)·N / (n(c)·n(x)))
    * says how much more often the pair co-occurs than independence
    * predicts; high-PMI pairs are multiword expressions ("san
    * francisco"), low/negative ones are grammatical noise. Counts
    * stay integral; the single log is computed on doubles in a fixed
    * association and floor-quantized to 1e-4 (the LM discipline), so
    * any engine replays it. Marginals are computed as DOUBLE products
    * before dividing — n(c)·n(x) overflows a long at web scale.
    * Output: (center, context, n, pmi_q). */
  def pmi(pairFrame: DataFrame): DataFrame = {
    val counts = pairFrame.groupBy("center", "context")
      .agg(count(lit(1)).as("n"))
    val cTot = counts.groupBy("center").agg(sum("n").as("n_c"))
    val xTot = counts.groupBy("context").agg(sum("n").as("n_x"))
    val tot = counts.agg(sum("n").as("n_total"))
    counts.join(cTot, "center").join(xTot, "context")
      .crossJoin(broadcast(tot))
      .select(col("center"), col("context"), col("n"),
        floor(log(col("n").cast("double") * col("n_total") /
          (col("n_c").cast("double") * col("n_x"))) * 10000)
          .cast("long").as("pmi_q"))
  }

  /** The word2vec pipeline: subsample the token STREAM (keep an
    * occurrence of word w with probability min(1, √(t/f_w)), f_w =
    * corpus frequency ratio; the md5 of doc:pos:salt is the uniform),
    * rebuild each document's filtered sequence in position order,
    * then emit window pairs over it. `t` is the paper's threshold
    * (1e-5 for web corpora; larger keeps more). */
  def trainingPairs(docs: DataFrame, idCol: String, textCol: String,
                    window: Int = 2, t: Double = 1e-3,
                    salt: Long = 0L): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    require(t > 0, s"subsample threshold must be positive: $t")
    val toks = docs.select(col(idCol).as("doc_id"),
        posexplode(toksCol(col(textCol))).as(Seq("pos", "w")))
    val freq = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum("cnt").as("n_total"))
    // uniform in [0,1): 60-bit md5 fold over (doc, pos, salt) — the
    // occurrence's identity, so a retry keeps exactly the same ones
    val u = conv(substring(md5(concat_ws(":",
        col("doc_id"), col("pos"), lit(salt))), 1, 15), 16, 10)
      .cast("double") / lit(1152921504606846976L) // 2^60, exact as a long
    val kept = toks.join(freq, "w").crossJoin(broadcast(total))
      .where(u < sqrt(lit(t) * col("n_total") / col("cnt")))
    val rebuilt = kept.groupBy("doc_id")
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("w")))),
        x => x.getField("w")).as("toks"))
    rebuilt.select(col("doc_id"),
        explode(pairsOf(col("toks"), window)).as("p"))
      .select(col("doc_id"),
        explode(array(
          struct(col("p.w1").as("center"), col("p.w2").as("context")),
          struct(col("p.w2").as("center"), col("p.w1").as("context")))).as("e"))
      .select(col("doc_id"), col("e.center"), col("e.context"))
  }
}
