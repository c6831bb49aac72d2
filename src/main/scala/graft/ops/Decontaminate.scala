package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the training-corpus hygiene pass that
  * flags documents sharing long word n-grams with an evaluation/test
  * set (the GPT-3/PaLM-style "13-gram overlap" check): a training doc
  * that contains a benchmark's exact phrasing leaks the benchmark.
  *
  * 100 TB shape: the probe side is a BENCHMARK (thousands of rows, not
  * billions) — its distinct gram set broadcasts, so the corpus-side
  * gram stream is filtered by a BroadcastHashJoin BEFORE any shuffle
  * and only actual hits ever aggregate. The corpus is scanned once,
  * narrow (tokenize + slice inside one projection); nothing corpus-
  * sized shuffles. Grams join as plain strings (no hashing), so any
  * SQL engine replays the check exactly.
  */
object Decontaminate {

  /** Distinct lower-cased word `n`-grams per row: (id, gram). Tokens
    * are length>0-filtered (tab/newline edges yield no empty tokens —
    * same convention as TextAnalysis). */
  private[graft] def wordNgrams(df: DataFrame, idCol: String, textCol: String,
                                n: Int): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    val toks: Column = filter(split(lower(col(textCol)), "\\s+"), t => length(t) > 0)
    df.select(col(idCol).as("id"), toks.as("tk"))
      .where(size(col("tk")) >= n)
      .select(col("id"), explode(array_distinct(transform(
        sequence(lit(1), size(col("tk")) - (n - 1)),
        i => concat_ws(" ", slice(col("tk"), i, lit(n)))))).as("gram"))
  }

  /** Corpus documents sharing ≥ `minHits` distinct word `n`-grams with
    * any probe document. Output: (doc_id, n_hits = distinct overlapping
    * grams, n_probes = distinct probe docs hit). Drop or audit the
    * flagged set before training. */
  def overlaps(corpus: DataFrame, probes: DataFrame,
               idCol: String, textCol: String,
               n: Int = 8, minHits: Long = 1L): DataFrame = {
    val pg = broadcast(
      wordNgrams(probes, idCol, textCol, n)
        .select(col("id").as("probe_id"), col("gram")).distinct())
    wordNgrams(corpus, idCol, textCol, n)
      .join(pg, "gram")
      .groupBy(col("id").as("doc_id"))
      .agg(countDistinct("gram").as("n_hits"),
        countDistinct("probe_id").as("n_probes"))
      .where(col("n_hits") >= minHits)
  }

  /** [[overlaps]] for benchmark sets too large to broadcast EXACTLY:
    * a Bloom filter of the probe grams (built distributedly — Spark's
    * BloomFilter merges by bit-OR, murmur3 with a fixed seed, so the
    * filter is deterministic under any partitioning) prefilters the
    * corpus gram stream at scan speed, then the few survivors verify
    * against the probe grams in an ordinary join — false positives
    * die there, so the OUTPUT IS BIT-IDENTICAL to [[overlaps]]; the
    * Bloom trades the exact path's gram-set broadcast (~50 bytes per
    * gram) for ~1.2 bytes per gram at fpp 0.01.
    *
    * Size `expectedItems` at or above the probe's distinct gram count;
    * undersizing only raises the false-positive rate (more survivors
    * reach the verify join), never changes the answer.
    *
    * Scale pin (r18, scale case `decontam`, BENCH_SCALE_DECONTAM
    * .json): at 10x corpus the Bloom BUILD is scale-flat (0.30 → 0.16
    * s — probe-set-sized by design), the corpus gram stream is the
    * linear part (0.30 → 1.65 s, 5.5x on 10x data — sublinear), and
    * end-to-end reads 0.99 → 2.01 s = 2.0x; the r17 capture's 2.99x
    * was t1 fixed-cost amortization plus VM draw, not a scale defect. */
  def overlapsBloom(corpus: DataFrame, probes: DataFrame,
                    idCol: String, textCol: String,
                    n: Int = 8, minHits: Long = 1L,
                    expectedItems: Long = 1000000L,
                    fpp: Double = 0.01): DataFrame = {
    require(expectedItems > 0 && fpp > 0 && fpp < 1)
    val spark = corpus.sparkSession
    import spark.implicits._
    val pg = wordNgrams(probes, idCol, textCol, n)
      .select(col("id").as("probe_id"), col("gram")).distinct()
    val bf = pg.stat.bloomFilter("gram", expectedItems, fpp)
    val bcBf = spark.sparkContext.broadcast(bf)
    val candidates = wordNgrams(corpus, idCol, textCol, n)
      .as[(Long, String)]
      .mapPartitions { it =>
        val f = bcBf.value
        it.filter { case (_, g) => f.mightContainString(g) }
      }.toDF("id", "gram")
    candidates.join(pg, "gram")
      .groupBy(col("id").as("doc_id"))
      .agg(countDistinct("gram").as("n_hits"),
        countDistinct("probe_id").as("n_probes"))
      .where(col("n_hits") >= minHits)
  }

  /** SEMANTIC decontamination — the paraphrase-robust complement to
    * the exact n-gram check: a corpus row whose EMBEDDING cosine
    * against any probe (benchmark) embedding reaches `threshold` is
    * flagged, catching reworded benchmark leakage that shares no long
    * n-gram. Output: (vec_id, max_cosine, n_hits) for flagged rows
    * only.
    *
    * 100 TB shape: the probe side is a benchmark — it BROADCASTS, the
    * corpus is scanned once narrow (one fused cosine per (row, probe)
    * inside the broadcast loop join), nothing corpus-sized shuffles,
    * and only flagged rows reach the hit aggregate. Cosines round to
    * 6 decimals BEFORE the threshold/max so any engine replays the
    * flag set bit-identically.
    *
    * `sameIdSpace = true` additionally skips (corpus, probe) pairs
    * with EQUAL ids — for the self-scan case where the probe set is a
    * slice of the corpus under ONE id space and a row must not flag
    * against itself. It defaults to FALSE because corpus and
    * benchmark ids are normally independent: with the exclusion
    * always on, a genuinely contaminated corpus row that merely
    * COLLIDES with a probe id would silently never be checked against
    * that probe. */
  def semanticOverlaps(corpus: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      sameIdSpace: Boolean = false): DataFrame = {
    val p = broadcast(probes.select(col(idCol).as("_pid"),
      col(vecCol).as("_pv")))
    corpus.select(col(idCol).as("vec_id"), col(vecCol).as("_cv"))
      .join(p, if (sameIdSpace) col("vec_id") =!= col("_pid") else lit(true))
      .select(col("vec_id"),
        round(Ann.cosine(col("_cv"), col("_pv")), 6).as("c"))
      .where(col("c") >= threshold)
      .groupBy("vec_id")
      .agg(max("c").as("max_cosine"), count(lit(1)).as("n_hits"))
  }
}
