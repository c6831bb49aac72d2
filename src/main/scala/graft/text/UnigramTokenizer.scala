package graft.text

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Distributed unigram-LM tokenizer training (Kudo 2018 — the
  * SentencePiece unigram model), the other major subword family next
  * to [[BpeTrain]]: instead of growing a vocabulary bottom-up by
  * merges, it seeds a LARGE candidate vocabulary and prunes it
  * top-down under a unigram language model, re-fitting piece
  * probabilities by EM between prune rounds. The hard-EM (Viterbi)
  * variant is used: the E-step counts pieces on each word's single
  * best segmentation — deterministic, exactly replayable, and the
  * standard simplification when the lattice forward-backward's soft
  * counts aren't worth a float-summation audit.
  *
  * Spark shape — the [[BpeTrain]]/[[graft.ops.PageRank]] discipline:
  * the corpus collapses ONCE to its distinct word-frequency table
  * (Zipf: |vocab| ≪ |tokens|); seeding is one substring-count job
  * with a bounded model-sized collect; every EM round is then one
  * job over the WORD VOCABULARY (broadcast model, Viterbi per word,
  * integer piece counts reduced map-side) plus a driver M-step over
  * the piece table. The 100 TB corpus is touched exactly once.
  *
  * Determinism: piece counts are exact integer sums of word
  * frequencies (order-independent under any partitioning); log-probs
  * are computed on the driver with StrictMath.log and quantized to
  * 1e-6 units, so the broadcast model is bit-identical across runs;
  * Viterbi ties break (fewer pieces, then longer last piece) — a pure
  * function of the model. Seeding and pruning order by (count desc,
  * piece asc). Training is bit-reproducible across partitionings.
  */
object UnigramTokenizer {

  /** Driver-resident model: pieces with 1e-6-quantized unigram
    * log-probs. Single characters are always retained so any string
    * over the training alphabet remains segmentable; characters never
    * seen in training segment as themselves at [[unkLpQ]]. */
  final case class UnigramModel(pieces: Array[String], lpQ: Array[Long]) {
    require(pieces.length == lpQ.length)
    @transient lazy val table: java.util.HashMap[String, java.lang.Long] = {
      val m = new java.util.HashMap[String, java.lang.Long](pieces.length * 2)
      var i = 0
      while (i < pieces.length) { m.put(pieces(i), lpQ(i)); i += 1 }
      m
    }
    @transient lazy val maxPieceLen: Int =
      if (pieces.isEmpty) 1 else pieces.iterator.map(_.length).max
    def size: Int = pieces.length
  }

  /** Log-prob floor for out-of-alphabet characters at segmentation
    * time (quantized units): worse than any trained piece, so unknown
    * chars never displace a real segmentation. */
  val unkLpQ: Long = -100L * 1000000L

  private def quantLp(p: Double): Long =
    math.floor(StrictMath.log(p) * 1e6).toLong

  /** Viterbi segmentation of one word under the model: maximizes the
    * sum of piece log-probs; ties prefer FEWER pieces, then the longer
    * final piece (both deterministic). Out-of-vocab single chars are
    * admitted at [[unkLpQ]] so the DP never dead-ends. */
  private[text] def viterbi(word: String, m: UnigramModel): Array[String] = {
    val n = word.length
    if (n == 0) return Array.empty
    val maxLen = math.max(1, m.maxPieceLen)
    val score = new Array[Long](n + 1)
    val nPieces = new Array[Int](n + 1)
    val backLen = new Array[Int](n + 1)
    java.util.Arrays.fill(score, Long.MinValue)
    score(0) = 0L; nPieces(0) = 0
    var i = 1
    while (i <= n) {
      var l = math.min(i, maxLen)
      while (l >= 1) {
        val j = i - l
        if (score(j) != Long.MinValue) {
          val piece = word.substring(j, i)
          val boxed = m.table.get(piece)
          val lp =
            if (boxed ne null) boxed.longValue()
            else if (l == 1) unkLpQ
            else Long.MinValue
          if (lp != Long.MinValue) {
            val cand = score(j) + lp
            val candN = nPieces(j) + 1
            // strict order: score desc, piece count asc, last-piece
            // length desc (l scans high→low, so only strict wins move)
            val better = cand > score(i) ||
              (cand == score(i) && (candN < nPieces(i) ||
                (candN == nPieces(i) && l > backLen(i))))
            if (better) { score(i) = cand; nPieces(i) = candN; backLen(i) = l }
          }
        }
        l -= 1
      }
      i += 1
    }
    val out = new Array[String](nPieces(n))
    var pos = n
    var k = nPieces(n) - 1
    while (pos > 0) { out(k) = word.substring(pos - backLen(pos), pos); pos -= backLen(pos); k -= 1 }
    out
  }

  /** Seed candidate pieces: the `seedSize` most frequent substrings of
    * length 2..`maxPieceLen` (occurrences weighted by word frequency,
    * ties piece-asc) UNIONED with every single character of the corpus
    * (mandatory — they are the coverage floor and are never pruned).
    * One distributed substring-count job; the collect is model-sized
    * (`seedSize + |alphabet|` rows), the IVF-centroid convention. */
  private def seed(vocab: Dataset[(String, Long)], seedSize: Int,
                   maxPieceLen: Int): Array[(String, Long)] = {
    val spark = vocab.sparkSession
    import spark.implicits._
    val subs = vocab.flatMap { case (w, f) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      var i = 0
      while (i < w.length) {
        var l = 1
        while (l <= maxPieceLen && i + l <= w.length) {
          out += ((w.substring(i, i + l), f)); l += 1
        }
        i += 1
      }
      out
    }.groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
      .map { case (p, n) => (p, n) }
    val singles = subs.filter(_._1.length == 1).collect()
    val multis = subs.filter(_._1.length >= 2)
      .orderBy(col("_2").desc, col("_1").asc)
      .limit(seedSize).collect()
    (singles ++ multis).sortBy { case (p, n) => (-n, p) }
  }

  /** One hard-EM round: Viterbi-count every piece over the word-freq
    * table (one job, integer counts), then re-fit log-probs on the
    * driver. Pieces with zero count keep a floor probability rather
    * than dropping out mid-EM (pruning is a separate, explicit step). */
  private def emRound(vocab: Dataset[(String, Long)],
                      m: UnigramModel): Map[String, Long] = {
    val spark = vocab.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(m)
    vocab.flatMap { case (w, f) =>
      viterbi(w, bc.value).iterator.map(p => (p, f))
    }.groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
      .map { case (p, n) => (p, n) }
      .collect().toMap
  }

  private def fit(pieces: Array[String], counts: Map[String, Long]): UnigramModel = {
    // Laplace floor: every retained piece keeps count ≥ 1 so its
    // log-prob is finite and the next Viterbi can still choose it
    val c = pieces.map(p => math.max(1L, counts.getOrElse(p, 0L)))
    val total = c.sum.toDouble
    UnigramModel(pieces, c.map(n => quantLp(n / total)))
  }

  /** Train a unigram tokenizer to (at most) `vocabSize` pieces.
    *
    * Loop: seed → fit → repeat { `emIters`× EM, prune the
    * lowest-Viterbi-count multi-char pieces by `pruneFraction` (never
    * below `vocabSize`, never single chars) } until the vocabulary
    * reaches `vocabSize`, then one final EM re-fit. Round count is
    * logarithmic in seed/vocab ratio (each round removes a fixed
    * fraction), each round costs `emIters + 1` vocab-sized jobs. */
  def train(docs: DataFrame, textCol: String, vocabSize: Int,
            maxPieceLen: Int = 8, seedFactor: Int = 4, emIters: Int = 2,
            pruneFraction: Double = 0.25): UnigramModel = {
    require(vocabSize > 0 && maxPieceLen >= 1 && seedFactor >= 1 &&
      emIters >= 1 && pruneFraction > 0 && pruneFraction < 1)
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = Bpe.wordFreq(docs, textCol).as[(String, Long)]
      .localCheckpoint(true)
    try {
      val seeded = seed(vocab, vocabSize * seedFactor, maxPieceLen)
      require(seeded.nonEmpty, "empty corpus: nothing to train on")
      var model = fit(seeded.map(_._1), seeded.toMap)
      var done = false
      while (!done) {
        var counts = Map.empty[String, Long]
        var it = 0
        while (it < emIters) {
          counts = emRound(vocab, model)
          model = fit(model.pieces, counts)
          it += 1
        }
        val singles = model.pieces.filter(_.length == 1)
        val multis = model.pieces.filter(_.length >= 2)
        val targetMultis = math.max(0, vocabSize - singles.length)
        if (multis.length <= targetMultis) done = true
        else {
          // prune: drop the lowest-count fraction, floor at target
          val keep = math.max(targetMultis,
            (multis.length * (1.0 - pruneFraction)).toInt)
          val kept = multis
            .map(p => (p, counts.getOrElse(p, 0L)))
            .sortBy { case (p, n) => (-n, p) }
            .take(keep).map(_._1)
          model = fit((singles ++ kept).sorted, counts)
          if (kept.length == targetMultis) {
            model = fit(model.pieces, emRound(vocab, model))
            done = true
          }
        }
      }
      model
    } finally { vocab.unpersist(); () }
  }

  /** Segment a corpus under a trained model: adds `tokens`
    * (`array<string>`, Viterbi pieces of the whitespace-split
    * case-folded words) and `n_unigram_tokens`. Partition-local, no
    * shuffle — the [[BpeTrain.segment]] convention. */
  def segment(docs: DataFrame, textCol: String, model: UnigramModel): DataFrame = {
    val spark = docs.sparkSession
    val bc = spark.sparkContext.broadcast(model)
    val schema = org.apache.spark.sql.types.StructType(docs.schema.fields ++ Seq(
      org.apache.spark.sql.types.StructField("tokens",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
      org.apache.spark.sql.types.StructField("n_unigram_tokens",
        org.apache.spark.sql.types.LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val idx = docs.schema.fieldIndex(textCol)
    // widenScan (r21): per-word Viterbi is the heavy per-row stage; on
    // an unsplittable local file it ran single-task
    graft.ops.Adaptive.widenScan(docs).mapPartitions { rows =>
      val m = bc.value
      rows.map { r =>
        val text = r.getString(idx)
        if (text == null) org.apache.spark.sql.Row.fromSeq(r.toSeq ++ Seq(null, null))
        else {
          val toks = text.toLowerCase.split("\\s+").iterator.filter(_.nonEmpty)
            .flatMap(w => viterbi(w, m)).toArray
          org.apache.spark.sql.Row.fromSeq(
            r.toSeq ++ Seq[Any](toks, toks.length.toLong))
        }
      }
    }(enc)
  }

  /** Persist the model as a parquet table `(piece, lp_q)` — the
    * "model is a small table" convention ([[BpeTrain.saveMerges]],
    * Ann.saveCentroids). */
  def saveModel(spark: org.apache.spark.sql.SparkSession,
                model: UnigramModel, path: String): Unit = {
    import spark.implicits._
    model.pieces.zip(model.lpQ).toSeq.toDF("piece", "lp_q")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a model persisted by [[saveModel]]. Piece order is
    * normalized (piece asc) — Viterbi depends only on the lookup
    * table, so order is presentational. */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
                path: String): UnigramModel = {
    val rows = spark.read.parquet(path).select("piece", "lp_q").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    UnigramModel(rows.map(_._1), rows.map(_._2))
  }
}
