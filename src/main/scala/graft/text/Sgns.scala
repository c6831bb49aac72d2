package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skip-gram-with-negative-sampling (SGNS) word2vec trainer (Mikolov
  * et al. 2013) — the capstone that closes the embedding-training
  * chain this engine already generates data for: random walks
  * ([[graft.ops.RandomWalks]]) → skip-gram pairs ([[SkipGram]]) →
  * negatives ([[NegativeSampling]]) → EMBEDDINGS, which then feed the
  * ANN / semantic-dedup family ([[graft.ops.Ann]]) as an
  * `Array[Float]` column like any other vector corpus.
  *
  * Training is full-batch gradient descent with BOTH embedding
  * matrices resident on the DRIVER — the [[LogReg]]/[[BpeTrain]] loop
  * shape: per epoch, ONE Spark job computes the exact gradient of the
  * SGNS log-loss over every (pair, negative) row, and the driver
  * folds it into the two V×dim matrices (model data, like IVF
  * centroids — the corpus is never collected). Published word2vec is
  * sequential SGD with racing hogwild updates; a distributed,
  * REPLAYABLE pipeline wants the batch form, which converges to the
  * same neighborhood structure and is what makes the next two
  * properties possible.
  *
  * Scale shape: the corpus collapses ONCE to the distinct
  * (center, context, n) co-occurrence table — the [[BpeTrain]]
  * corpus-collapse discipline — so epoch cost is proportional to
  * DISTINCT pair count, not corpus token count; a pair occurring a
  * million times is one row with weight n = 10⁶. Negatives are drawn
  * per DISTINCT pair (k seeded draws, weight n — a documented
  * deviation from per-occurrence draws that keeps the training frame
  * collapse; draws colliding with the pair's true context are
  * filtered, the standard re-draw guard). Per epoch one cached-frame
  * scan + a tasks-many fold of 2·V·dim long arrays — exactly the
  * MLlib treeAggregate wire shape, moving model-sized arrays, never
  * rows.
  *
  * Determinism (the repo-wide quantize-before-sum discipline):
  * weights live in INTEGER 1e-9 units; every per-row gradient
  * contribution is floor-quantized to the same units BEFORE the
  * per-partition dense-array add, so epoch gradients are
  * order-independent integer sums and training is bit-reproducible
  * across runs, partitionings and retries. Initialization is
  * MurmurHash3-seeded uniform (-0.5/dim, 0.5/dim) on the input matrix
  * (output matrix zero, the reference implementation's choice);
  * sigmoids go through StrictMath.exp so the floating step is
  * platform-pinned too.
  *
  * Bounds (enforced, not silent): V·dim ≤ 2M per matrix (16 MB of
  * longs; gradient partials are 2·V·dim per task) — reduce with
  * `topV` for larger vocabularies. Gradient accumulators hold
  * Σ n·|w|·1e9 per slot in a long — fine to ~10⁹ total co-occurrence
  * weight at unit-scale embeddings. */
object Sgns {

  /** Driver-resident model: `vocab(w)` is the word at index w;
    * `inQ(w*dim + i)` / `outQ(w*dim + i)` the quantized (1e-9 units)
    * input/output embeddings. `lossQ(e)` is epoch e's summed SGNS
    * log-loss in 1e-6 units (quantized per row before the integer
    * fold, so the curve is as bit-reproducible as the weights) —
    * divide by the corpus pair weight for a mean. */
  final case class SgnsModel(dim: Int, vocab: Array[String],
      inQ: Array[Long], outQ: Array[Long], lossQ: Array[Long]) {

    /** Input embeddings as the engine's standard vector-corpus shape:
      * (word_id, word, embedding Array[Float]) — word_id is the vocab
      * index as the LONG id the ANN family keys on
      * ([[graft.ops.Ann.knnGraph]] / semantic dedup), word the
      * human-readable join key. */
    def embeddingsDf(spark: SparkSession): DataFrame = {
      import spark.implicits._
      vocab.iterator.zipWithIndex.map { case (w, wi) =>
        val v = new Array[Float](dim)
        var i = 0
        while (i < dim) { v(i) = (inQ(wi * dim + i) / 1e9).toFloat; i += 1 }
        (wi.toLong, w, v.toSeq)
      }.toSeq.toDF("word_id", "word", "embedding")
        .select(col("word_id"), col("word"),
          col("embedding").cast("array<float>").as("embedding"))
    }
  }

  /** Train over a `(center, context)` string-pair frame (the
    * [[SkipGram.pairs]]/[[SkipGram.trainingPairs]] output — one row
    * per co-occurrence, duplicates carry weight). Words outside the
    * `topV` most frequent (by center marginal, ties word-asc) are
    * dropped — the standard vocabulary cap. */
  def train(pairs: DataFrame, dim: Int, epochs: Int, lr: Double,
      negatives: Int, topV: Int = 65536, tableSize: Int = 4096,
      seed: String = "sgns", init: Option[SgnsModel] = None): SgnsModel = {
    require(dim > 0 && epochs > 0 && lr > 0 && negatives >= 1,
      "dim, epochs, lr, negatives must be positive")
    init.foreach(m => require(m.dim == dim,
      s"init model dim ${m.dim} != $dim"))
    val spark = pairs.sparkSession
    import spark.implicits._
    // ---- corpus collapse: distinct weighted co-occurrence pairs ----
    val cp = pairs.groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false)
    val freq = cp.groupBy(col("center").as("word"))
      .agg(sum("n").as("freq"))
    // ---- vocabulary: top-V by frequency, index = rank order ----
    val vocab = freq.orderBy(col("freq").desc, col("word").asc)
      .limit(topV).select("word").as[String].collect()
    require(vocab.nonEmpty, "no words to train on")
    val v = vocab.length
    require(v.toLong * dim <= 2L * 1000 * 1000,
      s"V*dim = ${v.toLong * dim} exceeds the 2M driver/task-resident " +
        "bound - lower topV or dim (or train per-shard)")
    val idxDf = broadcast(
      vocab.iterator.zipWithIndex.map { case (w, i) => (w, i) }.toSeq
        .toDF("word", "idx"))
    // ---- negatives: k seeded draws per distinct pair, weight n ----
    val table = NegativeSampling.sampleTable(freq, tableSize, topV)
    val negs = NegativeSampling
      .drawNegatives(cp, Seq("center", "context"), negatives, table, seed)
      .where(col("neg_word") =!= col("context")) // re-draw guard
      .join(cp, Seq("center", "context"))
      .select(col("center"), col("neg_word").as("target"), col("n"),
        lit(false).as("pos"))
    val pos = cp.select(col("center"), col("context").as("target"),
      col("n"), lit(true).as("pos"))
    // NO epoch-frame repartition (r21): the r20 unconditional
    // repartition(defaultParallelism) before this cache answered a
    // 1 s/epoch single-task hazard, but the r21 re-A/B (four windows,
    // VERDICT ask #8) measured the repartitioned variant SLOWER on the
    // doc-embedding paths (sgns_doc_embed ~4.3 vs 3.8 s, sgns_embed_eval
    // ~7.6 vs 7.1 s; sgns_train_docs inside noise): the pair table now
    // arrives from cp's aggregate with enough partitions, and the extra
    // exchange materializing the union+joins costs more than the
    // (already sub-0.1 s) epochs save. The integer-quantized fold is
    // partitioning-independent by construction either way.
    val rows = pos.unionAll(negs)
      .join(idxDf.select(col("word").as("center"), col("idx").as("ci")), "center")
      .join(idxDf.select(col("word").as("target"), col("idx").as("ti")), "target")
      .select(col("ci"), col("ti"), col("n"), col("pos"))
      .as[(Int, Int, Long, Boolean)]
      .cache()
    val nTotal = cp.agg(sum("n")).as[Long].head()
    // ---- deterministic init: murmur-uniform in (-0.5/dim, 0.5/dim);
    // words carried by `init` RESUME their trained vectors (so a
    // continued run over the same pairs is bit-identical to one long
    // run, and a long-lived pipeline retrains incrementally instead
    // of from scratch) ----
    val len = v * dim
    val inQ = new Array[Long](len)
    val outQ = new Array[Long](len)
    val carried: Map[String, Int] =
      init.map(_.vocab.iterator.zipWithIndex.toMap).getOrElse(Map.empty)
    var wi = 0
    while (wi < v) {
      carried.get(vocab(wi)) match {
        case Some(pi) =>
          val m = init.get
          System.arraycopy(m.inQ, pi * dim, inQ, wi * dim, dim)
          System.arraycopy(m.outQ, pi * dim, outQ, wi * dim, dim)
        case None =>
          var i = 0
          while (i < dim) {
            val h = scala.util.hashing.MurmurHash3
              .stringHash(s"${vocab(wi)}|$i|$seed")
            val u = (h & 0x7fffffff).toDouble / Int.MaxValue // [0, 1)
            inQ(wi * dim + i) = math.round((u - 0.5) / dim * 1e9)
            i += 1
          }
      }
      wi += 1
    }
    // ---- epochs: one job each, integer-quantized gradient fold ----
    val sc = spark.sparkContext
    val lossQ = new Array[Long](epochs)
    for (e <- 0 until epochs) {
      val bcIn = sc.broadcast(inQ.clone())
      val bcOut = sc.broadcast(outQ.clone())
      val partials = rows.mapPartitions { it =>
        val win = bcIn.value
        val wout = bcOut.value
        val g = new Array[Long](2 * len + 1) // [gIn | gOut | lossQ]
        while (it.hasNext) {
          val (ci, ti, n, posLabel) = it.next()
          val co = ci * dim
          val to = ti * dim
          var acc = 0.0
          var i = 0
          while (i < dim) {
            acc += win(co + i).toDouble * wout(to + i).toDouble
            i += 1
          }
          val dot = acc / 1e18
          val p = 1.0 / (1.0 + StrictMath.exp(-dot))
          val r = (p - (if (posLabel) 1.0 else 0.0)) * n
          // SGNS log-loss of this row, 1e-6-quantized BEFORE the fold
          val pl = if (posLabel) p else 1.0 - p
          g(2 * len) +=
            math.floor(-StrictMath.log(math.max(pl, 1e-12)) * n * 1e6).toLong
          i = 0
          while (i < dim) {
            // grad wrt in_i = r * out_i; out is 1e-9-quantized, so
            // floor(r * outQ_i) IS the 1e-9-quantized contribution
            g(co + i) += math.floor(r * wout(to + i)).toLong
            g(len + to + i) += math.floor(r * win(co + i)).toLong
            i += 1
          }
        }
        Iterator.single(g)
      }.rdd.fold(new Array[Long](2 * len + 1)) { (a, b) =>
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      }
      bcIn.destroy(); bcOut.destroy()
      lossQ(e) = partials(2 * len)
      var j = 0
      while (j < len) {
        inQ(j) -= math.round(lr * (partials(j).toDouble / nTotal))
        outQ(j) -= math.round(lr * (partials(len + j).toDouble / nTotal))
        j += 1
      }
    }
    rows.unpersist()
    SgnsModel(dim, vocab, inQ, outQ, lossQ)
  }

  /** Persist: one row per (word_idx, matrix, dim_idx) triple is too
    * wide — instead the "model is a small table" convention
    * ([[LogReg.saveModel]]): (word, in quantized array, out quantized
    * array), plus a `__meta__` row carrying dim and the loss curve.
    * Word order = vocab index order, preserved through a rank
    * column. */
  def saveModel(spark: SparkSession, model: SgnsModel, path: String): Unit = {
    import spark.implicits._
    val rows = model.vocab.iterator.zipWithIndex.map { case (w, wi) =>
      (wi.toLong, w,
        (0 until model.dim).map(i => model.inQ(wi * model.dim + i)),
        (0 until model.dim).map(i => model.outQ(wi * model.dim + i)))
    }.toSeq :+
      ((-1L, "__meta__", Seq(model.dim.toLong), model.lossQ.toSeq))
    rows.toDF("idx", "word", "in_q", "out_q")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a model persisted by [[saveModel]] — bit-identical
    * matrices. */
  def loadModel(spark: SparkSession, path: String): SgnsModel = {
    val all = spark.read.parquet(path).collect()
    // getSeq, not getAs[Seq[...]]: Spark hands back a mutable
    // ArraySeq, which the 2.13 immutable-Seq ascription CCEs on
    def seqOf(r: org.apache.spark.sql.Row, field: String): Seq[Long] =
      r.getSeq[Long](r.fieldIndex(field))
    val meta = all.find(_.getAs[Long]("idx") == -1L)
      .getOrElse(sys.error(s"not an Sgns model: $path"))
    val dim = seqOf(meta, "in_q").head.toInt
    val lossQ = seqOf(meta, "out_q").toArray
    val words = all.filter(_.getAs[Long]("idx") >= 0L)
      .sortBy(_.getAs[Long]("idx"))
    val vocab = words.map(_.getAs[String]("word"))
    val inQ = words.flatMap(seqOf(_, "in_q")).toArray
    val outQ = words.flatMap(seqOf(_, "out_q")).toArray
    SgnsModel(dim, vocab, inQ, outQ, lossQ)
  }

  /** Subword (fastText-style) model: the input embedding of a word is
    * the MEAN of its word vector and its char-ngram bucket vectors
    * (Bojanowski et al. 2017) — which is what makes embeddings exist
    * for words never seen in training. `bucketQ` is the B×dim bucket
    * matrix; `ngramIds(w)` the bucket ids of vocab word w. */
  final case class SgnsSubwordModel(dim: Int, buckets: Int,
      minn: Int, maxn: Int, vocab: Array[String],
      inQ: Array[Long], outQ: Array[Long], bucketQ: Array[Long],
      lossQ: Array[Long]) {

    private lazy val vocabIdx: Map[String, Int] =
      vocab.iterator.zipWithIndex.toMap

    /** Quantized composed input vector of ANY word — in-vocab words
      * mean their word vector with their ngram buckets, OOV words
      * mean their ngram buckets alone (the fastText OOV story). */
    def embeddingOf(word: String): Array[Float] = {
      val grams = Sgns.subwordBuckets(word, minn, maxn, buckets)
      val acc = new Array[Double](dim)
      var cnt = 0
      vocabIdx.get(word).foreach { wi =>
        var i = 0
        while (i < dim) { acc(i) += inQ(wi * dim + i) / 1e9; i += 1 }
        cnt += 1
      }
      grams.foreach { b =>
        var i = 0
        while (i < dim) { acc(i) += bucketQ(b * dim + i) / 1e9; i += 1 }
        cnt += 1
      }
      val out = new Array[Float](dim)
      if (cnt > 0) {
        var i = 0
        while (i < dim) { out(i) = (acc(i) / cnt).toFloat; i += 1 }
      }
      out
    }
  }

  /** The char-ngram bucket ids of `word` (boundary-marked `<word>`,
    * n in [minn, maxn], murmur-hashed mod `buckets`, distinct,
    * sorted) — deterministic across JVMs. */
  private[text] def subwordBuckets(word: String, minn: Int, maxn: Int,
      buckets: Int): Array[Int] = {
    val marked = "<" + word + ">"
    val out = scala.collection.mutable.SortedSet.empty[Int]
    var n = minn
    while (n <= maxn) {
      var i = 0
      while (i + n <= marked.length) {
        val h = scala.util.hashing.MurmurHash3.stringHash(
          marked.substring(i, i + n))
        out += java.lang.Math.floorMod(h, buckets)
        i += 1
      }
      n += 1
    }
    out.toArray
  }

  /** Subword SGNS (fastText, Bojanowski et al. 2017): identical
    * training frame and fold discipline as [[train]], but the CENTER
    * representation is the mean of the word vector and its char-ngram
    * bucket vectors, and gradients distribute 1/(1+nGrams) to each —
    * so morphologically-related words share parameters and OOV words
    * get embeddings from their buckets alone. Bucket-id arrays are
    * vocabulary-bounded model data broadcast once per training (not
    * per epoch); the per-epoch fold moves (V + B + V)·dim longs.
    * Bound: (V + buckets)·dim ≤ 4M. */
  def trainSubword(pairs: DataFrame, dim: Int, epochs: Int, lr: Double,
      negatives: Int, topV: Int = 65536, buckets: Int = 32768,
      minn: Int = 3, maxn: Int = 5, tableSize: Int = 4096,
      seed: String = "sgns-sub"): SgnsSubwordModel = {
    require(dim > 0 && epochs > 0 && lr > 0 && negatives >= 1 &&
      buckets > 0 && minn >= 1 && maxn >= minn,
      "dim, epochs, lr, negatives, buckets, minn<=maxn must be positive")
    val spark = pairs.sparkSession
    import spark.implicits._
    val cp = pairs.groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false)
    val freq = cp.groupBy(col("center").as("word"))
      .agg(sum("n").as("freq"))
    val vocab = freq.orderBy(col("freq").desc, col("word").asc)
      .limit(topV).select("word").as[String].collect()
    require(vocab.nonEmpty, "no words to train on")
    val v = vocab.length
    require((v.toLong + buckets) * dim <= 4L * 1000 * 1000,
      s"(V+buckets)*dim = ${(v.toLong + buckets) * dim} exceeds the 4M " +
        "driver/task-resident bound - lower topV, buckets or dim")
    val gramIds: Array[Array[Int]] =
      vocab.map(w => subwordBuckets(w, minn, maxn, buckets))
    val idxDf = broadcast(
      vocab.iterator.zipWithIndex.map { case (w, i) => (w, i) }.toSeq
        .toDF("word", "idx"))
    val table = NegativeSampling.sampleTable(freq, tableSize, topV)
    val negs = NegativeSampling
      .drawNegatives(cp, Seq("center", "context"), negatives, table, seed)
      .where(col("neg_word") =!= col("context"))
      .join(cp, Seq("center", "context"))
      .select(col("center"), col("neg_word").as("target"), col("n"),
        lit(false).as("pos"))
    val pos = cp.select(col("center"), col("context").as("target"),
      col("n"), lit(true).as("pos"))
    // balanced epoch layout (r20): same rationale as [[train]]
    val rows = pos.unionAll(negs)
      .join(idxDf.select(col("word").as("center"), col("idx").as("ci")), "center")
      .join(idxDf.select(col("word").as("target"), col("idx").as("ti")), "target")
      .select(col("ci"), col("ti"), col("n"), col("pos"))
      .repartition(spark.sparkContext.defaultParallelism)
      .as[(Int, Int, Long, Boolean)]
      .cache()
    val nTotal = cp.agg(sum("n")).as[Long].head()
    val len = v * dim
    val blen = buckets * dim
    val inQ = new Array[Long](len)
    val outQ = new Array[Long](len)
    val bucketQ = new Array[Long](blen)
    var wi = 0
    while (wi < v) {
      var i = 0
      while (i < dim) {
        val h = scala.util.hashing.MurmurHash3
          .stringHash(s"${vocab(wi)}|$i|$seed")
        val u = (h & 0x7fffffff).toDouble / Int.MaxValue
        inQ(wi * dim + i) = math.round((u - 0.5) / dim * 1e9)
        i += 1
      }
      wi += 1
    }
    var bi = 0
    while (bi < buckets) {
      var i = 0
      while (i < dim) {
        val h = scala.util.hashing.MurmurHash3
          .stringHash(s"#bucket#$bi|$i|$seed")
        val u = (h & 0x7fffffff).toDouble / Int.MaxValue
        bucketQ(bi * dim + i) = math.round((u - 0.5) / dim * 1e9)
        i += 1
      }
      bi += 1
    }
    val sc = spark.sparkContext
    val bcGrams = sc.broadcast(gramIds)
    val lossQ = new Array[Long](epochs)
    for (e <- 0 until epochs) {
      val bcIn = sc.broadcast(inQ.clone())
      val bcOut = sc.broadcast(outQ.clone())
      val bcBuck = sc.broadcast(bucketQ.clone())
      val partials = rows.mapPartitions { it =>
        val win = bcIn.value
        val wout = bcOut.value
        val wbuck = bcBuck.value
        val grams = bcGrams.value
        // [gIn | gOut | gBucket | loss]
        val g = new Array[Long](2 * len + blen + 1)
        val comp = new Array[Double](dim) // composed center, 1e-9 units
        while (it.hasNext) {
          val (ci, ti, n, posLabel) = it.next()
          val co = ci * dim
          val to = ti * dim
          val gs = grams(ci)
          val parts = 1 + gs.length
          var i = 0
          while (i < dim) {
            var s = win(co + i).toDouble
            var k = 0
            while (k < gs.length) { s += wbuck(gs(k) * dim + i); k += 1 }
            comp(i) = s / parts
            i += 1
          }
          var acc = 0.0
          i = 0
          while (i < dim) { acc += comp(i) * wout(to + i); i += 1 }
          val dot = acc / 1e18
          val p = 1.0 / (1.0 + StrictMath.exp(-dot))
          val r = (p - (if (posLabel) 1.0 else 0.0)) * n
          val pl = if (posLabel) p else 1.0 - p
          g(2 * len + blen) +=
            math.floor(-StrictMath.log(math.max(pl, 1e-12)) * n * 1e6).toLong
          val rp = r / parts
          i = 0
          while (i < dim) {
            // grad wrt composed = r * out_i; distributes rp to the
            // word slot and each bucket slot; grad wrt out = r * comp
            val gi = math.floor(rp * wout(to + i)).toLong
            g(co + i) += gi
            var k = 0
            while (k < gs.length) { g(2 * len + gs(k) * dim + i) += gi; k += 1 }
            g(len + to + i) += math.floor(r * comp(i)).toLong
            i += 1
          }
        }
        Iterator.single(g)
      }.rdd.fold(new Array[Long](2 * len + blen + 1)) { (a, b) =>
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      }
      bcIn.destroy(); bcOut.destroy(); bcBuck.destroy()
      lossQ(e) = partials(2 * len + blen)
      var j = 0
      while (j < len) {
        inQ(j) -= math.round(lr * (partials(j).toDouble / nTotal))
        outQ(j) -= math.round(lr * (partials(len + j).toDouble / nTotal))
        j += 1
      }
      j = 0
      while (j < blen) {
        bucketQ(j) -= math.round(lr * (partials(2 * len + j).toDouble / nTotal))
        j += 1
      }
    }
    bcGrams.destroy()
    rows.unpersist()
    SgnsSubwordModel(dim, buckets, minn, maxn, vocab, inQ, outQ,
      bucketQ, lossQ)
  }

  /** Document embeddings from a trained word-embedding frame: the
    * idf-weighted mean of each document's word vectors — the standard
    * strong baseline that turns SGNS output into a SEMANTIC-DEDUP /
    * ANN corpus (feeds [[graft.ops.Ann]] and
    * [[graft.ops.Decontaminate.semanticOverlaps]] directly). idf =
    * ln(N / df) over the given corpus. The repo-wide
    * quantize-before-sum discipline makes the mean BIT-REPRODUCIBLE
    * across partitionings: each weighted element is floor-quantized
    * to 1e-4 integer units BEFORE the [[graft.expr.VectorSum]] fold —
    * integer-valued floats below 2^24 add exactly in any order — and
    * one final division closes at round(·, 6).
    *
    * Scale shape: one broadcast of the vocabulary-bounded embedding
    * frame, one narrow explode, one per-doc aggregate — the corpus
    * shuffles (doc_id, token) pairs once, vectors ride the broadcast.
    * Out-of-vocabulary tokens are skipped; docs with NO in-vocab
    * token are omitted (no vector to offer). */
  def docEmbeddings(docs: DataFrame, idCol: String, textCol: String,
      wordVecs: DataFrame): DataFrame = {
    // tokenize ONCE: the idf pass and the embedding pass consume the
    // identical (doc_id, word) explode — un-shared it ran twice (and
    // single-task on an unsplittable local scan; widenScan spreads the
    // tokenize, a no-op on a properly-split corpus). Results are
    // byte-identical to the compose-of-publics form below.
    val toks = tokensOf(docs, idCol, textCol).localCheckpoint(eager = false)
    val n = docs.select(col(idCol)).distinct().count()
    docEmbeddingsFrozenFromToks(toks,
      idfWeightsFromToks(toks, n, wordVecs))
  }

  /** The FROZEN (word, embedding, weight) frame a serving/streaming
    * embedder scores against: idf = ln(N / df) captured over THIS
    * corpus for the model's vocabulary (the df table is
    * vocabulary-bounded — the vocab filter runs before it). Persist
    * next to the model; [[docEmbeddingsFrozen]] then embeds any batch
    * against it without corpus statistics of its own. */
  def idfWeights(docs: DataFrame, idCol: String, textCol: String,
      wordVecs: DataFrame): DataFrame =
    idfWeightsFromToks(tokensOf(docs, idCol, textCol),
      docs.select(col(idCol)).distinct().count(), wordVecs)

  /** The shared (doc_id, word) tokenize both document-embedding passes
    * consume; widened when the underlying scan planned below the
    * session parallelism (single-row-group local files — a no-op on a
    * properly-split corpus, see [[graft.ops.Adaptive.widenScan]]). */
  private def tokensOf(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    graft.ops.Adaptive.widenScan(
        docs.select(col(idCol).as("doc_id"), col(textCol).as("_t")))
      .select(col("doc_id"),
        explode(filter(split(trim(lower(col("_t"))), "\\s+"),
          t => length(t) > 0)).as("word"))

  private def idfWeightsFromToks(toks: DataFrame, n: Long,
      wordVecs: DataFrame): DataFrame = {
    val vecs = wordVecs.select(col("word"),
      col("embedding").cast("array<double>").as("vec"))
    toks.join(broadcast(vecs), "word")
      .select("doc_id", "word").distinct()
      .groupBy("word").agg(count(lit(1)).as("df"))
      .join(broadcast(vecs), "word")
      .select(col("word"), col("vec").cast("array<float>").as("embedding"),
        log(lit(n.toDouble) / col("df").cast("double")).as("weight"))
  }

  /** [[docEmbeddings]] against a FROZEN weight frame — the streaming/
    * serving form: per-batch idf would drift a document's vector
    * between batches (same doc, different embedding — dedup equality
    * broken), so the ingest path is pure scoring against weights
    * captured once at model time (the LogReg/NbClassifier serving
    * discipline). Same quantize-before-sum bit-reproducibility. */
  def docEmbeddingsFrozen(docs: DataFrame, idCol: String, textCol: String,
      weightedVecs: DataFrame): DataFrame =
    docEmbeddingsFrozenFromToks(tokensOf(docs, idCol, textCol),
      weightedVecs)

  private def docEmbeddingsFrozenFromToks(toks: DataFrame,
      weightedVecs: DataFrame): DataFrame = {
    // floor-quantize each weighted element to 1e-4 units: the values
    // are integer-valued and |w·v·1e4| stays under 2^24, so the
    // float fold below adds them EXACTLY in any partition order
    toks
      .join(broadcast(weightedVecs.select(col("word"),
        col("embedding").cast("array<double>").as("vec"), col("weight"))),
        "word")
      .select(col("doc_id"),
        transform(col("vec"),
          x => floor(x * col("weight") * 1e4)).as("wv"))
      .groupBy("doc_id")
      .agg(graft.expr.VectorSum.vectorSum(
        col("wv").cast("array<float>")).as("s"))
      .select(col("doc_id"),
        expr("transform(s.sums, x -> CAST(round(x / s.n / 1e4, 6) AS FLOAT))")
          .as("embedding"))
  }

  /** DeepWalk (Perozzi et al. 2014) end-to-end: random walks over the
    * `(src, dst)` edge frame become token sequences, skip-gram pairs
    * are generated over them, and SGNS trains node embeddings — the
    * walks → pairs → embeddings closure. Node ids must be
    * whitespace-free (they become tokens). */
  def deepwalk(edges: DataFrame, walksPerNode: Int, walkLen: Int,
      window: Int, dim: Int, epochs: Int, lr: Double, negatives: Int,
      topV: Int = 65536, seed: String = "deepwalk"): SgnsModel = {
    val walks = graft.ops.RandomWalks.walks(edges, walksPerNode, walkLen, seed)
      .select(col("walk_id"), concat_ws(" ", col("path")).as("text"))
    train(SkipGram.pairs(walks, "walk_id", "text", window),
      dim, epochs, lr, negatives, topV, seed = seed)
  }
}
