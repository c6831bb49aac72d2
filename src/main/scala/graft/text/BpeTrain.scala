package graft.text

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer TRAINING (Sennrich et al. 2016) — the
  * iterative loop [[Bpe]]'s pair statistics are the first round of.
  *
  * The corpus collapses to its distinct word-frequency table once
  * (Zipf: |vocab| ≪ |tokens|), each word becomes a symbol sequence
  * (chars + a final `</w>` marker), and every merge round is then a
  * small job over the VOCABULARY, not the corpus:
  *
  *   1. count adjacent symbol pairs, occurrences weighted by word
  *      frequency (map-side combine; greedy left-to-right non-overlap
  *      counting, matching the reference implementation);
  *   2. pick the max-count pair — ties broken (count desc, pair asc)
  *      so training is deterministic across runs and partitionings;
  *   3. rewrite the vocabulary's symbol sequences with the merge
  *      applied (partition-local map, no shuffle).
  *
  * The driver holds one (pair, count) row per round — the same
  * driver-resident-loop shape as [[graft.ops.PageRank]] and the CC
  * closure, and the standard distributed-BPE design: rounds are
  * cheap vocab-sized jobs, the 100 TB corpus is touched exactly once
  * to build word frequencies.
  *
  * `batchK > 1` merges up to K symbol-disjoint top pairs per round —
  * the standard large-vocab speedup (fewer rounds at the cost of
  * counts being one round stale for the 2nd..Kth pair; batchK=1 is
  * canonical BPE). [[segment]] applies the learned merge list to any
  * corpus as an order-faithful greedy re-tokenizer. Both kernels are
  * tight per-partition Scala over the small vocab / per-row token
  * work — `mapPartitions` territory by design, there is no shuffle
  * to save.
  */
object BpeTrain {

  /** End-of-word marker symbol (kept distinct from any character). */
  val EndOfWord = "</w>"

  /** Driver bytes per distinct word of the fold's (word, freq) table.
    * Within its [[graft.ops.Adaptive.foldRows]] cap the merge loop runs
    * on the driver: every merge round is a vocab-sized job (0.3 s/round
    * at a 20k-word vocab = 14.5 s for a 1k-merge induction that folds
    * in ~1.5 s). Above it — web vocabularies with hundreds of millions
    * of hapaxes — the distributed loop runs. BIT-IDENTICAL: same greedy
    * counting, top-(want·4) window, (count desc, pair asc) order and
    * batch selection — pinned by BpeTrainSpec. */
  private[graft] val FoldBytesPerWord = 64L

  /** Greedy left-to-right merge of one adjacent pair in a symbol
    * sequence — the reference semantics ("a a a" + (a,a) → ["aa","a"]). */
  private[text] def mergePair(syms: Array[String], a: String, b: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  private def toSyms(word: String): Array[String] =
    (word.map(_.toString) :+ EndOfWord).toArray

  /** Learn `numMerges` merges from the corpus. Returns the ordered
    * merge list ((a, b) meaning symbol a followed by b fuses to ab).
    *
    * `autoBatch = true` grows the per-round batch with the merges
    * already learned (K = 1 + learned/4, capped at 256, floored at
    * `batchK`): early rounds run sequentially — exactly canonical BPE
    * while merges still interact heavily — and later rounds batch
    * aggressively where top pairs are overwhelmingly symbol-disjoint.
    * Round count then grows ~logarithmically in numMerges instead of
    * linearly, which is what makes a realistic ≥1k-merge vocabulary
    * affordable when every round is a driver-coordinated job. */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
            batchK: Int = 1, autoBatch: Boolean = false): Seq[(String, String)] =
    trainCapped(docs, textCol, numMerges, batchK, autoBatch,
      graft.ops.Adaptive.foldRows(FoldBytesPerWord).toInt)

  /** [[train]] under a given fold cap (0: fold only an empty vocabulary). */
  private[graft] def trainCapped(docs: DataFrame, textCol: String, numMerges: Int,
      batchK: Int, autoBatch: Boolean, foldRows: Int): Seq[(String, String)] = {
    require(numMerges > 0 && batchK >= 1)
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE corpus pass builds the word-frequency table (checkpointed so
    // the fold-tier probe below never re-runs it); the merge loop then
    // runs wherever the vocabulary's size says it should.
    val wf = Bpe.wordFreq(docs, textCol).as[(String, Long)]
      .localCheckpoint(true)
    // bounded driver fold (see [[FoldBytesPerWord]]): the limit-probed
    // collect reads the checkpoint, costs one vocab-bounded job, and
    // decides the tier — at or below the cap the whole loop runs on
    // the driver with bit-identical semantics; above it, distributed.
    val head = wf.limit(foldRows + 1).collect()
    if (head.length <= foldRows) {
      wf.unpersist()
      return trainLocal(head, numMerges, batchK, autoBatch)
    }
    // localCheckpoint (not persist): each round's rewrite chains a map
    // on the previous round's Dataset, so by round N the lineage is N
    // plans deep — Catalyst re-analyzes the whole chain every round
    // (quadratic overall) and a long training run overflows the stack
    // just printing the tree. Eager localCheckpoint materializes AND
    // truncates the lineage, keeping every round's plan constant-size
    // (the same flat-cost discipline as kmeansCentroids' driver loop).
    var vocab: Dataset[(Array[String], Long)] = wf
      .map { case (w, f) => (toSyms(w), f) }
      .localCheckpoint(true)
    wf.unpersist()
    // previous round's vocab blocks: releasable only after the CURRENT
    // round's (lazily-checkpointed) vocab has materialized — which the
    // pair-count action below does, so each round costs exactly ONE
    // job-bearing action (the CC/convergence-fold discipline applied
    // here; the eager per-round checkpoint was a second job per round)
    var prevVocab: Dataset[(Array[String], Long)] = null

    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var rounds = 0
    while (merges.length < numMerges) {
      rounds += 1
      val k = if (autoBatch)
        math.max(batchK, math.min(256, 1 + merges.length / 4)) else batchK
      val want = math.min(k, numMerges - merges.length)
      // 1. weighted pair counts — every adjacent position, matching
      // the reference get_stats (overlapping runs like "a a a" count
      // (a,a) twice even though one merge pass fuses only once)
      val top = vocab.flatMap { case (syms, f) =>
        (0 until syms.length - 1).map(i => ((syms(i), syms(i + 1)), f))
      }.groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
        // deterministic top-K: count desc, pair asc
        .map { case (p, n) => (p._1, p._2, n) }
        .orderBy(col("_3").desc, col("_1").asc, col("_2").asc)
        .limit(math.max(want * 4, want)).collect()
      // the count action above materialized this round's vocab — the
      // previous round's blocks are now safe to drop
      if (prevVocab ne null) { prevVocab.unpersist(); prevVocab = null }
      if (top.isEmpty) return merges.toSeq // vocab fully fused

      // 2. greedily keep top pairs whose symbols EXISTED at round
      // start — a pair touching a symbol produced this round has no
      // counted statistics yet and must wait. Pairs sharing a SOURCE
      // symbol may co-merge (applied in rank order, so the outcome is
      // deterministic); their counts are one application stale, the
      // staleness batching already accepts. The earlier fully-disjoint
      // rule throttled batches to a handful of pairs per round on
      // small alphabets (hex-ish corpora), stretching a 1k-merge run
      // into hundreds of rounds for no quality gain.
      val chosen = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      val produced = scala.collection.mutable.Set.empty[String]
      top.iterator.takeWhile(_ => chosen.length < want).foreach { case (a, b, _) =>
        if (!produced(a) && !produced(b)) {
          chosen += ((a, b)); produced += a + b
        }
      }
      if (chosen.isEmpty) return merges.toSeq
      merges ++= chosen

      // 3. rewrite the vocab with this round's merges applied in order
      val picked = chosen.toArray
      val old = vocab
      vocab = old.map { case (syms, f) =>
        (picked.foldLeft(syms) { case (s, (a, b)) => mergePair(s, a, b) }, f)
      }.localCheckpoint(false)
      prevVocab = old
      ()
    }
    if (prevVocab ne null) prevVocab.unpersist()
    vocab.unpersist()
    merges.toSeq
  }

  /** UTF-8 binary "less than" — code-point order, exactly the order
    * Spark's UTF8String gives the distributed loop's `orderBy(pair
    * asc)`. Scala's String.compareTo ranks by UTF-16 code UNIT, which
    * disagrees for supplementary characters vs [U+E000, U+FFFF] — the
    * driver fold must not diverge there. */
  private[text] def utf8Lt(a: String, b: String): Boolean = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return ca < cb
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    (a.length - i) < (b.length - j)
  }

  /** The driver-resident merge loop — semantics bit-identical to the
    * distributed rounds in [[train]]: same greedy adjacent-pair
    * counting weighted by word frequency, same (count desc, pair asc)
    * rank, same top-(want·4) candidate window, same
    * produced-symbol-excluding batch selection, same in-order rewrite.
    * Symbols are interned to ints (pair counting in a packed-long map,
    * rewrites on int arrays); candidate rank compares the interned
    * symbols' cached UTF-8 bytes — the same order Spark's UTF8String
    * gives the distributed orderBy. Cost: O(Σ syms) counting + one
    * capped-heap selection per round, no jobs. */
  private def trainLocal(wordFreq: Array[(String, Long)], numMerges: Int,
      batchK: Int, autoBatch: Boolean): Seq[(String, String)] = {
    val symOf = new scala.collection.mutable.AnyRefMap[String, Int]()
    val syms = scala.collection.mutable.ArrayBuffer.empty[String]
    val symBytes = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    def intern(s: String): Int = symOf.getOrElseUpdate(s, {
      syms += s
      symBytes += s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      syms.length - 1
    })
    // unsigned byte compare over cached UTF-8 = UTF8String's order
    def bytesLt(x: Int, y: Int): Boolean = {
      val a = symBytes(x); val b = symBytes(y)
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d < 0
        i += 1
      }
      a.length < b.length
    }
    var vocab: Array[(Array[Int], Long)] =
      wordFreq.map { case (w, f) => (toSyms(w).map(intern), f) }
    def mergePairInt(s: Array[Int], a: Int, b: Int, ab: Int): Array[Int] = {
      val out = new scala.collection.mutable.ArrayBuffer[Int](s.length)
      var i = 0
      while (i < s.length) {
        if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
          out += ab; i += 2
        } else { out += s(i); i += 1 }
      }
      out.toArray
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (merges.length < numMerges) {
      val k = if (autoBatch)
        math.max(batchK, math.min(256, 1 + merges.length / 4)) else batchK
      val want = math.min(k, numMerges - merges.length)
      val counts = new scala.collection.mutable.LongMap[Long]()
      vocab.foreach { case (ws, f) =>
        var i = 0
        while (i < ws.length - 1) {
          val p = (ws(i).toLong << 32) | (ws(i + 1).toLong & 0xffffffffL)
          counts(p) = counts.getOrElse(p, 0L) + f
          i += 1
        }
      }
      // bounded top-(want·4) selection: a size-capped heap evicting
      // the worst-ranked candidate — O(pairs·log lim), not a full sort
      def rankLt(x: (Long, Long), y: (Long, Long)): Boolean = {
        if (x._2 != y._2) return x._2 > y._2
        val xa = (x._1 >>> 32).toInt; val ya = (y._1 >>> 32).toInt
        if (xa != ya) return bytesLt(xa, ya)
        bytesLt(x._1.toInt, y._1.toInt)
      }
      val lim = math.max(want * 4, want)
      val pq = scala.collection.mutable.PriorityQueue
        .empty(Ordering.fromLessThan(rankLt))
      counts.foreach { case (p, n) =>
        pq.enqueue((p, n))
        if (pq.size > lim) pq.dequeue()
      }
      val top = pq.dequeueAll.reverse
      if (top.isEmpty) return merges.toSeq // vocab fully fused
      val chosen = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
      val produced = scala.collection.mutable.Set.empty[Int]
      top.iterator.takeWhile(_ => chosen.length < want).foreach { case (p, _) =>
        val a = (p >>> 32).toInt
        val b = p.toInt
        if (!produced(a) && !produced(b)) {
          val ab = intern(syms(a) + syms(b))
          chosen += ((a, b, ab)); produced += ab
        }
      }
      if (chosen.isEmpty) return merges.toSeq
      merges ++= chosen.map { case (a, b, _) => (syms(a), syms(b)) }
      val picked = chosen.toArray
      // rewrite, skipping no-ops: a pair rewrites a word only when
      // BOTH symbols occur in it — probe a per-word symbol set instead
      // of scanning every word for every picked pair (a late autoBatch
      // round picks up to 256 pairs). The set only grows (merged
      // symbols may survive elsewhere) — pure pruning, identical
      // rewrites in identical order.
      vocab = vocab.map { case (ws, f) =>
        val present = scala.collection.mutable.BitSet.empty
        ws.foreach(present += _)
        var s = ws
        picked.foreach { case (a, b, ab) =>
          if (present.contains(a) && present.contains(b)) {
            val merged = mergePairInt(s, a, b, ab)
            if (merged.length != s.length) { s = merged; present += ab }
          }
        }
        (s, f)
      }
    }
    merges.toSeq
  }

  /** Apply a learned merge list to a corpus: adds `tokens`
    * (`array<string>`, the BPE symbols of the whitespace-split
    * case-folded words, `</w>`-terminated) and `n_bpe_tokens`.
    * Order-faithful greedy application, one pass per merge per word —
    * reference semantics; partition-local, no shuffle. */
  def segment(docs: DataFrame, textCol: String,
              merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    val bc = spark.sparkContext.broadcast(merges.toArray)
    val schema = org.apache.spark.sql.types.StructType(docs.schema.fields ++ Seq(
      org.apache.spark.sql.types.StructField("tokens",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
      org.apache.spark.sql.types.StructField("n_bpe_tokens",
        org.apache.spark.sql.types.LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val idx = docs.schema.fieldIndex(textCol)
    // widenScan (r21): the per-word merge loop is the heavy per-row
    // stage; on an unsplittable local file it ran single-task
    graft.ops.Adaptive.widenScan(docs).mapPartitions { rows =>
      val ms = bc.value
      rows.map { r =>
        val text = r.getString(idx)
        if (text == null) org.apache.spark.sql.Row.fromSeq(r.toSeq ++ Seq(null, null))
        else {
          val toks = text.toLowerCase.split("\\s+").iterator.filter(_.nonEmpty)
            .flatMap { w =>
              ms.foldLeft(toSyms(w)) { case (s, (a, b)) => mergePair(s, a, b) }
            }.toArray
          org.apache.spark.sql.Row.fromSeq(
            r.toSeq ++ Seq[Any](toks, toks.length.toLong))
        }
      }
    }(enc)
  }

  /** Persist a learned merge list as a parquet table `(rank, left,
    * right)` — the tokenizer artifact of the induction, the same
    * "model is a small table" convention as Ann.saveCentroids /
    * NbClassifier.saveModel: train once on the reference corpus,
    * [[segment]] any corpus anywhere from the loaded list. Rank
    * preserves application order (merge order IS the tokenizer). */
  def saveMerges(spark: org.apache.spark.sql.SparkSession,
                 merges: Seq[(String, String)], path: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }
      .toDF("rank", "left", "right")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a merge list persisted by [[saveMerges]], in rank order. */
  def loadMerges(spark: org.apache.spark.sql.SparkSession,
                 path: String): Seq[(String, String)] =
    spark.read.parquet(path)
      .select("rank", "left", "right")
      .collect()
      .sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2)))
      .toSeq
}
