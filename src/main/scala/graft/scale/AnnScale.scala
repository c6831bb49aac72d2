package graft
package scale

import graft.Smoke.{time, withTempDir}
import graft.ops.{Ann, Pq}
import graft.streaming.AnnIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search at scale over hash-derived 64-dim vectors (no
  * driver state): the IVF serving shape, the quantizer frontier, the
  * auto quantizer, PQ codes, index maintenance under drift, and the
  * text→embeddings→kNN path. Every recall is measured against exact
  * brute-force top-10 truth for the first 100 ids. Size: corpus rows
  * (text2vec: corpus variants per document). */
object AnnScale {

  private val K = 10

  /** `n` cells (or probed cells), as configured for `default` rows,
    * scaled to a corpus of `rows`: at most `n`, at least 4. */
  private def scaled(n: Int, rows: Long, default: Long = 2000000L): Int =
    math.min(n.toLong, math.max(4L, n * rows / default)).toInt

  /** Structure-free directions: IVF's adversarial case. */
  private val Uniform =
    "transform(sequence(0, 63), j -> CAST(pmod(xxhash64(id, j), 2000) / 1000.0 - 1.0 AS FLOAT))"

  /** 2000 hash centers (scale ±1) + ±0.1 per-component noise: the case
    * hierarchical routing exists for. */
  private val Clustered = "transform(sequence(0, 63), j -> CAST(" +
    "pmod(xxhash64(pmod(xxhash64(id), 2000), j), 2000) / 1000.0 - 1.0 + " +
    "pmod(xxhash64(id, j, 7), 200) / 1000.0 - 0.1 AS FLOAT))"

  /** `df` written as parquet at `path` and read back: later stages scan
    * the landed rows, not their derivation. */
  private def landed(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** (vec_id, embedding) rows [from, until) of `gen`, landed at `path`. */
  private def vectors(spark: SparkSession, gen: String, path: String,
      until: Long, from: Long = 0L): DataFrame =
    landed(spark.range(from, until).select(col("id").as("vec_id"), expr(gen).as("embedding")), path)

  /** Manifold-shaped, L2-normalized corpus: rows/10 hash centers with
    * noise comparable to the center scale. The parquet barrier between
    * generation and normalization keeps CollapseProject from inlining
    * the raw derivation into the normalize lambda (per element). */
  private def manifold(spark: SparkSession, rows: Long, dir: String): DataFrame = {
    val raw = "transform(sequence(0, 63), j -> " +
      s"pmod(xxhash64(pmod(xxhash64(id), ${math.max(rows / 10, 1)}), j), 2000) / 1000.0 - 1.0 + " +
      "pmod(xxhash64(id, j, 7), 800) / 1000.0 - 0.4)"
    val withNorm = landed(spark.range(rows).select(col("id").as("vec_id"), expr(raw).as("vr"))
      .withColumn("nrm", expr("sqrt(aggregate(vr, 0D, (a, v) -> a + v * v))")), s"$dir/raw")
    landed(withNorm.select(col("vec_id"),
      expr("transform(vr, x -> CAST(x / nrm AS FLOAT))").as("embedding")), s"$dir/emb")
  }

  private def queriesOf(corpus: DataFrame, from: Long = 0L): DataFrame =
    corpus.where(col("vec_id") >= from && col("vec_id") < from + 100)

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Exact top-10 (query, neighbor) pairs and their wall seconds. */
  private def truth(corpus: DataFrame, queries: DataFrame): (Set[(Long, Long)], Double) =
    time(pairs(Ann.bruteTopK(corpus, queries, "vec_id", "embedding", K)))

  private def recall(got: Set[(Long, Long)], truth: Set[(Long, Long)]): Double =
    truth.count(got.contains).toDouble / truth.size

  private def cellsOf(corpus: DataFrame, n: Int): DataFrame = corpus.where(col("vec_id") < n)
    .select(col("vec_id").as("cent_id"), col("embedding").as("cent_vec"))

  /** (query_id, cell) of the `nprobe` cells each query probes. */
  private def probed(queries: DataFrame, cents: DataFrame, nprobe: Int): DataFrame =
    queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .crossJoin(broadcast(Ann.centroidArray(cents)))
      .select(col("query_id"), explode(Ann.topCells(col("qv"), col("cents"), nprobe)).as("p"))
      .select(col("query_id"), col("p.cent_id").as("cell"))

  /** Mean over queries of the rows in the cells it probes, over the
    * corpus rows: the scan a query pays, from the index as written (not
    * nprobe/cells, which assumes uniform cells). */
  private def scanFraction(index: DataFrame, probes: DataFrame, rows: Long): Double =
    probes.join(index.groupBy("cell").count(), Seq("cell"))
      .groupBy("query_id").agg(sum("count").as("s")).agg(avg("s")).head().getDouble(0) / rows

  /** Codegen and JIT on a 10k-row slice before the timed brute truth. */
  private def warmUp(corpus: DataFrame, queries: DataFrame): Unit =
    Ann.bruteTopK(corpus.where(col("vec_id") < 10000), queries, "vec_id", "embedding", K).count()

  private def truthFields(truth: Set[(Long, Long)], queries: DataFrame): Fields =
    Fields("queries" -> queries.count(), "k" -> K, "truth_pairs" -> truth.size.toLong)

  /** Every query has k truths, and every recall/fraction named by
    * `unit` (in any nested Fields or Seq of them) lies in [0, 1]. */
  private def checkAnn(unit: String*)(f: Fields): Unit = {
    require(f.long("truth_pairs") == f.long("queries") * K,
      s"${f("truth_pairs")} truth pairs for ${f("queries")} queries at k=$K")
    def walk(v: Any): Unit = v match {
      case g: Fields => g.kv.foreach { case (k, x) =>
        if (unit.contains(k)) {
          val d = g.double(k)
          require(d >= 0 && d <= 1, s"$k = $d outside [0, 1] in $g")
        }
        walk(x)
      }
      case s: Seq[_] => s.foreach(walk)
      case _ => ()
    }
    walk(f)
  }

  /** The serving shape: brute truth, a one-time 512-cell index build
    * ([[AnnIngest.processBatch]]), partition-pruned probes at nprobe 50
    * (the frontier's winner; cell counts here and below are for 2M
    * rows, and scale with the corpus), and semantic dedup over 1%
    * planted near-copies (cosine ≈ 1): survivors lie in [rows, rows + planted),
    * since a copy can miss its source's bucket when a hyperplane dot
    * sits within ε of zero. */
  private def serving(spark: SparkSession, rows: Long): Fields = withTempDir("scale-ann") { dir =>
    val corpus = vectors(spark, Uniform, s"$dir/emb", rows)
    val queries = queriesOf(corpus)
    val (numCells, nprobe) = (scaled(512, rows), scaled(50, rows))
    val cents = cellsOf(corpus, numCells)
    warmUp(corpus, queries)
    val (tr, tBrute) = truth(corpus, queries)
    val (_, tBuild) = time(AnnIngest.processBatch(corpus, cents, "vec_id", "embedding",
      s"$dir/ivf", "smoke", 0L))
    val (got, tProbe) = time(pairs(AnnIngest.probe(spark, s"$dir/ivf", cents, queries,
      "vec_id", "embedding", k = K, nprobe = nprobe)))
    val nDup = math.max(1L, rows / 100)
    val dups = spark.range(nDup).select((col("id") + rows).as("vec_id"), expr("transform(" +
      "sequence(0, 63), j -> CAST(pmod(xxhash64(id, j), 2000) / 1000.0 - 1.0 + 0.0005 AS FLOAT))")
      .as("embedding"))
    val (nSurv, tSem) = time(Ann.semanticSurvivors(corpus.union(dups), "vec_id", "embedding",
      threshold = 0.999, numPlanes = 16).count())
    Fields("metric" -> "ann_scale", "rows" -> rows, "dim" -> 64) ++ truthFields(tr, queries) ++
      Fields("brute_sec" -> tBrute, "index_build_sec" -> tBuild, "probe_sec" -> tProbe,
        "probe_recall" -> recall(got, tr), "cells" -> numCells, "nprobe" -> nprobe,
        "semantic_dedup" -> Fields("corpus" -> (rows + nDup), "injected_dups" -> nDup,
          "survivors" -> nSurv, "dedup_recall" -> (rows + nDup - nSurv).toDouble / nDup,
          "sec" -> tSem, "planes" -> 16, "threshold" -> 0.999))
  }

  private def checkServing(f: Fields): Unit = {
    checkAnn("probe_recall", "dedup_recall")(f)
    val (rows, d) = (f.long("rows"), f.obj("semantic_dedup"))
    require(d.long("survivors") >= rows && d.long("survivors") < rows + d.long("injected_dups"),
      s"survivors ${d("survivors")} outside [$rows, ${rows + d.long("injected_dups")})")
  }

  /** Serving frontier: flat vs two-level IVF configs on one corpus —
    * build, probe, recall and scan fraction per config. */
  private def frontier(clustered: Boolean)(spark: SparkSession, rows: Long): Fields =
    withTempDir("scale-ann-frontier") { dir =>
      val corpus = vectors(spark, if (clustered) Clustered else Uniform, s"$dir/emb", rows)
      val queries = queriesOf(corpus)
      warmUp(corpus, queries)
      val (tr, tBrute) = truth(corpus, queries)
      val flat = for (((c, p), i) <- Seq((256, 40), (512, 50)).zipWithIndex) yield {
        val (numCells, nprobe) = (scaled(c, rows), scaled(p, rows))
        val cents = cellsOf(corpus, numCells)
        val idx = s"$dir/flat$i"
        val (_, tBuild) = time(
          AnnIngest.processBatch(corpus, cents, "vec_id", "embedding", idx, "f", 0L))
        val (got, tProbe) = time(pairs(AnnIngest.probe(spark, idx, cents, queries,
          "vec_id", "embedding", K, nprobe)))
        Fields("kind" -> "flat", "cells" -> numCells, "nprobe" -> nprobe, "build_sec" -> tBuild,
          "probe_sec" -> tProbe, "recall" -> recall(got, tr),
          "scan_fraction" ->
            scanFraction(spark.read.parquet(idx), probed(queries, cents, nprobe), rows))
      }
      // (numCoarse, numFine, nCoarseProbe, nprobe): the coarse probe
      // costs only query-side centroid scores, so it runs high; the
      // scan budget is nprobe fine cells
      val twoLevelConfigs = Seq((64, 8, 32, 50), (64, 8, 64, 50), (64, 16, 48, 100))
      val twoLevel = for (((c, nf, q, p), i) <- twoLevelConfigs.zipWithIndex) yield {
        val (nc, pc, np) = (scaled(c, rows), scaled(q, rows), scaled(p, rows))
        val (coarse, fine) = Ann.twoLevelCentroids(corpus, "vec_id", "embedding", nc, nf)
        val idx = s"$dir/twolevel$i"
        val (_, tBuild) = time(AnnIngest.processBatch2(corpus, coarse, fine, "vec_id", "embedding",
          idx, "f", 0L))
        val (got, tProbe) = time(pairs(AnnIngest.probe2(spark, idx, coarse, fine, queries,
          "vec_id", "embedding", K, pc, np)))
        val probes = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
          .crossJoin(broadcast(Ann.twoLevelArrays(coarse, fine)))
          .select(col("query_id"),
            explode(Ann.topCells2(col("qv"), col("cents"), col("fines"), pc, np)).as("p"))
          .select(col("query_id"), col("p.cent_id").as("cell"))
        Fields("kind" -> "two_level", "coarse" -> nc, "fine_per_cell" -> nf, "cells" -> nc * nf,
          "coarse_probe" -> pc, "nprobe" -> np, "build_sec" -> tBuild, "probe_sec" -> tProbe,
          "recall" -> recall(got, tr),
          "scan_fraction" -> scanFraction(spark.read.parquet(idx), probes, rows))
      }
      Fields("metric" -> "ann_frontier", "rows" -> rows, "dim" -> 64) ++ truthFields(tr, queries) ++
        Fields("data" -> (if (clustered) "clustered" else "uniform"), "brute_sec" -> tBrute,
          "configs" -> (flat ++ twoLevel))
    }

  /** Auto quantizer on both frontier corpora: the clusteredness probe
    * picks flat or two-level, [[AnnIngest.buildAuto]] persists the
    * choice into the index, [[AnnIngest.probeAuto]] routes through it. */
  private def auto(spark: SparkSession, rows: Long): Fields = withTempDir("scale-ann-auto") { dir =>
    val corpora = for (clustered <- Seq(false, true)) yield {
      val data = if (clustered) "clustered" else "uniform"
      val corpus = vectors(spark, if (clustered) Clustered else Uniform, s"$dir/emb-$data", rows)
      val queries = queriesOf(corpus)
      val (tr, _) = truth(corpus, queries)
      val idx = s"$dir/idx-$data"
      val (choice, tBuild) = time(AnnIngest.buildAuto(corpus, "vec_id", "embedding", idx, "auto",
        0L, numCells = scaled(512, rows), numCoarse = scaled(64, rows), numFine = 8))
      val (got, tProbe) = time(pairs(AnnIngest.probeAuto(spark, idx, queries, "vec_id",
        "embedding", K, nCoarseProbe = scaled(32, rows), nprobe = scaled(50, rows))))
      Fields("data" -> data, "chosen" -> choice.kind,
        "measured_winner" -> (if (clustered) "two_level" else "flat"),
        "persisted_equal" -> (AnnIngest.readQuantizerChoice(idx) == choice),
        "mean_top_cosine" -> choice.meanTopCosine, "threshold" -> choice.threshold,
        "build_sec" -> tBuild, "probe_sec" -> tProbe, "recall" -> recall(got, tr)) ++
        truthFields(tr, queries)
    }
    Fields("metric" -> "ann_auto_quantizer", "rows" -> rows, "dim" -> 64, "k" -> K,
      "corpora" -> corpora)
  }

  private def checkAuto(f: Fields): Unit = f.seq("corpora").map(_.asInstanceOf[Fields]).foreach { c =>
    checkAnn("recall")(c)
    require(c.bool("persisted_equal"),
      s"${c("data")}: the persisted quantizer choice differs from the live one")
  }

  /** PQ at 8×256 codebooks (8-byte codes, 32× compression) on the
    * manifold corpus: raw ADC top-10, ADC shortlist-200 + exact rerank,
    * IVF×PQ on 512 md5-sampled cells and its residual variant, plus an
    * ECOD depths pass over the same corpus. */
  private def pq(spark: SparkSession, rows: Long): Fields = withTempDir("scale-ann-pq") { dir =>
    val corpus = manifold(spark, rows, dir)
    val queries = queriesOf(corpus)
    val (tr, tBrute) = truth(corpus, queries)
    val (model, tTrain) = time {
      val trained = Pq.train(corpus, "vec_id", "embedding", m = 8, ksub = 256, iters = 3)
      trained.count(); trained
    }
    val (codes, tEncode) =
      time(landed(Pq.encode(corpus, "vec_id", "embedding", model), s"$dir/codes"))
    val (gotRaw, tProbe) = time(pairs(
      Pq.adcTopK(codes, queries, "vec_id", "embedding", model, K + 1)
        .where(col("query_id") =!= col("neighbor_id"))))
    val (gotRr, tRerank) = time(pairs(Pq.adcRerankTopK(codes, corpus, queries, "vec_id",
      "embedding", model, k = K, shortlist = 200)))
    val (numCells, nprobe) = (scaled(512, rows), scaled(50, rows))
    val cents = corpus.select(col("vec_id").as("cent_id"), col("embedding").as("cent_vec"))
      .orderBy(md5(col("cent_id").cast("string")).asc, col("cent_id").asc).limit(numCells)
    val (codesCells, tCellEncode) = time(landed(
      Pq.encodeWithCells(corpus, "vec_id", "embedding", model, cents), s"$dir/codes_cells"))
    val (gotIvf, tIvfProbe) = time(pairs(Pq.ivfAdcTopK(codesCells, corpus, queries, "vec_id",
      "embedding", model, cents, k = K, nprobe = nprobe, shortlist = 200)))
    val ((codesRes, mres), tResEncode) = time {
      val trained = Pq.trainResidual(corpus, "vec_id", "embedding", cents, m = 8, ksub = 256,
        iters = 3)
      (landed(Pq.encodeResidualWithCells(corpus, "vec_id", "embedding", trained, cents),
        s"$dir/codes_res"), trained)
    }
    val (gotRes, tResProbe) = time(pairs(Pq.ivfAdcResidualTopK(codesRes, corpus, queries,
      "vec_id", "embedding", mres, cents, k = K, nprobe = nprobe, shortlist = 200)))
    val (_, tEcod) = time(graft.ops.Ecod.depths(corpus, "vec_id", "embedding", quant = 1000)
      .agg(min("depth"), max("depth")).collect())
    Fields("metric" -> "ann_pq_smoke", "rows" -> rows, "dim" -> 64) ++ truthFields(tr, queries) ++
      Fields("m" -> 8, "ksub" -> 256, "bytes_per_vec" -> 8, "compression_x" -> 32,
        "brute_sec" -> tBrute, "train_sec" -> tTrain, "encode_sec" -> tEncode,
        "adc_probe_sec" -> tProbe, "adc_recall_at_10" -> recall(gotRaw, tr),
        "rerank_probe_sec" -> tRerank, "rerank200_recall_at_10" -> recall(gotRr, tr),
        "ivfadc_cells" -> numCells, "ivfadc_nprobe" -> nprobe, "ivfadc_encode_sec" -> tCellEncode,
        "ivfadc_probe_sec" -> tIvfProbe, "ivfadc_recall_at_10" -> recall(gotIvf, tr),
        "ivfadc_res_encode_sec" -> tResEncode, "ivfadc_res_probe_sec" -> tResProbe,
        "ivfadc_res_recall_at_10" -> recall(gotRes, tr), "ecod_sec" -> tEcod)
  }

  /** Residual vs raw IVFADC on TRAINED cells ([[Ann.kmeansCentroids]],
    * 512 cells): both variants on the identical corpus, cells, m/ksub
    * (equal bytes) and nprobe (equal scan). */
  private def pqResidual(spark: SparkSession, rows: Long): Fields = withTempDir("scale-ann-pqres") { dir =>
    val corpus = manifold(spark, rows, dir)
    val queries = queriesOf(corpus)
    val (tr, tBrute) = truth(corpus, queries)
    val numCells = scaled(512, rows)
    val (cents, tCells) = time(
      Ann.kmeansCentroids(corpus, "vec_id", "embedding", k = numCells, iters = 5)
        .localCheckpoint(eager = true))
    val (m, ksub, nprobe, shortlist) = (8, 256, scaled(50, rows), 200)
    def variant(residual: Boolean): Fields = {
      val (model, tTrain) = time {
        val mm =
          if (residual) Pq.trainResidual(corpus, "vec_id", "embedding", cents, m, ksub, iters = 3)
          else Pq.train(corpus, "vec_id", "embedding", m, ksub, iters = 3)
        mm.count(); mm
      }
      val (codes, tEnc) = time(landed(
        if (residual) Pq.encodeResidualWithCells(corpus, "vec_id", "embedding", model, cents)
        else Pq.encodeWithCells(corpus, "vec_id", "embedding", model, cents),
        s"$dir/codes_${if (residual) "res" else "raw"}"))
      val (got, tProbe) = time(pairs(
        if (residual) Pq.ivfAdcResidualTopK(codes, corpus, queries, "vec_id", "embedding", model,
          cents, k = K, nprobe, shortlist)
        else Pq.ivfAdcTopK(codes, corpus, queries, "vec_id", "embedding", model, cents, k = K,
          nprobe, shortlist)))
      Fields("train_sec" -> tTrain, "encode_sec" -> tEnc, "probe_sec" -> tProbe,
        "recall_at_10" -> recall(got, tr))
    }
    val raw = variant(residual = false)
    val res = variant(residual = true)
    Fields("metric" -> "ann_pq_residual_trained_cells", "rows" -> rows, "dim" -> 64) ++
      truthFields(tr, queries) ++
      Fields("m" -> m, "ksub" -> ksub, "bytes_per_vec" -> m, "cells" -> numCells,
        "cells_trained" -> true, "kmeans_iters" -> 5, "nprobe" -> nprobe, "shortlist" -> shortlist,
        "scan_fraction" ->
          scanFraction(spark.read.parquet(s"$dir/codes_raw"), probed(queries, cents, nprobe), rows),
        "brute_sec" -> tBrute, "cells_train_sec" -> tCells, "raw" -> raw, "residual" -> res)
  }

  /** Index maintenance under drift ([[AnnIngest.recluster]]): an index
    * whose quantizer saw only the early world ingests a drifted half (a
    * region no early centroid is near), so drifted rows crowd the few
    * nearest cells; recluster retrains from the index, rewrites it and
    * swaps one generation marker. Measured before and after. */
  private def recluster(spark: SparkSession, rows: Long): Fields =
      withTempDir("scale-ann-recluster") { dir =>
    val idx = s"$dir/index"
    val (numCells, nprobe) = (scaled(256, rows, 500000L), scaled(10, rows, 500000L))
    // 1000 hash centers in [-1.1, 0.1]; the drifted world is shifted +1.5
    def gen(shift: String) = "transform(sequence(0, 63), j -> CAST(" +
      "pmod(xxhash64(pmod(xxhash64(id), 1000), j), 2000) / 1000.0 - 1.0 + " +
      s"pmod(xxhash64(id, j, 7), 200) / 1000.0 - 0.1 + $shift AS FLOAT))"
    val half = rows / 2
    val early = vectors(spark, gen("0.0"), s"$dir/early", half)
    val drift = vectors(spark, gen("1.5"), s"$dir/drift", rows, from = half)
    val cents0 = Ann.kmeansCentroids(early, "vec_id", "embedding", k = numCells, iters = 3)
    val (_, tIngest) = time {
      AnnIngest.processBatch(early, cents0, "vec_id", "embedding", idx, "r", 0L)
      AnnIngest.processBatch(drift, cents0, "vec_id", "embedding", idx, "r", 1L)
    }
    val queries = queriesOf(drift, from = half)
    val (tr, tBrute) = truth(early.unionAll(drift), queries)
    def generation = AnnIngest.currentDataPath(spark, idx).split('/').last
    /** The current generation: largest drifted-cell share, scan
      * fraction, recall, probe seconds. */
    def measure(cents: DataFrame): Fields = {
      val cur = spark.read.parquet(AnnIngest.currentDataPath(spark, idx))
      val drifted = cur.where(col("id") >= half).groupBy("cell").count()
        .select("count").collect().map(_.getLong(0))
      val (got, tProbe) = time(pairs(AnnIngest.probe(spark, idx, cents, queries, "vec_id",
        "embedding", K, nprobe)))
      Fields("generation" -> generation,
        "max_drift_cell_frac" -> drifted.max.toDouble / drifted.sum,
        "scan_frac" -> scanFraction(cur, probed(queries, cents, nprobe), rows),
        "recall" -> recall(got, tr), "probe_sec" -> tProbe)
    }
    val before = measure(cents0)
    val (cents1, tRecluster) = time(AnnIngest.recluster(spark, idx, numCells, iters = 3))
    val after = measure(cents1)
    Fields("metric" -> "ann_recluster", "rows" -> rows) ++ truthFields(tr, queries) ++
      Fields("cells" -> numCells, "nprobe" -> nprobe, "ingest_sec" -> tIngest,
        "brute_sec" -> tBrute, "recluster_sec" -> tRecluster, "before" -> before, "after" -> after)
  }

  private def checkRecluster(f: Fields): Unit = {
    checkAnn("max_drift_cell_frac", "scan_frac", "recall")(f)
    require(f.obj("before")("generation") != f.obj("after")("generation"),
      s"recluster did not swap the generation: ${f.obj("after")("generation")}")
  }

  /** Text → embeddings → kNN, the semantic-dedup path a training
    * pipeline runs: SGNS trains on the corpus,
    * [[graft.text.Sgns.docEmbeddings]] embeds each document as an
    * idf-weighted mean, and the IVF kNN graph must find the planted
    * twins: word-REVERSED copies of every tenth document, which a
    * bag-of-vectors mean embeds identically.
    * The corpus is `sfDir`'s documents widened by `variants` (words
    * rotated by r, every (r+2)-th dropped: distinct token multisets). */
  def textVec(sfDir: => String)(spark: SparkSession, variants: Long): Fields = {
    require(variants >= 1 && variants <= 10, s"$variants variants: 1 to 10")
    val base = spark.read.parquet(s"$sfDir/documents.parquet").select(col("doc_id"), col("text"))
    val words = split(col("text"), " ")
    val docs = base
      .select(col("doc_id"), explode(sequence(lit(0), lit(variants.toInt - 1))).as("r"), col("text"))
      .select((col("doc_id") * 10 + col("r")).as("doc_id"),
        when(col("r") === 0, col("text")).otherwise(array_join(filter(
          concat(slice(words, col("r") + 1, lit(100000)), slice(words, lit(1), col("r"))),
          (_, i) => i % (col("r") + 2) =!= 0), " ")).as("text"))
    val twinOffset = 10000000L
    val twins = docs.where(col("doc_id") % 10 === 0).select(
      (col("doc_id") + twinOffset).as("doc_id"),
      array_join(reverse(split(col("text"), " ")), " ").as("text"))
    val corpus = docs.unionAll(twins).localCheckpoint()
    val (nDocs, nTwins) = (corpus.count(), twins.count())
    val (model, trainSec) = time(graft.text.Sgns.train(
      graft.text.SkipGram.trainingPairs(corpus, "doc_id", "text", window = 2),
      dim = 32, epochs = 3, lr = 1.0, negatives = 5, topV = 4096))
    val ((emb, nEmb), embedSec) = time {
      val e = graft.text.Sgns.docEmbeddings(corpus, "doc_id", "text",
        model.embeddingsDf(spark)).localCheckpoint()
      (e, e.count())
    }
    val (knn, knnSec) = time(
      Ann.knnGraph(emb, "doc_id", "embedding", k = 1, cells = 256, nprobe = 16).localCheckpoint())
    val twinTop = knn.where(col("query_id") >= twinOffset && col("cosine") >= 0.999999)
    Fields("metric" -> "text2vec_scale", "variants" -> variants, "docs" -> nDocs,
      "planted_twins" -> nTwins, "embedded" -> nEmb, "twin_detected" -> twinTop.count(),
      "twin_exact" -> twinTop.where(col("neighbor_id") === col("query_id") - twinOffset).count(),
      "train_sec" -> trainSec, "embed_sec" -> embedSec, "knn_sec" -> knnSec,
      "docs_per_sec" -> (nDocs / (trainSec + embedSec + knnSec)).toLong)
  }

  private def checkTextVec(f: Fields): Unit = {
    val twins = f.long("planted_twins")
    require(f.long("embedded") == f.long("docs"), s"embedded ${f("embedded")} of ${f("docs")} docs")
    require(f.long("twin_detected") == twins,
      s"near-dup detection found ${f("twin_detected")} of $twins twins")
    // a document whose token multiset collides naturally may return its
    // collider instead of its own original
    require(f.long("twin_exact") >= twins * 99 / 100,
      s"twin identity recovered for ${f("twin_exact")} of $twins")
  }

  val all: Seq[ScaleCase] = Seq(
    ScaleCase("ann", "BENCH_SCALE_ANN.json", 2000000L, serving, checkServing),
    ScaleCase("ann_frontier", "BENCH_SCALE_ANN_FRONTIER.json", 2000000L,
      frontier(clustered = false), checkAnn("recall", "scan_fraction")),
    ScaleCase("ann_frontier_clustered", "BENCH_SCALE_ANN_FRONTIER_CLUSTERED.json", 2000000L,
      frontier(clustered = true), checkAnn("recall", "scan_fraction")),
    ScaleCase("ann_auto", "BENCH_SCALE_ANN_AUTO.json", 2000000L, auto, checkAuto),
    ScaleCase("ann_pq", "BENCH_SCALE_ANN_PQ.json", 2000000L, pq,
      checkAnn("adc_recall_at_10", "rerank200_recall_at_10", "ivfadc_recall_at_10",
        "ivfadc_res_recall_at_10")),
    ScaleCase("ann_pq_residual", "BENCH_SCALE_ANN_PQ_RESIDUAL.json", 2000000L, pqResidual,
      checkAnn("recall_at_10", "scan_fraction")),
    ScaleCase("ann_recluster", "BENCH_SCALE_ANN_RECLUSTER.json", 500000L, recluster, checkRecluster),
    ScaleCase("text2vec", "BENCH_SCALE_TEXT2VEC.json", 10L,
      textVec(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")), checkTextVec))
}
