package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Smoke.{fmt, time}

/** Scale smoke for similarity search over N hash-derived 64-dim
  * vectors (no driver state): exact brute-force top-10 for 100
  * queries, then the serving shape — build the cell-partitioned IVF
  * index ONCE (AnnIngest), probe the same 100 queries against it with
  * partition pruning. Reports brute vs build vs probe wall times and
  * probe recall against the brute ground truth. One JSON line →
  * BENCH_SCALE_ANN.json.
  */
object AnnScaleSmoke {

  /** Serving-frontier sweep (`runMain graft.AnnScaleSmoke frontier
    * [rows]`): measures flat vs two-level IVF configs on one corpus —
    * build (assign+write), probe, recall vs brute truth, and the
    * HONEST scan fraction (rows in probed cells / corpus, averaged
    * over queries — not nprobe/cells, which assumes uniform cells).
    * Output: one JSON line → BENCH_SCALE_ANN_FRONTIER.json. */
  def frontier(spark: SparkSession, rows: Long,
               clustered: Boolean = false): Unit = {
    import org.apache.spark.sql.DataFrame
    val dir = java.nio.file.Files.createTempDirectory("ann-frontier").toString
    // uniform: structure-free directions — IVF's adversarial case.
    // clustered: 2000 hash-derived centers + +/-0.1 per-component noise
    // (center scale +/-1) — the case hierarchical routing exists for.
    val gen = if (clustered)
      "transform(sequence(0, 63), j -> CAST(" +
        "pmod(xxhash64(pmod(xxhash64(id), 2000), j), 2000) / 1000.0 - 1.0 + " +
        "pmod(xxhash64(id, j, 7), 200) / 1000.0 - 0.1 AS FLOAT))"
    else
      "transform(sequence(0, 63), j -> CAST(pmod(xxhash64(id, j), 2000) / 1000.0 - 1.0 AS FLOAT))"
    spark.range(rows).select(col("id").as("vec_id"), expr(gen).as("embedding"))
      .write.mode("overwrite").parquet(s"$dir/emb")
    val corpus = spark.read.parquet(s"$dir/emb")
    val queries = corpus.where(col("vec_id") < 100)
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.ops.Ann.bruteTopK(corpus.where(col("vec_id") < 10000), queries,
      "vec_id", "embedding", 10).count() // warm codegen/JIT
    val (truth, tBrute) = time(pairs(
      graft.ops.Ann.bruteTopK(corpus, queries, "vec_id", "embedding", 10)))

    // scan fraction: average over queries of (rows in that query's
    // probed cells) / corpus rows, from the as-written index
    def scanFraction(spark: SparkSession, idx: String, probes: DataFrame): Double = {
      val sizes = spark.read.parquet(idx).groupBy("cell").count()
      val scanned = probes.join(sizes, Seq("cell"))
        .groupBy("query_id").agg(sum("count").as("s"))
        .agg(avg("s")).head().getDouble(0)
      scanned / rows
    }

    val results = scala.collection.mutable.ArrayBuffer.empty[String]

    // flat configs: (cells, nprobe)
    for ((numCells, nprobe) <- Seq((256, 40), (512, 50))) {
      val cents = corpus.where(col("vec_id") < numCells)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cent_vec"))
      val idx = s"$dir/flat$numCells"
      val (_, tBuild) = time(graft.streaming.AnnIngest.processBatch(
        corpus, cents, "vec_id", "embedding", idx, "f", 0L))
      val (got, tProbe) = time(pairs(graft.streaming.AnnIngest.probe(
        spark, idx, cents, queries, "vec_id", "embedding", 10, nprobe)))
      val recall = got.intersect(truth).size.toDouble / truth.size
      val probes = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        .crossJoin(broadcast(graft.ops.Ann.centroidArray(cents)))
        .select(col("query_id"),
          explode(graft.ops.Ann.topCells(col("qv"), col("cents"), nprobe)).as("p"))
        .select(col("query_id"), col("p.cent_id").as("cell"))
      val sf = scanFraction(spark, idx, probes)
      val line = s"""{"kind":"flat","cells":$numCells,"nprobe":$nprobe,""" +
        s""""build_sec":${fmt(tBuild, 2)},"probe_sec":${fmt(tProbe, 2)},""" +
        s""""recall":${fmt(recall, 3)},"scan_fraction":${fmt(sf, 4)}}"""
      println(s"FRONTIER $line")
      results += line
    }

    // two-level configs: (numCoarse, numFine, nCoarseProbe, nprobe).
    // nCoarseProbe costs only query-side centroid scores — never scan —
    // so it runs high; the scan budget is nprobe fine cells.
    for ((nc, nf, pc, np) <- Seq((64, 8, 32, 50), (64, 8, 64, 50), (64, 16, 48, 100))) {
      val (coarse, fine) = graft.ops.Ann.twoLevelCentroids(
        corpus, "vec_id", "embedding", nc, nf)
      val idx = s"$dir/twolevel-$nc-$nf-$pc-$np"
      val (_, tBuild) = time(graft.streaming.AnnIngest.processBatch2(
        corpus, coarse, fine, "vec_id", "embedding", idx, "f", 0L))
      val (got, tProbe) = time(pairs(graft.streaming.AnnIngest.probe2(
        spark, idx, coarse, fine, queries, "vec_id", "embedding", 10, pc, np)))
      val recall = got.intersect(truth).size.toDouble / truth.size
      val probes = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        .crossJoin(broadcast(graft.ops.Ann.twoLevelArrays(coarse, fine)))
        .select(col("query_id"),
          explode(graft.ops.Ann.topCells2(col("qv"), col("cents"), col("fines"), pc, np)).as("p"))
        .select(col("query_id"), col("p.cent_id").as("cell"))
      val sf = scanFraction(spark, idx, probes)
      val line = s"""{"kind":"two_level","coarse":$nc,"fine_per_cell":$nf,""" +
        s""""cells":${nc * nf},"coarse_probe":$pc,"nprobe":$np,""" +
        s""""build_sec":${fmt(tBuild, 2)},"probe_sec":${fmt(tProbe, 2)},""" +
        s""""recall":${fmt(recall, 3)},"scan_fraction":${fmt(sf, 4)}}"""
      println(s"FRONTIER $line")
      results += line
    }
    val data = if (clustered) "clustered" else "uniform"
    val json = s"""{"metric":"ann_frontier","rows":$rows,"dim":64,"queries":100,""" +
      s""""k":10,"data":"$data","brute_sec":${fmt(tBrute, 2)},""" +
      s""""configs":[${results.mkString(",")}]}"""
    Smoke.artifact(if (clustered) "BENCH_SCALE_ANN_FRONTIER_CLUSTERED.json"
      else "BENCH_SCALE_ANN_FRONTIER.json", json)
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  /** Auto-quantizer smoke (`runMain graft.AnnScaleSmoke auto [rows]`):
    * runs the clusteredness probe + auto choice on BOTH frontier
    * corpora and checks each against the measured frontier winner
    * (uniform → flat, clustered → two_level), then closes the serving
    * loop — buildAuto persists model+decision into the index dir,
    * probeAuto routes through it, recall vs brute truth reported.
    * One JSON line → BENCH_SCALE_ANN_AUTO.json. */
  def auto(spark: SparkSession, rows: Long): Unit = {
    import org.apache.spark.sql.DataFrame
    val dir = java.nio.file.Files.createTempDirectory("ann-auto").toString
    val results = scala.collection.mutable.ArrayBuffer.empty[String]
    for (clustered <- Seq(false, true)) {
      val gen = if (clustered)
        "transform(sequence(0, 63), j -> CAST(" +
          "pmod(xxhash64(pmod(xxhash64(id), 2000), j), 2000) / 1000.0 - 1.0 + " +
          "pmod(xxhash64(id, j, 7), 200) / 1000.0 - 0.1 AS FLOAT))"
      else
        "transform(sequence(0, 63), j -> CAST(pmod(xxhash64(id, j), 2000) / 1000.0 - 1.0 AS FLOAT))"
      val data = if (clustered) "clustered" else "uniform"
      spark.range(rows).select(col("id").as("vec_id"), expr(gen).as("embedding"))
        .write.mode("overwrite").parquet(s"$dir/emb-$data")
      val corpus = spark.read.parquet(s"$dir/emb-$data")
      val queries = corpus.where(col("vec_id") < 100)
      def pairs(df: DataFrame): Set[(Long, Long)] =
        df.select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val truth = pairs(graft.ops.Ann.bruteTopK(corpus, queries, "vec_id", "embedding", 10))
      val idx = s"$dir/idx-$data"
      val (choice, tBuild) = time(graft.streaming.AnnIngest.buildAuto(
        corpus, "vec_id", "embedding", idx, "auto", 0L,
        numCells = 512, numCoarse = 64, numFine = 8))
      val expected = if (clustered) "two_level" else "flat"
      val (got, tProbe) = time(pairs(graft.streaming.AnnIngest.probeAuto(
        spark, idx, queries, "vec_id", "embedding", 10, nCoarseProbe = 32, nprobe = 50)))
      val recall = got.intersect(truth).size.toDouble / truth.size
      // the recorded metadata round-trips and matches the live choice
      val persisted = graft.streaming.AnnIngest.readQuantizerChoice(idx)
      require(persisted.kind == choice.kind && persisted == choice,
        s"persisted $persisted != chosen $choice")
      val line = s"""{"data":"$data","chosen":"${choice.kind}",""" +
        s""""measured_winner":"$expected","match":${choice.kind == expected},""" +
        s""""mean_top_cosine":${fmt(choice.meanTopCosine, 3)},""" +
        s""""threshold":${choice.threshold},""" +
        s""""build_sec":${fmt(tBuild, 2)},"probe_sec":${fmt(tProbe, 2)},""" +
        s""""recall":${fmt(recall, 3)}}"""
      println(s"AUTO $line")
      results += line
    }
    val json = s"""{"metric":"ann_auto_quantizer","rows":$rows,"dim":64,""" +
      s""""queries":100,"k":10,"corpora":[${results.mkString(",")}]}"""
    Smoke.artifact("BENCH_SCALE_ANN_AUTO.json", json)
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  /** PQ + ECOD smoke (`runMain graft.AnnScaleSmoke pq [rows]`): a
    * manifold-shaped corpus (rows/10 hash centers, 10 members each,
    * noise comparable to center scale, L2-NORMALIZED — cosine serving
    * normalizes first, which also makes ADC's L2 order the cosine
    * order up to quantization), 8x256 codebooks = 8-byte codes (32x
    * compression). Reports BOTH honest numbers for 100 queries vs
    * exact brute cosine truth: raw ADC top-10 recall (what 8 bytes
    * alone buy) and the production shape — ADC shortlist-200 + exact
    * re-rank ([[graft.ops.Pq.adcRerankTopK]]), where quantization
    * only affects which 200 rows are fetched. An ECOD depths pass
    * over the same corpus rides along. One JSON line →
    * BENCH_SCALE_ANN_PQ.json. */
  def pqSmoke(spark: SparkSession, rows: Long): Unit = {
    import graft.Smoke.{fmt3 => fmt}
    val dir = java.nio.file.Files.createTempDirectory("ann-pq").toString
    val nCenters = math.max(rows / 10, 1)
    val raw = "transform(sequence(0, 63), j -> " +
      s"pmod(xxhash64(pmod(xxhash64(id), $nCenters), j), 2000) / 1000.0 - 1.0 + " +
      "pmod(xxhash64(id, j, 7), 800) / 1000.0 - 0.4)"
    // parquet barrier between raw generation and normalization:
    // composed in one select, CollapseProject would inline the raw
    // derivation into the normalize lambda and re-evaluate it per
    // element (the winnowing O(n²) trap)
    spark.range(rows).select(col("id").as("vec_id"), expr(raw).as("vr"))
      .withColumn("nrm", expr("sqrt(aggregate(vr, 0D, (a, v) -> a + v * v))"))
      .write.mode("overwrite").parquet(s"$dir/raw")
    spark.read.parquet(s"$dir/raw")
      .select(col("vec_id"),
        expr("transform(vr, x -> CAST(x / nrm AS FLOAT))").as("embedding"))
      .write.mode("overwrite").parquet(s"$dir/emb")
    val corpus = spark.read.parquet(s"$dir/emb")
    val queries = corpus.where(col("vec_id") < 100)

    val (truth, tBrute) = time(
      graft.ops.Ann.bruteTopK(corpus, queries, "vec_id", "embedding", 10)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    val (model, tTrain) = time {
      val m = graft.ops.Pq.train(corpus, "vec_id", "embedding",
        m = 8, ksub = 256, iters = 3)
      m.count(); m
    }
    val (codes, tEncode) = time {
      val c = graft.ops.Pq.encode(corpus, "vec_id", "embedding", model)
      c.write.mode("overwrite").parquet(s"$dir/codes")
      spark.read.parquet(s"$dir/codes")
    }
    val (gotRaw, tProbe) = time(
      graft.ops.Pq.adcTopK(codes, queries, "vec_id", "embedding", model, 11)
        .where(col("query_id") =!= col("neighbor_id"))
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    val recallRaw = truth.count(gotRaw.contains).toDouble / truth.size
    val (gotRr, tRerank) = time(
      graft.ops.Pq.adcRerankTopK(codes, corpus, queries, "vec_id",
          "embedding", model, k = 10, shortlist = 200)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    val recallRr = truth.count(gotRr.contains).toDouble / truth.size

    // IVF×PQ: md5-sampled 512 cells (the frontier winner's geometry),
    // nprobe 50 — scan bound × byte bound × exact rerank composed
    val cents512 = corpus
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_vec"))
      .orderBy(md5(col("cent_id").cast("string")).asc, col("cent_id").asc)
      .limit(512)
    val (codesCells, tCellEncode) = time {
      val c = graft.ops.Pq.encodeWithCells(corpus, "vec_id", "embedding",
        model, cents512)
      c.write.mode("overwrite").parquet(s"$dir/codes_cells")
      spark.read.parquet(s"$dir/codes_cells")
    }
    val (gotIvf, tIvfProbe) = time(
      graft.ops.Pq.ivfAdcTopK(codesCells, corpus, queries, "vec_id",
          "embedding", model, cents512, k = 10, nprobe = 50,
          shortlist = 200)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    val recallIvf = truth.count(gotIvf.contains).toDouble / truth.size

    // residual IVFADC: same cells, codes quantize v − centroid —
    // sharper codes at the same m, per-(query,cell) tables at probe
    val (codesRes, tResEncode) = time {
      val mres = graft.ops.Pq.trainResidual(corpus, "vec_id", "embedding",
        cents512, m = 8, ksub = 256, iters = 3)
      val c = graft.ops.Pq.encodeResidualWithCells(corpus, "vec_id",
        "embedding", mres, cents512)
      c.write.mode("overwrite").parquet(s"$dir/codes_res")
      (spark.read.parquet(s"$dir/codes_res"), mres)
    }
    val (gotRes, tResProbe) = time(
      graft.ops.Pq.ivfAdcResidualTopK(codesRes._1, corpus, queries,
          "vec_id", "embedding", codesRes._2, cents512, k = 10,
          nprobe = 50, shortlist = 200)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    val recallRes = truth.count(gotRes.contains).toDouble / truth.size

    val (_, tEcod) = time(
      graft.ops.Ecod.depths(corpus, "vec_id", "embedding", quant = 1000)
        .agg(min("depth"), max("depth")).collect())

    val json = s"""{"metric":"ann_pq_smoke","rows":$rows,"dim":64,""" +
      s""""m":8,"ksub":256,"bytes_per_vec":8,"compression_x":32,""" +
      s""""brute_sec":${fmt(tBrute)},"train_sec":${fmt(tTrain)},""" +
      s""""encode_sec":${fmt(tEncode)},"adc_probe_sec":${fmt(tProbe)},""" +
      s""""adc_recall_at_10":${fmt(recallRaw)},""" +
      s""""rerank_probe_sec":${fmt(tRerank)},""" +
      s""""rerank200_recall_at_10":${fmt(recallRr)},""" +
      s""""ivfadc_cells":512,"ivfadc_nprobe":50,""" +
      s""""ivfadc_encode_sec":${fmt(tCellEncode)},""" +
      s""""ivfadc_probe_sec":${fmt(tIvfProbe)},""" +
      s""""ivfadc_recall_at_10":${fmt(recallIvf)},""" +
      s""""ivfadc_res_encode_sec":${fmt(tResEncode)},""" +
      s""""ivfadc_res_probe_sec":${fmt(tResProbe)},""" +
      s""""ivfadc_res_recall_at_10":${fmt(recallRes)},""" +
      s""""ecod_sec":${fmt(tEcod)}}"""
    Smoke.artifact("BENCH_SCALE_ANN_PQ.json", json)
  }

  /** Residual-vs-raw IVFADC on TRAINED cells (`runMain
    * graft.AnnScaleSmoke pqres [rows]`) — closes the open claim from
    * the r12 PQ smoke, where residual encoding measured recall 0.304
    * against 0.933 no-residual but the cells were md5-SAMPLED corpus
    * rows (coarse). Here the cells come from [[graft.ops.Ann
    * .kmeansCentroids]] (the §34c trainer), and BOTH variants run on
    * the identical corpus, identical cells, identical m/ksub (equal
    * bytes) and identical nprobe (equal scan — same cells ⇒ same scan
    * fraction, which is also reported honestly from the as-written
    * index). One JSON line → BENCH_SCALE_ANN_PQ_RESIDUAL.json. */
  def pqResidualSmoke(spark: SparkSession, rows: Long): Unit = {
    import graft.Smoke.{fmt3 => fmt}
    val dir = java.nio.file.Files.createTempDirectory("ann-pqres").toString
    // identical manifold-shaped corpus to pqSmoke: rows/10 hash
    // centers, normalized
    val nCenters = math.max(rows / 10, 1)
    val raw = "transform(sequence(0, 63), j -> " +
      s"pmod(xxhash64(pmod(xxhash64(id), $nCenters), j), 2000) / 1000.0 - 1.0 + " +
      "pmod(xxhash64(id, j, 7), 800) / 1000.0 - 0.4)"
    spark.range(rows).select(col("id").as("vec_id"), expr(raw).as("vr"))
      .withColumn("nrm", expr("sqrt(aggregate(vr, 0D, (a, v) -> a + v * v))"))
      .write.mode("overwrite").parquet(s"$dir/raw")
    spark.read.parquet(s"$dir/raw")
      .select(col("vec_id"),
        expr("transform(vr, x -> CAST(x / nrm AS FLOAT))").as("embedding"))
      .write.mode("overwrite").parquet(s"$dir/emb")
    val corpus = spark.read.parquet(s"$dir/emb")
    val queries = corpus.where(col("vec_id") < 100)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (truth, tBrute) = time(pairs(
      graft.ops.Ann.bruteTopK(corpus, queries, "vec_id", "embedding", 10)))

    // trained cells — the composition the r12 artifact left unmeasured
    val (cents, tCells) = time {
      val c = graft.ops.Ann.kmeansCentroids(corpus, "vec_id", "embedding",
        k = 512, iters = 5)
      c.count(); c
    }
    val centsPinned = cents.localCheckpoint(eager = true)

    // shared PQ geometry: m=8, ksub=256 ⇒ 8 B/vec either way
    val (m, ksub, nprobe, shortlist) = (8, 256, 50, 200)

    // raw-vector codes on trained cells
    val (modelRaw, tTrainRaw) = time {
      val mm = graft.ops.Pq.train(corpus, "vec_id", "embedding", m, ksub, iters = 3)
      mm.count(); mm
    }
    val (codesRaw, tEncRaw) = time {
      val c = graft.ops.Pq.encodeWithCells(corpus, "vec_id", "embedding",
        modelRaw, centsPinned)
      c.write.mode("overwrite").parquet(s"$dir/codes_raw")
      spark.read.parquet(s"$dir/codes_raw")
    }
    val (gotRaw, tProbeRaw) = time(pairs(
      graft.ops.Pq.ivfAdcTopK(codesRaw, corpus, queries, "vec_id",
        "embedding", modelRaw, centsPinned, k = 10, nprobe, shortlist)))
    val recallRaw = truth.count(gotRaw.contains).toDouble / truth.size

    // residual codes on the SAME trained cells
    val (modelRes, tTrainRes) = time {
      val mm = graft.ops.Pq.trainResidual(corpus, "vec_id", "embedding",
        centsPinned, m, ksub, iters = 3)
      mm.count(); mm
    }
    val (codesRes, tEncRes) = time {
      val c = graft.ops.Pq.encodeResidualWithCells(corpus, "vec_id",
        "embedding", modelRes, centsPinned)
      c.write.mode("overwrite").parquet(s"$dir/codes_res")
      spark.read.parquet(s"$dir/codes_res")
    }
    val (gotRes, tProbeRes) = time(pairs(
      graft.ops.Pq.ivfAdcResidualTopK(codesRes, corpus, queries, "vec_id",
        "embedding", modelRes, centsPinned, k = 10, nprobe, shortlist)))
    val recallRes = truth.count(gotRes.contains).toDouble / truth.size

    // honest scan fraction from the as-written index (same cells for
    // both variants, so one number): avg over queries of rows in the
    // probed cells / corpus rows
    val probeCells = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .crossJoin(broadcast(graft.ops.Ann.centroidArray(centsPinned)))
      .select(col("query_id"),
        explode(graft.ops.Ann.topCells(col("qv"), col("cents"), nprobe)).as("p"))
      .select(col("query_id"), col("p.cent_id").as("cell"))
    val sizes = codesRaw.groupBy("cell").count()
    val scanFrac = probeCells.join(sizes, Seq("cell"))
      .groupBy("query_id").agg(sum("count").as("s"))
      .agg(avg("s")).head().getDouble(0) / rows

    val json = s"""{"metric":"ann_pq_residual_trained_cells","rows":$rows,""" +
      s""""dim":64,"m":$m,"ksub":$ksub,"bytes_per_vec":$m,""" +
      s""""cells":512,"cells_trained":true,"kmeans_iters":5,""" +
      s""""nprobe":$nprobe,"shortlist":$shortlist,""" +
      s""""scan_fraction":${fmt(scanFrac)},""" +
      s""""brute_sec":${fmt(tBrute)},"cells_train_sec":${fmt(tCells)},""" +
      s""""raw":{"train_sec":${fmt(tTrainRaw)},"encode_sec":${fmt(tEncRaw)},""" +
      s""""probe_sec":${fmt(tProbeRaw)},"recall_at_10":${fmt(recallRaw)}},""" +
      s""""residual":{"train_sec":${fmt(tTrainRes)},"encode_sec":${fmt(tEncRes)},""" +
      s""""probe_sec":${fmt(tProbeRes)},"recall_at_10":${fmt(recallRes)}}}"""
    Smoke.artifact("BENCH_SCALE_ANN_PQ_RESIDUAL.json", json)
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  def main(args: Array[String]): Unit = {
    def rowsAt(i: Int) = if (args.length > i) args(i).toLong else 2000000L
    val spark = GraftSession.local(GraftSession.defaultCores, "graft-ann-smoke")
    args.headOption match {
      case Some("pqres") => pqResidualSmoke(spark, rowsAt(1))
      case Some("auto") => auto(spark, rowsAt(1))
      case Some("pq") => pqSmoke(spark, rowsAt(1))
      case Some("frontier") =>
        val clustered = args.length > 1 && args(1) == "clustered"
        frontier(spark, rowsAt(if (clustered) 2 else 1), clustered)
      case _ => serving(spark, rowsAt(0))
    }
    spark.stop()
  }

  /** Default mode (`runMain graft.AnnScaleSmoke [rows]`): brute vs IVF
    * build + probe, plus semantic dedup over injected near-copies. */
  def serving(spark: SparkSession, rows: Long): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("ann-smoke").toString
    spark.range(rows).select(col("id").as("vec_id"),
        expr("transform(sequence(0, 63), j -> CAST(pmod(xxhash64(id, j), 2000) / 1000.0 - 1.0 AS FLOAT))")
          .as("embedding"))
      .write.mode("overwrite").parquet(s"$dir/emb")
    val corpus = spark.read.parquet(s"$dir/emb")
    val queries = corpus.where(col("vec_id") < 100)
    // 512 cells / nprobe 50: the r11 frontier sweep's winner
    // (BENCH_SCALE_ANN_FRONTIER.json) — recall 1.000 at a 9.7% scan
    // fraction, build 43 s at 2M (UNDER the r10 256-cell build once
    // the index write co-locates cells into one file each), probe
    // 3.2 s vs 14.1 s brute. The swept two-level quantizer builds
    // 3-4× cheaper still but caps at ~0.6 recall on these
    // structure-free uniform vectors (coarse-gated assignment is
    // unpredictable for a neighbor at cosine ~0.5) — kept as the
    // documented build-cost dial for clustered corpora.
    val numCells = 512
    val nprobe = 50
    val centroids = corpus.where(col("vec_id") < numCells)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_vec"))

    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    // warm-up (codegen + JIT) on a slice
    graft.ops.Ann.bruteTopK(corpus.where(col("vec_id") < 10000), queries,
      "vec_id", "embedding", 10).count()

    val (truth, tBrute) = time(pairs(
      graft.ops.Ann.bruteTopK(corpus, queries, "vec_id", "embedding", 10)))
    // serving shape: one-time cell-partitioned index build...
    val (_, tBuild) = time(graft.streaming.AnnIngest.processBatch(
      corpus, centroids, "vec_id", "embedding", s"$dir/ivf", "smoke", 0L))
    // ...then partition-pruned probes per query batch
    val (got, tProbe) = time(pairs(graft.streaming.AnnIngest.probe(
      spark, s"$dir/ivf", centroids, queries, "vec_id", "embedding",
      k = 10, nprobe = nprobe)))
    val recall = got.intersect(truth).size.toDouble / truth.size

    // semantic dedup at scale: inject 1% near-copies (source vector
    // + 0.0005 per component ⇒ cosine ≈ 1) and drop them with the
    // production xxhash bucket path. 16 planes ⇒ 65k buckets bound
    // within-bucket pair generation; a near-copy can still miss its
    // source's bucket when a hyperplane dot sits within ε of zero
    // (sign flip), so survivors land between rows and rows + nDup —
    // blocking recall is part of what this measures.
    val nDup = rows / 100
    val dups = spark.range(nDup).select((col("id") + rows).as("vec_id"),
      expr("transform(sequence(0, 63), j -> CAST(pmod(xxhash64(id, j), 2000) / 1000.0 - 1.0 + 0.0005 AS FLOAT))")
        .as("embedding"))
    val withDups = corpus.union(dups)
    val (nSurv, tSem) = time(graft.ops.Ann.semanticSurvivors(
      withDups, "vec_id", "embedding",
      threshold = 0.999, numPlanes = 16).count())
    require(nSurv >= rows && nSurv < rows + nDup,
      s"expected survivors in [$rows, ${rows + nDup}), got $nSurv")
    val dedupRecall = (rows + nDup - nSurv).toDouble / nDup

    val json =
      s"""{"metric":"ann_scale","rows":$rows,"dim":64,"queries":100,"k":10,""" +
      s""""brute_sec":${fmt(tBrute, 2)},"index_build_sec":${fmt(tBuild, 2)},""" +
      s""""probe_sec":${fmt(tProbe, 2)},"probe_recall":${fmt(recall, 3)},""" +
      s""""cells":$numCells,"nprobe":$nprobe,"semantic_dedup":{"corpus":${rows + nDup},""" +
      s""""injected_dups":$nDup,"survivors":$nSurv,""" +
      s""""dedup_recall":${fmt(dedupRecall, 3)},"sec":${fmt(tSem, 2)},""" +
      s""""planes":16,"threshold":0.999}}"""
    Smoke.artifact("BENCH_SCALE_ANN.json", json)
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }
}
