package graft

import org.apache.spark.sql.functions._
import graft.Smoke.{fmt2 => fmt}

/** Connected-components scale smoke: ~10 M edges with a KNOWN
  * component structure — `nChains` disjoint chains of length
  * `chainLen` (ids laid out contiguously, edge i→i+1 within a chain)
  * plus ONE long chain of `longLen` nodes that forces pointer jumping
  * to earn its keep (min-label alone would need `longLen` rounds;
  * pointer jumping needs ~log₂(longLen)).
  *
  * Checks, per checkpoint mode (localCheckpoint and reliable):
  *  - every chain collapses to its minimum id (exact expected
  *    component count and long-chain size — correctness at scale);
  *  - rounds taken ≈ log₂(longest chain), NOT its diameter;
  *  - per-round wall time stays flat (max/min round ratio) — the
  *    checkpoint-per-round lineage truncation doing its job; a leak
  *    shows up as monotonically growing rounds.
  * One JSON line → BENCH_SCALE_CC.json.
  */
object CcScaleSmoke {
  def main(args: Array[String]): Unit = {
    val nChains = if (args.nonEmpty) args(0).toLong else 1000000L
    val chainLen = 10L  // nChains*(chainLen-1) + longLen-1 edges ≈ 9 M + 8 k
    val longLen = 8192L // needs ~13 pointer-jump rounds, not 8191
    val spark = GraftSession.local(GraftSession.defaultCores, "graft-cc-smoke")
    val ckptDir = java.nio.file.Files.createTempDirectory("cc-ckpt").toString
    spark.sparkContext.setCheckpointDir(ckptDir)

    // short chains: node ids [0, nChains*chainLen), chain c owns the
    // contiguous block [c*chainLen, (c+1)*chainLen); edge id→id+1
    // within a block. Long chain: ids [base, base+longLen).
    val nShort = nChains * chainLen
    val short = spark.range(nShort)
      .where((col("id") + 1) % chainLen =!= 0)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val long = spark.range(nShort, nShort + longLen - 1)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val edges = short.union(long)
    val nEdges = edges.count()

    // modes: the two explicit checkpoint modes plus the DEFAULT (auto)
    // path — at ~9 M edges with a checkpoint dir set, auto must resolve
    // to reliable (asserted below via the result RDD's checkpoint file)
    val results = Seq("local" -> Some(false), "reliable" -> Some(true),
        "auto" -> None).map { case (mode, reliable) =>
      val t0 = System.nanoTime()
      val (labels, runs) = Smoke.rounds(spark)(
        graft.ops.ConnectedComponents.components(edges, maxRounds = 20, reliable = reliable))
      val rounds = runs.last.rounds
      val roundSecs = runs.last.roundMs.map(_ / 1000)
      val comps = labels.groupBy("component").agg(count(lit(1)).as("sz"))
      val nComps = comps.count()
      val total = (System.nanoTime() - t0) / 1e9
      val longSz = comps.where(col("component") === nShort)
        .select("sz").head().getLong(0)
      val expComps = nChains + 1
      require(nComps == expComps, s"expected $expComps components, got $nComps")
      require(longSz == longLen, s"long chain: expected $longLen nodes, got $longSz")
      // log2(8191-hop diameter) ≈ 13 — pointer jumping must beat the
      // 8191-round naive propagation by orders of magnitude
      require(rounds <= 16, s"expected ≈log2($longLen)=13 rounds, took $rounds")
      val resolvedReliable = labels.queryExecution.logical.collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.getCheckpointFile.isDefined
      }.getOrElse(false)
      if (mode == "auto") require(resolvedReliable,
        s"auto mode must pick reliable at $nEdges edges with a checkpoint dir set")
      val flat = roundSecs.max / roundSecs.min
      println(s"CC $mode: $rounds rounds, ${fmt(total)} s total, " +
        s"per-round [${roundSecs.map(fmt).mkString(", ")}] max/min ${fmt(flat)}")
      // free the mode's final label frame (pinned localCheckpoint
      // blocks): the next mode's timing must not run with 10 M rows
      // of dead label state occupying executor storage
      graft.ops.ConnectedComponents.releaseResult(labels)
      (mode, total, rounds, roundSecs, flat)
    }

    val per = results.map { case (mode, total, rounds, secs, flat) =>
      s""""$mode":{"total_sec":${fmt(total)},"rounds":$rounds,""" +
      s""""round_max_over_min":${fmt(flat)},"round_secs":[${secs.map(fmt).mkString(",")}]}"""
    }.mkString(",")
    val json = s"""{"metric":"cc_scale","edges":$nEdges,""" +
      s""""components":${nChains + 1},"long_chain":$longLen,$per}"""
    Smoke.artifact("BENCH_SCALE_CC.json", json)
    spark.stop()
    // ~13 rounds of 10M-node reliable-checkpoint label state
    new scala.reflect.io.Directory(new java.io.File(ckptDir)).deleteRecursively()
  }
}
