package graft

import org.apache.spark.sql.functions._
import graft.Smoke.{fmt2 => fmt}

/** Scale smoke for the r12 graph operators (ShortestPaths, KCore,
  * personalized PageRank) at ~10 M edges with KNOWN structure, the
  * CcScaleSmoke discipline: correctness is asserted exactly at scale,
  * not eyeballed, and the wall/round numbers land in
  * BENCH_SCALE_GRAPH.json.
  *
  * Graph: `nChains` disjoint weight-1 chains of length `chainLen`
  * (node at offset o has true distance o from its chain head) plus
  * `nCliques` 12-cliques (every clique node has degree 11, every chain
  * node degree <= 2 — so the 8-core is EXACTLY the clique nodes), plus
  * one `longLen` chain that outruns the hop bound (truncation check).
  *
  *  - SSSP (multi-source = all chain heads, maxHops = chainLen-1):
  *    every short-chain node must land at dist == its offset; the long
  *    chain reaches exactly maxHops+1 nodes.
  *  - KCore (k=8): survivors must be exactly the clique nodes, all at
  *    degree 11; the 10 M chain edges must peel in round 1.
  *  - PPR (sources = one rep per clique, 3 rounds): positive rank only
  *    within 3 hops of a source — inside the cliques (every clique
  *    node is 1 hop from the rep) and nowhere on the chains.
  */
object GraphScaleSmoke {
  def main(args: Array[String]): Unit = {
    val nChains = if (args.nonEmpty) args(0).toLong else 1000000L
    val chainLen = 10L
    val longLen = 8192L
    val nCliques = 1000L
    val cliqueSize = 12
    val spark = GraftSession.local(GraftSession.defaultCores, "graft-graph-smoke")

    val nShort = nChains * chainLen
    val chainEdges = spark.range(nShort)
      .where((col("id") + 1) % chainLen =!= 0)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val longBase = nShort
    val longEdges = spark.range(longBase, longBase + longLen - 1)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val cliqueBase = longBase + longLen
    // clique c owns ids [cliqueBase + c*12, cliqueBase + (c+1)*12)
    val cliquePairs = spark.range(nCliques).select(col("id").as("c"))
      .select(explode(array((for {
        i <- 0 until cliqueSize; j <- 0 until cliqueSize if i < j
      } yield struct(
        (lit(cliqueBase) + col("c") * cliqueSize + i).as("src"),
        (lit(cliqueBase) + col("c") * cliqueSize + j).as("dst"))): _*))
        .as("e"))
      .select(col("e.src"), col("e.dst"))
    val undirected = chainEdges.union(longEdges).union(cliquePairs)
    val edges = undirected.union(undirected.select(col("dst").as("src"),
      col("src").as("dst"))).withColumn("w", lit(1L))
    val nEdges = edges.count()

    // --- SSSP ---------------------------------------------------- //
    val heads = spark.range(nShort).where(col("id") % chainLen === 0)
      .select(col("id").as("node"))
      .union(spark.range(longBase, longBase + 1).select(col("id").as("node")))
    val t0 = System.nanoTime()
    val dists = graft.ops.ShortestPaths.bounded(edges, heads,
      maxHops = (chainLen - 1).toInt)
    val shortWrong = dists.where(col("node") < nShort &&
      col("dist") =!= col("node") % chainLen).count()
    val longReached = dists.where(col("node") >= longBase &&
      col("node") < cliqueBase).count()
    val ssspSec = (System.nanoTime() - t0) / 1e9
    val ssspOk = shortWrong == 0 && longReached == chainLen
    println(f"SSSP   ${fmt(ssspSec)}%8s s  wrong=$shortWrong%d " +
      f"longReached=$longReached%d ok=$ssspOk")

    // --- KCore --------------------------------------------------- //
    val t1 = System.nanoTime()
    val (core, runs) = Smoke.rounds(spark)(graft.ops.KCore.core(edges, k = 8))
    val rounds = runs.last.rounds
    val coreN = core.count()
    val coreBad = core.where(col("node") < cliqueBase ||
      col("degree") =!= (cliqueSize - 1)).count()
    val kcoreSec = (System.nanoTime() - t1) / 1e9
    val kcoreOk = coreN == nCliques * cliqueSize && coreBad == 0
    println(f"KCORE  ${fmt(kcoreSec)}%8s s  rounds=$rounds%d " +
      f"core=$coreN%d bad=$coreBad%d ok=$kcoreOk")

    // --- PPR ----------------------------------------------------- //
    val reps = spark.range(nCliques)
      .select((lit(cliqueBase) + col("id") * cliqueSize).as("node"))
    val t2 = System.nanoTime()
    val pr = graft.ops.PageRank.personalized(edges, reps, iters = 3)
    val posOnChains = pr.where(col("node") < cliqueBase &&
      col("rank") > 0).count()
    val zeroInCliques = pr.where(col("node") >= cliqueBase &&
      col("rank") === 0).count()
    val pprSec = (System.nanoTime() - t2) / 1e9
    val pprOk = posOnChains == 0 && zeroInCliques == 0
    println(f"PPR    ${fmt(pprSec)}%8s s  chainLeak=$posOnChains%d " +
      f"cliqueZeros=$zeroInCliques%d ok=$pprOk")

    val json = s"""{"metric":"graph_scale_smoke","edges":$nEdges,""" +
      s""""sssp":{"sec":${fmt(ssspSec)},"ok":$ssspOk},""" +
      s""""kcore":{"sec":${fmt(kcoreSec)},"rounds":$rounds,"ok":$kcoreOk},""" +
      s""""ppr":{"sec":${fmt(pprSec)},"ok":$pprOk}}"""
    Smoke.artifact("BENCH_SCALE_GRAPH.json", json)
    spark.stop()
  }
}
