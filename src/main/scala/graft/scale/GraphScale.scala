package graft
package scale

import graft.Smoke.{time, withTempDir}
import graft.ops.{Adaptive, ConnectedComponents, KCore, PageRank, ShortestPaths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph operators at scale over graphs of KNOWN structure, so every
  * answer is checked exactly. Size: `n` disjoint 10-node chains (ids
  * laid out contiguously, edge i→i+1 within a chain) plus one long
  * chain of [[longLen]]`(n)` nodes after them, which the log-round
  * operators must cross in ~log₂ rounds. */
object GraphScale {

  private val ChainLen = 10L

  /** Long-chain length: at most 8192 nodes, at least 16. */
  private def longLen(n: Long): Long = math.min(8192L, math.max(16L, n))

  /** Directed edges (src, dst) of `n` chains of [[ChainLen]] nodes, ids
    * [0, n·10), followed by the long chain, ids [n·10, n·10 + longLen). */
  private def chains(spark: SparkSession, n: Long): DataFrame = {
    val nShort = n * ChainLen
    spark.range(nShort).where((col("id") + 1) % ChainLen =!= 0)
      .union(spark.range(nShort, nShort + longLen(n) - 1))
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
  }

  /** Connected components in the two explicit checkpoint modes and the
    * default (auto) mode: every chain collapses to its minimum id, the
    * rounds stay ≈ log₂ of the long chain, and the auto mode resolves as
    * `Adaptive`'s rules say for the edge count (driver fold up to the
    * fold cap, reliable rounds above it with a checkpoint dir set). */
  private def cc(spark: SparkSession, n: Long): Fields = withTempDir("scale-cc") { dir =>
    val sc = spark.sparkContext
    val prevDir = sc.getCheckpointDir
    sc.setCheckpointDir(dir)
    try {
      val edges = chains(spark, n)
      val nEdges = edges.count()
      val long = longLen(n)
      val modes = Seq("local" -> Some(false), "reliable" -> Some(true), "auto" -> None).map {
        case (mode, reliable) =>
          val ((labels, runs), total) = time {
            val (labels, runs) = Smoke.rounds(spark)(
              ConnectedComponents.components(edges, maxRounds = 20, reliable = reliable))
            labels.groupBy("component").count().count()
            (labels, runs)
          }
          val sizes = labels.groupBy("component").count()
          val run = runs.filter(_.op == "cc").last
          val secs = run.roundMs.map(_ / 1000)
          val out = Fields("mode" -> run.mode, "total_sec" -> total, "rounds" -> run.rounds,
            "round_max_over_min" -> (if (secs.isEmpty) 1.0 else secs.max / secs.min),
            "round_secs" -> secs, "components" -> sizes.count(),
            "long_chain_nodes" -> sizes.where(col("component") === n * ChainLen)
              .select("count").head().getLong(0))
          // free the mode's label state before the next mode is timed
          ConnectedComponents.releaseResult(labels)
          mode -> out
      }
      Fields(Seq("metric" -> "cc_scale", "edges" -> nEdges, "components" -> (n + 1),
        "long_chain" -> long,
        "fold_cap" -> Adaptive.foldRows(ConnectedComponents.FoldBytesPerEdge)) ++
        modes: _*)
    } finally prevDir.foreach(sc.setCheckpointDir)
  }

  private def checkCc(f: Fields): Unit = {
    val foldMode = if (f.long("edges") <= f.long("fold_cap")) "fold" else "reliable"
    for ((mode, want) <- Seq("local" -> "local", "reliable" -> "reliable", "auto" -> foldMode)) {
      val m = f.obj(mode)
      require(m("mode") == want,
        s"$mode resolved ${m("mode")} at ${f("edges")} edges, expected $want")
      require(m.long("components") == f.long("components"),
        s"$mode: ${m("components")} components, expected ${f("components")}")
      require(m.long("long_chain_nodes") == f.long("long_chain"),
        s"$mode: long chain has ${m("long_chain_nodes")} nodes, expected ${f("long_chain")}")
      // pointer jumping: ≈ log₂(long chain) rounds, not its diameter
      val bound = 63 - java.lang.Long.numberOfLeadingZeros(f.long("long_chain")) + 3
      require(m.long("rounds") <= bound, s"$mode took ${m("rounds")} rounds, bound $bound")
    }
  }

  /** SSSP, k-core and personalized PageRank over the chains plus
    * 12-cliques (one per 1000 chains, 1 to 1000): every chain node has
    * degree ≤ 2 and every clique node 11, so the 8-core is exactly the
    * clique nodes. SSSP from every chain head with maxHops 9 puts each
    * short-chain node at its offset and reaches exactly 10 long-chain
    * nodes; PPR from one node per clique for 3 rounds ranks exactly the
    * clique nodes. */
  private def graph(spark: SparkSession, n: Long): Fields = {
    val cliqueSize = 12
    val nCliques = math.min(1000L, math.max(1L, n / 1000))
    val nShort = n * ChainLen
    val cliqueBase = nShort + longLen(n)
    val cliqueEdges = spark.range(nCliques)
      .select(explode(array((for {
        i <- 0 until cliqueSize; j <- 0 until cliqueSize if i < j
      } yield struct(
        (lit(cliqueBase) + col("id") * cliqueSize + i).as("src"),
        (lit(cliqueBase) + col("id") * cliqueSize + j).as("dst"))): _*)).as("e"))
      .select(col("e.src"), col("e.dst"))
    val undirected = chains(spark, n).union(cliqueEdges)
    val edges = undirected.union(undirected.select(col("dst").as("src"), col("src").as("dst")))
      .withColumn("w", lit(1L))
    val nEdges = edges.count()

    val heads = spark.range(nShort).where(col("id") % ChainLen === 0)
      .union(spark.range(nShort, nShort + 1)).select(col("id").as("node"))
    val ((ssspWrong, longReached), ssspSec) = time {
      val dists = ShortestPaths.bounded(edges, heads, maxHops = (ChainLen - 1).toInt)
      (dists.where(col("node") < nShort && col("dist") =!= col("node") % ChainLen).count(),
        dists.where(col("node") >= nShort && col("node") < cliqueBase).count())
    }
    val (((coreN, coreBad), runs), kcoreSec) = time(Smoke.rounds(spark) {
      val core = KCore.core(edges, k = 8)
      (core.count(),
        core.where(col("node") < cliqueBase || col("degree") =!= (cliqueSize - 1)).count())
    })
    val reps = spark.range(nCliques).select((lit(cliqueBase) + col("id") * cliqueSize).as("node"))
    val ((chainLeak, cliqueZeros), pprSec) = time {
      val pr = PageRank.personalized(edges, reps, iters = 3)
      (pr.where(col("node") < cliqueBase && col("rank") > 0).count(),
        pr.where(col("node") >= cliqueBase && col("rank") === 0).count())
    }
    Fields("metric" -> "graph_scale_smoke", "edges" -> nEdges, "cliques" -> nCliques,
      "sssp" -> Fields("sec" -> ssspSec, "wrong_dist" -> ssspWrong, "long_reached" -> longReached),
      "kcore" -> Fields("sec" -> kcoreSec, "rounds" -> runs.filter(_.op == "kcore").last.rounds,
        "core" -> coreN, "expected_core" -> nCliques * cliqueSize, "bad" -> coreBad),
      "ppr" -> Fields("sec" -> pprSec, "chain_leak" -> chainLeak, "clique_zeros" -> cliqueZeros))
  }

  private def checkGraph(f: Fields): Unit = {
    val (sssp, kcore, ppr) = (f.obj("sssp"), f.obj("kcore"), f.obj("ppr"))
    require(sssp.long("wrong_dist") == 0 && sssp.long("long_reached") == ChainLen, s"sssp: $sssp")
    require(kcore.long("core") == kcore.long("expected_core") && kcore.long("bad") == 0,
      s"kcore: $kcore")
    require(ppr.long("chain_leak") == 0 && ppr.long("clique_zeros") == 0, s"ppr: $ppr")
  }

  val all: Seq[ScaleCase] = Seq(
    ScaleCase("cc", "BENCH_SCALE_CC.json", 1000000L, cc, checkCc),
    ScaleCase("graph", "BENCH_SCALE_GRAPH.json", 1000000L, graph, checkGraph))
}
