package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS hubs & authorities (Kleinberg 1999) — the directed complement
  * of [[PageRank]]: a good HUB points at good authorities, a good
  * AUTHORITY is pointed at by good hubs. On purchase bipartites it
  * separates breadth-buyers from widely-bought-from sellers; on link
  * graphs, directories from destinations — structure a single
  * centrality score conflates.
  *
  * All-integer, [[PageRank]]'s discipline: scores live in 10¹²
  * micro-units; each half-step is ONE edges⋈scores equi-join +
  * order-independent DECIMAL(38,0) sum, then MAX-normalization back
  * to the 10¹² grid via exact integral division (max-norm keeps the
  * ranking of the L2-normalized classic and replays exactly — an L2
  * norm would put an order-sensitive float sqrt inside every round).
  * Fixed `iters` rounds, so a SQL oracle can unroll stage by stage;
  * bit-identical on any partitioning or retry.
  *
  * Scale shape per round: two joins on the checkpointed edge frame
  * (src- and dst-partitioned copies, pinned once), two map-side-
  * combined sums, two scalar-max broadcasts. State = one (node,
  * score) frame per side. */
object Hits {

  /** Hub/authority scores after `iters` rounds over directed
    * `(src, dst)` edges (deduped internally). Output:
    * `(node, hub, authority)` in 10¹² micro-units — nodes with no
    * out-edges have hub 0, no in-edges authority 0.
    *
    * Shuffle shape is picked ONCE by node count (r16 — the r15 scale
    * suite's worst curve, 2.75× at 10×, was this regime boundary left
    * to the auto-broadcast threshold, which the derived score frames
    * drift past as data grows):
    *  - `≤ broadcastNodeLimit` nodes: score frames are explicitly
    *    broadcast into each half-step join, so the edge frame pinned
    *    on the AGGREGATION key (byDst for the a-step's groupBy dst)
    *    flows through the join and the aggregate reuses its exchange
    *    — ZERO edge shuffles per half-step;
    *  - above it: scores are too big to ship, so each half-step joins
    *    the copy pinned on the JOIN key (bySrc for the a-step, since
    *    hub scores key on src) and pays exactly ONE shuffle — the
    *    joined frame into the aggregate — which is the floor for a
    *    shuffle join. */
  def scores(edges: DataFrame, iters: Int = 5,
      broadcastNodeLimit: Long = 4000000L): DataFrame =
    scoresCapped(edges, Adaptive.foldRows(FoldBytesPerEdge), iters,
      broadcastNodeLimit)

  /** Driver bytes per input edge of [[scoresLocal]], measured on a
    * 2M-edge, 60k-node string-id bipartite (the `q_hits_purchases`
    * shape; heap after full GC, 4-core local session): at its peak the
    * fold holds the partitions' packed edges and node dictionaries, the
    * global intern and the packed pair array, 24 B/edge, plus at most
    * the serialized partition results in flight while they are
    * gathered. The per-node share is what varies: at one fresh string
    * node per endpoint the same fold held 244 B/edge, so the cap
    * assumes a graph with far fewer nodes than edges. (A `collect()` of
    * the edge rows alone held ~250 B/edge on the bipartite.) */
  private[graft] val FoldBytesPerEdge = 32L

  /** [[scores]] under a given fold cap (0: never fold). */
  private[graft] def scoresCapped(edges: DataFrame, foldRows: Long,
      iters: Int = 5,
      broadcastNodeLimit: Long = 4000000L): DataFrame = {
    require(iters >= 1, s"iters $iters must be >= 1")
    val dec = "decimal(38,0)"
    // local checkpoints throughout; the rounds pin on the fixed-round
    // cadence of [[Adaptive.Rounds]]
    val rounds = Adaptive.localRounds
    val e = rounds.pinLazy(edges.select(col("src"), col("dst")))
    // bounded driver fold (r20, the CC tier): every half-step
    // is a graph-sized job; the fold replays the same integer sums and
    // (s·10¹²) div smax normalization (Long sums are exact under the
    // ~2.1M-edge cap: ≤ 2.1M·10¹² < 2⁶³; the division runs in BigInt
    // like the decimal(38,0) plan). Bit-identical, parity-tested. Mixed
    // endpoint types stay distributed: the fold does not re-implement
    // the node-set union's type coercion.
    if (e.schema.fields(0).dataType == e.schema.fields(1).dataType &&
        Adaptive.admits(foldRows, Adaptive.rows(e)))
      return scoresLocal(e, iters)
    // node set pre-partitioned by node: every round's two left joins
    // land on this exchange instead of re-shuffling the full node set
    val nodes = rounds.pinLazy(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .repartition(col("node")))
    val small = nodes.count() <= broadcastNodeLimit
    // dedupe rides each pin's OWN shuffle instead of a separate
    // distinct() exchange: hash(src) clusters equal (src,dst) pairs,
    // so dropDuplicates after the repartition is partition-local and
    // the pin's partitioning survives for every round's join/agg reuse
    val bySrc = rounds.pinLazy(e.repartition(col("src")).dropDuplicates("src", "dst"))
    val byDst = rounds.pinLazy(e.repartition(col("dst")).dropDuplicates("src", "dst"))
    val one = lit(1000000000000L)
    // scores stay SPARSE inside the loop: a node absent from the
    // frame is exactly a zero score, and zeros contribute nothing to
    // either half-step's sum — densifying against the full node set
    // every round (the r15 shape) paid two extra joins per round for
    // rows the next join immediately dropped. Round 1's hub input is
    // the full node set at 1.
    val (hub, auth) = rounds.fixed(iters, (nodes.withColumn("h", one), null: DataFrame)) {
      case ((hub, _), pin) =>
        // authority step: a(v) = Σ h(u) over u→v, max-normalized.
        // Each sum frame is PINNED before use: it feeds both the max
        // broadcast and the score projection, and un-pinned those two
        // subtrees each re-execute the edges⋈scores join+agg — and
        // round N's plan re-executes every prior round's under each of
        // its broadcasts, the compounding that bent the 10× scale
        // curve. Pinning is cheap: one row per scored node.
        val hubBySrc = hub.withColumnRenamed("node", "src")
        val aSum = rounds.pinLazy((if (small) byDst.join(broadcast(hubBySrc), "src")
                    else bySrc.join(hubBySrc, "src"))
          .groupBy(col("dst").as("node"))
          .agg(sum(col("h").cast(dec)).as("s")))
        val aMax = aSum.agg(max("s").as("smax"))
        val auth = aSum.crossJoin(broadcast(aMax))
          .select(col("node"),
            expr("(s * 1000000000000) div smax").as("a"))
        // hub step: h(u) = Σ a(v) over u→v, max-normalized
        val authByDst = auth.withColumnRenamed("node", "dst")
        val hSum = rounds.pinLazy((if (small) bySrc.join(broadcast(authByDst), "dst")
                    else byDst.join(authByDst, "dst"))
          .groupBy(col("src").as("node"))
          .agg(sum(col("a").cast(dec)).as("s")))
        val hMax = hSum.agg(max("s").as("smax"))
        (pin(hSum.crossJoin(broadcast(hMax))
          .select(col("node"),
            expr("(s * 1000000000000) div smax").as("h"))), pin(auth))
    }
    // densify ONCE: nodes with no out-edges get hub 0, no in-edges
    // authority 0
    nodes
      .join(hub, Seq("node"), "left")
      .join(auth, Seq("node"), "left")
      .select(col("node"), coalesce(col("h"), lit(0L)).as("hub"),
        coalesce(col("a"), lit(0L)).as("authority"))
  }

  /** Dense-int interning of node values for the driver fold — the
    * Any-keyed hash loops measured SLOWER than the distributed rounds
    * at ~1M string edges; one interning pass then flat long-array
    * recurrences keep the fold decisively under them. Insertion order
    * is the node enumeration order (first appearance). */
  private final class NodeIntern {
    private val idx = new java.util.HashMap[Any, Integer]()
    val values = new scala.collection.mutable.ArrayBuffer[Any]()
    def id(v: Any): Int = {
      val e = idx.get(v)
      if (e != null) e.intValue()
      else { idx.put(v, Integer.valueOf(values.length)); values += v; values.length - 1 }
    }
    def nullId: Int = { val e = idx.get(null); if (e == null) -1 else e.intValue() }
  }

  private def pack(src: Int, dst: Int): Long = (src.toLong << 32) | (dst & 0xffffffffL)

  /** Build the output frame of the driver fold: (node, score...) with
    * the node column keeping the edge frame's type; `scores` maps the
    * interned node slot to its score row. */
  private def localScoreDf(spark: org.apache.spark.sql.SparkSession,
      nodeType: org.apache.spark.sql.types.DataType,
      nodes: scala.collection.mutable.ArrayBuffer[Any], scoreCols: Seq[String],
      scores: Int => Seq[Long]): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(StructField("node", nodeType) +:
      scoreCols.map(c => StructField(c, LongType)))
    val out = nodes.iterator.zipWithIndex.map { case (nd, v) =>
      org.apache.spark.sql.Row.fromSeq(nd +: scores(v))
    }.toSeq
    spark.createDataFrame(
      spark.sparkContext.parallelize(out,
        math.max(1, math.min(spark.sparkContext.defaultParallelism,
          1 + out.length / 5000))), schema)
  }

  /** Driver fold of [[scores]] — the same recurrence edge by edge:
    * edges dedupe null-safely (dropDuplicates semantics), a null
    * endpoint never matches a score row (SQL join), but a null-keyed
    * SUM group still participates in the max (the distributed groupBy
    * keeps it); the final densify joins on node, so null-keyed scores
    * drop and the null node (if present) reads 0/0. */
  private def scoresLocal(e: DataFrame, iters: Int): DataFrame = {
    val spark = e.sparkSession
    val one = 1000000000000L
    // each partition interns its own endpoints and ships them once,
    // with its edges as packed (srcId << 32) | dstId local ids: the
    // driver never holds a Row per edge ([[FoldBytesPerEdge]]).
    // Interning the partitions' nodes in partition order keeps the
    // global first-appearance order.
    val parts = e.rdd.mapPartitions { rows =>
      val local = new NodeIntern
      val packed = Array.newBuilder[Long]
      rows.foreach(r => packed += pack(local.id(r.get(0)), local.id(r.get(1))))
      Iterator.single((local.values.toArray, packed.result()))
    }.collect()
    val in = new NodeIntern
    val pairs = new Array[Long](parts.iterator.map(_._2.length).sum)
    var k = 0
    parts.foreach { case (values, packed) =>
      val global = values.map(in.id)
      packed.foreach { p =>
        pairs(k) = pack(global((p >>> 32).toInt), global(p.toInt)); k += 1
      }
    }
    // sorted and deduplicated in place: the half-step sums are exact
    // Long sums, so edge order cannot change a score
    java.util.Arrays.sort(pairs)
    var m = 0
    k = 0
    while (k < pairs.length) {
      if (m == 0 || pairs(k) != pairs(m - 1)) { pairs(m) = pairs(k); m += 1 }
      k += 1
    }
    val n = in.values.length
    val nullId = in.nullId
    val srcA = Array.tabulate(m)(i => (pairs(i) >>> 32).toInt)
    val dstA = Array.tabulate(m)(i => pairs(i).toInt)
    // sparse scores as (present, value) slot pairs
    var hub = Array.fill(n)(true)
    var hubV = Array.fill(n)(one)
    var auth = new Array[Boolean](n)
    var authV = new Array[Long](n)
    // sum by `group` over edges whose `lookup` endpoint has a score;
    // a null lookup never joins, a null GROUP key still sums (and
    // feeds the max) — the distributed groupBy keeps it
    def halfStep(inP: Array[Boolean], inV: Array[Long],
        lookupA: Array[Int], groupA: Array[Int])
        : (Array[Boolean], Array[Long]) = {
      val sumP = new Array[Boolean](n)
      val sumV = new Array[Long](n)
      var i = 0
      while (i < lookupA.length) {
        val l = lookupA(i)
        if (l != nullId && inP(l)) {
          val g = groupA(i)
          sumP(g) = true
          sumV(g) += inV(l)
        }
        i += 1
      }
      var smax = Long.MinValue
      var any = false
      i = 0
      while (i < n) {
        if (sumP(i)) { any = true; if (sumV(i) > smax) smax = sumV(i) }
        i += 1
      }
      if (!any) return (sumP, sumV)
      val smaxB = BigInt(smax)
      i = 0
      while (i < n) {
        if (sumP(i)) sumV(i) = ((BigInt(sumV(i)) * one) / smaxB).toLong
        i += 1
      }
      (sumP, sumV)
    }
    for (_ <- 1 to iters) {
      val a = halfStep(hub, hubV, srcA, dstA)
      auth = a._1; authV = a._2
      val h = halfStep(auth, authV, dstA, srcA)
      hub = h._1; hubV = h._2
    }
    localScoreDf(spark, e.schema.fields(0).dataType, in.values,
      Seq("hub", "authority"),
      v => Seq(
        if (v != nullId && hub(v)) hubV(v) else 0L,
        if (v != nullId && auth(v)) authV(v) else 0L))
  }
}
