package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Exact-result pins for the iterative graph operators on one graph
  * that mixes hubs, chains, duplicate edges, dangling nodes and string
  * ids (the co-purchase entries' shape). [[Hits]] keeps a bounded
  * driver fold, which must reproduce its distributed rounds
  * BIT-FOR-BIT. PageRank, personalized PageRank and ShortestPaths run
  * distributed at every size; their cases compare the operator against
  * a plain-Scala replay of the same integer recurrence written here, so
  * any divergence is an operator bug. The case names predate the
  * deletion of those three folds and are kept as they were.
  */
class GraphDriverFoldSpec extends SparkSpec {
  import spark.implicits._

  // hashed pseudo-random digraph with duplicates and a hub
  private val edgeList: Seq[(String, String)] = (0 until 600).map { i =>
    val s = (i * 2654435761L) % 83
    val d = (i * 40503L + 7) % 83
    (s"n$s", s"n$d")
  } ++ Seq(("n1", "hub"), ("n2", "hub"), ("n3", "hub"), ("n1", "hub"))

  private val nodes = edgeList.flatMap(e => Seq(e._1, e._2)).distinct

  private lazy val edges = edgeList.toDF("src", "dst")

  private def m(df: org.apache.spark.sql.DataFrame): Map[String, Seq[Long]] =
    df.collect().map(r => r.getString(0) ->
      (1 until r.length).map(r.getLong).toSeq).toMap

  /** The integer PageRank recurrence edge by edge: every edge row
    * (duplicates included) sends `(r·85) div (100·deg)` to its dst,
    * `deg` counting rows; each round a node's rank is its base plus
    * what it received. */
  private def pageRankRef(init: String => Long, base: String => Long,
      iters: Int): Map[String, Seq[Long]] = {
    val deg = edgeList.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var rank = nodes.map(v => v -> init(v)).toMap
    for (_ <- 1 to iters) {
      val recv = edgeList.groupBy(_._2).map { case (d, es) =>
        d -> es.map(e => (rank(e._1) * 85L) / (100L * deg(e._1))).sum
      }
      rank = nodes.map(v => v -> (base(v) + recv.getOrElse(v, 0L))).toMap
    }
    rank.map { case (v, r) => v -> Seq(r) }
  }

  test("PageRank.ranks: fold == distributed") {
    val r0 = 1000000000000L / nodes.size
    // 6 rounds take the periodic pin after round 4
    for (iters <- Seq(4, 6)) {
      val ref = pageRankRef(_ => r0, _ => (r0 * 15L) / 100L, iters)
      assert(m(PageRank.ranks(edges, iters = iters)) == ref, s"iters $iters")
    }
  }

  test("PageRank.personalized: fold == distributed") {
    val sources = Seq("n1", "n5", "absent")
    // a seed outside the graph drops out of the mass denominators
    val seeds = sources.filter(nodes.contains).toSet
    val r0 = 1000000000000L / seeds.size
    val base = (1000000000000L * 15L / 100L) / seeds.size
    for (iters <- Seq(3, 6)) {
      val ref = pageRankRef(v => if (seeds(v)) r0 else 0L,
        v => if (seeds(v)) base else 0L, iters)
      assert(m(PageRank.personalized(edges, sources.toDF("node"),
        iters = iters)) == ref, s"iters $iters")
    }
  }

  test("Hits.scores: fold == distributed") {
    for (iters <- Seq(4, 6)) {
      val fold = m(Hits.scores(edges, iters = iters))
      val dist = m(Hits.scoresCapped(edges, foldRows = 0L, iters = iters))
      assert(fold == dist, s"iters $iters")
    }
  }

  test("ShortestPaths.bounded: fold == distributed") {
    val w = edges.withColumn("w",
      pmod(xxhash64(col("src"), col("dst")), lit(50L)))
    val weighted = w.as[(String, String, Long)].collect().toSeq
    val sources = Seq("n1", "n2", "absent")
    // full relaxation: d_k(v) = min(d_{k-1}(v), min over u→v of
    // d_{k-1}(u) + w); every source sits at 0, in the graph or not
    var d = sources.map(_ -> 0L).toMap
    for (_ <- 1 to 4) {
      val cand = weighted.filter(e => d.contains(e._1))
        .groupBy(_._2).map { case (v, es) => v -> es.map(e => d(e._1) + e._3).min }
      d = (d.keySet ++ cand.keySet).map(v =>
        v -> math.min(d.getOrElse(v, Long.MaxValue),
          cand.getOrElse(v, Long.MaxValue))).toMap
    }
    val ref = d.map { case (v, x) => v -> Seq(x) }
    assert(m(ShortestPaths.bounded(w, sources.toDF("node"),
      maxHops = 4)) == ref)
  }
}
