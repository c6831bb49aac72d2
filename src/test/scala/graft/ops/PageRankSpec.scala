package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PageRankSpec extends SparkSpec {

  import spark.implicits._

  private def undirected(pairs: (String, String)*) =
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")

  test("star graph: the hub out-ranks every leaf; leaves tie exactly") {
    val star = undirected((2 to 11).map(i => ("hub", s"leaf$i")): _*)
    val r = PageRank.ranks(star, iters = 5)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val hub = r("hub")
    val leaves = (2 to 11).map(i => r(s"leaf$i"))
    assert(leaves.distinct.size === 1, "symmetric leaves must tie")
    assert(hub > leaves.head * 5, s"hub $hub vs leaf ${leaves.head}")
    // mass stays in (0.5, 1.0] x 10^12: truncation only loses dust
    val total = r.values.sum
    assert(total > 500000000000L && total <= 1000000000000L, total)
  }

  test("deterministic across runs and partitionings") {
    val g = undirected(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"))
    val r1 = PageRank.ranks(g, iters = 4).orderBy("node").collect().toSeq
    val r2 = PageRank.ranks(g.repartition(7), iters = 4)
      .orderBy("node").collect().toSeq
    assert(r1 === r2)
  }

  test("dangling nodes keep base rank only; sinks accumulate") {
    // directed chain a -> b -> c: c is dangling (drops mass), a gets
    // nothing back
    val chain = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val r = PageRank.ranks(chain, iters = 3)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r("c") > r("b") && r("b") > r("a"))
  }

  test("periodic checkpointing bounds the plan, not the result") {
    val g = undirected(("a", "b"), ("b", "c"), ("c", "a"))
    // six rounds: the state is pinned after round 4 of 6
    val checked = PageRank.ranks(g, iters = 6)
    // the plain integer recurrence on the triangle: every node has
    // out-degree 2 and receives from the other two
    val r0 = 1000000000000L / 3
    val base = (r0 * 15L) / 100L
    val ref = (1 to 6).foldLeft(Map("a" -> r0, "b" -> r0, "c" -> r0)) { (r, _) =>
      r.map { case (v, _) =>
        v -> (base + r.collect { case (u, ru) if u != v => (ru * 85L) / (100L * 2L) }.sum)
      }
    }
    assert(checked.orderBy("node").collect().map(x => x.getString(0) -> x.getLong(1)).toSeq
      === ref.toSeq.sorted)
    // three rounds and no pin: a longer plan than six rounds' last two
    val unchecked = PageRank.ranks(g, iters = 3)
    def planSize(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.logical.collect { case n => n }.size
    assert(planSize(checked) < planSize(unchecked),
      s"${planSize(checked)} !< ${planSize(unchecked)}")
  }

  test("personalized: mass concentrates near the seed set") {
    // two 4-cliques joined by one bridge; seed in clique A
    def clique(ns: Seq[String]) =
      for (a <- ns; b <- ns if a < b) yield (a, b)
    val g = undirected((clique(Seq("a1", "a2", "a3", "a4")) ++
      clique(Seq("b1", "b2", "b3", "b4")) :+ (("a4", "b1"))): _*)
    import spark.implicits._
    val r = PageRank.personalized(g, Seq("a1").toDF("node"), iters = 4)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r("a2") > r("b2") * 3, s"${r("a2")} vs ${r("b2")}")
    assert(r("a1") > r("a2"), "the seed keeps the teleport mass")
  }

  test("personalized: seeds outside the graph are dropped from the denominator") {
    import spark.implicits._
    val g = undirected(("a", "b"))
    val withGhost = PageRank.personalized(g, Seq("a", "ghost").toDF("node"), 3)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val without = PageRank.personalized(g, Seq("a").toDF("node"), 3)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(withGhost == without)
    assert(!withGhost.contains("ghost"))
  }

  test("personalized: unreachable nodes stay at rank 0") {
    import spark.implicits._
    val g = Seq(("a", "b"), ("x", "y")).toDF("src", "dst")
    val r = PageRank.personalized(g, Seq("a").toDF("node"), 3)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r("b") > 0L && r("x") == 0L && r("y") == 0L)
  }

  test("personalized: deterministic across partitionings") {
    import spark.implicits._
    val g = undirected(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"))
    val r1 = PageRank.personalized(g, Seq("a", "d").toDF("node"), 4)
      .orderBy("node").collect().toSeq
    val r2 = PageRank.personalized(g.repartition(7),
      Seq("a", "d").toDF("node").repartition(3), 4)
      .orderBy("node").collect().toSeq
    assert(r1 === r2)
  }
}
