package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LabelPropagationSpec extends SparkSpec {
  import spark.implicits._

  private def clique(ids: Seq[Long]): Seq[(Long, Long)] =
    for (a <- ids; b <- ids if a < b) yield (a, b)

  test("two cliques with one bridge resolve to two communities") {
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) :+ ((4L, 10L)))
      .toDF("src", "dst")
    val m = LabelPropagation.communities(edges)
      .as[(Long, Long)].collect().toMap
    val c1 = Set(1L, 2L, 3L, 4L).map(m)
    val c2 = Set(10L, 11L, 12L, 13L).map(m)
    assert(c1.size == 1, s"clique 1 split: $m")
    assert(c2.size == 1, s"clique 2 split: $m")
    assert(c1 != c2, s"cliques merged across the bridge: $m")
  }

  test("CC would merge what LPA separates") {
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) :+ ((4L, 10L)))
      .toDF("src", "dst")
    val cc = ConnectedComponents.components(edges)
      .as[(Long, Long)].collect().toMap
    assert(cc.values.toSet.size == 1) // one reachable component
  }

  test("deterministic across partitionings") {
    val edges = (clique(Seq(1L, 2L, 3L)) ++ clique(Seq(7L, 8L, 9L)) ++
      Seq((3L, 7L), (20L, 20L))).toDF("src", "dst")
    val a = LabelPropagation.communities(edges.repartition(1))
      .as[(Long, Long)].collect().toMap
    val b = LabelPropagation.communities(edges.repartition(7))
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("isolated self-loop node keeps its own label") {
    val edges = Seq((1L, 2L), (50L, 50L)).toDF("src", "dst")
    val m = LabelPropagation.communities(edges)
      .as[(Long, Long)].collect().toMap
    assert(m(50L) == 50L)
  }

  test("driver fold and distributed rounds agree label-for-label (r20)") {
    // a hashed pseudo-random graph with hubs, isolated self-loops and
    // asymmetric degrees — every tier-divergence surface at once
    val edges = (0 until 400).map { i =>
      val s = (i * 2654435761L) % 97
      val d = (i * 40503L + 13) % 97
      (s, d)
    }.toDF("src", "dst")
    val fold = LabelPropagation.communities(edges, maxRounds = 6)
      .as[(Long, Long)].collect().toMap
    val dist = LabelPropagation.communitiesCapped(edges, foldRows = 0L,
        maxRounds = 6)
      .as[(Long, Long)].collect().toMap
    assert(fold == dist)
  }

  test("bounded rounds: oscillation-prone bipartite edge stops at maxRounds") {
    // a single edge flips labels every synchronous round (a adopts b,
    // b adopts a) — the loop must terminate and report maxRounds
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val (_, run) = roundsRun("lpa")(LabelPropagation.communities(edges, maxRounds = 4))
    val rounds = run.rounds
    assert(rounds <= 4)
  }
}
