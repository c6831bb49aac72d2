package graft.ops

import graft.SparkSpec

class KCoreSpec extends SparkSpec {
  import spark.implicits._

  private def undirected(pairs: Seq[(Long, Long)]) =
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")

  private def clique(ids: Seq[Long]): Seq[(Long, Long)] =
    for (a <- ids; b <- ids if a < b) yield (a, b)

  test("clique plus tail: the core is the clique, the tail peels") {
    val g = undirected(clique(Seq(1L, 2L, 3L, 4L, 5L)) ++
      Seq((5L, 10L), (10L, 11L), (11L, 12L)))
    val core = KCore.core(g, k = 4).as[(Long, Long)].collect().toMap
    assert(core.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(core.values.forall(_ == 4L))
  }

  test("cascading peel: removing the tail drops the bridge below k") {
    // triangle 1-2-3, node 4 hangs off 3, node 5 off 4: k=2 keeps only
    // the triangle, and 4 only peels AFTER 5 does
    val g = undirected(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)))
    val (core, run) = roundsRun("kcore")(KCore.core(g, k = 2))
    val rounds = run.rounds
    assert(core.as[(Long, Long)].collect().toMap.keySet == Set(1L, 2L, 3L))
    assert(rounds >= 2, s"cascade must take >1 round, took $rounds")
  }

  test("no k-core: everything peels to empty") {
    val g = undirected(Seq((1L, 2L), (2L, 3L)))
    assert(KCore.core(g, k = 2).isEmpty)
  }

  test("already a k-core: one round, nothing peels") {
    val g = undirected(clique(Seq(1L, 2L, 3L, 4L)))
    val (core, run) = roundsRun("kcore")(KCore.core(g, k = 3))
    val rounds = run.rounds
    assert(core.count() == 4 && rounds == 1)
  }

  test("self-loops do not inflate degree") {
    val g = undirected(Seq((1L, 2L))).union(
      Seq((1L, 1L), (1L, 1L)).toDF("src", "dst"))
    assert(KCore.core(g, k = 2).isEmpty)
  }

  test("deterministic across partitionings") {
    val g = undirected(clique(Seq(1L, 2L, 3L, 4L)) ++
      Seq((4L, 7L), (7L, 8L), (8L, 4L)))
    val a = KCore.core(g.repartition(1), 2).as[(Long, Long)].collect().toSet
    val b = KCore.core(g.repartition(7), 2).as[(Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
  }
}
