package graft.ops

import graft.SparkSpec

class AlsSpec extends SparkSpec {
  import spark.implicits._

  test("cholesky solve recovers a known SPD system") {
    // A = [[4,2],[2,3]], b = [10, 9] (reg 0) → x = [1.5, 2]
    val a = Array(4.0, 2.0, 2.0, 3.0)
    val x = Als.choleskySolve(a, Array(10.0, 9.0), 2, reg = 0.0)
    assert(math.abs(x(0) - 1.5) < 1e-12 && math.abs(x(1) - 2.0) < 1e-12)
  }

  // exact low-rank ratings: r(u,i) = dot(P_u, Q_i) from tiny known
  // factors — ALS at the true rank must drive training RMSE to ~0
  private def lowRank = {
    val p = (1 to 30).map(u => s"u$u" ->
      Array((u % 5 + 1) * 0.3, (u % 7 + 1) * 0.2)).toMap
    val q = (1 to 12).map(i => s"i$i" ->
      Array((i % 3 + 1) * 0.4, (i % 4 + 1) * 0.25)).toMap
    val rows = for {
      (u, pu) <- p.toSeq; (i, qi) <- q.toSeq
      if (u.hashCode * 31 + i.hashCode) % 3 != 0 // drop a third
    } yield (u, i, pu(0) * qi(0) + pu(1) * qi(1))
    rows.toDF("user", "item", "rating")
  }

  test("recovers an exact low-rank matrix: rmse near zero, elementwise tight") {
    // nonconvex warm-up costs ~15 rounds on this consistent system;
    // convergence is geometric after (traced: 0.053 @2 → 2.6e-4 @20)
    val m = Als.train(lowRank, "user", "item", "rating",
      rank = 2, reg = 1e-6, iters = 20)
    val r = Als.rmse(m, lowRank, "user", "item", "rating").collect()(0)
    assert(r.getLong(0) > 0)
    assert(r.getDouble(1) < 1e-3, s"rmse ${r.getDouble(1)}")
    val bad = Als.predictions(m, lowRank, "user", "item", "rating")
      .where(org.apache.spark.sql.functions.abs(
        org.apache.spark.sql.functions.col("rating") -
          org.apache.spark.sql.functions.col("prediction")) > 0.01)
    assert(bad.count() == 0)
  }

  test("deterministic across partitionings") {
    def run(parts: Int) = {
      val m = Als.train(lowRank.repartition(parts), "user", "item",
        "rating", rank = 2, reg = 0.05, iters = 3)
      (m.userFactors.orderBy("user").collect()
        .map(r => (r.getString(0), r.getSeq[Double](1).toSeq)).toSeq,
        m.itemFactors.toSeq.sortBy(_._1).map { case (k, v) => (k, v.toSeq) })
    }
    assert(run(1) == run(7))
  }

  test("driver fold and distributed alternation agree bit-for-bit (r20)") {
    def run(budget: Long) = {
      val m = Als.trainCapped(lowRank, "user", "item", "rating",
        rank = 2, reg = 0.1, iters = 3, foldRows = budget)
      (m.userFactors.orderBy("user").collect()
        .map(r => (r.getString(0), r.getSeq[Double](1).toSeq)).toSeq,
        m.itemFactors.toSeq.sortBy(_._1).map { case (k, v) => (k, v.toSeq) })
    }
    assert(run(0L) == run(Adaptive.foldRows(Als.FoldBytesPerRating)))
  }

  test("item cap and unknown-item predictions") {
    val m = Als.train(lowRank, "user", "item", "rating",
      rank = 2, reg = 0.1, iters = 2)
    val withNew = Seq(("u1", "NEW_ITEM", 1.0)).toDF("user", "item", "rating")
    val p = Als.predictions(m, withNew, "user", "item", "rating").collect()(0)
    assert(p.getDouble(3).isNaN)
  }
}
