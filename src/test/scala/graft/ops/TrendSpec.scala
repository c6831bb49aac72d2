package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.Row

class TrendSpec extends SparkSpec {
  import spark.implicits._

  private def run(rows: Seq[(String, Long, Long)]): Map[String, Row] =
    Trend.fitGrouped(rows.toDF("k", "t", "v"), "k", "t", "v")
      .collect().map(r => r.getString(0) -> r).toMap

  test("perfect line recovers slope, intercept, r2=1") {
    // y = 7x + 3
    val rows = (1L to 30L).map(x => ("a", x, 7 * x + 3))
    val r = run(rows)("a")
    assert(r.getDouble(2) == 7.0, s"slope ${r.getDouble(2)}")
    assert(r.getDouble(3) == 3.0, s"intercept ${r.getDouble(3)}")
    assert(r.getDouble(4) >= 0.999999)
  }

  test("negative slope and grouped independence") {
    val a = (1L to 20L).map(x => ("down", x, 1000 - 5 * x))
    val b = (1L to 20L).map(x => ("flat", x, 100L))
    val m = run(a ++ b)
    assert(m("down").getDouble(2) == -5.0)
    assert(m("flat").getDouble(2) == 0.0)
    assert(m("flat").isNullAt(4)) // constant y: r2 NULL
  }

  test("position is rank in order-col order, not the raw order value") {
    // gappy t values: x must be 1,2,3 not 10,20,300
    val rows = Seq(("a", 10L, 5L), ("a", 20L, 10L), ("a", 300L, 15L))
    val r = run(rows)("a")
    assert(r.getDouble(2) == 5.0, s"slope ${r.getDouble(2)}")
  }

  test("single-point series excluded") {
    assert(run(Seq(("a", 1L, 5L))).isEmpty)
  }

  test("noisy line: r2 strictly between 0 and 1, slope near truth") {
    val rows = (1L to 50L).map(x =>
      ("a", x, 10 * x + (if (x % 2 == 0) 13L else -13L)))
    val r = run(rows)("a")
    assert(math.abs(r.getDouble(2) - 10.0) < 0.1)
    assert(r.getDouble(4) > 0.9 && r.getDouble(4) < 1.0)
  }

  test("theil-sen: outlier day cannot move the median slope") {
    // clean line y = 5x with one wild spike at x=10
    val rows = (1L to 21L).map(x => ("a", x, if (x == 10) 100000L else 5 * x))
    val r = Trend.theilSen(rows.toDF("k", "t", "v"), "k", "t", "v")
      .collect()(0)
    assert(r.getDouble(2) == 5.0, s"robust slope ${r.getDouble(2)}")
    // OLS on the same data is dragged far from 5
    val ols = Trend.fitGrouped(rows.toDF("k", "t", "v"), "k", "t", "v")
      .collect()(0).getDouble(2)
    assert(math.abs(ols - 5.0) > 50, s"ols $ols should be dragged")
  }

  test("theil-sen: exact median on a tiny hand case") {
    // points (1,1),(2,3),(3,4): slopes 2, 1.5, 1 -> median 1.5
    val rows = Seq(("a", 1L, 1L), ("a", 2L, 3L), ("a", 3L, 4L))
    val r = Trend.theilSen(rows.toDF("k", "t", "v"), "k", "t", "v")
      .collect()(0)
    assert(r.getLong(1) == 3L && r.getDouble(2) == 1.5)
  }

  test("theil-sen: deterministic across partitionings") {
    val rows = (1L to 60L).map(x => ("a", x, (x * 7 + x % 5) % 97))
    val r1 = Trend.theilSen(rows.toDF("k", "t", "v").repartition(1),
      "k", "t", "v").collect()(0)
    val r2 = Trend.theilSen(rows.toDF("k", "t", "v").repartition(7),
      "k", "t", "v").collect()(0)
    assert(r1 == r2)
  }

  test("theil-sen: many keys interleaved across partitions, one row per key") {
    // 30 keys, each its own slope plus a per-key spike; repartition(7)
    // deals rows round-robin, so every input partition mixes all keys
    val keys = (0 until 30).map(i => f"k$i%02d")
    val rows = for (x <- 1L to 20L; (k, i) <- keys.zipWithIndex)
      yield (k, x, (i + 1) * x + (x * i) % 3 + (if (x == 7) 1000L * i else 0L))
    val multi = Trend.theilSen(rows.toDF("k", "t", "v").repartition(7),
      "k", "t", "v").collect()
    assert(multi.length == keys.size, multi.map(_.getString(0)).sorted.mkString(","))
    assert(multi.map(_.getString(0)).toSet == keys.toSet)
    val byKey = multi.map(r => r.getString(0) -> r).toMap
    keys.foreach { k =>
      val single = Trend.theilSen(rows.filter(_._1 == k).toDF("k", "t", "v"),
        "k", "t", "v").collect()
      assert(single.length == 1)
      assert(byKey(k) == single(0), s"key $k")
    }
  }

  test("deterministic across partitionings") {
    val rows = (1L to 300L).map(x => ((x % 3).toString, x, (x * 17) % 97))
    val r1 = Trend.fitGrouped(rows.toDF("k", "t", "v").repartition(1),
      "k", "t", "v").orderBy("key").collect().toSeq
    val r2 = Trend.fitGrouped(rows.toDF("k", "t", "v").repartition(7),
      "k", "t", "v").orderBy("key").collect().toSeq
    assert(r1 == r2)
  }
}
