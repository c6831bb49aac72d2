package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ApproxDistinctRuleSpec extends AnyFunSuite {

  /** A fresh session over the shared context: GraftExtensions (and so
    * the rule) installed, and its own SQL conf, so the flag set here
    * never leaks into other suites. */
  private def withExtSession[T](fn: SparkSession => T): T =
    fn(SparkSpec.session.newSession())

  test("disabled by default: count(DISTINCT) stays exact and untouched") {
    withExtSession { sess =>
      sess.range(1000).selectExpr("id % 10 AS g", "id % 137 AS v")
        .createOrReplaceTempView("ad_in")
      val df = sess.sql("SELECT g, count(DISTINCT v) AS d FROM ad_in GROUP BY g")
      assert(!df.queryExecution.optimizedPlan.toString.contains("hll_distinct"))
      assert(df.collect().map(_.getLong(1)).forall(d => d == 100L || d == 14L || d == 13L))
    }
  }

  test("enabled: the plan rewrites to hll_distinct and approximates") {
    withExtSession { sess =>
      sess.conf.set(ApproxDistinctRule.enabledKey, "true")
      sess.range(100000).selectExpr("id % 4 AS g", "id % 9173 AS v")
        .createOrReplaceTempView("ad_in2")
      val df = sess.sql("SELECT g, count(DISTINCT v) AS d FROM ad_in2 GROUP BY g")
      assert(df.queryExecution.optimizedPlan.toString.contains("hll_distinct"),
        df.queryExecution.optimizedPlan.toString)
      // each 25k-id group covers nearly all 9173 residues of v;
      // the p=12 estimate must land within ~5%
      df.collect().foreach { r =>
        val d = r.getLong(1)
        assert(d > 8700 && d < 9650, s"group ${r.getLong(0)} estimate $d")
      }
    }
  }

  test("non-distinct counts, count(*), and multi-arg distinct are untouched") {
    withExtSession { sess =>
      sess.conf.set(ApproxDistinctRule.enabledKey, "true")
      sess.range(1000).selectExpr("id % 10 AS g", "id % 7 AS a", "id % 5 AS b")
        .createOrReplaceTempView("ad_in3")
      val df = sess.sql(
        """SELECT g, count(*) AS n, count(a) AS na,
          |  count(DISTINCT a, b) AS dab FROM ad_in3 GROUP BY g""".stripMargin)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("hll_distinct"), plan)
      val r = df.collect()
      assert(r.forall(_.getAs[Long]("n") == 100L))
      // id % 5 is constant within an id % 10 group: 7 distinct pairs
      assert(r.forall(_.getAs[Long]("dab") == 7L))
    }
  }

  test("the flag flips per statement within one session") {
    withExtSession { sess =>
      sess.range(5000).selectExpr("id % 2048 AS v").createOrReplaceTempView("ad_in4")
      sess.conf.set(ApproxDistinctRule.enabledKey, "true")
      val approx = sess.sql("SELECT count(DISTINCT v) AS d FROM ad_in4")
      assert(approx.queryExecution.optimizedPlan.toString.contains("hll_distinct"))
      sess.conf.set(ApproxDistinctRule.enabledKey, "false")
      val exact = sess.sql("SELECT count(DISTINCT v) AS d FROM ad_in4")
      assert(!exact.queryExecution.optimizedPlan.toString.contains("hll_distinct"))
      assert(exact.collect()(0).getLong(0) == 2048L)
    }
  }
}
