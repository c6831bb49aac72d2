package graft.validate

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TableChecksSpec extends SparkSpec {
  import spark.implicits._

  test("orphans finds child rows without parents; null FKs are not orphans") {
    val parent = Seq((1L, "a"), (2L, "b")).toDF("pk", "pv")
    val child = Seq((Some(1L), "x"), (Some(3L), "y"), (None: Option[Long], "z"))
      .toDF("fk", "cv")
    val o = TableChecks.orphans(child, Seq("fk"), parent, Seq("pk"))
      .select("cv").as[String].collect()
    assert(o.toSeq == Seq("y"))
  }

  test("uniqueKey reports duplicated keys with counts") {
    val df = Seq(("A", 1), ("A", 2), ("B", 3)).toDF("k", "v")
    val d = graft.ops.Dedup.duplicateKeys(df, Seq("k")).as[(String, Long)].collect()
    assert(d.toSeq == Seq(("A", 2L)))
  }

  test("rowCountBetween reports pass/fail") {
    val df = spark.range(10).toDF("id")
    val pass = TableChecks.rowCountBetween(df, 5, 15)
      .select("pass").as[Boolean].head()
    val fail = TableChecks.rowCountBetween(df, 11, 20)
      .select("pass").as[Boolean].head()
    assert(pass && !fail)
  }
}

class ProfilerSpec extends SparkSpec {
  import spark.implicits._

  test("profile computes nulls, distincts, min/max per column in one pass") {
    val df = Seq(
      (1L, Some("a")), (2L, Some("b")), (3L, None), (4L, Some("a"))
    ).toDF("id", "s")
    val p = Profiler.profile(df, exactDistinct = true)
      .orderBy("col_name")
      .as[(String, Long, Long, Long, Long, String, String)].collect()
    assert(p.length == 2)
    val Array(idRow, sRow) = p
    assert(idRow == (("id", 4L, 4L, 0L, 4L, "1", "4")))
    assert(sRow == (("s", 4L, 3L, 1L, 2L, "a", "b")))
  }

  test("approx mode still returns a sane distinct estimate") {
    val df = spark.range(1000).select(col("id").cast("string").as("s"))
    val d = Profiler.profile(df).where(col("col_name") === "s")
      .select("n_distinct").as[Long].head()
    assert(math.abs(d - 1000L) < 100L)
  }
}
