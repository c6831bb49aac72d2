package perfbench

import graft.GraftSession
import graft.bank.BankRules
import graft.ops.Dedup
import graft.validate.Validator
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The counts the benchmark expects are derived from its injection plan;
  * here they are held against what the engine computes. */
class FeedSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(2, "perfbench-test")
  private lazy val dir = Files.createTempDirectory("perfbench-feed").toString

  override def afterAll(): Unit = spark.stop()

  test("plan sets are disjoint and sized from the row count") {
    val p = Feed.plan(4000, seed = 5)
    val injected = p.injected.flatMap(_._2)
    val pairs = p.duplicatedKeys.flatMap { case (a, b) => Seq(a, b) }
    val all = injected ++ p.duplicatedRows ++ pairs
    assert(all.distinct.size == all.size)
    assert(p.invalid == 200)
    assert(p.duplicatedRows.size == 20)
    assert(p.duplicatedKeys.size == 4)
    assert(p.injected.forall(_._2.nonEmpty))
    assert(Feed.plan(4000, seed = 5) == p)
    assert(Feed.plan(4000, seed = 6) != p)
  }

  for (seed <- Seq(1L, 2L)) test(s"expected counts match the validator on a tiny feed, seed $seed") {
    val p = Feed.plan(600, seed)
    val path = s"$dir/feed-$seed.parquet"
    Feed.write(spark, p, path)
    val e = Feed.expected(spark, p, path)
    val feed = spark.read.parquet(path)
    val counts = Validator.splitCounts(feed, BankRules.all).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("valid" -> e.valid, "invalid" -> e.invalid))
    assert(feed.count() == e.rows)
    val perRule = Validator.summary(feed, BankRules.all).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    e.ruleViolations.foreach { case (rule, n) => assert(perRule(rule) == n, rule) }
    assert(Dedup.duplicateRows(feed).count() == e.duplicateRowGroups)
    assert(Dedup.duplicateKeys(feed, Seq("PayeeID")).count() == e.duplicateKeyGroups)
  }

  test("a run's outputs pass the check, and a wrong expectation fails it") {
    val p = Feed.plan(600, seed = 3)
    val path = s"$dir/feed-run.parquet"
    Feed.write(spark, p, path)
    val e = Feed.expected(spark, p, path)
    val run = new FeedRun(spark, path, s"$dir/out", s"$dir/db.parquet")
    run.writeDb(None)
    run.run(NoTrace)
    run.writeDb(Some(e))
    val out = run.run(NoTrace)
    assert(run.check(out, e).isEmpty)
    assert(out.diff.size == e.diff.size)
    val wrong = e.copy(invalid = e.invalid + 1, diff = e.diff.drop(1))
    val problems = run.check(out, wrong)
    assert(problems.exists(_.startsWith("invalid rows")))
    assert(problems.exists(_.startsWith("diff")))
  }
}
