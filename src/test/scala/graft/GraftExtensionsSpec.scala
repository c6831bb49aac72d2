package graft

import org.scalatest.funsuite.AnyFunSuite

/** Verifies the SparkSessionExtensions entry point: a session built
  * with the extensions exposes the native functions WITHOUT any
  * per-session register() call — the cluster deployment path.
  * `newSession()` gives a fresh function registry (other specs call
  * GraftFunctions.register on the shared session) that still carries
  * the extensions GraftSession installed on the shared context. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("withExtensions(GraftExtensions) exposes native SQL functions") {
    val sess = SparkSpec.session.newSession()
    import sess.implicits._
    Seq("aaaa bbbb cccc", "aaaa bbbb cccc").toDF("t").createOrReplaceTempView("ext_docs")
    val sig = sess.sql("SELECT minhash_sig(t, 4, 8) AS s FROM ext_docs")
      .as[Seq[Long]].collect()
    assert(sig(0) == sig(1) && sig(0).length == 8)
    assert(sess.sql("SELECT kmv_distinct(t, 64) AS d FROM ext_docs").as[Long].head() == 1L)
    // r2 natives: simhash64, cosine_sim, lsh_bucket
    val sh = sess.sql("SELECT simhash64(t) AS h FROM ext_docs").as[Long].collect()
    assert(sh(0) == sh(1))
    val cs = sess.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
      "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c").as[Double].head()
    assert(math.abs(cs - 1.0) < 1e-12)
    val lb = sess.sql(
      "SELECT lsh_bucket(array(CAST(0.5 AS FLOAT), CAST(-0.25 AS FLOAT)), 8) AS b")
      .as[Long].head()
    assert(lb >= 0L && lb < 256L)
    val dr = sess.sql("SELECT deflate_ratio(repeat('ab', 500)) AS r")
      .as[Double].head()
    assert(dr > 0 && dr < 0.2)
  }

  test("GraftSession.local builds a tuned session with native functions wired") {
    // the shared test session IS GraftSession.local(4, ...)
    val sess = SparkSpec.session.newSession()
    assert(sess.conf.get("spark.sql.extensions") == classOf[GraftExtensions].getName)
    assert(sess.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(sess.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(sess.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "65536")
    import sess.implicits._
    val h = sess.sql("SELECT simhash64('hello world') AS h").as[Long].head()
    assert(h != 0L)
  }
}
