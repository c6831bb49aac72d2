package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** One-off attribution probe for the r11 epsilon fix in
  * Similarity.ngramContainmentPrefix (commit 3aa77e0): prints the
  * candidate-pair count under the corrected prefix bound
  * ⌊(1−t)·n + 1e-9⌋+1 vs the bare ⌊(1−t)·n⌋+1 it replaced, on the
  * same corpus the bench entry runs, so the perf delta is measured
  * against the recall it bought rather than assumed. */
object PrefixAttribution {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(
      graft.GraftSession.defaultCores, "prefix-attribution")
    import graft.ops.Similarity

    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
    // mirror SparkEntry.containmentCorpus: base docs plus ASCII prefix
    // halves re-ids'd +1000, the tiny-inside-huge containment planted set
    val base = docs0.where(col("doc_id") < 100).select(col("doc_id"), col("text"))
    val docs = base.unionAll(base
      .where(col("text").rlike("^[ -~]*$") && length(col("text")) >= 240)
      .select((col("doc_id") + 1000).as("doc_id"), substring(col("text"), 1, 120).as("text")))
    val (k, t) = (5, 0.8)

    def grams(d: DataFrame): DataFrame =
      d.select(col("doc_id").as("id"), lower(col("text")).as("s"))
        .where(length(col("s")) >= k)
        .select(col("id"), explode(graft.expr.CharGrams.charGrams(col("s"), k)).as("gram"))

    def candidates(eps: Double): Long = {
      val g = grams(docs)
      val dfs = g.groupBy("gram").agg(count(lit(1)).as("df"))
      val sizes = g.groupBy("id").agg(count(lit(1)).as("n"))
      val prefix = g.join(dfs, "gram")
        .withColumn("rk",
          row_number().over(Window.partitionBy("id").orderBy(col("df"), col("gram"))))
        .join(sizes, "id")
        .where(col("rk") <= floor(lit(1.0 - t) * col("n") + lit(eps)) + 1)
        .select(col("id"), col("gram"))
      prefix.as("p").join(g.as("x"),
          col("p.gram") === col("x.gram") && col("p.id") =!= col("x.id"))
        .select(least(col("p.id"), col("x.id")).as("id1"),
          greatest(col("p.id"), col("x.id")).as("id2"))
        .distinct()
        .count()
    }

    val bare = candidates(0.0)
    val fixed = candidates(1e-9)
    val surfaced = Similarity.ngramContainmentPrefix(docs, "doc_id", "text", k, t).count()

    // corpus A/B: the r10 bench entry ran on the bare doc_id<100 corpus
    // (ZERO pairs at t=0.8 — the verify stage gated nothing); r11's
    // planted snippets make it non-vacuous. Time both under the current
    // code to separate corpus effect from code effect.
    def timeIt(d: DataFrame): (Double, Long) = {
      var rows = 0L
      val secs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        rows = Similarity.ngramContainmentPrefix(d, "doc_id", "text", k, t).count()
        (System.nanoTime() - t0) / 1e9
      }.min
      (math.floor(secs * 1000) / 1000, rows)
    }
    val (tOld, rowsOld) = timeIt(base)
    val (tNew, rowsNew) = timeIt(docs)
    println(s"""{"probe":"prefix_epsilon_attribution","sf":"$sfDir","k":$k,"threshold":$t,""" +
      s""""candidates_bare_floor":$bare,"candidates_epsilon":$fixed,""" +
      s""""candidate_ratio":${fixed.toDouble / bare.max(1L)},"surfaced_pairs":$surfaced,""" +
      s""""r10_corpus_sec":$tOld,"r10_corpus_pairs":$rowsOld,""" +
      s""""r11_corpus_sec":$tNew,"r11_corpus_pairs":$rowsNew}""")
    spark.stop()
  }
}
