package graft

import org.apache.spark.sql.functions._
import graft.Smoke.{fmt3 => fmt}

/** Text→embeddings→ANN end-to-end scale smoke: the full semantic-
  * dedup path a training pipeline runs — SGNS trains on the corpus,
  * [[graft.text.Sgns.docEmbeddings]] turns every document into an
  * idf-weighted mean vector, and the IVF kNN graph must find the
  * planted near-dups. The plants are WORD-SHUFFLED copies (reversed
  * token order) of every tenth document: a bag-of-vectors mean is
  * order-invariant, so each twin embeds IDENTICALLY — detection is
  * exact by construction, and the check counts verified-correct work
  * (top-1 cosine 1.0 AND the twin itself recovered), not vibes. One
  * JSON line → BENCH_SCALE_TEXT2VEC.json. */
object TextVecScaleSmoke {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.defaultCores, "graft-text2vec-smoke")
    import spark.implicits._
    // widen the natural corpus ~10x with deterministic VARIANTS (words
    // rotated by r, every (r+2)-th word dropped): each variant is a
    // distinct token multiset, so no accidental twins — the planted
    // reversed copies are the only order-invariant duplicates
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val docs0 = base.select(col("doc_id"), lit(0).as("r"), col("text"))
      .unionAll(base
        .select(col("doc_id"), explode(sequence(lit(1), lit(9))).as("r"),
          col("text"))
        .select(col("doc_id"), col("r"),
          array_join(filter(
            concat(slice(split(col("text"), " "), col("r") + 1, lit(100000)),
              slice(split(col("text"), " "), lit(1), col("r"))),
            (w, i) => i % (col("r") + 2) =!= 0), " ").as("text")))
      .select((col("doc_id") * 10 + col("r")).as("doc_id"), col("text"))
    val twins = docs0.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        array_join(reverse(split(col("text"), " ")), " ").as("text"))
    val corpus = docs0.unionAll(twins).localCheckpoint()
    val nDocs = corpus.count()
    val nTwins = twins.count()

    val t0 = System.nanoTime()
    val pairs = graft.text.SkipGram.trainingPairs(
      corpus, "doc_id", "text", window = 2)
    val model = graft.text.Sgns.train(pairs, dim = 32, epochs = 3,
      lr = 1.0, negatives = 5, topV = 4096)
    val trainSec = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val emb = graft.text.Sgns.docEmbeddings(corpus, "doc_id", "text",
        model.embeddingsDf(spark))
      .localCheckpoint()
    val nEmb = emb.count()
    val embedSec = (System.nanoTime() - t1) / 1e9

    val t2 = System.nanoTime()
    val knn = graft.ops.Ann.knnGraph(emb, "doc_id", "embedding", k = 1,
        cells = 256, nprobe = 16)
      .localCheckpoint()
    val knnSec = (System.nanoTime() - t2) / 1e9
    // detection: every twin's top-1 neighbor sits at cosine 1.0;
    // identity: the recovered neighbor IS the original (modulo docs
    // whose token multiset collides naturally — counted separately)
    val twinTop = knn.where(col("query_id") >= 10000000L)
    val detected = twinTop.where(col("cosine") >= 0.999999).count()
    val exactTwin = twinTop.where(col("cosine") >= 0.999999 &&
      col("neighbor_id") === col("query_id") - 10000000L).count()
    require(detected == nTwins,
      s"near-dup detection missed twins: $detected of $nTwins")
    require(exactTwin >= (nTwins * 99) / 100,
      s"twin identity recovered for only $exactTwin of $nTwins")
    val json = s"""{"metric":"text2vec_scale","docs":$nDocs,""" +
      s""""planted_twins":$nTwins,"embedded":$nEmb,""" +
      s""""twin_detected":$detected,"twin_exact":$exactTwin,""" +
      s""""train_sec":${fmt(trainSec)},"embed_sec":${fmt(embedSec)},""" +
      s""""knn_sec":${fmt(knnSec)},""" +
      s""""docs_per_sec":${(nDocs / (trainSec + embedSec + knnSec)).toLong}}"""
    Smoke.artifact("BENCH_SCALE_TEXT2VEC.json", json)
    spark.stop()
  }
}
