package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupIngestSpec extends SparkSpec {
  import spark.implicits._

  test("dedup-on-ingest routes novel docs, flags near-dups vs index and within batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val (acc, dup, idx) = (s"$dir/accepted", s"$dir/dups", s"$dir/index")

    val d1 = "the quick brown fox jumps over the lazy dog in the quiet morning sun"
    val d2 = "completely different content describing spark engines and cluster scale"
    val d4 = "a third body of text with its own distinct vocabulary and phrasing style"

    // batch 0: two novel docs
    DedupIngest.processBatch(
      Seq((1L, d1), (2L, d2)).toDF("doc_id", "text"),
      "doc_id", "text", acc, dup, idx, "run1", 0L, 5, 32, 4, 0.5)
    assert(spark.read.parquet(acc).count() == 2)
    assert(spark.read.parquet(idx).select("id").distinct().count() == 2)

    // batch 1: near-dup of doc 1 (vs index), novel doc 4, exact dup of
    // doc 4 within the same batch
    DedupIngest.processBatch(
      Seq((3L, d1), (4L, d4), (5L, d4)).toDF("doc_id", "text"),
      "doc_id", "text", acc, dup, idx, "run1", 1L, 5, 32, 4, 0.5)

    val accepted = spark.read.parquet(acc).select("doc_id").as[Long].collect().toSet
    assert(accepted == Set(1L, 2L, 4L))
    val dups = spark.read.parquet(dup).select("doc_id", "dup_of")
      .as[(Long, Long)].collect().toMap
    assert(dups == Map(3L -> 1L, 5L -> 4L))
    // only novel docs entered the index
    val indexed = spark.read.parquet(idx).select("id").distinct().as[Long].collect().toSet
    assert(indexed == Set(1L, 2L, 4L))

    // replay of batch 1 (same run identity) is idempotent
    DedupIngest.processBatch(
      Seq((3L, d1), (4L, d4), (5L, d4)).toDF("doc_id", "text"),
      "doc_id", "text", acc, dup, idx, "run1", 1L, 5, 32, 4, 0.5)
    assert(spark.read.parquet(acc).count() == 3)
    assert(spark.read.parquet(idx).select("id").distinct().count() == 3)
    // the replay is not matched against its own index entries
    assert(spark.read.parquet(dup).select("doc_id", "dup_of")
      .as[(Long, Long)].collect().toMap == Map(3L -> 1L, 5L -> 4L))
  }

  test("processBatch leaves no cached frame behind, batch after batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest-cache").toString
    val (acc, dup, idx) = (s"$dir/accepted", s"$dir/dups", s"$dir/index")
    val text = "the quick brown fox jumps over the lazy dog in the quiet morning sun"
    // new persisted RDD ids, not a count: the ContextCleaner may free
    // other suites' RDDs meanwhile
    val before = spark.sparkContext.getPersistentRDDs.keySet
    for (b <- 0L to 1L)
      DedupIngest.processBatch(Seq((10L * b, text), (10L * b + 1, text)).toDF("doc_id", "text"),
        "doc_id", "text", acc, dup, idx, "run1", b, 5, 32, 4, 0.5)
    assert(spark.read.parquet(dup).count() == 3)
    val kept = spark.sparkContext.getPersistentRDDs -- before
    assert(kept.isEmpty, s"still persisted after two batches: ${kept.values.map(_.name)}")
  }

  test("streaming end-to-end over file drops") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest-s").toString
    val drop = s"$dir/drop"; new java.io.File(drop).mkdirs()
    Seq((10L, "some document text that is long enough to shingle properly here"),
        (11L, "another unrelated document body with different words entirely now"))
      .toDF("doc_id", "text").write.mode("append").parquet(drop)

    val stream = spark.readStream.schema("doc_id BIGINT, text STRING").parquet(drop)
    val q = DedupIngest.start(stream, "doc_id", "text",
      s"$dir/accepted", s"$dir/dups", s"$dir/index", s"$dir/ckpt")
    try q.awaitTermination(60000) finally q.stop()

    assert(spark.read.parquet(s"$dir/accepted").count() == 2)
    assert(spark.read.parquet(s"$dir/index").count() > 0)
  }
}
