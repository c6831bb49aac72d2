package graft.streaming

import graft.ops.Similarity
import graft.sources.CommitLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Dedup-on-ingest: the streaming form of corpus near-dedup.
  *
  * Batch corpus dedup ([[Similarity.dropNearDuplicates]]) re-scans the
  * whole corpus; an ingest pipeline cannot. Here each arriving
  * micro-batch of documents is:
  *   1. signed (MinHash, native expression — narrow scan),
  *   2. checked for near-duplicates against the PERSISTED signature
  *      index (banded join: only matching (band, bucket) groups are
  *      read — with the index parquet partitioned by band, partition
  *      pruning keeps the probe proportional to the batch, not the
  *      corpus) and within the batch itself,
  *   3. routed: novel docs append to `acceptedPath` AND their
  *      signatures append to the index; near-dups land in
  *      `duplicatesPath` with the id of the retained representative.
  *
  * Exactly-once: all three sinks follow the [[MicroBatch]] rule (each
  * batch writes only its own (run_id, batch_id) partition), and the
  * index is read without the batch's own partition, so a replayed
  * batch never matches the index entries its first attempt added. The
  * index grows append-only and IS the dedup state — no driver memory,
  * no streaming state store, restart-safe by construction.
  *
  * At 100 TB this is the standard shape: the index is a parquet table
  * keyed by (band, bucket); each batch shuffles only its own
  * signatures.
  */
object DedupIngest {

  /** Banded (id, band, bucket) rows for a batch of docs. */
  private def bandOf(sigs: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val numBands = numHashes / rowsPerBand
    sigs.select(col("id"), col("sig"),
        posexplode(expr(s"transform(sequence(0, ${numBands - 1}), b -> hash(slice(sig, b * $rowsPerBand + 1, $rowsPerBand)))")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  def start(docs: DataFrame, idCol: String, textCol: String,
            acceptedPath: String, duplicatesPath: String, indexPath: String,
            checkpoint: String,
            k: Int = 5, numHashes: Int = 32, rowsPerBand: Int = 4,
            threshold: Double = 0.5): StreamingQuery =
    MicroBatch.start(docs, checkpoint) { (batch, runId, batchId) =>
      processBatch(batch, idCol, textCol, acceptedPath, duplicatesPath,
        indexPath, runId, batchId, k, numHashes, rowsPerBand, threshold)
    }

  /** One micro-batch; factored out so tests can drive it directly. */
  private[streaming] def processBatch(batch: DataFrame, idCol: String, textCol: String,
                   acceptedPath: String, duplicatesPath: String,
                   indexPath: String, runId: String, batchId: Long,
                   k: Int, numHashes: Int, rowsPerBand: Int,
                   threshold: Double): Unit = {
    val spark = batch.sparkSession
    val sigs = Similarity.minhashSignatures(batch, idCol, textCol, k, numHashes)
      .cache()
    val banded = bandOf(sigs, numHashes, rowsPerBand).cache()
    var dups: DataFrame = null
    try {
      // vs-index candidates: join banded batch against the banded
      // index of earlier batches (none before the first batch lands)
      val vsIndex = MicroBatch.prior(spark, indexPath, runId, batchId).map { index =>
        banded.join(index.select(col("id").as("x_id"), col("sig").as("x_sig"),
            col("band"), col("bucket")), Seq("band", "bucket"))
          .where(round(graft.expr.SigAgreement.sigAgreement(col("sig"), col("x_sig")), 4)
            >= threshold)
          .select(col("id"), col("x_id").as("dup_of"))
      }
      // within-batch candidates: smaller id survives
      val within = banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.id") > col("b.id"))
        .where(round(graft.expr.SigAgreement.sigAgreement(col("a.sig"), col("b.sig")), 4)
          >= threshold)
        .select(col("a.id").as("id"), col("b.id").as("dup_of"))

      dups = (vsIndex.toSeq :+ within).reduce(_ union _)
        .groupBy("id").agg(min("dup_of").as("dup_of"))
        .cache()

      val dupIds = dups.select("id")
      val accepted = batch.join(dupIds, batch(idCol) === dupIds("id"), "left_anti")
      val rejected = batch.join(dups, batch(idCol) === dups("id"))
        .drop("id")

      CommitLog.writeDataOnly(accepted, acceptedPath, runId, batchId)
      CommitLog.writeDataOnly(rejected, duplicatesPath, runId, batchId)
      // only NOVEL docs enter the index — near-dups of near-dups chain
      // to the earliest representative through their retained match
      val newEntries = banded
        .join(dupIds, banded("id") === dupIds("id"), "left_anti")
      CommitLog.writeDataOnly(newEntries, indexPath, runId, batchId)
    } finally { sigs.unpersist(); banded.unpersist(); if (dups != null) dups.unpersist() }
  }
}
