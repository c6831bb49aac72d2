package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming SEMANTIC-dedup ingest: text → document embedding →
  * growing IVF index, closing the streaming counterpart of the batch
  * text→SGNS→docEmbeddings→ANN path (the `text2vec` scale case, [[graft.scale.AnnScale.textVec]]).
  *
  * Each arriving micro-batch of (id, text) embeds against a FROZEN
  * (word, embedding, idf-weight) frame
  * ([[graft.text.Sgns.idfWeights]], captured once at model-training
  * time — per-batch idf would drift a document's vector between
  * batches, breaking dedup equality; training stays an offline job
  * and the ingest path is pure scoring, the LogReg/NbClassifier
  * serving discipline), then appends to the cell-partitioned ANN
  * index through [[AnnIngest.processBatch]] — so the index grows
  * append-only, probes partition-prune to their cells, and replayed
  * batches stay idempotent under the [[MicroBatch]] (run_id,
  * batch_id) rule.
  *
  * At 100 TB the coordinated state is two small broadcast frames
  * (vocabulary-bounded weights + centroids); everything else is
  * narrow per-batch work plus the cell-partitioned append. */
object EmbedIngest {

  def start(stream: DataFrame, idCol: String, textCol: String,
            weightedVecs: DataFrame, centroids: DataFrame,
            indexPath: String, checkpoint: String): StreamingQuery =
    MicroBatch.start(stream, checkpoint) { (batch, runId, batchId) =>
      processBatch(batch, idCol, textCol, weightedVecs, centroids,
        indexPath, runId, batchId)
    }

  /** One micro-batch, factored out for tests and batch backfills. */
  private[graft] def processBatch(batch: DataFrame, idCol: String,
      textCol: String, weightedVecs: DataFrame, centroids: DataFrame,
      indexPath: String, runId: String, batchId: Long): Unit =
    AnnIngest.processBatch(
      graft.text.Sgns.docEmbeddingsFrozen(batch, idCol, textCol, weightedVecs),
      centroids, "doc_id", "embedding", indexPath, runId, batchId)

  /** Near-dup probe BY TEXT: embed the query documents against the
    * same frozen weights, then partition-pruned IVF probe of the
    * grown index — (query_id, neighbor_id, cosine, rnk). A document
    * re-arriving verbatim (or word-shuffled: the bag-of-vectors mean
    * is order-invariant) probes at cosine 1.0 against its indexed
    * copy. */
  def probeText(spark: SparkSession, indexPath: String,
      queryDocs: DataFrame, idCol: String, textCol: String,
      weightedVecs: DataFrame, centroids: DataFrame,
      k: Int, nprobe: Int): DataFrame =
    AnnIngest.probe(spark, indexPath, centroids,
      graft.text.Sgns.docEmbeddingsFrozen(queryDocs, idCol, textCol,
        weightedVecs),
      "doc_id", "embedding", k, nprobe)
}
