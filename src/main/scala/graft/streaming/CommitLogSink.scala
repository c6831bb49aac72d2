package graft.streaming

import graft.sources.CommitLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Generic exactly-once streaming sink into a commit-log table — the
  * write-side complement of `readStream.format("graft_commitlog")`:
  * any micro-batch frame lands as one (run_id, batch_id) partition
  * made visible by one atomic marker, so a downstream
  * [[CommitLog.readCommitted]] / DSv2 / streaming reader never sees a
  * torn batch, and a foreachBatch retry (at-least-once delivery)
  * converges — the dynamic overwrite replaces the partition's own
  * files and the existing marker makes the re-commit a no-op. The
  * routing-specific sinks ([[EventStreams.validateAndRouteCommitted]],
  * [[DedupIngest]], [[EmbedIngest]]) compose validation/dedup in
  * front of the same discipline; this is the bare pipe for frames
  * that are already shaped.
  *
  * `statsCols` records marker min/max per batch — the dial that buys
  * batch-directory pruning for every future range read; a streaming
  * sink is exactly where those markers are cheapest (the batch is
  * already in memory).
  *
  * Run identity, stream start and the batch-partition write are the
  * [[MicroBatch]] rule: a restart of the SAME pipeline keeps appending
  * to its run with Spark's replayed epoch ids, and a micro-batch with
  * no rows (routine when an upstream filter drops a whole epoch)
  * commits nothing ([[CommitLog.writeBatch]]). */
object CommitLogSink {

  def start(stream: DataFrame, table: String, checkpoint: String,
      statsCols: Seq[String] = Seq.empty,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.start(stream, checkpoint, trigger) { (batch, runId, batchId) =>
      if (statsCols.isEmpty)
        CommitLog.writeBatch(batch, table, runId, batchId)
      else
        CommitLog.writeBatchWithStats(batch, table, runId, batchId, statsCols)
    }
}
