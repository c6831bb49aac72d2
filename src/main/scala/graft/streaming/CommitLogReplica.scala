package graft.streaming

import graft.sources.CommitLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** CDC REPLICA maintenance — the change-feed stream applied to a
  * downstream commit-log table, keeping a key-wise materialized copy
  * in sync with a source table across inserts, updates (upsert
  * delete+insert pairs) and row deletes, exactly once across
  * restarts. The Delta pattern of "CDF stream + MERGE in
  * foreachBatch", composed entirely from this library's own rungs:
  * the `readChangeFeed` streaming source delivers each epoch's change
  * events, and ONE [[CommitLog.merge]] per epoch applies them —
  * updates/inserts land, delete ops remove, feed-only meta columns
  * never reach the replica.
  *
  * Per epoch: events reduce to the LATEST per key (change_ts order;
  * an insert beats a delete at equal ts — an upsert's delete+insert
  * pair share their timestamp and must net to the insert), then merge
  * with `deleteWhen = change_type == 'delete'` and the meta columns
  * dropped. A replayed epoch is a no-op when its (run, epoch) marker
  * already landed; a replay of a partially-applied epoch re-runs the
  * merge, whose rewrite ids hash from the merge identity — the retry
  * overwrites its own partitions and converges (delete-only epochs
  * commit no add marker, so their replay re-merges against the
  * already-deleted state: same result, idempotent in effect).
  *
  * 100 TB shape: each epoch is one stats-pruned merge — the replica
  * rewrites only the batches whose recorded key ranges the epoch's
  * keys may touch, and the epoch's own reduce is one bounded
  * window over the micro-batch, never the replica.
  *
  * Key semantics are defined for NON-NULL keys (the primary-key
  * contract every replica assumes): rows with NULL in a key column
  * group together in the per-epoch reduce and never match on merge —
  * identity-less rows belong in an append relay ([[CommitLogSink]]),
  * not a keyed replica. */
object CommitLogReplica {

  def start(spark: SparkSession, source: String, replica: String,
      keyCols: Seq[String], checkpoint: String,
      statsCols: Seq[String] = Seq.empty,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(keyCols.nonEmpty, "replica maintenance needs key columns")
    MicroBatch.start(spark.readStream.format("graft_commitlog")
        .option("readChangeFeed", "true").load(source),
      checkpoint, trigger) { (batch, runId, epoch) =>
      applyEpoch(batch, replica, keyCols, runId, epoch, statsCols)
    }
  }

  /** Apply one epoch's change events to the replica. Exposed for
    * composition with custom streams (filters, column maps) as long as
    * the frame keeps the feed's change_type/change_ts columns. */
  def applyEpoch(batch: DataFrame, replica: String, keyCols: Seq[String],
      runId: String, epoch: Long, statsCols: Seq[String]): Unit = {
    if (batch.isEmpty) return // empty epoch: nothing to apply, no marker
    val spark = batch.sparkSession
    // exactly-once replay: an epoch whose add marker landed is done
    // (delete-only epochs re-merge against already-deleted state — a
    // converged no-op)
    if (CommitLog.committedBatches(spark, replica).contains((runId, epoch)))
      return
    // latest event per key: (change_ts, _change_seq) desc — the feed's
    // monotonic transaction sequence totally orders two merges that
    // commit within the same wall millisecond, so the reduce is
    // DETERMINISTIC on ts ties (r19; legacy feeds without the column
    // order by ts alone, the pre-seq behavior); inserts over deletes
    // last (an upsert's delete+insert pair shares its (ts, seq) and
    // must net to the insert)
    val hasSeq = batch.columns.contains("_change_seq")
    val ordering =
      (col("change_ts").desc +:
        (if (hasSeq) Seq(col("_change_seq").desc) else Seq.empty)) :+
        (col("change_type") === "insert").desc
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(ordering: _*)
    val latest = batch
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
    CommitLog.merge(spark, replica, latest, keyCols,
      runId = runId, batchId = epoch, statsCols = statsCols,
      deleteWhen = Some(col("change_type") === "delete"),
      dropCols = Seq("change_type", "change_ts") ++
        (if (hasSeq) Seq("_change_seq") else Seq.empty))
  }
}
