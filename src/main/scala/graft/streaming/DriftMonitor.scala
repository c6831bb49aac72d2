package graft.streaming

import graft.sources.CommitLog
import graft.validate.Drift
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous distribution monitoring over a streaming feed: every
  * micro-batch is compared against a FIXED baseline snapshot (PSI for
  * numeric columns, TVD for categorical) and the per-batch metrics are
  * appended to a parquet metrics sink — the streaming form of
  * [[Drift]], and the piece the reference's scenario driver lacks: it
  * validates each file drop in isolation, so a slow population shift
  * across drops goes unseen.
  *
  * The baseline's per-column bins/frequencies are recomputed per batch
  * against a (typically small, cacheable) baseline table; each batch's
  * metric rows land in its own (run_id, batch_id) partition → idempotent
  * under foreachBatch retries ([[MicroBatch]]).
  */
object DriftMonitor {

  def start(stream: DataFrame, baseline: DataFrame,
            numericCols: Seq[String], categoricalCols: Seq[String],
            metricsPath: String, checkpoint: String,
            bins: Int = 10): StreamingQuery =
    MicroBatch.start(stream, checkpoint) { (batch, runId, batchId) =>
      processBatch(batch, baseline, numericCols, categoricalCols,
        metricsPath, runId, batchId, bins)
    }

  /** One micro-batch; factored out so tests can drive it directly. */
  private[streaming] def processBatch(batch: DataFrame, baseline: DataFrame,
                                      numericCols: Seq[String],
                                      categoricalCols: Seq[String],
                                      metricsPath: String, runId: String,
                                      batchId: Long, bins: Int): Unit = {
    require(numericCols.nonEmpty || categoricalCols.nonEmpty,
      "DriftMonitor: need at least one monitored column")
    if (batch.isEmpty) return
    val num =
      if (numericCols.isEmpty) None
      else Some(Drift.psiNumeric(baseline, batch, numericCols, bins)
        .select(col("col_name"), lit("psi").as("metric"),
          col("psi").as("value"), col("drifted")))
    val cat =
      if (categoricalCols.isEmpty) None
      else Some(Drift.categoricalDrift(baseline, batch, categoricalCols)
        .select(col("col_name"), lit("tvd").as("metric"),
          col("tvd").as("value"), col("drifted")))
    CommitLog.writeDataOnly((num.toSeq ++ cat.toSeq).reduce(_ union _),
      metricsPath, runId, batchId)
  }
}
