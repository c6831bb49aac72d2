package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The exactly-once micro-batch rule every `graft.streaming` operator
  * follows. A micro-batch is named by `(run_id, batch_id)`: Spark's
  * batch ids restart at 0 with every new checkpoint, so the run id
  * (derived from the checkpoint path) is what keeps a fresh stream
  * from overwriting an old one's batches in a shared output path.
  *
  *   - run identity: [[runIdOf]];
  *   - stream start: [[start]] runs an operator's body once per
  *     micro-batch through `foreachBatch`;
  *   - batch-partition write: `graft.sources.CommitLog.writeDataOnly`
  *     dynamic-overwrites the batch's own `(run_id, batch_id)`
  *     partition and nothing else, so a foreachBatch retry
  *     (at-least-once delivery) replaces what the failed attempt wrote;
  *     `CommitLog.writeBatch` adds the atomic commit marker;
  *   - prior-state read: [[prior]] reads a state table without the
  *     current batch's own partition, so a retry that runs after its
  *     state already landed routes exactly as the first attempt did.
  */
private[graft] object MicroBatch {

  /** The run id of the pipeline checkpointed at `checkpoint`: its
    * sanitized last 40 characters (readable in `run_id=` directory
    * names) plus two 32-bit hashes of the full path. The same path
    * always gives the same id, so a restart keeps appending to its
    * run; a 31-bit hash alone collides between distinct pipelines,
    * whose batches would then overwrite each other without an error. */
  def runIdOf(checkpoint: String): String = {
    val tail = checkpoint.takeRight(40)
      .map(c => if (c.isLetterOrDigit) c else '_')
    val h1 = scala.util.hashing.MurmurHash3.stringHash(checkpoint, 0x9747b28c)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(checkpoint, 0x3c6ef372)
    f"${tail}_$h1%08x$h2%08x"
  }

  /** Start `stream` with `body(batch, runId, batchId)` run on every
    * micro-batch, `runId` being [[runIdOf]]`(checkpoint)`. */
  def start(stream: DataFrame, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow())(
      body: (DataFrame, String, Long) => Unit): StreamingQuery = {
    val runId = runIdOf(checkpoint)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        body(batch, runId, batchId)
      }
      .start()
  }

  /** Everything landed under `path`, or None when no `(run_id,
    * batch_id)` partition has been written there yet (a directory
    * listing, not a Spark job). Any other read failure propagates. */
  def landed(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val written = fs.exists(p) && fs.listStatus(p).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith("run_id="))
    if (written) Some(spark.read.parquet(path)) else None
  }

  /** The state under `path` written by every batch but this one. */
  def prior(spark: SparkSession, path: String, runId: String,
      batchId: Long): Option[DataFrame] =
    landed(spark, path).map(
      _.where(!(col("run_id") === runId && col("batch_id") === batchId)))
}
