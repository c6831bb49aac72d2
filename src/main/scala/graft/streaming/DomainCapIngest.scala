package graft.streaming

import graft.sources.CommitLog
import graft.text.UrlOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming per-registered-domain document cap — the continuous form
  * of [[UrlOps.perDomainCap]]: a crawl feed is capped at `cap` docs
  * per eTLD+1 ACROSS THE WHOLE RUN, not per batch.
  *
  * Per micro-batch:
  *   1. rank the batch's rows within each domain by the content-keyed
  *      md5 order through the payload-carrying bounded heap
  *      ([[graft.expr.TopKRowsByScore]], k = cap — so a hot domain
  *      sheds to cap rows per task map-side, never a window sort);
  *   2. admit each domain's top `cap − already_accepted` rows, where
  *      already_accepted sums the PERSISTED per-batch admission
  *      counts of earlier batches;
  *   3. land admitted rows and this batch's (domain, admitted) counts
  *      in the batch's own (run_id, batch_id) partitions.
  *
  * Retry safety ([[MicroBatch]]): the state read EXCLUDES the current
  * (run_id, batch_id) partition, so a foreachBatch retry that already
  * committed its counts re-derives the identical admission set
  * instead of double-subtracting itself — fully idempotent, not just
  * idempotent-if-the-state-commit-never-happened.
  *
  * State is one small row per (domain × batch) that admitted
  * anything; reads aggregate it domain-wise. At crawl scale this is
  * the per-domain quota ledger every polite fetcher keeps anyway.
  */
object DomainCapIngest {

  def start(docs: DataFrame, idCol: String, urlCol: String,
            acceptedPath: String, statePath: String, checkpoint: String,
            cap: Int): StreamingQuery =
    MicroBatch.start(docs, checkpoint) { (batch, runId, batchId) =>
      processBatch(batch, idCol, urlCol, acceptedPath, statePath,
        runId, batchId, cap)
    }

  /** One micro-batch; factored out for tests and batch backfills. */
  private[graft] def processBatch(batch: DataFrame, idCol: String,
      urlCol: String, acceptedPath: String, statePath: String,
      runId: String, batchId: Long, cap: Int): Unit = {
    require(cap > 0, "cap must be positive")
    val spark = batch.sparkSession
    val srcCols = batch.columns

    // per-domain counts admitted by EARLIER batches
    val prior: DataFrame = MicroBatch.prior(spark, statePath, runId, batchId)
      .map(_.groupBy("domain").agg(sum(col("admitted")).as("_prior")))
      .getOrElse(spark.emptyDataFrame
        .select(lit("").as("domain"), lit(0L).as("_prior")).limit(0))

    // bounded-heap rank within the batch: at most cap rows per domain
    // per task cross the shuffle, payload riding along (no join-back)
    val ranked = batch
      .withColumn("_dom", UrlOps.registeredDomainPsl(UrlOps.host(col(urlCol))))
      .select(col("_dom"),
        (-graft.ops.Sampling.md5Hash40(col(idCol), 0L)).as("_r"),
        col(idCol).cast("long").as("_i"),
        struct(srcCols.map(col): _*).as("_p"))
      .groupBy("_dom")
      .agg(graft.expr.TopKRowsByScore.topKRowsBy(
        col("_r"), col("_i"), col("_p"), cap).as("_t"))
      .select(col("_dom").as("domain"), posexplode(col("_t")).as(Seq("_pos", "_e")))

    val admitted = ranked
      .join(prior, Seq("domain"), "left")
      .where(col("_pos") < lit(cap.toLong) - coalesce(col("_prior"), lit(0L)))
      .select(srcCols.map(c => col(s"_e.$c")) :+ col("domain"): _*)
      .cache()
    admitted.count() // materialize against the pre-commit state

    try {
      CommitLog.writeDataOnly(admitted, acceptedPath, runId, batchId)
      // state commit LAST: a failure before this point retries against
      // unchanged state; after it, the retry excludes this partition
      CommitLog.writeDataOnly(
        admitted.groupBy("domain").agg(count(lit(1)).as("admitted")),
        statePath, runId, batchId)
    } finally { admitted.unpersist(); () }
  }
}
