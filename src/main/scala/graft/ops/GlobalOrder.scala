package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic global ordering with materialized positions — the
  * last step before a training run: shuffle the corpus ONCE,
  * reproducibly (so a rerun, a resumed run, and an auditor all see the
  * same example order), or order it by a difficulty signal (curriculum
  * schedules), and give every row its global 0-based position so
  * downstream sharding/skipping is pure arithmetic.
  *
  * The scale problem: `row_number() OVER (ORDER BY key)` funnels the
  * corpus through ONE task (Spark warns "No Partition Defined"). Here
  * the total order comes from a RANGE exchange (sampled split points,
  * all tasks sort locally) and positions come from per-range-partition
  * offsets: a #partitions-row count collect — KB on the driver — plus
  * a window PARTITIONED by the range bucket, so every rank runs
  * parallel. Cost: two exchanges (range + the window's hash on bucket
  * id) and one tiny driver round trip; nothing corpus-sized ever
  * sorts on one task.
  *
  * Determinism: the order key must be UNIQUE per row (the md5-of-id
  * shuffle key is; curriculum callers pass a unique tiebreak) — range
  * split points then only decide WHERE a partition boundary falls,
  * never relative order, so positions are identical across runs,
  * partition counts, and engines (the DuckDB oracle replays them with
  * a plain row_number).
  */
object GlobalOrder {

  /** Pseudo-random but reproducible global shuffle: order by
    * md5(id:salt), emit `pos` (global, 0-based). Change `salt` for a
    * fresh epoch permutation. */
  def shuffled(df: DataFrame, idCol: String, salt: Long = 0L,
               numPartitions: Int = 0): DataFrame =
    withPositions(
      df.withColumn("_gkey", md5(concat_ws(":", col(idCol), lit(salt)))),
      numPartitions)

  /** Curriculum ordering: ascending by `orderCol` (a difficulty/quality
    * signal), ties broken by md5 of `tieCol` so the key is unique and
    * the schedule reproducible. */
  def byCurriculum(df: DataFrame, orderCol: String, tieCol: String,
                   salt: Long = 0L, numPartitions: Int = 0): DataFrame =
    withPositions(
      df.withColumn("_gkey", curriculumKey(orderCol, tieCol, salt)),
      numPartitions)

  /** Fixed-width sortable rendering of the signal: offset into the
    * positive range then zero-pad, so STRING order == value order (the
    * md5 tie must concatenate, and mixed-type struct range
    * partitioning would not replay in SQL as one key). */
  private[graft] def curriculumKey(orderCol: String, tieCol: String,
      salt: Long): Column =
    concat(
      lpad(floor(col(orderCol) * 1e6).cast("long") + 2000000000000L,
        16, "0"),
      md5(concat_ws(":", col(tieCol), lit(salt))))

  /** Shared tail: range-exchange on _gkey, local sort, per-bucket
    * offsets from a bounded collect, parallel rank within bucket.
    *
    * The frame is localCheckpoint-ed (LAZY) before the counts
    * collect: range split points come from sampling, and the offsets
    * job and the output job must see the SAME bucket boundaries — a
    * recomputed exchange is not contractually identical. Checkpoint
    * (not cache) for two reasons: lineage truncation makes silent
    * boundary recompute IMPOSSIBLE (a lost block fails loudly instead
    * of resampling), and the blocks are ContextCleaner-managed — they
    * free when the frame is unreferenced, where a CacheManager cache()
    * entry leaks until an explicit unpersist the caller can't issue.
    * Lazy (not eager): materialization piggybacks on the counts job —
    * the eager form ran a STANDALONE job first and re-read the blocks,
    * one whole extra pass (bench: 4× on curriculum ordering); lineage
    * truncates at first materialization either way, so the pinning
    * guarantee is identical. */
  private def withPositions(keyed: DataFrame, numPartitions: Int): DataFrame = {
    val n = if (numPartitions > 0) numPartitions
            else keyed.sparkSession.sessionState.conf.numShufflePartitions
    // MEMORY_AND_DISK (deserialized) measured equal to a properly
    // released cache() on the curriculum shape (0.571 vs 0.569 s,
    // BENCH_ATTRIBUTION_r13.json); the r12 "3.6x regression" was the
    // r11 cache LEAK serving bench re-runs from the leaked entry.
    val ranged = keyed.repartitionByRange(n, col("_gkey"))
      .withColumn("_bucket", spark_partition_id())
      .localCheckpoint(false,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // bounded: one row per range partition
    val counts = ranged.groupBy("_bucket").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val prefix = counts.map(_._2).scanLeft(0L)(_ + _)
    val offsets: Map[Int, Long] = counts.map(_._1).zip(prefix).toMap
    val offCol =
      if (offsets.isEmpty) lit(0L)
      else element_at(typedLit(offsets), col("_bucket"))
    val w = Window.partitionBy("_bucket").orderBy("_gkey")
    ranged
      .withColumn("pos", row_number().over(w).cast("long") - 1 + offCol)
      .drop("_gkey", "_bucket")
  }
}
