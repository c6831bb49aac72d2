package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LocalRelation, Project, Range}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** The adaptive-execution policy the operators share, in one place:
  * driver fold or distributed, local or reliable checkpoints, scan
  * widening and derived-frame pinning. `checkpoint()` and
  * `localCheckpoint()` return a frame whose logical root is a
  * `LogicalRDD` wrapping the RDD that holds the persisted rows.
  * Reading that RDD counts the rows exactly (a job, but not a SQL
  * action, so per-round one-SQL-action pins are unaffected), and
  * unpersisting it frees exactly that frame's blocks. */
private[graft] object Adaptive {

  /** Driver-resident state one fold may hold. Each fold declares its
    * driver bytes per input row beside its data structure, and its row
    * cap is [[foldRows]] of that; a larger input takes the operator's
    * distributed path. A fixed figure, not a heap fraction or a plan
    * estimate, so every JVM makes the same fold decision. */
  val DriverFoldBytes: Long = 64L << 20

  /** Row cap of a fold holding `bytesPerRow` driver bytes per input row. */
  def foldRows(bytesPerRow: Long): Long = DriverFoldBytes / bytesPerRow

  /** Auto-mode threshold: above this many (directed) input edges the
    * r7 10 M-edge ConnectedComponents smoke measured reliable
    * checkpointing both FASTER (126 vs 162 s — HDFS-path writes beat
    * block-store churn once the label frame is tens of MB per round)
    * and flatter (round max/min 1.62 vs 4.57), so big graphs default
    * to it when a checkpoint dir is available. */
  val AutoReliableEdges = 2000000L

  /** Persisted row count of a checkpointed frame; `None` when the plan
    * root is not a `LogicalRDD`. */
  def rows(ds: Dataset[_]): Option[Long] = ds.queryExecution.logical match {
    case l: LogicalRDD => Some(l.rdd.count())
    case _ => None
  }

  /** Driver-fold admission: a positive `maxRows` and a checkpoint
    * (`rows` of it, by-name, so a cap of 0 never counts) of at most
    * `maxRows` rows. A frame that is not a checkpoint is never admitted. */
  def admits(maxRows: Long, rows: => Option[Long]): Boolean =
    maxRows > 0 && rows.exists(_ <= maxRows)

  /** Release exactly the blocks of the checkpoints a frame reads (at
    * its root, or under a result's projection) — no session-global
    * persistent-RDD-id diffing, which would race with (and could
    * fatally unpersist) concurrent jobs' localCheckpoints on the same
    * SparkSession. A reliable checkpoint's RDD is not block-persisted;
    * unpersist is a no-op there, as it is for a frame that reads no
    * checkpoint. */
  def release(df: DataFrame): Unit = df.queryExecution.logical.foreach {
    case l: LogicalRDD => l.rdd.unpersist(false)
    case _ => ()
  }

  /** Resolve the checkpoint mode for an iterative operator: an explicit
    * choice wins; otherwise reliable iff a checkpoint dir is set AND
    * `materialized` (an already-executed checkpoint) holds at least
    * `threshold` rows. A frame that is not a checkpoint counts as 0. */
  def resolveReliable(materialized: DataFrame, explicit: Option[Boolean],
      threshold: Long = AutoReliableEdges): Boolean =
    resolveReliable(materialized, explicit, threshold, rows(materialized))

  /** [[resolveReliable]] over a count of `materialized` the caller
    * already holds; by-name, so it is forced only in auto mode with a
    * checkpoint dir set. */
  def resolveReliable(materialized: DataFrame, explicit: Option[Boolean],
      threshold: Long, rows: => Option[Long]): Boolean =
    explicit.getOrElse {
      materialized.sparkSession.sparkContext.getCheckpointDir.isDefined &&
        rows.getOrElse(0L) >= threshold
    }

  /** Scale-adaptive scan widening (guide §2.5: unsplittable input). A
    * single-row-group parquet file arrives as ONE effective scan task,
    * serializing whatever per-row compute sits behind it (ANN's
    * |corpus|·|queries|·dim scoring loop measured a 4.2 s single-task
    * stage at sf0.1 while 31 cores idled). Below the session's default
    * parallelism, repartition round-robin up to it: one exchange buys
    * full-width compute. A properly-split input (the 100 TB case)
    * passes through UNTOUCHED. Only [[scanShaped]] frames are probed:
    * `.rdd` on a plan with exchanges would execute its AQE query
    * stages eagerly just to read the partition count (measured as a
    * full duplicate run of the upstream pipeline); those plans end in
    * an exchange the session's shuffle sizing already governs. */
  def widenScan(df: DataFrame): DataFrame = {
    if (!scanShaped(df)) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** Materialize a DERIVED frame once (lazy localCheckpoint) before it
    * feeds several subtrees of one query — [[Ann.knnGraph]] references
    * its corpus three times and [[EmbedEval.neighborPurity]] two more,
    * so an un-pinned derived corpus re-executes per reference
    * (measured: the whole SGNS doc-embedding build ran 5× inside one
    * sgns_embed_eval action). [[scanShaped]] frames pass through:
    * re-reading a columnar scan is cheaper than writing a copy of it
    * to block storage. An explode (`Generate`) or heavy projection
    * over a scan counts as scan-shaped too, so it is left unpinned and
    * re-executes once per reference; no measurement supports pinning
    * it. */
  def pinDerived(df: DataFrame): DataFrame =
    if (scanShaped(df)) df else df.localCheckpoint(eager = false)

  /** Every optimized-plan node is one that never introduces an
    * exchange: project/filter/generate over a leaf. */
  private def scanShaped(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.find {
      case _: Project | _: Filter | _: Generate | _: LogicalRelation | _: LogicalRDD |
          _: LocalRelation | _: Range | _: DataSourceV2ScanRelation => false
      case _ => true
    }.isEmpty
}
