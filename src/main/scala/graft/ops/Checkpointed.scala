package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD

/** The one piece of Spark plan knowledge the iterative operators share:
  * `checkpoint()` and `localCheckpoint()` return a frame whose logical
  * root is a `LogicalRDD` wrapping the RDD that holds the persisted
  * rows. Reading that RDD counts the rows exactly (a job, but not a SQL
  * action, so per-round one-SQL-action pins are unaffected), and
  * unpersisting it frees exactly that frame's blocks. */
private[ops] object Checkpointed {

  /** Persisted row count of a checkpointed frame; `None` when the plan
    * root is not a `LogicalRDD`. */
  def rows(ds: Dataset[_]): Option[Long] = ds.queryExecution.logical match {
    case l: LogicalRDD => Some(l.rdd.count())
    case _ => None
  }

  /** Driver-fold admission: a positive `budget` and a checkpoint of at
    * most `budget` rows. A frame that is not a checkpoint is never
    * admitted; a budget of 0 admits nothing and runs no count. */
  def admits(ds: Dataset[_], budget: Long): Boolean = admits(budget, rows(ds))

  /** [[admits]] over a count the caller already holds; by-name, so a
    * budget of 0 never forces it. */
  def admits(budget: Long, rows: => Option[Long]): Boolean =
    budget > 0 && rows.exists(_ <= budget)

  /** Release exactly the blocks a checkpointed frame persisted — no
    * session-global persistent-RDD-id diffing, which would race with
    * (and could fatally unpersist) concurrent jobs' localCheckpoints on
    * the same SparkSession. A reliable checkpoint's RDD is not
    * block-persisted; unpersist is a no-op there, as it is for a frame
    * that is not a checkpoint. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case l: LogicalRDD => l.rdd.unpersist(false)
    case _ => ()
  }

  /** Resolve the checkpoint mode for an iterative operator: an explicit
    * choice wins; otherwise reliable iff a checkpoint dir is set AND
    * `materialized` (an already-executed checkpoint) holds at least
    * `threshold` rows. A frame that is not a checkpoint counts as 0. */
  def resolveReliable(materialized: DataFrame, explicit: Option[Boolean],
      threshold: Long = ConnectedComponents.AutoReliableEdges): Boolean =
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
}
