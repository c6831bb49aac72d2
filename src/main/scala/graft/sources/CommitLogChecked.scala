package graft.sources

import graft.rules.RuleSet
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write-time CHECK constraints (r20): a [[graft.rules.RuleSet]]
  * enforced at a commit-log table's FRONT DOOR — Delta's CONSTRAINT
  * rung crossed with the reference's validate-then-route pipeline
  * (run_full_etl_pipeline validates, routes valid rows onward and
  * rejects to an error artifact,
  * /root/reference/DM_bankfile_validate_pipeline.py:3040 region).
  * Valid rows commit to the data table; each violating row commits to
  * a commit-log ERROR table with an `_errors` description column (the
  * rule messages, comma-joined in rule order — the reference's
  * ERROR_DESC shape), both under the statement's (runId, batchId)
  * identity.
  *
  * Ordering: one marker cannot span two tables, so the ERROR batch
  * commits FIRST, then the data side. A crash between the two leaves
  * the rejects durably recorded and the data invisible — a retry
  * overwrites its own partitions and no-ops on existing markers
  * (never a duplicate, never an accepted row whose rejects vanished).
  * Validity is [[graft.rules.RuleSet.violatedCol]] (one whole-stage-
  * codegen'd kernel, no shuffle), computed once into a
  * lazily-checkpointed frame, so the source is computed once for both
  * routes. The interpreted message array is built on the reject route
  * only.
  */
object CommitLogChecked {

  val ErrorsCol = "_errors"

  private def routed(df: DataFrame, rules: RuleSet): (DataFrame, DataFrame) = {
    val v = df.withColumn("__bad", rules.violatedCol)
      .localCheckpoint(eager = false)
    (v.where(!col("__bad")).drop("__bad"),
      v.where(col("__bad"))
        .withColumn(ErrorsCol, concat_ws(", ", rules.errorsCol))
        .drop("__bad"))
  }

  /** [[CommitLog.writeBatchWithStats]] with the rule set enforced:
    * valid rows land in `table`, rejects (with [[ErrorsCol]]) in
    * `errorTable`. Returns (validRows, rejectedRows). */
  def writeBatchChecked(df: DataFrame, table: String, rules: RuleSet,
      errorTable: String, runId: String, batchId: Long,
      statsCols: Seq[String] = Seq.empty, ts: Long = -1L): (Long, Long) = {
    val (valid, rejects) = routed(df, rules)
    val nErr = rejects.count()
    val nVal = valid.count()
    if (nErr > 0)
      CommitLog.writeBatchWithStats(rejects, errorTable, runId, batchId,
        statsCols.filter(rejects.columns.contains), ts)
    if (nVal > 0)
      CommitLog.writeBatchWithStats(valid, table, runId, batchId,
        statsCols.filter(valid.columns.contains), ts)
    (nVal, nErr)
  }

  /** [[CommitLog.merge]] with the rule set enforced on the SOURCE:
    * valid source rows merge (update/insert/delete-op as usual);
    * violating rows — including violating delete-op rows, which are
    * rejected wholesale rather than applied — land in `errorTable`.
    * The error batch commits before the merge transaction (the same
    * crash posture as [[writeBatchChecked]]). Returns
    * (validRows, rejectedRows). */
  def mergeChecked(spark: SparkSession, table: String, source: DataFrame,
      keyCols: Seq[String], rules: RuleSet, errorTable: String,
      runId: String, batchId: Long, ts: Long = -1L,
      statsCols: Seq[String] = Seq.empty,
      deleteWhen: Option[Column] = None,
      dropCols: Seq[String] = Seq.empty): (Long, Long) = {
    val (valid, rejects) = routed(source, rules)
    val nErr = rejects.count()
    val nVal = valid.count()
    if (nErr > 0)
      CommitLog.writeBatchWithStats(rejects, errorTable, runId, batchId,
        statsCols.filter(rejects.columns.contains), ts)
    if (nVal > 0)
      CommitLog.merge(spark, table, valid, keyCols, runId, batchId, ts,
        statsCols, deleteWhen, dropCols)
    (nVal, nErr)
  }
}
