package graft.validate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Table-level integrity checks — constraints that span rows, which
  * the per-row rule engine ([[Validator]]) cannot express:
  * referential integrity and row-count expectations (key uniqueness,
  * the reference's duplicate-PayeeID scenario, is
  * [[graft.ops.Dedup.duplicateKeys]]). These are the dataset-shaped
  * analogues of the reference's row-count scenario checks
  * (DM_bankfile_validate_pipeline.py count compare :786).
  *
  * Every check returns a DataFrame of violations (empty = pass), so
  * results compose into reports and route to sinks like rule errors.
  */
object TableChecks {

  /** Child rows whose foreign key has no match in the parent —
    * referential-integrity orphans. Planned as a left-anti join:
    * broadcast when the parent is small, shuffled hash otherwise;
    * never a driver-side collect of parent keys. NULL FKs are not
    * orphans (SQL FK semantics: null references are vacuously valid). */
  def orphans(child: DataFrame, childKeys: Seq[String],
              parent: DataFrame, parentKeys: Seq[String]): DataFrame = {
    val cond = childKeys.zip(parentKeys)
      .map { case (c, p) => child(c) === parent(p) }
      .reduce(_ && _)
    child.where(childKeys.map(c => col(c).isNotNull).reduce(_ && _))
      .join(parent, cond, "left_anti")
  }

  /** Row-count expectation: one-row report (n, lo, hi, pass). */
  def rowCountBetween(df: DataFrame, lo: Long, hi: Long): DataFrame =
    df.agg(count(lit(1)).as("n"))
      .select(col("n"), lit(lo).as("lo"), lit(hi).as("hi"),
        (col("n") >= lo && col("n") <= hi).as("pass"))
}
