package graft

import graft.entries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The bench and oracle entry point — see SURVEY.md §2 for the
  * operator inventory each query covers.
  *
  * Every entry is declared once, as an [[graft.entries.Entry]] in its
  * family file under `graft/entries`; the three maps below are views
  * of that registry.
  */
object SparkEntry {

  /** Every entry, family by family. */
  val registry: Seq[Entry] =
    AnalyticsEntries.all ++ CommitLogEntries.all ++ ValidationEntries.all ++
      DedupEntries.all ++ EmbeddingEntries.all ++ TextEntries.all ++
      CorpusEntries.all ++ EvalEntries.all ++ GraphEntries.all ++
      StatsEntries.all

  /** Flagship query over the sf0.001 testdata; a smoke check expects rows. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** The oracle-gated entries. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.collect { case Entry(name, build, Some(_)) => name -> build }.toMap

  /** The bench-only entries: production paths with no DuckDB replay. */
  val benchOnlyQueries: Map[String, (SparkSession, String) => DataFrame] =
    registry.collect { case Entry(name, build, None) => name -> build }.toMap

  /** DuckDB SQL per oracle-gated entry. */
  val oracleSql: Map[String, String] =
    registry.collect { case Entry(name, _, Some(sql)) => name -> sql }.toMap
}
