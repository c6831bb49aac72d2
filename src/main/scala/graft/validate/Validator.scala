package graft.validate

import graft.rules.RuleSet
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Core validation driver: applies a [[graft.rules.RuleSet]] to a
  * DataFrame in a single narrow projection and derives the reference
  * pipeline's outputs (valid/invalid split, error file, per-rule
  * summary — the Glue job's "Valid records / Error records" and
  * `FILENAME|PayeeId|ERROR_DESC` artifacts,
  * /root/reference/DM_bankfile_validate_pipeline.py:833,969).
  *
  * Scale notes: validity is [[graft.rules.RuleSet.violatedCol]], one
  * whole-stage-codegen'd kernel that runs each rule in its own small
  * method, with no shuffle. `split` and `splitCounts` read only that.
  * The `errors` array is still interpreted (Spark's `filter` is a
  * `CodegenFallback`), and `errorFile` builds it only for the invalid
  * rows that pass its validity filter. `summary` is a
  * single partial-aggregable `agg` (one sum per rule, map-side combined,
  * result is #rules rows). `split` filters the same plan twice — callers
  * that need both sides at scale should `persist()` the validated frame
  * (or write it once and read both slices back with predicate pushdown
  * on the cheap `is_valid` boolean).
  */
object Validator {

  val ErrorsCol = "errors"
  val ValidCol = "is_valid"

  /** df + `errors: array<string>` + `is_valid: boolean`, where
    * `is_valid` is `!violatedCol` (not a test on `errors`, so a plan
    * that drops `errors` never builds it). */
  def validate(df: DataFrame, rules: RuleSet): DataFrame =
    df.withColumn(ErrorsCol, rules.errorsCol)
      .withColumn(ValidCol, !rules.violatedCol)

  /** (valid rows, invalid rows), both with the input's columns only. */
  def split(df: DataFrame, rules: RuleSet): (DataFrame, DataFrame) = {
    val violated = rules.violatedCol
    (df.where(!violated), df.where(violated))
  }

  /** Reference-shaped error file: one row per invalid input row with the
    * business key and a comma-joined ERROR_DESC
    * (DM_bankfile_validate_pipeline.py:833 parses exactly this shape). */
  def errorFile(df: DataFrame, rules: RuleSet, keyCol: String,
                fileName: String = "input"): DataFrame =
    df.where(rules.violatedCol)
      .select(
        lit(fileName).as("FILENAME"),
        col(keyCol).cast("string").as("PayeeId"),
        concat_ws(", ", rules.errorsCol).as("ERROR_DESC"))

  /** Write an [[errorFile]] result in the reference's on-disk shape:
    * pipe-delimited CSV with a FILENAME|PayeeId|ERROR_DESC header
    * (DM_bankfile_validate_pipeline.py:841 parses with delimiter='|').
    * ERROR_DESC keeps its internal ", " separators unquoted — the
    * reference tokenizer splits on commas, and descriptions never
    * contain pipes. `singleFile` mirrors the reference's one-file
    * download; leave false at scale (one file = one writer task). */
  def writeErrorCsv(errors: DataFrame, path: String,
                    singleFile: Boolean = false): Unit =
    (if (singleFile) errors.coalesce(1) else errors)
      .write.option("sep", "|").option("header", "true")
      .mode("overwrite").csv(path)

  /** Read a pipe-delimited error CSV back (the other half of the
    * round trip — feeds [[ErrorCompare]] against a second source). */
  def readErrorCsv(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.option("sep", "|").option("header", "true").csv(path)

  /** Per-rule violation counts: (rule, violations), ordered by rule
    * name. One distributed agg pass — each rule contributes a
    * `sum(case when violated then 1)` that partial-aggregates map-side;
    * the "melt" to rows happens on the single driver-sized result row. */
  def summary(df: DataFrame, rules: RuleSet): DataFrame = {
    val aggs = rules.rules.map(r =>
      sum(when(coalesce(r.violation, lit(false)), 1L).otherwise(0L)).as(r.name))
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackExpr = rules.rules.map(r => s"'${r.name}', `${r.name}`")
      .mkString(s"stack(${rules.rules.size}, ", ", ", ") as (rule, violations)")
    wide.selectExpr(stackExpr).orderBy("rule")
  }

  /** Valid/invalid row counts as a 2-row frame (status, cnt) — the Glue
    * log's "Valid records: N / Error records: M" summary. */
  def splitCounts(df: DataFrame, rules: RuleSet): DataFrame =
    df.groupBy(when(!rules.violatedCol, "valid").otherwise("invalid").as("status"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("status")
}

/** Error-token set comparison between two error sources — the
  * reference's CSV-vs-DB ERROR_DESC reconciliation
  * (compare_csv_and_db_error_desc,
  * DM_bankfile_validate_pipeline.py:932): descriptions are split on
  * commas, whitespace-normalized, compared as per-key token SETS.
  *
  * Distributed form: explode each side to (key, token), full-outer join
  * on (key, token) — one shuffle each side, hash-partitioned by key, no
  * driver materialization. Missing keys fall out of the same join.
  */
object ErrorCompare {

  /** Normalize one ERROR_DESC blob into distinct trimmed tokens
    * (mirrors _normalize_error_desc / _split_error_desc_tokens,
    * DM_bankfile_validate_pipeline.py:817-829). */
  def tokens(desc: Column): Column =
    array_distinct(filter(
      transform(split(coalesce(desc, lit("")), ","),
        t => trim(regexp_replace(t, "\\s+", " "))),
      t => t =!= ""))

  private def explodedTokens(df: DataFrame, key: String, desc: String): DataFrame =
    df.select(col(key).cast("string").as("key"), tokens(col(desc)).as("toks"))
      .groupBy("key")
      .agg(array_distinct(flatten(collect_list(col("toks")))).as("toks"))
      .select(col("key"), explode(col("toks")).as("token"))

  /** (key, token, in_left, in_right) for every token missing on either
    * side; empty result ⇔ the two error sources agree. */
  def diff(left: DataFrame, leftKey: String, leftDesc: String,
           right: DataFrame, rightKey: String, rightDesc: String): DataFrame = {
    val l = explodedTokens(left, leftKey, leftDesc).withColumn("in_left", lit(true))
    val r = explodedTokens(right, rightKey, rightDesc).withColumn("in_right", lit(true))
    l.join(r, Seq("key", "token"), "full_outer")
      .withColumn("in_left", coalesce(col("in_left"), lit(false)))
      .withColumn("in_right", coalesce(col("in_right"), lit(false)))
      .where(!col("in_left") || !col("in_right"))
      .orderBy("key", "token")
  }
}
