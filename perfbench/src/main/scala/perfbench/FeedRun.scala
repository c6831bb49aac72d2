package perfbench

import graft.bank.{BankRules, BankSchema}
import graft.ops.Dedup
import graft.schema.SchemaCheck
import graft.validate.{ErrorCompare, Validator}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** What one operation returned, kept for the output check. */
final case class FeedOutput(schemaOk: Boolean, summary: Seq[Row], splitCounts: Seq[Row],
                            duplicateRows: Seq[Row], duplicateKeys: Seq[Row], diff: Seq[Row])

/** One reference-shaped validation run over the landed feed, as the
  * reference pipeline does it: schema gate, valid/invalid split written
  * as parquet, the `FILENAME|PayeeId|ERROR_DESC` error file, per-rule and
  * valid/invalid counts, duplicate checks, and the error-token
  * reconciliation against the "DB" copy of the error file. */
final class FeedRun(spark: SparkSession, feedPath: String, outDir: String, dbPath: String) {
  val validPath = s"$outDir/valid"
  val invalidPath = s"$outDir/invalid"
  val errorsPath = s"$outDir/errors"
  private val rules = BankRules.all

  def run(trace: Trace): FeedOutput = {
    val feed = trace.span("feed.open") { spark.read.parquet(feedPath) }
    val schema = trace.span("schema.check") { SchemaCheck.check(BankSchema.schema, feed) }
    trace.span("validate.split_write") {
      val (valid, invalid) = trace.span("rules.build") { Validator.split(feed, rules) }
      valid.write.mode("overwrite").parquet(validPath)
      invalid.write.mode("overwrite").parquet(invalidPath)
    }
    trace.span("validate.error_file") {
      val errors = trace.span("rules.build") {
        Validator.errorFile(feed, rules, "PayeeID", "bankfile")
      }
      Validator.writeErrorCsv(errors, errorsPath)
    }
    val summary = trace.span("validate.summary") {
      trace.span("rules.build") { Validator.summary(feed, rules) }.collect().toSeq
    }
    val counts = trace.span("validate.split_counts") {
      trace.span("rules.build") { Validator.splitCounts(feed, rules) }.collect().toSeq
    }
    val dupRows = trace.span("ops.dedup_rows") { Dedup.duplicateRows(feed).collect().toSeq }
    val dupKeys = trace.span("ops.dedup_keys") {
      Dedup.duplicateKeys(feed, Seq("PayeeID")).collect().toSeq
    }
    val diff = trace.span("validate.error_compare") {
      ErrorCompare.diff(Validator.readErrorCsv(spark, errorsPath), "PayeeId", "ERROR_DESC",
        spark.read.parquet(dbPath), "PayeeId", "ERROR_DESC").collect().toSeq
    }
    FeedOutput(schema.ok, summary, counts, dupRows, dupKeys, diff)
  }

  /** The "DB" side of the reconciliation: the error file as written by
    * a run, with the rows and tokens the plan perturbs; without
    * `expected`, an empty one. */
  def writeDb(expected: Option[Expected]): Unit = expected match {
    case None =>
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq("FILENAME", "PayeeId", "ERROR_DESC").map(StructField(_, StringType))))
        .write.mode("overwrite").parquet(dbPath)
    case Some(e) => writeDb(e)
  }

  private def writeDb(expected: Expected): Unit = {
    val dropped = expected.diff.filter(_.inLeft).map(_.key).toSeq
    val extra = expected.diff.filter(_.inRight).map(_.key).toSeq
    Validator.readErrorCsv(spark, errorsPath)
      .where(!col("PayeeId").isInCollection(dropped))
      .withColumn("ERROR_DESC",
        when(col("PayeeId").isInCollection(extra),
          concat(col("ERROR_DESC"), lit(", " + Feed.DbOnlyToken)))
          .otherwise(col("ERROR_DESC")))
      .write.mode("overwrite").parquet(dbPath)
  }

  /** Every mismatch between an operation's outputs and `e`. Counts the
    * written rows from parquet footers and CSV lines, without Spark, so
    * checking adds no jobs between timed operations. */
  def check(out: FeedOutput, e: Expected): Seq[String] = {
    val problems = Seq.newBuilder[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) problems += s"$what: got $got, want $want"
    expect("schema check ok", out.schemaOk, true)
    val valid = parquetRows(validPath)
    val invalid = parquetRows(invalidPath)
    expect("valid + invalid rows", valid + invalid, e.rows)
    expect("invalid rows", invalid, e.invalid)
    expect("error file rows", csvRows(errorsPath), e.invalid)
    val counts = out.splitCounts.map(r => r.getString(0) -> r.getLong(1)).toMap
    expect("split counts", counts, Map("invalid" -> e.invalid, "valid" -> e.valid))
    val perRule = out.summary.map(r => r.getString(0) -> r.getLong(1)).toMap
    expect("summary rules", perRule.size, rules.rules.size)
    e.ruleViolations.foreach { case (rule, n) => expect(s"violations of $rule", perRule.get(rule), Some(n)) }
    expect("duplicate row groups", out.duplicateRows.size.toLong, e.duplicateRowGroups)
    expect("duplicate row multiplicity", out.duplicateRows.map(_.getAs[Long]("dup_count")).toSet, Set(2L))
    expect("duplicate key groups", out.duplicateKeys.size.toLong, e.duplicateKeyGroups)
    val diff = out.diff.map(r => DiffRow(r.getString(0), r.getString(1), r.getBoolean(2), r.getBoolean(3)))
    expect("diff rows", diff.size, e.diff.size)
    expect("diff", diff.toSet, e.diff)
    problems.result()
  }

  private def parquetRows(dir: String): Long =
    FeedRun.dataFiles(dir).map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(f.toURI), spark.sparkContext.hadoopConfiguration))
      try reader.getRecordCount finally reader.close()
    }.sum

  /** Data lines of the error CSV; every part file starts with the header. */
  private def csvRows(dir: String): Long =
    FeedRun.dataFiles(dir).map { f =>
      val lines = Files.readAllLines(f.toPath).asScala
      lines.count(l => l.nonEmpty && l != "FILENAME|PayeeId|ERROR_DESC").toLong
    }.sum

  /** Bytes of data files in the valid, invalid and error outputs. */
  def bytesWritten(): Long = Seq(validPath, invalidPath, errorsPath).map(FeedRun.dataBytes).sum
}

object FeedRun {
  private def dataFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.startsWith("part-"))

  /** Bytes of the `part-*` data files under a directory. */
  def dataBytes(dir: String): Long = dataFiles(dir).map(_.length).sum
}
