package graft
package scale

import graft.Smoke.{time, withTempDir}
import graft.bank.{BankDataGen, BankRules}
import graft.validate.Validator
import org.apache.spark.sql.SparkSession

/** The paper's pipeline at scale: a generated bank feed with planted
  * invalid and duplicated rows lands as parquet, then the full rule set
  * splits it into written valid/invalid rows, writes the
  * `FILENAME|PayeeId|ERROR_DESC` error file and computes the per-rule
  * summary. Each layer is timed; every count is checked against the
  * injection plan. Size: generated rows. */
object ValidationScale {

  /** An invalid value and the one rule it breaks. */
  private val injections = Seq(
    ("State", "C1", "State.format"),
    ("PostalCode", "1234", "PostalCode.format"),
    ("OrganizationTINType", "XYZ", "OrganizationTINType.enum"),
    ("ContactPhone", "123ABC4567", "ContactPhone.format"),
    ("CityName", "Spring8field", "CityName.charset"),
    ("ContactFirstName", "J0hn", "ContactFirstName.charset"))

  private def build(spark: SparkSession, rows: Long): Fields = withTempDir("scale-validation") { dir =>
    require(rows >= 100, s"$rows rows: too few for the injection plan")
    val rules = BankRules.all
    // 1% of rows invalid (ids on a stride, injection k on every k-th of
    // them), 0.1% duplicated; the duplicated ids are never multiples of
    // the invalid stride, so the two sets are disjoint
    val nInvalid = math.max(injections.size.toLong, rows / 100)
    val invalidIds = (0L until nInvalid).map(_ * (rows / nInvalid))
    val planted = injections.zipWithIndex.map { case ((c, v, rule), k) =>
      (c, v, rule, invalidIds.zipWithIndex.collect { case (id, i) if i % injections.size == k => id })
    }
    val nDup = math.max(1L, rows / 1000)
    val dupIds = (0L until nDup).map(_ * (rows / nDup) + 1)

    val (_, tGen) = time {
      val broken = planted.foldLeft(BankDataGen.generate(spark, rows, seed = 3)) {
        case (df, (c, v, _, ids)) => BankDataGen.withInvalid(df, c, v, ids)
      }
      BankDataGen.withDuplicatedRows(broken, dupIds).drop("id")
        .write.mode("overwrite").parquet(s"$dir/feed")
      // settle the write-back before timing: a validate right after a
      // multi-GB write in the same JVM measured up to 3.8x slower
      new ProcessBuilder("sync").inheritIO().start().waitFor()
      System.gc()
    }
    val feed = spark.read.parquet(s"$dir/feed")
    // warm-up: codegen of the rule kernel, scan JIT
    Validator.split(feed.limit(10000), rules)._2.count()

    val (invalidScan, tScan) = time(Validator.split(feed, rules)._2.count())
    val (_, tSplit) = time {
      val (valid, invalid) = Validator.split(feed, rules)
      valid.write.mode("overwrite").parquet(s"$dir/valid")
      invalid.write.mode("overwrite").parquet(s"$dir/invalid")
    }
    val (_, tError) = time(Validator.writeErrorCsv(
      Validator.errorFile(feed, rules, "PayeeID", "bankfile"), s"$dir/errors"))
    val (perRule, tSummary) = time(Validator.summary(feed, rules).collect()
      .map(r => r.getString(0) -> r.getLong(1)).filter(_._2 > 0).toMap)
    val feedRows = rows + nDup
    val pipeline = tSplit + tError + tSummary
    def ruleFields(m: Map[String, Long]) = Fields(m.toSeq.sortBy(_._1): _*)
    Fields("metric" -> "validation_scale", "rows" -> feedRows, "generated_rows" -> rows,
      "planted_invalid" -> nInvalid, "planted_duplicates" -> nDup,
      "gen_write_sec" -> tGen, "scan_validate_sec" -> tScan,
      "split_write_sec" -> tSplit, "error_file_sec" -> tError, "summary_sec" -> tSummary,
      "pipeline_sec" -> pipeline, "rows_per_sec" -> (feedRows / pipeline).toLong,
      "invalid_rows" -> invalidScan,
      "valid_written" -> spark.read.parquet(s"$dir/valid").count(),
      "invalid_written" -> spark.read.parquet(s"$dir/invalid").count(),
      "error_file_rows" -> Validator.readErrorCsv(spark, s"$dir/errors").count(),
      "rule_violations" -> ruleFields(perRule),
      "planted_rule_violations" -> ruleFields(
        planted.map { case (_, _, rule, ids) => rule -> ids.size.toLong }.toMap))
  }

  private def check(f: Fields): Unit = {
    val invalid = f.long("planted_invalid")
    require(f.long("invalid_rows") == invalid && f.long("invalid_written") == invalid &&
      f.long("error_file_rows") == invalid,
      s"invalid rows: scan ${f("invalid_rows")}, written ${f("invalid_written")}, " +
        s"error file ${f("error_file_rows")}; planted $invalid")
    require(f.long("valid_written") == f.long("rows") - invalid,
      s"valid rows written ${f("valid_written")}, expected ${f.long("rows") - invalid}")
    require(f.obj("rule_violations") == f.obj("planted_rule_violations"),
      s"per-rule violations ${f("rule_violations")} != planted ${f("planted_rule_violations")}")
  }

  val all: Seq[ScaleCase] = Seq(
    ScaleCase("validation", "BENCH_SCALE.json", 10000000L, build, check))
}
