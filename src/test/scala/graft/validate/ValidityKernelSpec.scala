package graft.validate

import graft.SparkSpec
import graft.bank.{BankDataGen, BankRules}
import graft.rules.RuleSet
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenFallback}
import org.apache.spark.sql.execution.{FilterExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Row validity is `RuleSet.violatedCol` (a codegen'd
  * [[graft.expr.AnyTrue]]). Two pins:
  * - the valid side of a bank-rule split runs in whole-stage codegen
  *   with every generated method under HotSpot's 8000-byte JIT limit.
  *   The interpreted `size(errors) === 0` test fails the first check;
  *   a single `||` chain over the 68 rules fails the second.
  * - `validate`, `split`, `splitCounts` and `errorFile` return what the
  *   message-array definition of validity returns, written out below
  *   as the reference. */
class ValidityKernelSpec extends SparkSpec {

  private val rules = BankRules.all

  /** Land a feed as parquet and read it back, as a pipeline would. */
  private def landed(df: DataFrame): DataFrame = {
    val dir = Files.createTempDirectory("validity-kernel").toString
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def gen(rows: Long, seed: Long): DataFrame =
    BankDataGen.generate(spark, rows, seed = seed)

  private lazy val injected: DataFrame = {
    val bad = Seq(
      ("RoutingTransitNumber", "12345ABCD", Seq(3L, 4L)),
      ("State", "C1", Seq(5L, 40L)),
      ("ContactEmail", "bad-email@@example", Seq(7L, 40L)),
      ("EffectiveEndDate", "2020-13-45", Seq(11L)),
      ("PayeeID", "A!", Seq(13L)),
      ("AccountType", "checking", Seq(17L)))
    val withBad = bad.foldLeft(gen(600, 7)) { case (d, (c, v, ids)) =>
      BankDataGen.withInvalid(d, c, v, ids)
    }
    landed(BankDataGen.withDuplicatedRows(withBad, Seq(1L, 5L, 40L)))
  }

  test("valid side of the bank split: whole-stage codegen, no method over 8000 bytes") {
    val valid = Validator.split(injected.drop("id"), rules)._1.queryExecution.executedPlan
    val fallbacks = valid.flatMap(_.expressions.flatMap(_.collect {
      case f: CodegenFallback => f.prettyName
    }))
    assert(fallbacks.isEmpty, s"interpreted expressions in the valid side: ${fallbacks.distinct}")
    val stages = valid.collect { case w: WholeStageCodegenExec => w }
    assert(stages.exists(_.child.exists(_.isInstanceOf[FilterExec])),
      s"the validity filter is not in whole-stage codegen:\n$valid")
    stages.foreach { w =>
      val (_, stats) = CodeGenerator.compile(w.doCodeGen()._2)
      assert(stats.maxMethodCodeSize <= 8000,
        s"a generated method has ${stats.maxMethodCodeSize} bytes of bytecode, " +
          "past HotSpot's 8000-byte JIT limit")
    }
  }

  // The reference: validity as the message array's emptiness.
  private def refValidated(df: DataFrame, rs: RuleSet): DataFrame =
    df.withColumn("errors", rs.errorsCol).withColumn("is_valid", size(col("errors")) === 0)

  private def assertSameRows(what: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq, s"$what columns")
    assert(got.count() == want.count(), s"$what row count")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, s"$what rows")
  }

  private def scenarios: Seq[(String, DataFrame)] = Seq(
    "injected invalids and duplicated rows" -> injected,
    "NULLs in rule columns" -> landed(
      BankDataGen.withNullBlanks(BankDataGen.withInvalid(gen(400, 11), "State", "C1", Seq(9L)))
        .withColumn("State", when(col("id") % 7 === 0, lit(null)).otherwise(col("State")))
        .withColumn("PayeeID", when(col("id") % 11 === 0, lit(null)).otherwise(col("PayeeID")))
        .withColumn("ContactEmail", when(col("id") % 13 === 0, lit(null))
          .otherwise(col("ContactEmail")))),
    "all rows invalid" -> landed(BankDataGen.withInvalid(gen(300, 13), "State", "C1")))

  test("validate, split, splitCounts and errorFile match the message-array definition") {
    scenarios.foreach { case (name, feed) =>
      val ref = refValidated(feed, rules)
      val nInvalid = ref.where(!col("is_valid")).count()
      assert(nInvalid > 0, s"$name: no invalid rows, the comparison would be vacuous")
      if (name == "all rows invalid") assert(nInvalid == feed.count())
      else assert(nInvalid < feed.count(), s"$name: no valid rows")

      val v = Validator.validate(feed, rules)
      assert(v.where(col(Validator.ValidCol) =!= (size(col(Validator.ErrorsCol)) === 0)).isEmpty,
        s"$name: is_valid disagrees with size(errors) === 0")
      assertSameRows(s"$name validate", v, ref)

      val (valid, invalid) = Validator.split(feed, rules)
      assertSameRows(s"$name valid side", valid, ref.where(col("is_valid")).drop("errors", "is_valid"))
      assertSameRows(s"$name invalid side", invalid,
        ref.where(!col("is_valid")).drop("errors", "is_valid"))

      val counts = ref.groupBy(when(col("is_valid"), "valid").otherwise("invalid").as("status"))
        .agg(count(lit(1)).as("cnt")).orderBy("status")
      assert(Validator.splitCounts(feed, rules).collect().toSeq == counts.collect().toSeq,
        s"$name splitCounts")

      val errors = ref.where(!col("is_valid")).select(lit("f").as("FILENAME"),
        col("PayeeID").cast("string").as("PayeeId"),
        concat_ws(", ", col("errors")).as("ERROR_DESC"))
      assertSameRows(s"$name errorFile", Validator.errorFile(feed, rules, "PayeeID", "f"), errors)
    }
  }
}
