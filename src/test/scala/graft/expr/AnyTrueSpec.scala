package graft.expr

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BooleanType
import java.nio.file.Files

/** Equivalence pin: [[AnyTrue]] must equal
  * `coalesce(c1, false) || … || coalesce(cn, false)` on pseudo-random
  * TRUE/FALSE/NULL children, under every evaluation path Spark can pick:
  * whole-stage codegen, per-operator codegen and the interpreted
  * `eval`, each with subexpression elimination on and off. */
class AnyTrueSpec extends SparkSpec {

  private val n = 12

  /** `c0..c11`: TRUE, FALSE or NULL by a hash of (id, i). Derived from
    * `range` (not a local relation), so operators stay codegen'd. */
  private lazy val bools: DataFrame = spark.range(3000).select(col("id") +:
    (0 until n).map { i =>
      val h = pmod(hash(col("id"), lit(i)), lit(3))
      when(h === 0, lit(null).cast("boolean")).otherwise(h === 1).as(s"c$i")
    }: _*)

  /** Plain columns, plus arms that share subexpressions (so elimination
    * has something to extract) and an always-NULL arm. */
  private def arms: Seq[Column] =
    (0 until n).map(i => col(s"c$i")) ++ Seq(
      (col("c1") || col("c2")) && col("c3"),
      (col("c1") || col("c2")) && !col("c4"),
      col("id") % 97 === 5,
      lit(null).cast("boolean"))

  private def reference(cs: Seq[Column]): Column =
    cs.map(coalesce(_, lit(false))).foldLeft(lit(false))(_ || _)

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val modes: Seq[(String, Seq[(String, String)])] =
    for {
      (name, base) <- Seq(
        "whole-stage" -> Seq("spark.sql.codegen.wholeStage" -> "true"),
        "per-operator" -> Seq("spark.sql.codegen.wholeStage" -> "false"),
        "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
      subExpr <- Seq("true", "false")
    } yield (s"$name, subexpression elimination $subExpr",
      base :+ ("spark.sql.subexpressionElimination.enabled" -> subExpr))

  private def codegenBodies(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec =>
      val (_, src) = w.doCodeGen()
      CodeGenerator.compile(src) // throws if the generated code is invalid
      src.body
    }

  modes.foreach { case (name, conf) =>
    test(s"AnyTrue == coalesce(c, false) || … ($name)") {
      withConf(conf: _*) {
        val cs = arms
        val rows = bools.select(AnyTrue.anyTrue(cs).as("k"), reference(cs).as("r"),
          AnyTrue.anyTrue(cs.take(3)).as("k3"), reference(cs.take(3)).as("r3")).collect()
        assert(rows.length == 3000)
        rows.foreach { r =>
          assert(!r.isNullAt(0) && !r.isNullAt(2), "AnyTrue is never null")
          assert(r.getBoolean(0) == r.getBoolean(1) && r.getBoolean(2) == r.getBoolean(3), r)
        }
        // both outcomes occur, so the comparison is not vacuous
        assert(rows.map(_.getBoolean(2)).distinct.length == 2)
        // as a filter, the shape the validator plans
        assert(bools.where(AnyTrue.anyTrue(cs)).count() == bools.where(reference(cs)).count())
        assert(bools.where(!AnyTrue.anyTrue(cs.take(3))).count() ==
          bools.where(!reference(cs.take(3))).count())
      }
    }
  }

  test("zero children are FALSE, in eval and in every plan") {
    def lits(bs: java.lang.Boolean*) = AnyTrue(bs.map(Literal.create(_, BooleanType)))
    assert(lits().eval(null) == false)
    assert(lits(null, false).eval(null) == false)
    assert(lits(false, null, true).eval(null) == true)
    modes.foreach { case (name, conf) =>
      withConf(conf: _*) {
        val r = bools.select(AnyTrue.anyTrue(Nil).as("k")).distinct().collect()
        assert(r.map(_.getBoolean(0)).toSeq == Seq(false), name)
      }
    }
  }

  test("each narrow arm gets its own method; one too wide for the JVM limit is inlined") {
    // 90 nullable long columns: 90 * (2 value + 1 null) parameter slots
    // exceed the JVM's 255, so that arm cannot be a method of its own
    val dir = Files.createTempDirectory("anytrue-wide").toString
    val wide = (0 until 90).map(i => s"w$i")
    spark.range(2000).select(col("id") +: wide.zipWithIndex.map { case (w, i) =>
      when(col("id") % (i + 2) === 0, lit(null)).otherwise(col("id") + i).as(w)
    }: _*).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val wideArm = greatest(wide.map(col): _*) % 7 === 3
    val cs = Seq(col("id") % 5 === 0, wideArm, col("w1").isNull)
    // without elimination, or the wide arm (shared with the reference)
    // would reach its method as one eliminated value
    withConf("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.subexpressionElimination.enabled" -> "false") {
      val q = df.select(AnyTrue.anyTrue(cs).as("k"), reference(cs).as("r"))
      val bodies = codegenBodies(q)
      assert(bodies.nonEmpty, "the projection runs in whole-stage codegen")
      assert(bodies.map("private boolean \\w*anyTrueArm_\\d+\\(".r.findAllIn(_).size).sum == 2,
        "the two narrow arms are methods, the wide one is inlined")
      val rows = q.collect()
      assert(rows.forall(r => r.getBoolean(0) == r.getBoolean(1)))
      assert(rows.map(_.getBoolean(0)).distinct.length == 2)
    }
  }

  test("type check rejects a non-boolean child") {
    val e = AnyTrue(Seq(GraftColumnBridge.expression(lit(1))))
    assert(e.checkInputDataTypes().isFailure)
  }
}
