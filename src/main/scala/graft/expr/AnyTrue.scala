package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext,
  ExprCode, FalseLiteral, GraftCodegenBridge, SimpleExprValue}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.BooleanType

/** N-ary "any child is true": TRUE when at least one child is TRUE, a
  * NULL child counts as FALSE, never NULL itself — the value of
  * `coalesce(c1, false) || … || coalesce(cn, false)`, evaluated left to
  * right with a short circuit at the first TRUE. Zero children give
  * FALSE.
  *
  * It exists for wide predicate sets such as a validation rule set:
  * - Generated code puts each child in its own small method, taking the
  *   input variables and eliminated subexpressions it reads as
  *   parameters (`CodeGenerator.getLocalInputVariableValues`, the lookup
  *   Spark's split aggregate functions make). The enclosing method keeps
  *   one call per child, so it stays under HotSpot's 8000-byte JIT limit
  *   where one `||` chain over 68 rules does not (and then runs in the
  *   bytecode interpreter).
  * - A child whose parameters would pass the JVM limit
  *   (`CodeGenerator.isValidParamLength`) is inlined instead; so is
  *   every child when an eliminated subexpression's value is not a
  *   plain variable (Spark's own rule for split functions), and every
  *   child past half of Spark's per-class code budget.
  * - It is not a `CodegenFallback`, so the filter or projection that
  *   holds it stays in whole-stage codegen.
  */
final case class AnyTrue(children: Seq[Expression]) extends Expression with Predicate {

  override def checkInputDataTypes(): TypeCheckResult =
    children.find(_.dataType != BooleanType) match {
      case Some(c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires boolean children, got ${c.dataType.simpleString}")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  override def nullable: Boolean = false
  override def prettyName: String = "any_true"

  @transient private lazy val arms = children.toArray

  override def eval(input: InternalRow): Any = {
    var i = 0
    while (i < arms.length) {
      val v = arms(i).eval(input)
      if (v != null && v.asInstanceOf[Boolean]) return true
      i += 1
    }
    false
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val subExprs = GraftCodegenBridge.subExprs(ctx)
    val splittable = subExprs.values.forall(s =>
      !s.eval.value.isInstanceOf[SimpleExprValue] && !s.eval.isNull.isInstanceOf[SimpleExprValue])
    // Collect every child's parameters before generating any child: the
    // lookup marks the inputs it meets as evaluated, and their code must
    // run here, outside the short circuit, where later code can see them.
    val inputs = children.map(c => CodeGenerator.getLocalInputVariableValues(ctx, c, subExprs))
    val evalInputs = inputs.flatMap(_._2).map(_.code).mkString("\n")
    // Functions go to the class being generated until Spark's per-class
    // code budget is used up; after that Spark puts later functions in
    // nested classes, and a whole-stage function there cannot read the
    // protected fields of `BufferedRowIterator` (IllegalAccessError at
    // run time). So arms split only while the class's functions stay
    // within half that budget; the rest are inlined, and a method that
    // grows past the JVM limit falls back as any oversized expression
    // does (arms over generator expressions a filter was pushed through
    // can reach this).
    var budget = CodeGenerator.GENERATED_CLASS_SIZE_THRESHOLD / 2 -
      ctx.declareAddedFunctions().length
    val calls = children.zip(inputs).map { case (c, (vars, _)) =>
      val e = c.genCode(ctx)
      val test = if (c.nullable) s"!${e.isNull} && ${e.value}" else s"${e.value}"
      val params = vars.toSeq.sortBy(_.variableName)
      val fn = ctx.freshName("anyTrueArm")
      val decl = params.map(v => s"${CodeGenerator.typeName(v.javaType)} ${v.variableName}")
      val body =
        s"""
           |private boolean $fn(${decl.mkString(", ")}) {
           |  ${e.code}
           |  return $test;
           |}
         """.stripMargin
      if (splittable && body.length <= budget &&
          CodeGenerator.isValidParamLength(CodeGenerator.calculateParamLengthFromExprValues(params))) {
        budget -= body.length
        s"${ev.value} = ${ctx.addNewFunction(fn, body)}(${params.map(_.variableName).mkString(", ")});"
      } else
        s"""${e.code}
           |${ev.value} = $test;""".stripMargin
    }
    ev.copy(
      code = code"""
        |$evalInputs
        |boolean ${ev.value} = false;
        |do {
        |  ${calls.mkString(s"\nif (${ev.value}) continue;\n")}
        |} while (false);
      """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): AnyTrue = copy(children = newChildren)
}

object AnyTrue {
  def anyTrue(cs: Seq[Column]): Column =
    GraftColumnBridge.column(AnyTrue(cs.map(GraftColumnBridge.expression)))
}
