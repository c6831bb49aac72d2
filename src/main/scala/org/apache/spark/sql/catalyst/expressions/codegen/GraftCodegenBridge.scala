package org.apache.spark.sql.catalyst.expressions.codegen

import org.apache.spark.sql.catalyst.expressions.ExpressionEquals

/** Bridge to the package-private subexpression-elimination state of a
  * [[CodegenContext]], so a graft expression that splits its children
  * into their own methods (e.g. [[graft.expr.AnyTrue]]) can pass the
  * eliminated values each method reads as parameters — the same lookup
  * Spark's split aggregate functions make. */
object GraftCodegenBridge {
  def subExprs(ctx: CodegenContext): Map[ExpressionEquals, SubExprEliminationState] =
    ctx.subExprEliminationExprs
}
