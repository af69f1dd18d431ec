package org.apache.spark.sql.catalyst.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, SubExprEliminationState}

/**
 * Bridge into the `private[expressions]` common-subexpression states of a
 * codegen context, for [[graft.functions.CodegenFunction]], which moves an
 * expression's code into a method of its own and passes the variables of
 * those states as parameters. Lives in this package solely for access;
 * contains no logic.
 */
object graftexprbridge {
  def subExprStates(ctx: CodegenContext): Map[ExpressionEquals, SubExprEliminationState] =
    ctx.subExprEliminationExprs
}
