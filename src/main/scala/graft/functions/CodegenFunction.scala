package graft.functions

import org.apache.spark.sql.{graftbridge, Column}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnaryExpression, graftexprbridge}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/**
 * Identity expression whose generated code is a Java method of its own.
 *
 * Inside whole-stage codegen an operator's expressions read their inputs from
 * local variables, so Spark does not split them into methods the way it does
 * for row-based projections: the four dead-letter parsers of one `explode`
 * compile into one consume method of ~20 KB of bytecode, past HotSpot's
 * 8,000-byte limit for JIT compilation (`DontCompileHugeMethods`), so that
 * method would run in the bytecode interpreter for the life of the JVM.
 * Wrapping each heavy sub-expression in this node moves its code into a
 * private method that takes the input variables it reads as parameters
 * (what Spark does for common subexpressions of a whole-stage projection),
 * keeping every method small enough to compile.
 *
 * It falls back to inline code when an input it reads is not evaluated yet
 * (its evaluation must stay where the operator placed it), when the inputs
 * exceed the JVM's parameter limit, and in row-based codegen, which splits
 * by itself.
 */
case class CodegenFunction(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "codegen_function"
  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def inline: ExprCode = {
      val c = child.genCode(ctx)
      ev.copy(code = c.code, isNull = c.isNull, value = c.value)
    }
    val vars = ctx.currentVars
    val evaluated = vars != null && child.collect { case b: BoundReference => b.ordinal }
      .forall(i => vars(i) == null || vars(i).code == EmptyBlock)
    if (!evaluated) return inline
    val params = CodeGenerator.getLocalInputVariableValues(
      ctx, child, graftexprbridge.subExprStates(ctx))._1.toSeq.sortBy(_.variableName)
    if (!CodeGenerator.isValidParamLength(
        CodeGenerator.calculateParamLengthFromExprValues(params))) return inline
    val c = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    val value = ctx.addMutableState(javaType, "fnValue")
    val isNull = if (nullable) ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "fnIsNull") else ""
    val fn = ctx.freshName("codegenFunction")
    val call = ctx.addNewFunction(fn,
      s"""private void $fn(${params.map(v =>
           s"${CodeGenerator.typeName(v.javaType)} ${v.variableName}").mkString(", ")}) {
         |  ${c.code}
         |  ${if (nullable) s"$isNull = ${c.isNull};" else ""}
         |  $value = ${c.value};
         |}""".stripMargin)
    val args = params.map(_.variableName).mkString(", ")
    if (nullable) ev.copy(code = code"""
      |$call($args);
      |boolean ${ev.isNull} = $isNull;
      |$javaType ${ev.value} = $value;""".stripMargin)
    else ev.copy(isNull = FalseLiteral, code = code"""
      |$call($args);
      |$javaType ${ev.value} = $value;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : CodegenFunction = copy(child = newChild)
}

object CodegenFunction {
  /** Column form: compile `c` into a Java method of its own. */
  def wrap(c: Column): Column =
    graftbridge.column(CodegenFunction(graftbridge.expression(c)))
}
