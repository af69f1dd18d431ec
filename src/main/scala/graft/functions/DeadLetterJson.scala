package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.json.JsonToStructsEvaluator
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * `from_json(child, BruteForce.deadLetterJson)` as one codegen'd expression.
 *
 * Spark's `JsonToStructs` is a `CodegenFallback`, which takes the whole
 * operator holding it out of whole-stage codegen; and `OptimizeCsvJsonExprs`
 * rewrites each field access of a `from_json` result into its own
 * single-field `from_json`, so a dead letter read field by field is parsed
 * once per field. This expression calls the very evaluator `JsonToStructs`
 * uses (`JsonToStructsEvaluator`: same options, schema nullability, corrupt
 * record column, time zone and duplicate-key policy), so it yields the same
 * rows, but from generated code and once per evaluation.
 */
case class DeadLetterJson(child: Expression, timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {

  // every field of the schema is nullable already, as `from_json` forces
  override def dataType: DataType = BruteForce.deadLetterJson
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dead_letter_json"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING child, got ${child.dataType.simpleString}")

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(timeZoneId))

  @transient private lazy val evaluator = JsonToStructsEvaluator(
    Map.empty, dataType, SQLConf.get.columnNameOfCorruptRecord, timeZoneId,
    SQLConf.get.getConf(SQLConf.VARIANT_ALLOW_DUPLICATE_KEYS))

  override def nullSafeEval(json: Any): Any =
    evaluator.evaluate(json.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("deadLetterJson", evaluator)
    val row = ctx.freshName("row")
    nullSafeCodeGen(ctx, ev, c =>
      s"""Object $row = $ref.evaluate($c);
         |${ev.isNull} = $row == null;
         |if (!${ev.isNull}) ${ev.value} = (${CodeGenerator.javaType(dataType)}) $row;
         |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DeadLetterJson {
  /** Column form over a STRING column. */
  def parse(txt: Column): Column = {
    val b = org.apache.spark.sql.graftbridge
    b.column(DeadLetterJson(b.expression(txt)))
  }
}
