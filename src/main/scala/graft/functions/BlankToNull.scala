package graft.functions

import graft.clean.RubyTranslate
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Ruby `presence` (`mapper.rb:190`) as ONE single-evaluation call:
  * null or blank (ActiveSupport `blank?`) → null; otherwise the value
  * itself (`strip = false`, the `presence()` contract) or its Ruby
  * `strip` (`strip = true`, the M13 default normalise). Both rules are
  * [[graft.clean.RubyTranslate]]'s `UTF8String` forms, called from the
  * generated code and from `nullSafeEval` alike.
  *
  * Why native: the Column rendering
  * `when(isBlank(c), null).otherwise(c)` references its argument THREE
  * times, and Spark's subexpression elimination does not reach
  * conditional branches — so `presence(fieldValue(...))` around a
  * default-normalised field (itself a stripped presence) multiplied into
  * ~9 evaluations of the underlying cell per field (measured on the
  * n3_segments plan, r12). Here the child evaluates exactly once. */
case class BlankToNull(child: Expression, strip: Boolean)
    extends UnaryExpression {

  override def prettyName: String = "graft_blank_to_null"
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string input, got ${child.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(input: Any): Any =
    BlankToNull.blankToNull(input.asInstanceOf[UTF8String], strip)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val result = nullSafeCodeGen(ctx, ev, s =>
      s"""${ev.value} = graft.functions.BlankToNull.blankToNull($s, $strip);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
    result
  }

  override protected def withNewChildInternal(newChild: Expression): BlankToNull =
    copy(child = newChild)
}

object BlankToNull {

  /** Null for blank; else the value, Ruby-stripped when `strip`.
    * (Named distinctly from Expression.eval: Scala emits NO static
    * forwarder for a companion method whose name the class inherits,
    * so codegen calling `BlankToNull.eval(UTF8String,...)` failed to
    * janino-compile and silently demoted every containing stage to
    * the interpreted path — found r13.) */
  def blankToNull(input: UTF8String, strip: Boolean): UTF8String =
    if (RubyTranslate.blank(input)) null
    else if (strip) RubyTranslate.strip(input)
    else input

  /** `presence(c)` — blank → null, value otherwise. */
  def presence(c: Column): Column =
    GraftColumnBridge.column(BlankToNull(GraftColumnBridge.expression(c), strip = false))

  /** `presence(strip(c))` — the M13 default normalise. */
  def stripPresence(c: Column): Column =
    GraftColumnBridge.column(BlankToNull(GraftColumnBridge.expression(c), strip = true))
}
