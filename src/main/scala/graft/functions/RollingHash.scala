package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.execution.graft.GraftPlanBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Rolling polynomial hash of a string: fold `(acc * 31 + codepoint) mod
  * 1e9+7` over the characters — the document-fingerprint primitive.
  *
  * Replaces the equivalent `aggregate(sequence(1, length(text)), ...)`
  * higher-order chain, which materializes a position array and evaluates
  * an interpreted lambda + substring per character (~1000× the work). The
  * codegen here is a direct static call folding over the decoded
  * codepoints. Semantics match `ascii(substring(text, i, 1))` per
  * position for any codepoint, so the DuckDB oracle
  * (`ascii(text[i])`-based) is unchanged.
  */
case class RollingHashExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    RollingHashExpr.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RollingHashExpr.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingHashExpr {
  final val Mod = 1000000007L

  /** Static fold, called from both interpreted eval and generated code. */
  def compute(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      acc = (acc * 31 + cp) % Mod
      i += Character.charCount(cp)
    }
    acc
  }

  /** `rolling_hash(s)` as a Column. */
  def column(s: Column): Column =
    GraftPlanBridge.column(RollingHashExpr(GraftPlanBridge.expr(s)))
}
