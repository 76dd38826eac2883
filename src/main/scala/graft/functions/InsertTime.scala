package graft.functions

import java.time.Instant
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.graft.GraftPlanBridge
import org.apache.spark.sql.types.{DataType, TimestampType}

/** One timestamp, fixed when the expression is built: the insert time a
  * sink stamps on every row of one append (ClickHouse `DEFAULT now()`).
  *
  * Unlike `lit(ts)` or `current_timestamp()` (which the optimizer turns
  * into a literal), the value is not written into the generated Java
  * source. It is not foldable, so it never becomes a `Literal`, and its
  * generated code reads it from the stage's reference array. The source
  * is therefore the same whatever the value, and an append that runs
  * every micro-batch reuses the compiled classes of the one before.
  */
case class InsertTimeExpr(micros: Long) extends LeafExpression {

  override def dataType: DataType = TimestampType
  override def nullable: Boolean = false
  override def prettyName: String = "insert_time"

  override def eval(input: InternalRow): Any = micros

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("insertTime", java.lang.Long.valueOf(micros), "java.lang.Long")
    ev.copy(
      code = code"final ${CodeGenerator.javaType(dataType)} ${ev.value} = $ref.longValue();",
      isNull = FalseLiteral)
  }
}

object InsertTimeExpr {

  /** `at` as a non-null TIMESTAMP column (microsecond precision). */
  def column(at: Instant): Column =
    GraftPlanBridge.column(InsertTimeExpr(DateTimeUtils.instantToMicros(at)))
}
