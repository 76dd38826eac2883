package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.execution.graft.GraftPlanBridge
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Extract an integer JSON field by scanning bytes — no Jackson parse,
  * no UTF8String→String decode, fully inside whole-stage codegen.
  *
  * Semantics are exactly the naive-scan contract of the oracle regex
  * `"<key>": *(-?[0-9]+)`: the first occurrence of `"key":` (anywhere
  * in the string — including inside nested objects or string values,
  * exactly as the regex would match), optional spaces, then an optional
  * minus and at least one digit. NULL when no such occurrence exists or
  * the digits overflow an int (where an engine CAST would error; the
  * corpus carries no such rows). This is a projection-time fast path
  * for flat JSONEachRow payloads; full document parsing with corrupt-
  * row semantics stays on `from_json` (the ingest path, SURVEY §2 S4).
  *
  * All pattern bytes are ASCII, so a byte scan is correct in UTF-8
  * without decoding. */
case class JsonIntExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "json_int"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (STRING, STRING) inputs, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def nullable: Boolean = true

  override def nullSafeEval(json: Any, key: Any): Any =
    JsonIntExpr.extract(json.asInstanceOf[UTF8String], key.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (j, k) => {
      val r = ctx.freshName("r")
      s"""
         |java.lang.Integer $r = graft.functions.JsonIntExpr.extract($j, $k);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.intValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JsonIntExpr {

  /** Static scan, shared by interpreted eval and generated code.
    * Returns null (boxed) for "no match" so codegen can branch on it. */
  def extract(json: UTF8String, key: UTF8String): Integer = {
    val n = json.numBytes()
    val kl = key.numBytes()
    var i = 0
    while (i + kl + 3 <= n) {
      var matched = json.getByte(i) == '"'
      var t = 0
      while (matched && t < kl) {
        if (json.getByte(i + 1 + t) != key.getByte(t)) matched = false
        t += 1
      }
      if (matched && json.getByte(i + kl + 1) == '"' &&
          json.getByte(i + kl + 2) == ':') {
        var j = i + kl + 3
        while (j < n && json.getByte(j) == ' ') j += 1
        var neg = false
        if (j < n && json.getByte(j) == '-') { neg = true; j += 1 }
        val d0 = j
        var v = 0L
        var overflow = false
        while (j < n && json.getByte(j) >= '0' && json.getByte(j) <= '9') {
          v = v * 10 + (json.getByte(j) - '0')
          if (v > 2147483648L) overflow = true // past |Int.MinValue|
          j += 1
        }
        if (j > d0) {
          val signed = if (neg) -v else v
          return if (overflow || signed > Int.MaxValue || signed < Int.MinValue) null
          else Integer.valueOf(signed.toInt)
        }
        // "key": with no digits — the regex would keep searching too
      }
      i += 1
    }
    null
  }

  /** `json_int(json, key)` as a Column. */
  def column(json: Column, key: Column): Column =
    GraftPlanBridge.column(JsonIntExpr(GraftPlanBridge.expr(json), GraftPlanBridge.expr(key)))
}
