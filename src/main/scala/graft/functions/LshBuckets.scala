package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.graft.GraftPlanBridge
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** All multi-table random-hyperplane LSH bucket keys for one embedding in
  * a single pass: result[t] = the t-th table's sign-bit key (bit k = sign
  * of dot(v, plane[t*bits+k])).
  *
  * One expression instead of `tables × bits` separate cosine calls keeps
  * the generated/evaluated code tiny — the earlier literal-tree variant
  * spent seconds per query just compiling 32 inlined loops. The plane
  * matrix lives in the expression (driver-serialized once per task, like
  * a broadcast scalar), not in the plan as literals. Sign-of-dot needs no
  * norms, so this is a pure fused multiply-add sweep. CodegenFallback:
  * the eval loop is already tight primitive math, and keeping it out of
  * generated Java avoids method-size blowup in the enclosing stage.
  */
case class LshBucketKeysExpr(
    child: Expression,
    planes: Array[Array[Double]],
    bitsPerTable: Int)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_buckets"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<DOUBLE> input, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val numTables = planes.length / bitsPerTable
    val keys = new Array[Long](numTables)
    var t = 0
    while (t < numTables) {
      var key = 0L
      var k = 0
      while (k < bitsPerTable) {
        val plane = planes(t * bitsPerTable + k)
        val dim = math.min(n, plane.length)
        var dot = 0.0
        var i = 0
        while (i < dim) { dot += v.getDouble(i) * plane(i); i += 1 }
        if (dot > 0) key |= (1L << k)
        k += 1
      }
      keys(t) = key
      t += 1
    }
    new GenericArrayData(keys)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // Array params get reference equality from the case class, which breaks
  // expression canonicalization; compare the plane matrix by content.
  override def equals(other: Any): Boolean = other match {
    case l: LshBucketKeysExpr =>
      child == l.child && bitsPerTable == l.bitsPerTable &&
      java.util.Arrays.deepEquals(
        planes.asInstanceOf[Array[AnyRef]], l.planes.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Int.box(bitsPerTable),
      Int.box(java.util.Arrays.deepHashCode(planes.asInstanceOf[Array[AnyRef]])))
}

object LshBucketKeysExpr {
  /** `lsh_buckets(v)` over a fixed plane matrix, as a Column. */
  def column(v: Column, planes: Array[Array[Double]], bitsPerTable: Int): Column =
    GraftPlanBridge.column(LshBucketKeysExpr(GraftPlanBridge.expr(v), planes, bitsPerTable))
}
