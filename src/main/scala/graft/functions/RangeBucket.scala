package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.execution.graft.GraftPlanBridge
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

/** Range-bucket id of a double key against a FIXED sorted boundary
  * array: the count of boundaries strictly below the key (the classic
  * `lower_bound`), found by binary search in generated code.
  *
  * This is the deterministic-placement primitive behind the keyed
  * [[graft.operators.GroupRank]]/[[graft.operators.AssignIds]] paths:
  * the boundaries are collected ONCE (quantile sketch → driver →
  * literal in the plan), so the bucket is a pure function of the row's
  * VALUE — any recompute of any partition reproduces the same
  * placement, which is what lets those operators drop the durable
  * corpus-sized pin that sample-based `repartitionByRange` forces.
  * Keys equal to a boundary all take the LOWER bucket (strict `<` in
  * the search), so a tied key value can never be split across buckets
  * — the ordering invariant the rank/prefix-sum math needs.
  *
  * A binary search, not the `aggregate(boundaries, ...)` higher-order
  * fold: the fold is an interpreted per-row O(parts) lambda, this is
  * O(log parts) inside whole-stage codegen — at the bytes-tuned
  * partition counts a 100 TB corpus wants (10⁴–10⁵ buckets), that is
  * the difference between ~17 compares and ~10⁵ interpreted steps per
  * row. Boundaries ride along as a codegen reference object (one
  * array per executor, not per row).
  */
case class RangeBucketExpr(child: Expression, boundaries: Seq[Double])
    extends UnaryExpression {

  require(boundaries.sliding(2).forall(s => s.size < 2 || s(0) < s(1)),
    "range_bucket boundaries must be strictly increasing")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "range_bucket"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires DOUBLE input, got ${child.dataType.simpleString}")

  @transient private lazy val bs: Array[Double] = boundaries.toArray

  override def nullSafeEval(input: Any): Any =
    RangeBucketExpr.bucket(input.asInstanceOf[Double], bs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("boundaries", bs, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.RangeBucketExpr.bucket($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RangeBucketExpr {

  /** Range-bucket id of `key` against sorted `boundaries`, as a Column. */
  def column(key: Column, boundaries: Seq[Double]): Column =
    GraftPlanBridge.column(RangeBucketExpr(GraftPlanBridge.expr(key), boundaries))

  /** First index i with bs(i) >= key — equivalently the number of
    * boundaries strictly below key. Static, shared by interpreted eval
    * and generated code. */
  def bucket(key: Double, bs: Array[Double]): Int = {
    var lo = 0
    var hi = bs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bs(mid) < key) lo = mid + 1 else hi = mid
    }
    lo
  }
}
