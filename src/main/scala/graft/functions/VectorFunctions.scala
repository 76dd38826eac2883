package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.graft.GraftPlanBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Cosine similarity between two `ARRAY<DOUBLE>` embeddings as a native
  * Catalyst expression.
  *
  * Why an expression and not a UDF or higher-order `aggregate(zip_with(...))`
  * chain: the dot product is the innermost loop of every similarity /
  * near-dup operator — at 100 TB it runs trillions of times. A Scala UDF
  * boxes both arrays per call; `zip_with` allocates an intermediate array
  * per row. This expression evaluates as a tight primitive loop over the
  * unsafe array data, and `doGenCode` splices that loop directly into
  * whole-stage-generated Java, so a pair-scan stays fully codegen'd.
  *
  * Accumulation is sequential in index order (dot, then norms), and the
  * result is `dot / (sqrt(na) * sqrt(nb))` — the oracle SQL mirrors this
  * exact association so values match bit-for-bit.
  *
  * Zero-norm input yields 0.0 (total function keeps codegen branch-free;
  * the corpus has no zero vectors).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<DOUBLE> inputs, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $xi = $a.getDouble($i);
         |  final double $yi = $b.getDouble($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0
         |  : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared Euclidean distance between two `ARRAY<DOUBLE>` vectors —
  * the Lloyd-assignment / ADC-table primitive of the product quantizer.
  * Same rationale and shape as [[CosineSimilarity]]: a tight primitive
  * loop spliced into whole-stage codegen, replacing the interpreted
  * `aggregate(zip_with(...))` fold (which allocates an intermediate
  * array and evaluates a lambda per element). Accumulation is
  * sequential in index order, identical to the fold it replaces, so
  * every distance is bit-for-bit unchanged. */
case class SqEuclidean(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq_dist"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<DOUBLE> inputs, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val di = ctx.freshName("di")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $di = $a.getDouble($i) - $b.getDouble($i);
         |  $acc += $di * $di;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Raw dot product between two `ARRAY<DOUBLE>` vectors — the
  * random-projection / linear-layer primitive ([[graft.similarity
  * .Similarity.embedProject]]'s inner loop). Same rationale and shape
  * as [[CosineSimilarity]]: a tight primitive loop spliced into
  * whole-stage codegen. Accumulation is sequential in index order —
  * the identical fold DuckDB's `list_dot_product` runs, which is what
  * lets projections be hash-checked bit-for-bit. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<DOUBLE> inputs, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  /** `cosine_sim(a, b)` as a Column. */
  def cosineSim(a: Column, b: Column): Column =
    GraftPlanBridge.column(CosineSimilarity(GraftPlanBridge.expr(a), GraftPlanBridge.expr(b)))

  /** `sq_dist(a, b)` as a Column. */
  def sqDist(a: Column, b: Column): Column =
    GraftPlanBridge.column(SqEuclidean(GraftPlanBridge.expr(a), GraftPlanBridge.expr(b)))

  /** `dot_product(a, b)` as a Column. */
  def dotProduct(a: Column, b: Column): Column =
    GraftPlanBridge.column(DotProduct(GraftPlanBridge.expr(a), GraftPlanBridge.expr(b)))
}
