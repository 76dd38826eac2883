package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.execution.graft.GraftPlanBridge
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Best-fit-decreasing bin ids for ONE collected chunk of document
  * lengths: input is the chunk's `n_tokens` array in fold order
  * (length desc, doc_id asc — the keyed rank's order), output is the
  * positionally aligned array of 0-based bin ids.
  *
  * Placement law — identical to the Catalyst `aggregate`-HOF fold it
  * replaces (and to the DuckDB recursive-CTE oracle, both in
  * [[graft.text.TextAnalysis]]):
  *  - a document goes to the FULLEST open bin still accepting it
  *    (`load + n ≤ binCapacity`), ties on load → the LOWEST bin id
  *    (`array_position`/`list_position` first-occurrence semantics);
  *  - no feasible bin → a new bin (an over-capacity document gets a
  *    singleton bin that can never accept another document).
  *
  * Why an expression and not the HOF (VERDICT r13 #3): the HOF is
  * exact but interpreted — every step rebuilds the whole loads array
  * (`transform` + `concat` on immutable Catalyst arrays, an O(C²)
  * allocation pattern per chunk) under expression-tree evaluation.
  * This is the same O(C · bins) loop over two primitive long arrays,
  * one allocation per chunk, JIT-compiled; `doGenCode` keeps the
  * surrounding projection inside whole-stage codegen. The fold stays
  * bounded at the chunk width either way — the expression only buys
  * the constant.
  */
case class BestFitPackExpr(child: Expression, binCapacity: Long)
    extends UnaryExpression {

  require(binCapacity > 0, "best_fit_pack capacity must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "best_fit_pack"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<BIGINT> input, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    BestFitPackExpr.packArray(input.asInstanceOf[ArrayData], binCapacity)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BestFitPackExpr.packArray($c, ${binCapacity}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BestFitPackExpr {

  /** Best-fit bin ids of a `sizes` array into bins of `binCapacity`, as
    * a Column. */
  def column(sizes: Column, binCapacity: Long): Column =
    GraftPlanBridge.column(BestFitPackExpr(GraftPlanBridge.expr(sizes), binCapacity))

  /** Static, shared by interpreted eval and generated code. A null
    * element raises LOUD here: the declared input type admits
    * `containsNull = true` (the wired `transform(docs, d ->
    * d.n_tokens)` is formally nullable even though the rank guard
    * upstream makes nulls unreachable), and without the check a null
    * would either NPE in the boxed copy or read as a size-0 doc from
    * the unsafe layout — two different silent behaviors for the same
    * bad input (r14 review). */
  def packArray(sizes: ArrayData, capacity: Long): ArrayData = {
    val n = sizes.numElements()
    val longs = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (sizes.isNullAt(i))
        throw new IllegalArgumentException(
          s"best_fit_pack: null size at position $i — document sizes " +
            "must be non-null")
      longs(i) = sizes.getLong(i)
      i += 1
    }
    new GenericArrayData(pack(longs, capacity))
  }

  /** The imperative BFD fold: `loads` is the open-bin load list, and
    * for each size the scan keeps the fullest still-feasible bin
    * (strict `>` on load, so the FIRST bin wins load ties). */
  def pack(sizes: Array[Long], capacity: Long): Array[Long] = {
    val bins = new Array[Long](sizes.length)
    val loads = new Array[Long](sizes.length)
    var nBins = 0
    var i = 0
    while (i < sizes.length) {
      val n = sizes(i)
      var best = -1
      var bestLoad = -1L
      var b = 0
      while (b < nBins) {
        val l = loads(b)
        if (l + n <= capacity && l > bestLoad) { best = b; bestLoad = l }
        b += 1
      }
      if (best < 0) { best = nBins; loads(best) = n; nBins += 1 }
      else loads(best) += n
      bins(i) = best.toLong
      i += 1
    }
    bins
  }
}
