package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.execution.graft.GraftPlanBridge
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** All four repetition statistics behind the Gopher gates
  * ([[graft.text.TextAnalysis.gopherGatesOf]]) in ONE byte-scan pass:
  * `(n_tokens, n_tri, tri_singletons, top_bigram_n)`.
  *
  * Replaces the HOF formulation — two `transform`+`concat_ws` gram
  * STRING arrays, two `array_sort`s over those strings, a neighbor
  * `filter` and an `aggregate` fold — with: the [[ShingleHashesExpr]]
  * tokenizer (byte scan on 0x20, XXH64 token hashes in place, no
  * per-token allocation), chained gram hashes (same chain as
  * `shingle_hashes`, NON-distinct here because occurrence counts are
  * the point), and two `long[]` sorts. Sorting 8-byte hashes instead
  * of gram strings is the win: no gram materialization, no string
  * comparisons.
  *
  * Counts by hash equal counts by string modulo intra-document XXH64
  * collisions (~g²/2⁶⁴ per doc — the same accepted-and-documented
  * caveat as the shingle dedup family); a DedupSpec-style equality
  * test pins the native kernel to the HOF formulation on real and
  * edge-case corpora, and the DuckDB oracle (string GROUP BYs) stays
  * the driver-side correctness gate.
  */
case class RepetitionStatsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_tri", LongType, nullable = false),
    StructField("tri_singletons", LongType, nullable = false),
    StructField("top_bigram_n", LongType, nullable = false)))

  override def prettyName: String = "repetition_stats"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    RepetitionStatsExpr.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RepetitionStatsExpr.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RepetitionStatsExpr {

  private final val Seed = 42L

  /** Chained hashes of every `n`-gram window (non-distinct), sorted. */
  private def sortedGramHashes(tokens: Array[Long], nTok: Int, n: Int): Array[Long] = {
    if (nTok < n) return Array.emptyLongArray
    val out = new Array[Long](nTok - n + 1)
    var j = 0
    while (j <= nTok - n) {
      var h = XXH64.hashLong(tokens(j), Seed)
      var k = 1
      while (k < n) { h = XXH64.hashLong(tokens(j + k), h); k += 1 }
      out(j) = h
      j += 1
    }
    java.util.Arrays.sort(out)
    out
  }

  /** Static one-pass kernel, called from interpreted eval and codegen. */
  def compute(s: UTF8String): InternalRow = {
    val base = s.getBaseObject
    val offset = s.getBaseOffset
    val len = s.numBytes
    // token hashes: scan for 0x20, hash each slice in place — exactly
    // split(text, ' ') tokenization (trailing empties kept)
    var tokens = new Array[Long](16)
    var nTok = 0
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || s.getByte(i) == 0x20) {
        if (nTok == tokens.length) tokens = java.util.Arrays.copyOf(tokens, nTok * 2)
        tokens(nTok) = XXH64.hashUnsafeBytes(base, offset + start, i - start, Seed)
        nTok += 1
        start = i + 1
      }
      i += 1
    }
    val tri = sortedGramHashes(tokens, nTok, 3)
    // singleton = differs from both sorted neighbors
    var singles = 0L
    i = 0
    while (i < tri.length) {
      val prevSame = i > 0 && tri(i - 1) == tri(i)
      val nextSame = i + 1 < tri.length && tri(i + 1) == tri(i)
      if (!prevSame && !nextSame) singles += 1
      i += 1
    }
    // top bigram count = longest run in the sorted bigram hashes
    val bi = sortedGramHashes(tokens, nTok, 2)
    var best = 0L
    var run = 0L
    i = 0
    while (i < bi.length) {
      if (i > 0 && bi(i) == bi(i - 1)) run += 1 else run = 1
      if (run > best) best = run
      i += 1
    }
    new GenericInternalRow(Array[Any](nTok.toLong, tri.length.toLong, singles, best))
  }

  /** `repetition_stats(s)` as a Column. */
  def column(s: Column): Column =
    GraftPlanBridge.column(RepetitionStatsExpr(GraftPlanBridge.expr(s)))
}
