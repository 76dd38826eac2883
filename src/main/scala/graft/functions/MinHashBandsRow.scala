package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.execution.graft.GraftPlanBridge
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `minhash_bands_row(text)` — the full MinHash+LSH banding sketch as a
  * single PER-ROW scalar expression: tokenize → chained n-gram hashes →
  * 128 permuted running minima → 32 SplitMix64-chained band keys, all in
  * one byte-scan pass with zero shuffles.
  *
  * The aggregate formulation ([[MinHashAgg]]) exists for feature streams
  * that arrive EXPLODED (one row per shingle — partial aggregation then
  * does map-side combining). But a document's shingle set lives entirely
  * inside one `text` value, so at document granularity the signature is
  * a scalar function of the row, and paying a groupBy shuffle to
  * reassemble what was never apart is pure waste. This kernel removes
  * that shuffle, and — because it is stateless — it composes into a
  * `readStream` plan unchanged, which the aggregate path cannot
  * (streaming agg → update-mode state, then no downstream join).
  *
  * Bit-compatibility is load-bearing and pinned by DedupSpec: token
  * scan and n-gram chain match [[ShingleHashesExpr]]; the 32-bit mask,
  * `(h·a + b) mod 2³¹−1` permutation family, and band-key chain match
  * [[MinHashAgg]] (same [[MinHashAgg.mix64]], same default constants) —
  * so a row-kernel band key equals the aggregate path's band key for
  * the same document, and the two candidate generators are
  * interchangeable mid-pipeline (batch index built either way, stream
  * probing it with this expression).
  *
  * Fewer than `n` tokens → empty array (no shingles → no bands, matching
  * the aggregate path where the doc never produces a group).
  */
case class MinHashBandsRowExpr(child: Expression, n: Int, bands: Int)
  extends UnaryExpression {

  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands_row"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    MinHashBandsRowExpr.compute(input.asInstanceOf[UTF8String], n, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinHashBandsRowExpr.compute($c, $n, $bands)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashBandsRowExpr {

  private final val Seed = 42L
  private final val Prime = 2147483647L // 2^31 - 1
  private final val Mask = 4294967295L  // 32-bit domain, as the agg path

  /** Static one-pass kernel, called from interpreted eval and codegen. */
  def compute(s: UTF8String, n: Int, bands: Int): ArrayData = {
    val (tokens, nTok) = ShingleHashesExpr.tokenHashes(s)
    if (nTok < n) return new GenericArrayData(Array.emptyLongArray)
    val a = MinHashAgg.DefaultA
    val b = MinHashAgg.DefaultB
    val numPerms = a.length
    require(bands > 0 && numPerms % bands == 0,
      s"bands ($bands) must divide the permutation count ($numPerms)")
    val buf = new Array[Long](numPerms)
    java.util.Arrays.fill(buf, Long.MaxValue)
    var j = 0
    while (j <= nTok - n) {
      // chained shingle hash, exactly ShingleHashesExpr's (duplicates
      // need no dedup here: min over a multiset == min over its set)
      var g = tokens(j)
      if (n > 1) {
        g = XXH64.hashLong(tokens(j), Seed)
        var k = 1
        while (k < n) { g = XXH64.hashLong(tokens(j + k), g); k += 1 }
      }
      val h = g & Mask
      var i = 0
      while (i < numPerms) {
        val x = (h * a(i) + b(i)) % Prime
        if (x < buf(i)) buf(i) = x
        i += 1
      }
      j += 1
    }
    // band keys: the same SplitMix64 chain as MinHashAgg.eval
    val rpb = numPerms / bands
    val keys = new Array[Long](bands)
    var bi = 0
    while (bi < bands) {
      var h = 0x9e3779b97f4a7c15L ^ bi
      var r = 0
      while (r < rpb) { h = MinHashAgg.mix64(h + buf(bi * rpb + r)); r += 1 }
      keys(bi) = h
      bi += 1
    }
    new GenericArrayData(keys)
  }

  /** `minhash_bands_row(text)` with the engine defaults (trigram
    * shingles, 128 perms, 32 bands), as a Column. */
  def column(text: Column): Column =
    GraftPlanBridge.column(
      MinHashBandsRowExpr(GraftPlanBridge.expr(text), 3, MinHashAgg.DefaultBands))
}
