package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.execution.graft.GraftPlanBridge
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct hashed word-`n`-gram shingles of a string in ONE pass — the
  * candidate-key primitive under every shingle-based dedup operator
  * (n-gram Jaccard, MinHash/LSH, the corpus compositions,
  * decontamination).
  *
  * Replaces the `transform(split(text,' '), t -> xxhash64(t))` →
  * `sequence` → `transform(..., i -> xxhash64(w1,w2,w3))` →
  * `array_distinct` chain, which allocates four intermediate arrays and
  * runs interpreted lambdas per element. Bit-for-bit the same keys:
  *
  *  - tokenization is a byte scan on 0x20 keeping trailing empties —
  *    exactly `split(text, ' ')` (single-space regex, limit −1; a space
  *    can never occur inside a multi-byte UTF-8 sequence);
  *  - token hash = XXH64 over the token's bytes, seed 42 — exactly
  *    `xxhash64(t)`, computed in place over the parent string's bytes
  *    (no per-token allocation);
  *  - shingle hash chains the `n` token hashes through `XXH64.hashLong`
  *    from seed 42 — exactly `xxhash64(h1, …, hn)`; for `n = 1` the raw
  *    token hash is emitted UNchained, i.e. exactly `xxhash64(token)` —
  *    the distinct-token-feature primitive SimHash consumes (distinct
  *    by hash ≡ distinct by string modulo the 2^-64 collision caveat
  *    documented on [[graft.dedup.Dedup.hashedShingles]]);
  *  - distinct keeps first occurrence, like `array_distinct`.
  *
  * Fewer than `n` tokens → empty array (the explode then drops the doc,
  * matching the old `size(toks) >= n` guard).
  */
case class ShingleHashesExpr(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    ShingleHashesExpr.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleHashesExpr.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashesExpr {

  private final val Seed = 42L

  /** Token-hash scan shared by the distinct-shingle and positional-gram
    * kernels: XXH64 of each 0x20-delimited slice, in place. */
  private[functions] def tokenHashes(s: UTF8String): (Array[Long], Int) = {
    val base = s.getBaseObject
    val offset = s.getBaseOffset
    val len = s.numBytes
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
    (tokens, nTok)
  }

  /** Static one-pass kernel, called from interpreted eval and codegen. */
  def compute(s: UTF8String, n: Int): ArrayData = {
    val (tokens, nTok) = tokenHashes(s)
    if (nTok < n) return new GenericArrayData(Array.emptyLongArray)
    // chained shingle hashes, deduped keeping first occurrence
    val seen = new java.util.HashSet[java.lang.Long](nTok * 2)
    val out = new Array[Long](nTok - n + 1)
    var nOut = 0
    var j = 0
    while (j <= nTok - n) {
      var h = tokens(j) // n = 1: the raw token hash, unchained
      if (n > 1) {
        h = XXH64.hashLong(tokens(j), Seed)
        var k = 1
        while (k < n) { h = XXH64.hashLong(tokens(j + k), h); k += 1 }
      }
      if (seen.add(h)) { out(nOut) = h; nOut += 1 }
      j += 1
    }
    new GenericArrayData(
      if (nOut == out.length) out else java.util.Arrays.copyOf(out, nOut))
  }

  /** Positional variant for the span-scrub family: the chained gram hash
    * at EVERY start position, in order, no dedup — array index + 1 IS
    * the 1-based gram start, so `posexplode` recovers (position, hash)
    * without materializing gram strings. Same tokenization, same chain,
    * so a gram here equals the same gram in [[compute]]. */
  def computeAll(s: UTF8String, n: Int): ArrayData = {
    val (tokens, nTok) = tokenHashes(s)
    if (nTok < n) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](nTok - n + 1)
    var j = 0
    while (j <= nTok - n) {
      var h = tokens(j)
      if (n > 1) {
        h = XXH64.hashLong(tokens(j), Seed)
        var k = 1
        while (k < n) { h = XXH64.hashLong(tokens(j + k), h); k += 1 }
      }
      out(j) = h
      j += 1
    }
    new GenericArrayData(out)
  }

  /** `shingle_hashes(s, n)` as a Column. */
  def column(s: Column, n: Int): Column =
    GraftPlanBridge.column(ShingleHashesExpr(GraftPlanBridge.expr(s), n))
}

/** `gram_hashes(text, n)` — [[ShingleHashesExpr]]'s positional sibling:
  * one chained hash per gram start position (no dedup), for operators
  * that need WHERE a gram sits, not just whether it occurs. */
case class GramPosHashesExpr(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, s"gram width must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gram_hashes"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    ShingleHashesExpr.computeAll(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleHashesExpr.computeAll($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GramPosHashesExpr {
  /** `gram_hashes(s, n)` as a Column. */
  def column(s: Column, n: Int): Column =
    GraftPlanBridge.column(GramPosHashesExpr(GraftPlanBridge.expr(s), n))
}
