package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.execution.graft.GraftPlanBridge
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** 128-permutation MinHash signature as one typed imperative aggregate:
  * buffer = 128 running minima of `(h*a_i + b_i) mod p`; update is a
  * tight 128-step loop per row; merge = element-wise min (associative/
  * commutative → safe under partial aggregation); eval emits the
  * signature as ARRAY<BIGINT>.
  *
  * Replaces 128 separate MIN(...) aggregate columns: one update call per
  * row instead of 128 codegen'd slots, a 1 KB buffer per group, and no
  * multi-second whole-stage compile for the 128-column aggregate.
  * Constants match [[graft.dedup.Dedup]]'s banding expectations: inputs
  * must be 32-bit-masked hashes so `h*a` stays below 2^63 (ANSI mode).
  */
case class MinHashAgg(
    child: Expression,
    permA: Array[Long],
    permB: Array[Long],
    bands: Int = 0,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private val numPerms = permA.length
  private val Prime = 2147483647L // 2^31 - 1

  require(permA.length == permB.length, "permA/permB length mismatch")
  require(bands >= 0 && (bands == 0 || numPerms % bands == 0),
    s"bands ($bands) must divide the permutation count ($numPerms) — " +
    "otherwise trailing minima would silently drop out of the banding")

  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_agg"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires BIGINT feature hashes, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numPerms)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var i = 0
      while (i < numPerms) {
        val x = (h * permA(i) + permB(i)) % Prime
        if (x < buf(i)) buf(i) = x
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numPerms) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  /** With `bands == 0`, emits the raw 128-minimum signature. With
    * `bands > 0`, fuses LSH banding into the aggregate: each band key is
    * a SplitMix64-chained hash of its `numPerms / bands` consecutive
    * minima, so the per-doc banding projection (128 element_at + 32
    * hash calls as a plan-side expression tree) disappears entirely —
    * the aggregate's output IS the (band, key)-ready array. */
  override def eval(buf: Array[Long]): Any =
    if (bands == 0) new GenericArrayData(buf)
    else {
      val rpb = numPerms / bands
      val keys = new Array[Long](bands)
      var b = 0
      while (b < bands) {
        var h = 0x9e3779b97f4a7c15L ^ b
        var r = 0
        while (r < rpb) { h = mix64(h + buf(b * rpb + r)); r += 1 }
        keys(b) = h
        b += 1
      }
      new GenericArrayData(keys)
    }

  private def mix64(z0: Long): Long = MinHashAgg.mix64(z0)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(numPerms * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(numPerms)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  // Array params get reference equality from the case class, which breaks
  // semanticEquals / aggregate dedup; compare contents instead.
  override def equals(other: Any): Boolean = other match {
    case m: MinHashAgg =>
      child == m.child && bands == m.bands &&
      java.util.Arrays.equals(permA, m.permA) &&
      java.util.Arrays.equals(permB, m.permB) &&
      mutableAggBufferOffset == m.mutableAggBufferOffset &&
      inputAggBufferOffset == m.inputAggBufferOffset
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Int.box(bands),
      Int.box(java.util.Arrays.hashCode(permA)),
      Int.box(java.util.Arrays.hashCode(permB)),
      Int.box(mutableAggBufferOffset), Int.box(inputAggBufferOffset))
}

object MinHashAgg {
  /** Band count the engine uses everywhere (128 perms / 32 bands × 4
    * rows): [[graft.dedup.Dedup]]'s LSH candidates and the session
    * extensions' `minhash_bands` must agree on this or the same function
    * name would mean two different sketches. */
  val DefaultBands = 32

  /** SplitMix64 finalizer — a well-mixed 64-bit hash step; only internal
    * consistency matters (band keys never leave the engine). Shared with
    * [[MinHashBandsRowExpr]] so the per-row and aggregate band keys are
    * bit-identical. */
  private[functions] def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Default permutation constants (fixed seeds; odd multipliers < 2^30
    * so `h*a + b` never overflows for 32-bit-masked inputs). */
  lazy val DefaultA: Array[Long] = {
    val r = new scala.util.Random(7)
    Array.fill(128)((r.nextInt(1 << 29).toLong << 1) | 1L)
  }
  lazy val DefaultB: Array[Long] = {
    val r = new scala.util.Random(11)
    Array.fill(128)(r.nextInt(Int.MaxValue).toLong)
  }

  /** `minhash_agg(h)` over fixed permutation constants, as an aggregate
    * Column; `bands > 0` gives `minhash_bands(h)` — the same sketch with
    * the banding fused into eval. */
  def column(h: Column, permA: Array[Long], permB: Array[Long], bands: Int = 0): Column =
    GraftPlanBridge.column(
      MinHashAgg(GraftPlanBridge.expr(h), permA, permB, bands).toAggregateExpression())
}
