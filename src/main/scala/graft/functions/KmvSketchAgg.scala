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

/** KMV / Theta-style distinct sketch: the `k` smallest DISTINCT 64-bit
  * hashes of the input, in UNSIGNED order (the Bar-Yossef et al. 2002
  * k-minimum-values estimator; the same retained-sample shape as the
  * Apache DataSketches Theta family). Unlike HLL registers, the
  * retained hashes are a uniform SAMPLE of the distinct set below a
  * per-sketch threshold θ — which is exactly what makes cross-sketch
  * SET ALGEBRA possible: the intersection of two sketches' samples
  * below min(θ_a, θ_b) is a uniform sample of the intersection, so
  * |A ∩ B| ≈ |sample ∩| / θ — the estimate HLL structurally cannot
  * give (unions only). Fully deterministic for a given input SET: the
  * k smallest distinct values do not depend on partition or merge
  * order, so queries built on it are stable under any layout.
  *
  * Convention (Theta-sketch standard): when the sketch saturates, the
  * k-th smallest retained value IS θ and is excluded from estimation —
  * `est = (k−1)/θ` with θ normalized to (0,1); when it holds fewer
  * than `k` values it is in EXACT mode (θ = 1, the sample is the whole
  * distinct set). Downstream estimators live in DataFrame-land over
  * the evaluated ARRAY<LONG> (see [[graft.dedup.Dedup.sourceOverlapKmvOf]]):
  * per-source sketches are model-sized (k longs), so source-pair set
  * algebra over S sources costs S·k rows — independent of corpus size.
  *
  * Input must already be a 64-bit hash (`xxhash64(...)` or the shingle
  * kernel's chained hashes) — the aggregate ingests the hash as-is
  * rather than re-hashing, so callers can key the sketch on the same
  * 8-byte shingle hashes every other dedup join uses. Error: relative
  * std ≈ 1/√(k−2) for the distinct estimate (Beyer et al. 2007);
  * intersection estimates carry std ≈ √(|I|·(1/θ−1)) absolute.
  *
  * Internals are the standard production shape (what DataSketches'
  * Theta update sketch also uses): a primitive max-heap of the
  * retained values — O(1) threshold reads, O(log k) replacement — plus
  * an open-addressing membership table with backward-shift deletion
  * for the distinctness check, all on raw long arrays. The first cut
  * was a boxed `TreeSet[java.lang.Long]`; the ScaleR15 `kmv` octaves
  * measured it at ~640k rows/s/core-set, and this form replaces it —
  * the saturated-phase common case (hash above threshold) is a single
  * unsigned compare. */
final class KmvState(val k: Int) {
  import KmvState.unsignedLess

  /** Max-heap (unsigned order) of the retained hashes; `heap(0)` is
    * the current threshold once saturated. */
  private val heap = new Array[Long](k)
  private var n = 0

  /** Open-addressing membership table of the retained values, capacity
    * 2·nextPow2(k) (load ≤ 0.5), 0 as the empty sentinel with the
    * legitimate hash 0 tracked in [[hasZero]]. */
  private val cap = {
    var c = 2; while (c < 2 * k) c <<= 1; c
  }
  private val mask = cap - 1
  private val table = new Array[Long](cap)
  private var hasZero = false

  private def home(h: Long): Int = ((h ^ (h >>> 32)).toInt) & mask

  private def contains(h: Long): Boolean = {
    if (h == 0L) return hasZero
    var i = home(h)
    while (table(i) != 0L) {
      if (table(i) == h) return true
      i = (i + 1) & mask
    }
    false
  }

  private def setInsert(h: Long): Unit = {
    if (h == 0L) { hasZero = true; return }
    var i = home(h)
    while (table(i) != 0L) i = (i + 1) & mask
    table(i) = h
  }

  /** Backward-shift deletion (the tombstone-free open-addressing
    * removal): close the hole by sliding forward-probing entries back
    * while their home slot allows it. */
  private def setRemove(h: Long): Unit = {
    if (h == 0L) { hasZero = false; return }
    var i = home(h)
    while (table(i) != h) i = (i + 1) & mask
    var j = i
    while (true) {
      j = (j + 1) & mask
      if (table(j) == 0L) { table(i) = 0L; return }
      val hm = home(table(j))
      val canMove = if (i < j) hm <= i || hm > j else hm <= i && hm > j
      if (canMove) { table(i) = table(j); i = j }
    }
  }

  private def siftUp(pos: Int): Unit = {
    var i = pos
    while (i > 0) {
      val p = (i - 1) >> 1
      if (unsignedLess(heap(p), heap(i))) {
        val t = heap(p); heap(p) = heap(i); heap(i) = t; i = p
      } else return
    }
  }

  private def siftDown(): Unit = {
    var i = 0
    while (true) {
      val l = 2 * i + 1; val r = l + 1
      var m = i
      if (l < n && unsignedLess(heap(m), heap(l))) m = l
      if (r < n && unsignedLess(heap(m), heap(r))) m = r
      if (m == i) return
      val t = heap(m); heap(m) = heap(i); heap(i) = t; i = m
    }
  }

  def add(h: Long): Unit = {
    if (n == k) {
      // saturated common case first: one unsigned compare rejects
      // everything at or above the threshold
      if (!unsignedLess(h, heap(0)) || contains(h)) return
      setRemove(heap(0))
      heap(0) = h
      siftDown()
      setInsert(h)
    } else if (!contains(h)) {
      heap(n) = h
      n += 1
      siftUp(n - 1)
      setInsert(h)
    }
  }

  def mergeIn(other: KmvState): Unit = {
    var i = 0
    while (i < other.n) { add(other.heap(i)); i += 1 }
  }

  def size: Int = n

  /** Retained values in unsigned ascending order (a fresh array). */
  def sorted: Array[Long] = {
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = heap(i) ^ Long.MinValue; i += 1 }
    java.util.Arrays.sort(out)
    i = 0
    while (i < n) { out(i) ^= Long.MinValue; i += 1 }
    out
  }

  /** Raw retained values, heap order (serialization only). */
  private[functions] def raw: Array[Long] = java.util.Arrays.copyOf(heap, n)
}

object KmvState {
  @inline def unsignedLess(a: Long, b: Long): Boolean =
    (a ^ Long.MinValue) < (b ^ Long.MinValue)
}

/** `kmv_sketch(hash64)` aggregate → ARRAY<BIGINT>: the k smallest
  * distinct input hashes in unsigned ascending order (length < k means
  * exact mode). Deterministic, so sketch-derived queries hash-check
  * when the downstream estimator is deterministic too. */
case class KmvSketchAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KmvState] {

  require(k >= 8, s"kmv_sketch needs k >= 8, got $k")

  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_sketch"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires BIGINT (a 64-bit hash), got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): KmvState = new KmvState(k)

  override def update(buf: KmvState, input: InternalRow): KmvState = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long])
    buf
  }

  override def merge(a: KmvState, b: KmvState): KmvState = { a.mergeIn(b); a }

  override def eval(buf: KmvState): Any = {
    val s = buf.sorted
    val out = new Array[Any](s.length)
    var i = 0
    while (i < s.length) { out(i) = s(i); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: KmvState): Array[Byte] = {
    val vals = buf.raw
    val bb = ByteBuffer.allocate(4 + vals.length * 8)
    bb.putInt(vals.length)
    vals.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): KmvState = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new KmvState(k)
    val n = bb.getInt()
    var i = 0
    while (i < n) { buf.add(bb.getLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object KmvSketchAgg {
  /** `kmv_sketch(hash)` keeping `k` minima, as an aggregate Column. */
  def column(hash: Column, k: Int): Column =
    GraftPlanBridge.column(KmvSketchAgg(GraftPlanBridge.expr(hash), k).toAggregateExpression())
}
