package graft.functions

import java.nio.ByteBuffer
import scala.collection.mutable
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.execution.graft.GraftPlanBridge
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Mergeable quantile summary buffer — the Munro–Paterson / MRL
  * binary-counter structure with DETERMINISTIC compaction:
  *
  *  - `raw`: up to `k` weight-1 values, unsorted;
  *  - `slots(i)`: either empty or EXACTLY `k` sorted values, each
  *    standing for 2^i original values.
  *
  * A full raw buffer sorts and carries into slot 0; a carry into an
  * occupied slot merge-sorts the two k-arrays and keeps the odd-index
  * half (2k values of weight w → k values of weight 2w, total weight
  * preserved), carrying onward exactly like binary addition. Merging
  * two sketches replays the other's raw values and carries its full
  * slots — the mergeable-summary property that lets this run as a
  * partial+final Spark aggregate with k·log(n/k) values on the shuffle
  * instead of the column itself.
  */
final class QuantileSketch(val k: Int) {
  var n: Long = 0L
  val raw = new mutable.ArrayBuffer[Double](k)
  val slots = new mutable.ArrayBuffer[Array[Double]]

  private def halve(merged: Array[Double]): Array[Double] = {
    val out = new Array[Double](merged.length / 2)
    var i = 0
    while (i < out.length) { out(i) = merged(2 * i + 1); i += 1 }
    out
  }

  private def mergeSorted(a: Array[Double], b: Array[Double]): Array[Double] = {
    val out = new Array[Double](a.length + b.length)
    var i = 0; var j = 0; var o = 0
    while (i < a.length && j < b.length) {
      if (a(i) <= b(j)) { out(o) = a(i); i += 1 } else { out(o) = b(j); j += 1 }
      o += 1
    }
    while (i < a.length) { out(o) = a(i); i += 1; o += 1 }
    while (j < b.length) { out(o) = b(j); j += 1; o += 1 }
    out
  }

  /** Carry a FULL sorted k-buffer into slot `level` (binary addition). */
  def carry(level: Int, buf: Array[Double]): Unit = {
    var l = level
    var b = buf
    while (slots.size <= l) slots += Array.emptyDoubleArray
    while (slots(l).nonEmpty) {
      b = halve(mergeSorted(slots(l), b))
      slots(l) = Array.emptyDoubleArray
      l += 1
      if (slots.size <= l) slots += Array.emptyDoubleArray
    }
    slots(l) = b
  }

  /** Add one weight-1 value (does NOT bump n — callers own the count,
    * so merge can replay raw values without double-counting). */
  def add(v: Double): Unit = {
    raw += v
    if (raw.length == k) {
      val sorted = raw.toArray
      java.util.Arrays.sort(sorted)
      raw.clear()
      carry(0, sorted)
    }
  }

  /** Estimated φ-quantile: weighted lower rank over all summary values.
    * Error: each collapse at height h displaces a value's rank by at
    * most 2^(h-1)-ish; overall ε·n with ε ≈ log²(n/k)/(2k) — the
    * classical deterministic bound, partition-order-safe. */
  def query(phi: Double): Double = {
    val items = new mutable.ArrayBuffer[(Double, Long)]
    raw.foreach(v => items += ((v, 1L)))
    slots.indices.foreach { i =>
      val w = 1L << i
      slots(i).foreach(v => items += ((v, w)))
    }
    if (items.isEmpty) return Double.NaN // all-null group
    val sorted = items.sortBy(_._1)
    val target = (phi * (n - 1)).toLong
    var c = 0L
    var i = 0
    while (i < sorted.length) {
      c += sorted(i)._2
      if (c > target) return sorted(i)._1
      i += 1
    }
    sorted.last._1
  }

  def mergeIn(other: QuantileSketch): Unit = {
    n += other.n
    other.raw.foreach(add)
    other.slots.indices.foreach { i =>
      if (other.slots(i).nonEmpty) carry(i, other.slots(i))
    }
  }
}

/** `quantile_sketch(x)` aggregate: ARRAY<DOUBLE> of the registered φs'
  * estimated quantiles. Approximate (deterministic error bound, but the
  * surviving values depend on partition/merge order) ⇒ queries using it
  * are rows-only checked; QuantileSketchSpec pins the rank-error bound
  * and the small-n exactness instead, and the exact `quantiles` query
  * is the oracle-checked sibling. */
case class QuantileSketchAgg(
    child: Expression,
    k: Int,
    phis: Seq[Double],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[QuantileSketch] {

  require(k >= 2 && k % 2 == 0, s"quantile_sketch needs an even k >= 2, got $k")
  require(phis.nonEmpty && phis.forall(p => p >= 0.0 && p <= 1.0), s"bad phis $phis")

  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "quantile_sketch"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires DOUBLE input, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): QuantileSketch = new QuantileSketch(k)

  override def update(buf: QuantileSketch, input: InternalRow): QuantileSketch = {
    val v = child.eval(input)
    if (v != null) { buf.add(v.asInstanceOf[Double]); buf.n += 1 }
    buf
  }

  override def merge(a: QuantileSketch, b: QuantileSketch): QuantileSketch = {
    a.mergeIn(b)
    a
  }

  override def eval(buf: QuantileSketch): Any =
    new GenericArrayData(phis.map(p => Double.box(buf.query(p))).toArray[Any])

  override def serialize(buf: QuantileSketch): Array[Byte] = {
    val slotBytes = buf.slots.map(_.length * 8 + 4).sum
    val bb = ByteBuffer.allocate(8 + 4 + buf.raw.length * 8 + 4 + slotBytes)
    bb.putLong(buf.n)
    bb.putInt(buf.raw.length)
    buf.raw.foreach(bb.putDouble)
    bb.putInt(buf.slots.length)
    buf.slots.foreach { s => bb.putInt(s.length); s.foreach(bb.putDouble) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): QuantileSketch = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new QuantileSketch(k)
    buf.n = bb.getLong()
    val nr = bb.getInt()
    (1 to nr).foreach(_ => buf.raw += bb.getDouble())
    val ns = bb.getInt()
    (1 to ns).foreach { _ =>
      val len = bb.getInt()
      val arr = new Array[Double](len)
      (0 until len).foreach(i => arr(i) = bb.getDouble())
      buf.slots += arr
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): QuantileSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QuantileSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object QuantileSketchAgg {
  /** `quantile_sketch(x)` with buffer size `k` answering `phis`, as an
    * aggregate Column. */
  def column(x: Column, k: Int, phis: Seq[Double]): Column =
    GraftPlanBridge.column(
      QuantileSketchAgg(GraftPlanBridge.expr(x), k, phis).toAggregateExpression())
}
