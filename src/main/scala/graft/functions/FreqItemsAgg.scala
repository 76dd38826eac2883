package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import scala.collection.mutable
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.execution.graft.GraftPlanBridge
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries heavy-hitters sketch over a string column: at most `k`
  * counters; every item with true frequency > n/(k+1) is guaranteed to
  * survive, and each surviving estimate undercounts by at most n/(k+1).
  *
  * The sketch is mergeable (summing counters and re-pruning preserves
  * the error bound — Agarwal et al., "Mergeable Summaries"), so it runs
  * as a normal partial+final aggregate: the shuffle carries k counters
  * per group instead of one row per distinct item, which is the whole
  * point at 100 TB — frequent items per key without a full
  * (key, item)-cardinality group-by.
  *
  * Output is MAP<STRING, BIGINT> of surviving items → estimated counts
  * (a lower bound on the true count). Approximate ⇒ queries using it
  * are rows-only checked; FreqItemsSpec pins the guarantee instead. */
case class FreqItemsAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.LinkedHashMap[String, Long]] {

  require(k >= 1, s"freq_items needs at least one counter, got k=$k")

  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = MapType(StringType, LongType, valueContainsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "freq_items"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): mutable.LinkedHashMap[String, Long] =
    mutable.LinkedHashMap.empty

  /** Classic MG step: count if tracked or free slot, else decrement all. */
  private def offer(buf: mutable.LinkedHashMap[String, Long], item: String, by: Long): Unit = {
    if (buf.contains(item)) buf(item) += by
    else if (buf.size < k) buf(item) = by
    else {
      val dec = math.min(by, buf.valuesIterator.min)
      val dead = mutable.ArrayBuffer.empty[String]
      buf.mapValuesInPlace((_, v) => v - dec)
      buf.foreach { case (key, v) => if (v <= 0) dead += key }
      dead.foreach(buf.remove)
      val rest = by - dec
      if (rest > 0 && buf.size < k) buf(item) = rest
    }
  }

  override def update(buf: mutable.LinkedHashMap[String, Long], input: InternalRow):
      mutable.LinkedHashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) offer(buf, v.asInstanceOf[UTF8String].toString, 1L)
    buf
  }

  override def merge(a: mutable.LinkedHashMap[String, Long],
      b: mutable.LinkedHashMap[String, Long]): mutable.LinkedHashMap[String, Long] = {
    b.foreach { case (item, c) => offer(a, item, c) }
    a
  }

  /** Deterministic output order: items sorted, counts as stored. */
  override def eval(buf: mutable.LinkedHashMap[String, Long]): Any = {
    val sorted = buf.toSeq.sortBy(_._1)
    new ArrayBasedMapData(
      new GenericArrayData(sorted.map(e => UTF8String.fromString(e._1)).toArray[Any]),
      new GenericArrayData(sorted.map(e => Long.box(e._2)).toArray[Any]))
  }

  override def serialize(buf: mutable.LinkedHashMap[String, Long]): Array[Byte] = {
    val items = buf.toSeq
    val bytes = items.map(e => e._1.getBytes(StandardCharsets.UTF_8))
    val bb = ByteBuffer.allocate(4 + bytes.map(_.length + 12).sum)
    bb.putInt(items.size)
    items.zip(bytes).foreach { case ((_, c), sb) =>
      bb.putInt(sb.length); bb.put(sb); bb.putLong(c)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.LinkedHashMap[String, Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = mutable.LinkedHashMap.empty[String, Long]
    (1 to n).foreach { _ =>
      val len = bb.getInt()
      val sb = new Array[Byte](len); bb.get(sb)
      buf(new String(sb, StandardCharsets.UTF_8)) = bb.getLong()
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqItemsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqItemsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object FreqItemsAgg {
  /** `freq_items(s)` with `k` counters, as an aggregate Column. */
  def column(s: Column, k: Int): Column =
    GraftPlanBridge.column(FreqItemsAgg(GraftPlanBridge.expr(s), k).toAggregateExpression())
}
