package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.execution.graft.GraftPlanBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** 64-bit SimHash as a typed imperative aggregate over per-feature
  * 64-bit hashes: buffer = 64 signed counters; update adds ±1 per bit of
  * the feature hash; merge is element-wise add (associative/commutative →
  * safe under partial aggregation on any partitioning); eval emits the
  * sign-bit fingerprint.
  *
  * This is the sketch-aggregate pattern the engine uses where built-in
  * aggregates run out: one aggregate column with a compact buffer
  * (64 longs) instead of 64 separate SUM(CASE...) columns — less
  * aggregation state, one codegen'd update call per row, and a shuffle
  * row of 512 bytes per group instead of 64 aggregate slots.
  */
case class SimHashAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "simhash_agg"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires BIGINT feature hashes, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var b = 0
      while (b < 64) {
        buf(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < 64) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = {
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (buf(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(64 * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(64)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object SimHashAgg {
  /** `simhash_agg(h)` as an aggregate Column. */
  def column(h: Column): Column =
    GraftPlanBridge.column(SimHashAgg(GraftPlanBridge.expr(h)).toAggregateExpression())
}
