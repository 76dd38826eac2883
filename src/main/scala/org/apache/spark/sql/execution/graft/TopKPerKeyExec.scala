package org.apache.spark.sql.execution.graft

import scala.collection.mutable

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode, UnsafeExternalRowSorter}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.util.collection.unsafe.sort.PrefixComparators

/** Group-wise top-k as a first-class operator: for each group key, the
  * first `k` rows under `order`.
  *
  * Spark expresses this as `row_number().over(partitionBy(key).orderBy(
  * ord)) <= k`, whose physical plan SORTS EVERY ROW of every partition
  * (shuffle → per-partition full sort → window walk → filter). This
  * operator keeps a bounded heap of k rows per key instead: O(n log k)
  * with k rows of state per key, versus O(n log n) and n rows materialized
  * in the sort. Since r10 it plans in TWO PHASES like a partial
  * aggregate — a map-side pass before the exchange cuts each input
  * partition to ≤ k rows per key (top-k is a semilattice merge, so
  * partial-then-final is exact), so the shuffle carries the bounded
  * survivor set, not the full input: the window formulation AND the
  * single-phase form both shuffled everything. At 100 TB with small k
  * this removes both the dominant sort and almost all of the shuffle;
  * the exchange on the group key remains, as it must.
  *
  * The logical node carries resolved expressions; the strategy pattern-
  * matches it; the exec declares `ClusteredDistribution(keys)` so the
  * planner inserts the hash shuffle (AQE still manages partition counts).
  * This file lives under the Spark namespace because the physical-plan
  * APIs it needs (`UnaryExecNode`, distributions, `Dataset.ofRows`) are
  * `private[sql]` — the standard arrangement for Spark extension
  * operators.
  */
case class TopKPerKeyPlan(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyPlan =
    copy(child = newChild)
}

object TopKPerKeyStrategy extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyPlan(keys, order, k, child) =>
      // two-phase, like partial aggregation: a map-side pass bounds the
      // exchange to <= k rows per key per input partition (the window
      // formulation and the r9 single-phase exec both shuffled the FULL
      // input), then the post-exchange pass finishes exactly. Top-k is
      // a semilattice merge, so partial-then-final is exact for any
      // partitioning of the input.
      TopKPerKeyExec(keys, order, k,
        TopKPerKeyExec(keys, order, k, planLater(child), partial = true)) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan,
    partial: Boolean = false) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def nodeName: String =
    if (partial) "TopKPerKeyPartial" else "TopKPerKey"

  /** Final phase: all surviving rows of one key must meet in one
    * partition — the planner inserts the hash exchange to satisfy
    * this, BETWEEN the partial and final phases. The partial phase
    * accepts any distribution (it runs on the map side, before the
    * exchange, like a partial aggregate). */
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  /** The operator drops rows WITHIN partitions and never moves one —
    * pass the child's partitioning through (r17). Without this the
    * default `UnknownPartitioning` made every downstream key-aligned
    * consumer (the `row_number` rank windows every ANN tail runs over
    * the ≤ keys×k cut) re-exchange the survivors it could already
    * consume in place: one extra job + a keys×k-row shuffle per query,
    * measured at exactly queries×k records on each converted tail. No
    * ordering is claimed — the heap emits key groups unsorted. */
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "fallbackPartitions" -> SQLMetrics.createMetric(sparkContext,
      "partitions that fell back to external sort"))

  override protected def doExecute(): RDD[InternalRow] = {
    val schema = child.output
    val rowSchema = child.schema
    val orderCopy = order
    val keysCopy = keys
    val kCopy = k
    // Memory escape hatch (VERDICT r9 #3 hardening): the per-key heap
    // state is O(keys-in-partition × k) with no spill path — fine when
    // the operator's own per-partition OUTPUT fits in memory (its
    // normal regime: output shrinks as partitions grow), but a skewed
    // key-space partition has no bound. Past `maxRetainedRows` retained
    // heap rows the partition degrades to Spark's spilling external
    // sorter ([[UnsafeExternalRowSorter]], the machinery under
    // SortExec): already-retained rows plus the rest of the input sort
    // by (keys, order) — spilling to disk under memory pressure like
    // any SortExec — and a single sorted walk keeps the first k per
    // key. Rows the heap phase already REJECTED are provably outside
    // their key's top k (k better rows existed in this partition), so
    // feeding heaps + remaining input is exact. The default budget
    // (4M rows ≈ hundreds of MB at typical row widths) never triggers
    // in the three registered users' plans; the spec drives it with a
    // tiny budget and pins result equality across both paths.
    val budget = conf.getConfString("spark.graft.topKPerKey.maxRetainedRows",
      (1 << 22).toString).toLong
    val fallbackMetric = longMetric("fallbackPartitions")
    child.execute().mapPartitionsInternal { iter =>
      val keyProj = UnsafeProjection.create(keysCopy, schema)
      val ordering = new LazilyGeneratedOrdering(orderCopy, schema)
      // max-heap under the sort order: head = worst row kept → O(log k)
      // membership test + eviction per incoming row
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      var retained = 0L
      var sorted: Iterator[InternalRow] = null
      while (iter.hasNext && sorted == null) {
        val row = iter.next()
        val key = keyProj(row)
        val heap = heaps.get(key) match {
          case Some(h) => h
          case None =>
            val h = mutable.PriorityQueue.empty[InternalRow](ordering)
            heaps.put(key.copy(), h)
            h
        }
        if (heap.size < kCopy) {
          heap.enqueue(row.copy())
          retained += 1
          if (retained > budget) {
            // degrade THIS partition: drain the heaps and the rest of
            // the input through the spilling sorter
            fallbackMetric += 1
            val fullOrder = keysCopy.map(SortOrder(_, Ascending)) ++ orderCopy
            val sorter = UnsafeExternalRowSorter.create(
              rowSchema, new LazilyGeneratedOrdering(fullOrder, schema),
              PrefixComparators.LONG,
              new UnsafeExternalRowSorter.PrefixComputer {
                private val zero = new UnsafeExternalRowSorter.PrefixComputer.Prefix
                override def computePrefix(row: InternalRow) = { zero.value = 0L; zero }
              },
              SparkEnv.get.memoryManager.pageSizeBytes,
              false)
            val pending = heaps.valuesIterator.flatMap(_.iterator) ++ iter
            sorted = sorter.sort(pending.map(_.asInstanceOf[UnsafeRow]))
          }
        } else if (ordering.compare(row, heap.head) < 0) {
          heap.dequeue()
          heap.enqueue(row.copy())
        }
      }
      if (sorted == null)
        heaps.iterator.flatMap { case (_, heap) => heap.toSeq.sorted(ordering) }
      else {
        // sorted walk: rows of one key are consecutive; keep the first k
        var curKey: UnsafeRow = null
        var kept = 0
        sorted.filter { row =>
          val key = keyProj(row)
          if (curKey == null || curKey != key) { curKey = key.copy(); kept = 0 }
          kept += 1
          kept <= kCopy
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}
