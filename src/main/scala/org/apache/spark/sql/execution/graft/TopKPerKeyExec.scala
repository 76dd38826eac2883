package org.apache.spark.sql.execution.graft

import scala.collection.mutable

import org.apache.spark.{MapOutputTrackerMaster, ShuffleDependency, SparkEnv}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.classic.{DataFrame, Dataset, SparkSession, Strategy}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan, UnaryExecNode, UnsafeExternalRowSorter}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.storage.{BlockId, RDDBlockId, StorageLevel}
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

/** `private[sql]` bridge so the public graft API can materialize a
  * DataFrame from the custom logical node. */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark, plan)

  /** Eager Column → catalyst Expression conversion (the lazy
    * `ColumnNodeExpression` wrapper keeps non-serializable internal sort
    * nodes alive into the physical plan). */
  def expr(c: org.apache.spark.sql.Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Reverse direction: wrap a catalyst Expression as a public Column
    * (for operators built on Spark-internal expressions, e.g. the Bloom
    * filter sketch pair). */
  def column(e: Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Drop a `localCheckpoint`ed frame's blocks now. `Dataset.unpersist`
    * only looks in the cache manager, so on a checkpointed frame it is a
    * no-op and the blocks wait for GC-driven cleanup; they belong to
    * the RDD behind the frame's `LogicalRDD`. The frame must not be read
    * again, nor any lazy frame built on it that is still unmaterialized. */
  def releaseCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case other => throw new IllegalArgumentException(
        s"releaseCheckpoint: not a checkpointed frame (${other.nodeName})")
    }

  /** The RDD that holds `df`'s blocks: the one behind a checkpointed
    * frame's `LogicalRDD`, or a cached frame's column buffers once they
    * are built; None for any other frame. */
  def blocksOf(df: org.apache.spark.sql.DataFrame): Option[RDD[_]] = df.queryExecution.logical match {
    case r: LogicalRDD => Some(r.rdd)
    case _ => df.sparkSession.sharedState.cacheManager.lookupCachedData(df.asInstanceOf[DataFrame])
      .map(_.cachedRepresentation.cacheBuilder).filter(_.isCachedColumnBuffersLoaded)
      .map(_.cachedColumnBuffers)
  }

  /** True when every partition of `rdd` has a block: one question to the
    * block-manager master, no Spark job. */
  def materialized(rdd: RDD[_]): Boolean = SparkEnv.get.blockManager.master
    .getLocations(rdd.partitions.indices.map(i => RDDBlockId(rdd.id, i): BlockId).toArray)
    .forall(_.nonEmpty)

  /** Ids of the persisted RDDs a later action on `df` can read. The walk
    * starts at the checkpoint and cache leaves of `df`'s plan, follows an
    * RDD's lineage only while its blocks are incomplete, and crosses a
    * shuffle only while that shuffle's map output is incomplete (an AQE
    * plan runs its map stages when it is checkpointed, lazily or not).
    * Runs no Spark job. */
  def readable(df: org.apache.spark.sql.DataFrame): Set[Int] = {
    val tracker = SparkEnv.get.mapOutputTracker.asInstanceOf[MapOutputTrackerMaster]
    val seen, held = mutable.Set.empty[Int]
    def visit(rdd: RDD[_]): Unit = if (seen.add(rdd.id)) {
      if (rdd.getStorageLevel != StorageLevel.NONE) held += rdd.id
      if (!held(rdd.id) || !materialized(rdd)) rdd.dependencies.foreach {
        case s: ShuffleDependency[_, _, _]
            if tracker.getNumAvailableOutputs(s.shuffleId) == s.rdd.partitions.length =>
        case d => visit(d.rdd)
      }
    }
    def leaves(plan: LogicalPlan): Unit = plan.foreachWithSubqueries {
      case r: LogicalRDD => visit(r.rdd)
      case m: InMemoryRelation if m.cacheBuilder.isCachedColumnBuffersLoaded =>
        visit(m.cacheBuilder.cachedColumnBuffers)
      case m: InMemoryRelation => leaves(m.cacheBuilder.logicalPlan)
      case _ =>
    }
    leaves(df.queryExecution.withCachedData)
    held.toSet
  }

  /** `localCheckpoint()` that KEEPS a hash partitioning visible to the
    * planner (r18). `Dataset.localCheckpoint` under AQE builds its
    * `LogicalRDD` with unknown partitioning, so a loop that re-joins /
    * re-aggregates the checkpointed frame on the very key it was just
    * partitioned by pays a fresh exchange per round; `persist()` keeps
    * the partitioning but stores compressed COLUMNAR batches, whose
    * per-scan decode measured 2–7× the cost of iterating deserialized
    * UnsafeRows on loop-rescanned long-pair frames (the r18 kcore /
    * LPA A/Bs). This helper takes the third corner: deserialized
    * blocks + a DECLARED `HashPartitioning(keys, N)`.
    *
    * The declaration must be TRUE, so the contract is strict: `df`'s
    * physical plan must end in `repartition(N, keys…)` with an
    * EXPLICIT N (AQE never coalesces a user repartition with a pinned
    * count, and Spark's `RepartitionByExpression` uses exactly the
    * `HashPartitioning` declared here), optionally followed by
    * narrow, partitioning-preserving ops (`sortWithinPartitions`,
    * projections). Each of `keys` must resolve to exactly one column of
    * `df`'s output under the session's resolver.
    *
    * Returns the checkpointed frame; [[releaseCheckpoint]] drops its
    * blocks (Dataset.unpersist is a no-op on checkpoint blocks). */
  def checkpointHashPartitioned(df0: org.apache.spark.sql.DataFrame,
      keys: Seq[String], sortedByKeys: Boolean = false): org.apache.spark.sql.DataFrame = {
    val df = df0.asInstanceOf[DataFrame]
    val spark = df.sparkSession
    val qe = df.queryExecution
    // each key must name exactly one output column under the session's
    // resolver: a duplicate name would silently declare the layout on
    // whichever column came first
    val attrs = qe.analyzed.output
    val resolver = spark.sessionState.conf.resolver
    val keyAttrs = keys.map { k =>
      attrs.filter(a => resolver(a.name, k)) match {
        case Seq(a) => a
        case found => throw new IllegalArgumentException(
          s"checkpointHashPartitioned: key '$k' matches ${found.size} columns " +
            s"in ${attrs.map(_.name)}")
      }
    }
    // toRdd reuses row buffers per partition — copy, as Dataset.checkpoint does
    val rdd = qe.toRdd.map(_.copy())
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rdd.count() // materialize now: loop rounds must read blocks, not race
    val part = org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(
      keyAttrs, rdd.getNumPartitions)
    // declared only when the caller ALSO ran sortWithinPartitions on
    // exactly `keys` (ascending, nulls first — the defaults both
    // sides use): a sort-merge self-join then skips its per-partition
    // sorts as well as its exchanges
    val ordering =
      if (sortedByKeys) keyAttrs.map(a => SortOrder(a, Ascending)) else Nil
    Dataset.ofRows(spark, LogicalRDD(attrs, rdd, part, ordering)(spark))
  }
}
