package org.apache.spark.sql.execution.graft

import scala.collection.mutable

import org.apache.spark.{MapOutputTrackerMaster, ShuffleDependency, SparkEnv}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.{BlockId, RDDBlockId, StorageLevel}

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
    * again, nor any lazy frame built on it that is still unmaterialized.
    * Released as the ContextCleaner does (`RDD.unpersist` would log a
    * warning per release that a local checkpoint cannot be recomputed). */
  def releaseCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.sparkContext.unpersistRDD(r.rdd.id, blocking = false)
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
    * A cache never ends the walk, built or not: its owner may drop it
    * (a caller's `clearCache()` drops a returned stage), and a later
    * action then replans the cached plan. Runs no Spark job. */
  def readable(df: org.apache.spark.sql.DataFrame): Set[Int] = {
    val tracker = SparkEnv.get.mapOutputTracker.asInstanceOf[MapOutputTrackerMaster]
    val persistent = df.sparkSession.sparkContext.getPersistentRDDs.keySet
    val seen, held = mutable.Set.empty[Int]
    def visit(rdd: RDD[_]): Unit = if (seen.add(rdd.id)) {
      if (persistent(rdd.id)) held += rdd.id
      if (!held(rdd.id) || !materialized(rdd)) rdd.dependencies.foreach {
        case s: ShuffleDependency[_, _, _]
            if tracker.getNumAvailableOutputs(s.shuffleId) == s.rdd.partitions.length =>
        case d => visit(d.rdd)
      }
    }
    def leaves(plan: LogicalPlan): Unit = plan.foreachWithSubqueries {
      case r: LogicalRDD => visit(r.rdd)
      case m: InMemoryRelation =>
        if (m.cacheBuilder.isCachedColumnBuffersLoaded) visit(m.cacheBuilder.cachedColumnBuffers)
        leaves(m.cacheBuilder.logicalPlan)
      case _ =>
    }
    leaves(df.queryExecution.withCachedData)
    held.toSet
  }

  /** True when `out`'s plan scans the cache `staged` was persisted as,
    * built or not: the one case [[readable]] cannot see, because an
    * unbuilt cache has no RDD yet. Runs no Spark job. */
  def scansCache(out: org.apache.spark.sql.DataFrame,
      staged: org.apache.spark.sql.DataFrame): Boolean =
    staged.sparkSession.asInstanceOf[SparkSession].sharedState.cacheManager
      .lookupCachedData(staged.asInstanceOf[DataFrame]).exists { cd =>
        val builder = cd.cachedRepresentation.cacheBuilder
        def scans(plan: LogicalPlan): Boolean = plan.exists {
          case m: InMemoryRelation => (m.cacheBuilder eq builder) ||
            (!m.cacheBuilder.isCachedColumnBuffersLoaded && scans(m.cacheBuilder.logicalPlan))
          case p => p.subqueries.exists(scans)
        }
        scans(out.queryExecution.withCachedData)
      }

  /** `df` repartitioned by `keys` into the session's
    * `spark.sql.shuffle.partitions`, sorted within partitions by `sortBy`
    * and checkpointed eagerly, with the layout DECLARED to the planner:
    * `HashPartitioning(keys, n)`, plus the order when `sortBy == keys`
    * (ascending, nulls first, the defaults both sides use). A pinned-count
    * `repartition` is never coalesced by AQE and hashes exactly as
    * declared, so the declaration holds. `Dataset.localCheckpoint` under
    * AQE hides the partitioning, and `persist` keeps it but stores
    * compressed columnar batches, whose per-scan decode measured 2–7× the
    * cost of deserialized rows on loop-rescanned pair frames (r18).
    * [[releaseCheckpoint]] drops the blocks. */
  def checkpointHashPartitioned(df0: org.apache.spark.sql.DataFrame,
      keys: Seq[String], sortBy: Seq[String]): org.apache.spark.sql.DataFrame = {
    val spark = df0.sparkSession.asInstanceOf[SparkSession]
    val keyAttrs = keyAttributes(df0.asInstanceOf[DataFrame], keys)
    val n = spark.sessionState.conf.defaultNumShufflePartitions
    val qe = df0.repartition(n, keys.map(col): _*)
      .sortWithinPartitions(sortBy.map(col): _*).queryExecution
    // toRdd reuses row buffers per partition — copy, as Dataset.checkpoint does
    val rdd = qe.toRdd.map(_.copy())
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    rdd.count() // materialize now: loop rounds must read blocks, not race
    val ordering = if (sortBy == keys) keyAttrs.map(a => SortOrder(a, Ascending)) else Nil
    Dataset.ofRows(spark, LogicalRDD(qe.analyzed.output, rdd,
      HashPartitioning(keyAttrs, n), ordering)(spark))
  }

  /** The output attribute each of `keys` names. Each key must name
    * exactly one output column under the session's resolver: a duplicate
    * name would silently declare a layout on whichever column came first. */
  private def keyAttributes(df: DataFrame, keys: Seq[String]): Seq[Attribute] = {
    val attrs = df.queryExecution.analyzed.output
    val resolver = df.sparkSession.sessionState.conf.resolver
    keys.map { k =>
      attrs.filter(a => resolver(a.name, k)) match {
        case Seq(a) => a
        case found => throw new IllegalArgumentException(
          s"checkpointHashPartitioned: key '$k' matches ${found.size} columns " +
            s"in ${attrs.map(_.name)}")
      }
    }
  }
}
