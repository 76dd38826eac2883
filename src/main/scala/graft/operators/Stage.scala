package graft.operators

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.graft.GraftPlanBridge
import org.apache.spark.storage.StorageLevel

/** The one way engine code materializes a frame, and the one rule that
  * releases it.
  *
  * {{{
  * Stage(spark) { st =>
  *   val sh = st.byKeys(shingles, "shingle")   // read by both join sides
  *   val cand = st.checkpoint(candidatesOf(sh)) // read by the verify
  *   verify(sh, cand)                           // the returned value
  * }
  * }}}
  *
  * '''Four ways to materialize.'''
  *  - `checkpoint(df, eager)`: a local checkpoint, deserialized blocks on
  *    the executors and truncated lineage. Lazy (`eager = false`) lets the
  *    first action that reads the frame also write it, so a frame read by
  *    one later action costs no job of its own; a frame that one action
  *    reads through two branches (a fan-out) stays eager, or the branches
  *    race its computation. An AQE plan runs its map stages when it is
  *    checkpointed, lazily or not.
  *  - `byKeys(df, keys, sortBy)`: an eager checkpoint whose layout is
  *    declared to the planner: `HashPartitioning(keys, n)` with n the
  *    session's `spark.sql.shuffle.partitions`, plus the in-partition
  *    order when `sortBy == keys`. The method builds the pinned-count
  *    `repartition` and the sort itself, so the declaration is true by
  *    construction, and a later join or aggregate on the keys runs
  *    exchange-free (and sort-free when sorted). For a frame read by
  *    several joins on one key: a plain checkpoint hides the layout, so
  *    every join exchanges it again, and a cache keeps the layout but its
  *    columnar decode measured 2–7× the cost of deserialized rows on
  *    loop-rescanned pair frames (SCALE.md, round 18).
  *  - `durable(df)`: for frames the audit gates reuse across several long
  *    plans. On a local master it is an eager checkpoint (there is no
  *    executor to lose). On a cluster an unreplicated checkpoint block
  *    lost with its executor fails the job, so the frame is written once
  *    as parquet under [[tempDir]] and read back: recomputable from
  *    stable storage, and it holds no blocks.
  *  - `stage(df)`: a spill-safe `persist` (MEMORY_AND_DISK), recomputable
  *    on executor loss, for narrow inputs the keyed operators replay once
  *    per pass. Correctness never depends on it: once it is dropped, a
  *    later action on the result replays the stage's lineage, never a
  *    wrong row, since what that lineage reads is readable through the
  *    stage and so is kept (below).
  *
  * '''Release.''' When the body returns, every frame the scope made that
  * the returned value cannot read ([[GraftPlanBridge.readable]], plus
  * [[GraftPlanBridge.scansCache]] for a cache not built yet) is released
  * at once, without a Spark job. The returned value's frames are found in
  * the value itself, a tuple or a case class (a frame inside a collection
  * is not looked for). A frame the returned value can read:
  *  - inside an enclosing scope on the same thread (or on a
  *    [[Concurrently]] arm of it) passes to that scope, which applies the
  *    same rule when it exits;
  *  - otherwise it is the caller's: a staged frame stays in the session
  *    cache until the caller's `spark.catalog.clearCache()` (or an
  *    `unpersist`), and a checkpoint is left to the ContextCleaner, which
  *    drops its blocks once the returned plan is garbage. A caller that
  *    is done with a returned frame clears the cache after its last
  *    action, as the registry harnesses do after each write.
  *
  * On an exception every frame the scope holds is released before the
  * exception propagates. */
object Stage {

  def apply[T](spark: SparkSession)(body: Scope => T): T = {
    val st = new Scope(spark)
    val outer = Option(enclosing.get)
    enclosing.set(st)
    val out =
      try body(st)
      catch { case t: Throwable => st.releaseAll(); throw t }
      finally outer.fold(enclosing.remove())(enclosing.set)
    st.exit(out, outer)
    out
  }

  private val enclosing = new ThreadLocal[Scope]

  /** `f` as a thunk that runs inside the caller's current scope on any
    * thread: what a [[Concurrently]] arm materializes is handed on as if
    * it had run on the caller's thread. */
  private[operators] def carried[A](f: => A): () => A = {
    val st = enclosing.get
    () => {
      val prev = enclosing.get
      enclosing.set(st)
      try f finally enclosing.set(prev)
    }
  }

  /** A fresh per-call directory under the shared materialization root
    * (`spark.graft.materialize.dir`, else `spark.sql.warehouse.dir`, a
    * filesystem every executor can reach, which a driver-local temp
    * directory is not), registered for delete-on-exit. */
  def tempDir(spark: SparkSession, prefix: String): String = {
    val root = spark.conf.getOption("spark.graft.materialize.dir")
      .getOrElse(spark.conf.get("spark.sql.warehouse.dir"))
    val dir = new Path(new Path(root, "graft-materialize"),
      s"$prefix-${java.util.UUID.randomUUID()}")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    fs.deleteOnExit(dir)
    dir.toString
  }

  final class Scope private[Stage] (spark: SparkSession) {
    // (frame, staged?) in the order made; Concurrently arms add from two threads
    private val held = mutable.Buffer.empty[(DataFrame, Boolean)]

    private def track(df: DataFrame, staged: Boolean): DataFrame =
      held.synchronized { held += df -> staged; df }

    def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame =
      track(df.localCheckpoint(eager), staged = false)

    def byKeys(df: DataFrame, keys: String*): DataFrame = byKeys(df, keys, keys)

    def byKeys(df: DataFrame, keys: Seq[String], sortBy: Seq[String]): DataFrame =
      track(GraftPlanBridge.checkpointHashPartitioned(df, keys, sortBy), staged = false)

    def durable(df: DataFrame): DataFrame = durable(df, parquet = !spark.sparkContext.isLocal)

    private[graft] def durable(df: DataFrame, parquet: Boolean): DataFrame =
      if (!parquet) checkpoint(df)
      else {
        val dir = new Path(tempDir(spark, "mat"), "frame").toString
        df.write.parquet(dir)
        spark.read.parquet(dir)
      }

    def stage(df: DataFrame): DataFrame =
      track(df.persist(StorageLevel.MEMORY_AND_DISK), staged = true)

    /** Releases `df`, a frame of this scope that nothing will read again. */
    private[operators] def release(df: DataFrame): Unit =
      held.synchronized(free(held.remove(held.indexWhere(_._1 eq df))))

    private def free(f: (DataFrame, Boolean)): Unit =
      if (f._2) f._1.unpersist(blocking = false) else GraftPlanBridge.releaseCheckpoint(f._1)

    private[Stage] def releaseAll(): Unit = held.synchronized {
      held.foreach(free)
      held.clear()
    }

    private[Stage] def exit(out: Any, outer: Option[Scope]): Unit = held.synchronized {
      val results = framesIn(out).map(r => r -> GraftPlanBridge.readable(r))
      held.foreach { case f @ (df, staged) =>
        val read = results.exists { case (r, ids) =>
          GraftPlanBridge.blocksOf(df).exists(b => ids(b.id)) ||
            staged && GraftPlanBridge.scansCache(r, df)
        }
        // a frame the result reads is the enclosing scope's, else the caller's
        if (!read) free(f) else outer.foreach(_.track(df, staged))
      }
      held.clear()
    }
  }

  private def framesIn(out: Any): Seq[DataFrame] = out match {
    case d: Dataset[_] => Seq(d.toDF())
    case _: Iterable[_] => Nil
    case p: Product => p.productIterator.flatMap(framesIn).toSeq
    case _ => Nil
  }
}
