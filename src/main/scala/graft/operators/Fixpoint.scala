package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.graft.GraftPlanBridge

/** The one driver for the engine's fixpoint loops: connected components
  * (label propagation and star contraction), k-core peeling, label
  * propagation, PageRank and both BPE trainers. A loop supplies only its
  * round body and its convergence test; the driver owns the round count,
  * the early exit and the cap, the checkpoints a round makes, their
  * release, and a job tag per round.
  *
  * {{{
  * val (labels, rounds) = Fixpoint(spark, "cc") { fx =>
  *   val edges = fx.keep(pairs, eager = true)   // read by every round
  *   var labels = fx.checkpoint(init)            // round 0's state
  *   fx.loop() { r =>                             // r = 1, 2, …
  *     labels = fx.checkpoint(hop(edges, labels))
  *     converged(labels)                          // the round's action
  *   }
  *   labels                                       // the returned frame
  * }
  * }}}
  *
  * '''Lazy checkpoints.''' `checkpoint(df)` and `keep(df)` are lazy by
  * default: the first action that reads the frame materializes it, so
  * the action a round already runs — its convergence test, or the next
  * round's — also writes the round's blocks, and a loop pays one job per
  * round instead of two. A consumer in a strictly later action reads the
  * blocks and cannot race their computation; a frame that one action
  * reads through two branches (a fan-out) stays `eager`. Lineage still
  * truncates at each materialization. Note that an AQE plan runs its map
  * stages when it is checkpointed, lazily or not: only the last stage
  * waits for the action.
  *
  * '''Release.''' A checkpoint made in round r (round 0 before [[Loop.loop]])
  * is released once every checkpoint of the next round that made any is
  * materialized — every partition holds its block, read from the block
  * manager without a Spark job. A round that continues the loop must
  * therefore checkpoint the whole next state; the last round need not.
  * At exit the driver releases every tracked frame, loop-lifetime ones
  * included, that the returned frame cannot read
  * ([[GraftPlanBridge.readable]]). What an unmaterialized returned frame
  * still reads is left to the ContextCleaner, as for any lazy frame. On
  * an exception every tracked frame is released.
  *
  * '''Round labels.''' Round n's jobs carry the job tag `<name>.round=<n>`
  * (`spark.job.tags`), removed when the round ends. Tags are
  * thread-local, so loops on `Concurrently` arms do not mix them; the
  * job group, which perfbench attributes jobs by, is left alone.
  *
  * A driver-local arm for sliver-sized loops (collect once, iterate on
  * the driver) belongs in this file, behind [[Loop.loop]]. */
object Fixpoint {

  /** Runs `body` on a fresh [[Loop]]; returns the frame it returns and the
    * number of rounds its [[Loop.loop]] ran. */
  def apply(spark: SparkSession, name: String)(body: Loop => DataFrame): (DataFrame, Int) = {
    val fx = new Loop(spark, name)
    var out: Option[DataFrame] = None
    try { out = Some(body(fx)); (out.get, fx.rounds) } finally fx.exit(out)
  }

  final class Loop private[Fixpoint] (spark: SparkSession, name: String) {
    private var round = 0
    private val lifetime, cached = mutable.Buffer.empty[DataFrame]
    // round-scoped checkpoints by the round that made them, oldest first
    private val byRound = mutable.Buffer.empty[(Int, mutable.Buffer[DataFrame])]

    /** Rounds run so far. */
    def rounds: Int = round

    /** Checkpoints `df` as state of the current round. */
    def checkpoint(df: DataFrame, eager: Boolean = false): DataFrame = {
      if (byRound.lastOption.forall(_._1 != round)) byRound += round -> mutable.Buffer.empty
      byRound.last._2 += df.localCheckpoint(eager)
      byRound.last._2.last
    }

    /** Checkpoints `df` for the loop's lifetime: every round reads it. */
    def keep(df: DataFrame, eager: Boolean = false): DataFrame = track(df.localCheckpoint(eager))

    /** Takes over a frame checkpointed elsewhere for the loop's lifetime. */
    def track(df: DataFrame): DataFrame = { lifetime += df; df }

    /** Caches `df` for the loop's lifetime. */
    def cache(df: DataFrame): DataFrame = { cached += df.persist(); df }

    /** Runs rounds 1, 2, … until `step` returns true (the fixpoint) or
      * `cap` rounds have run. */
    def loop(cap: Int = Int.MaxValue)(step: Int => Boolean): Unit = {
      val sc = spark.sparkContext
      var done = false
      while (!done && round < cap) {
        round += 1
        val tag = s"$name.round=$round"
        sc.addJobTag(tag)
        done = try step(round) finally sc.removeJobTag(tag)
        while (!done && round < cap && byRound.size >= 2 &&
            byRound(1)._2.forall(GraftPlanBridge.blocksOf(_).exists(GraftPlanBridge.materialized)))
          byRound.remove(0)._2.foreach(GraftPlanBridge.releaseCheckpoint)
      }
    }

    private[Fixpoint] def exit(out: Option[DataFrame]): Unit = {
      val read = out.fold(Set.empty[Int])(GraftPlanBridge.readable)
      def unread(df: DataFrame) = !GraftPlanBridge.blocksOf(df).exists(b => read(b.id))
      (lifetime ++ byRound.flatMap(_._2)).filter(unread).foreach(GraftPlanBridge.releaseCheckpoint)
      cached.filter(unread).foreach(_.unpersist())
    }
  }
}
