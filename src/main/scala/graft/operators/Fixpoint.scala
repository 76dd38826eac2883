package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.graft.GraftPlanBridge

/** The one driver for the engine's fixpoint loops: connected components
  * (label propagation and star contraction), k-core peeling, label
  * propagation, PageRank and both BPE trainers. A loop supplies only its
  * round body and its convergence test; the driver owns the round count,
  * the early exit and the cap, the release of superseded rounds, and a
  * job tag per round. It runs in its own [[Stage]] scope: a frame every
  * round reads is made through the scope, round state through
  * [[Loop.checkpoint]].
  *
  * {{{
  * val (labels, rounds) = Fixpoint(spark, "cc") { (st, fx) =>
  *   val edges = st.checkpoint(pairs)            // read by every round
  *   var labels = fx.checkpoint(init)            // round 0's state
  *   fx.loop() { r =>                             // r = 1, 2, …
  *     labels = fx.checkpoint(hop(edges, labels))
  *     converged(labels)                          // the round's action
  *   }
  *   labels                                       // the returned frame
  * }
  * }}}
  *
  * Round checkpoints are lazy by default: the action a round already
  * runs — its convergence test, or the next round's — also writes the
  * round's blocks, so a loop pays one job per round instead of two
  * ([[Stage]] has the eagerness rule).
  *
  * '''Release.''' A checkpoint made in round r (round 0 before [[Loop.loop]])
  * is released once every checkpoint of the next round that made any is
  * materialized — every partition holds its block, read from the block
  * manager without a Spark job. A round that continues the loop must
  * therefore checkpoint the whole next state; the last round need not.
  * Everything else follows the scope's exit rule.
  *
  * '''Round labels.''' Round n's jobs carry the job tag `<name>.round=<n>`
  * (`spark.job.tags`), removed when the round ends. Tags are
  * thread-local, so loops on `Concurrently` arms do not mix them; the
  * job group, which perfbench attributes jobs by, is left alone.
  *
  * A driver-local arm for sliver-sized loops (collect once, iterate on
  * the driver) belongs in this file, behind [[Loop.loop]]. */
object Fixpoint {

  /** Runs `body` on a fresh [[Loop]] in a fresh [[Stage]] scope; returns
    * the frame it returns and the number of rounds its [[Loop.loop]] ran. */
  def apply(spark: SparkSession, name: String)(
      body: (Stage.Scope, Loop) => DataFrame): (DataFrame, Int) =
    Stage(spark) { st =>
      val fx = new Loop(spark, name, st)
      (body(st, fx), fx.rounds)
    }

  final class Loop private[Fixpoint] (spark: SparkSession, name: String, st: Stage.Scope) {
    private var round = 0
    // round-scoped checkpoints by the round that made them, oldest first
    private val byRound = mutable.Buffer.empty[(Int, mutable.Buffer[DataFrame])]

    /** Rounds run so far. */
    def rounds: Int = round

    /** Checkpoints `df` as state of the current round. */
    def checkpoint(df: DataFrame, eager: Boolean = false): DataFrame = {
      if (byRound.lastOption.forall(_._1 != round)) byRound += round -> mutable.Buffer.empty
      byRound.last._2 += st.checkpoint(df, eager)
      byRound.last._2.last
    }

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
          byRound.remove(0)._2.foreach(st.release)
      }
    }
  }
}
