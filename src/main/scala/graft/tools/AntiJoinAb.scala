package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.BloomPrune

/** A/B of the batch-vs-history anti-join guard: plain `left_anti`
  * vs [[BloomPrune.prunedAntiJoin]], at history amplified ×1/4/16/64.
  *
  * The structural claim (BloomPrune scaladoc, `bloom_anti_join`'s
  * SCALE note) is that the plain form's cost is dominated by
  * shuffle-sorting HISTORY — which grows with history — while the
  * Bloom composition touches history map-side only, so its exchange
  * volume is flat in history size. This tool turns that from an
  * argument into a measured curve: per variant and multiplier, wall
  * seconds and shuffle-write records/bytes ([[StageMetrics]]), plus a
  * result-count equality check between variants.
  *
  * Amplification adds NON-MATCHING history (o_custkey shifted into a
  * disjoint key range per replica) — the realistic regime: history
  * grows without bound, the slice of it relevant to one batch does
  * not.
  *
  * Run: `sbt "runMain graft.tools.AntiJoinAb"` (env:
  * SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, ANTI_AB_MULTS). */
object AntiJoinAb {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val mults = sys.env.getOrElse("ANTI_AB_MULTS", "1,4,16,64")
      .split(",").map(_.trim.toInt).toSeq
    val spark = graft.GraftSession.builder("graft-anti-join-ab", s"local[$cpus]", 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val metrics = new StageMetrics(spark)

    val probe = Tables.customer(spark, d).select("c_custkey").localCheckpoint()
    val base = Tables.orders(spark, d).select("o_custkey")
    val shift = 1L << 24 // disjoint key range per replica

    for (m <- mults) {
      // materialized so the A/B measures the JOINS, not re-amplification
      val history = (0 until m)
        .map(i => base.select((col("o_custkey") + lit(i * shift)).as("o_custkey")))
        .reduce(_ unionAll _)
        .localCheckpoint()
      val nHist = history.count()

      def run(tag: String, f: => DataFrame): Long = {
        val before = metrics.snapshot()
        val t0 = System.nanoTime()
        val n = f.count()
        val secs = (System.nanoTime() - t0) / 1e9
        val s = metrics.snapshot() - before
        println(f"[anti-ab] mult=$m hist=$nHist $tag%-6s result=$n " +
          f"wall=$secs%.2f s shufWrite=${s.shufWriteRec}%,d rec / ${s.shufWriteBytes / 1e6}%.1f MB " +
          f"shufRead=${s.shufReadRec}%,d rec")
        n
      }

      val nPlain = run("plain",
        probe.join(history, col("c_custkey") === col("o_custkey"), "left_anti"))
      val nBloom = run("bloom",
        BloomPrune.prunedAntiJoin(probe, "c_custkey", history, "o_custkey",
          expectedItems = 20000)) // Bloom sizes on the PROBE's keys
      require(nPlain == nBloom, s"variant disagreement: $nPlain vs $nBloom")
      history.unpersist()
    }
    spark.stop()
  }
}
