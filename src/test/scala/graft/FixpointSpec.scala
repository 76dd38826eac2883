package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import graft.dedup.Dedup
import graft.queries.Extended
import graft.text.TextAnalysis

/** The one fixpoint driver ([[graft.operators.Fixpoint]]): what a loop
  * leaves behind does not grow with the rounds it ran, and each round's
  * jobs carry the round label. */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  /** New persistent RDDs after `run` and a terminal action on its result. */
  private def residue(run: => DataFrame): Int = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = run
    out.collect()
    val n = (sc.getPersistentRDDs.keySet -- before).size
    // the registry holds RDDs weakly: keep the result reachable until counted
    java.lang.ref.Reference.reachabilityFence(out)
    info(s"residue: $n")
    n
  }

  private def chain(n: Long): DataFrame = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
  private def nodes(n: Long): DataFrame = (1L to n).toDF("doc_id")

  /** Triangle {1,2,3} with a tail 3-4-…-n: at k = 2 the tail peels one
    * node per round, from its far end. */
  private def peelingChain(n: Long): DataFrame =
    (Seq((1L, 2L), (1L, 3L), (2L, 3L)) ++ (3L until n).map(i => (i, i + 1)))
      .toDF("pa", "pb")

  test("connected components leave only the returned labels, whatever the rounds") {
    val short = residue(Dedup.clusterLabels(nodes(16), chain(16)))
    val long = residue(Dedup.clusterLabels(nodes(256), chain(256)))
    assert(short === long)
    assert(long === 1)
  }

  test("star contraction's residue does not grow with the rounds") {
    val (_, rShort) = Dedup.clusterLabelsStarWithRounds(nodes(16), chain(16))
    val (_, rLong) = Dedup.clusterLabelsStarWithRounds(nodes(256), chain(256))
    assert(rLong > rShort)
    assert(residue(Dedup.clusterLabelsStar(nodes(16), chain(16))) ===
      residue(Dedup.clusterLabelsStar(nodes(256), chain(256))))
  }

  test("k-core's residue does not grow with the rounds, capped or not") {
    val g = peelingChain(20)
    assert(residue(Extended.kcoreOf(g, 2, 2)) === residue(Extended.kcoreOf(g, 2, 8)))
    assert(residue(Extended.kcoreOf(peelingChain(5), 2, 100)) ===
      residue(Extended.kcoreOf(g, 2, 100)))
  }

  test("label propagation's residue does not grow with the rounds") {
    val g = peelingChain(12)
    assert(residue(Extended.lpaOf(g, rounds = 1)) === residue(Extended.lpaOf(g, rounds = 6)))
  }

  test("PageRank's residue does not grow with the iterations") {
    val half = peelingChain(12)
    val sym = half.union(half.select($"pb".as("pa"), $"pa".as("pb")))
    assert(residue(Extended.pagerankOf(sym, iters = 2)) ===
      residue(Extended.pagerankOf(sym, iters = 8)))
  }

  test("both BPE loops: residue independent of the merges; the incremental one leaves none") {
    val docs = Tables.documents(spark, sf0001)
    def loop(merges: Int) = {
      val (table, toks) = TextAnalysis.bpeLoopOf(spark, docs, merges)
      assert(table.count() === merges, "the corpus ran dry: the runs would not compare")
      toks
    }
    assert(residue(loop(2)) === residue(loop(8)))
    assert(residue(TextAnalysis.bpeTrainIncOf(spark, docs, 2)) === 0)
    assert(residue(TextAnalysis.bpeTrainIncOf(spark, docs, 8)) === 0)
  }

  test("each round's jobs carry the round label; none stays on the thread") {
    val sc = spark.sparkContext
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .foreach(_.split(",").filter(_.startsWith("cc.")).foreach(seen.add))
    }
    sc.addSparkListener(listener)
    try {
      val (labels, rounds) = Dedup.clusterLabelsWithRounds(nodes(64), chain(64))
      labels.collect()
      val want = (1 to rounds).map(r => s"cc.round=$r").toSet
      val deadline = System.nanoTime() + 10000000000L
      while (!want.subsetOf(seen.toArray.map(_.toString).toSet) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(rounds >= 3)
      assert(seen.toArray.map(_.toString).toSet === want)
      assert(!sc.getJobTags().exists(_.contains(".round=")))
    } finally sc.removeSparkListener(listener)
  }
}
