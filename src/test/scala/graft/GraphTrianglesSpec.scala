package graft

import org.apache.spark.sql.functions._
import graft.queries.Extended

/** Degree-oriented triangle counting: hand-countable constructed
  * graphs, an independent brute-force reference on a random graph, and
  * the partitioning invariance that distributed counting must keep.
  * All inputs are the `pa < pb` half-edge frame [[Extended.trianglesOf]]
  * consumes. */
class GraphTrianglesSpec extends SparkSpec {
  import spark.implicits._

  private def count(half: Seq[(Long, Long)]): Map[Long, Long] =
    Extended.trianglesOf(half.toDF("pa", "pb"))
      .as[(Long, Long)].collect().toMap

  test("K4: every vertex sits on C(3,2) = 3 triangles") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(count(k4) === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangle-free graphs produce no rows") {
    // a path and a star — wedges everywhere, no closing edge
    assert(count(Seq((1L, 2L), (2L, 3L), (3L, 4L))) === Map.empty)
    assert(count(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))) === Map.empty)
  }

  test("empty edge frame yields an empty result, not an NPE") {
    // sum() over zero rows aggregates to null — the size probe must
    // coalesce it (ADVICE r8) instead of throwing on getLong
    assert(count(Seq.empty) === Map.empty)
  }

  test("two triangles sharing an edge: shared vertices count both") {
    // {1,2,3} and {2,3,4} share edge 2-3
    val bowtie = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(count(bowtie) === Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("matches brute force on a random graph (incl. skewed hub)") {
    val rnd = new scala.util.Random(31)
    val base = (1 to 120).map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
    // a hub adjacent to everything — the skew case orientation exists for
    val hub = (0 until 25).map(i => (99L, i.toLong))
    val half = (base ++ hub).collect {
      case (a, b) if a != b => (math.min(a, b), math.max(a, b))
    }.distinct
    val adj = half.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
      .map { case (k, es) => k -> es.map(_._2).toSet }
    val brute = half.flatMap { case (a, b) =>
      (adj(a) & adj(b)).toSeq.collect { case c if c > b => Seq(a, b, c) }
    }.flatten.groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    // brute iterates a<b and closes with c>b: since half has a<b, the
    // intersection with c>b enumerates each {a<b<c} exactly once
    assert(count(half) === brute)
  }

  test("graph_triangles releases the half and degree frames: only adj remains") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val out = Extended.graphTriangles(spark, sf0001)
    val added = sc.getPersistentRDDs.keySet.toSet -- before
    // the one frame left is the oriented adjacency the result reads
    assert(added.size === 1, added)
    assert(added.subsetOf(org.apache.spark.sql.execution.graft.GraftPlanBridge.readable(out)))
    assert(out.count() > 0)
  }

  private def stats(half: Seq[(Long, Long)]) =
    Extended.degreeStatsOf(half.toDF("pa", "pb"))
      .as[(Long, Long, Long, Long, Long, Long, Option[Double])]
      .collect().head

  test("degree stats: star K1,4 is perfectly disassortative (r = -1)") {
    // center degree 4, leaves 1: every edge joins unlike degrees
    val star = Seq((9L, 1L), (9L, 2L), (9L, 3L), (9L, 4L))
    // per edge jk=4, j+k=5, j²+k²=17
    assert(stats(star) === ((5L, 4L, 4L, 16L, 20L, 68L, Some(-1.0))))
  }

  test("degree stats: regular graph (K4) has undefined assortativity") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    // all degrees 3 -> zero degree variance -> NULL, not a 0/0 NaN
    assert(stats(k4) === ((4L, 6L, 3L, 54L, 36L, 108L, None)))
  }

  test("degree stats: triangle with a pendant, hand-computed moments") {
    // degrees 1:2 2:2 3:3 4:1; edges (1,2)(1,3)(2,3)(3,4)
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    val s = stats(g)
    assert(s._1 === 4L && s._2 === 4L && s._3 === 3L)
    assert((s._4, s._5, s._6) === ((19L, 18L, 44L)))
    // r = (4·4·19 − 18²)/(2·4·44 − 18²) = −20/28
    assert(s._7 === Some(-20.0 / 28.0))
  }

  test("result is invariant to edge-frame partitioning") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    def run(parts: Int) =
      Extended.trianglesOf(k4.toDF("pa", "pb").repartition(parts))
        .as[(Long, Long)].collect().toMap
    assert(run(1) === run(7))
  }

  test("over-cap shuffle fallbacks equal the broadcast plans on every graph operator") {
    // bcastCap = 0 forces every size guard down the shuffle path (the
    // plan the 256x sweep runs); results must be identical to the
    // broadcast form on the real corpus graph
    val half = Extended.coOccurHalf(spark, sf0001).localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(Extended.trianglesOf(half, bcastCap = 0))
      === rows(Extended.trianglesOf(half)))
    assert(rows(Extended.degreeStatsOf(half, bcastCap = 0))
      === rows(Extended.degreeStatsOf(half)))
    assert(rows(Extended.kcoreOf(half, 4, 8, bcastCap = 0))
      === rows(Extended.kcoreOf(half, 4, 8)))
    assert(rows(Extended.lpaOf(half, bcastCap = 0))
      === rows(Extended.lpaOf(half)))
    assert(rows(Extended.pagerankOf(
        half.select($"pa", $"pb").union(half.select($"pb", $"pa")), bcastCap = 0))
      === rows(Extended.pagerankOf(
        half.select($"pa", $"pb").union(half.select($"pb", $"pa")))))
  }
}
