package graft

import org.apache.spark.sql.functions._
import graft.functions.{QuantileSketch, QuantileSketchAgg}

/** Guarantees of the MRL quantile summary: exactness below k, the
  * deterministic rank-error bound above it, the merge path (exercised
  * both directly and through Spark's partial/final aggregation), and
  * agreement of the distributed query with a local reference. */
class QuantileSketchSpec extends SparkSpec {
  import spark.implicits._

  private def rankError(sorted: Array[Double], est: Double, phi: Double): Double = {
    // true rank of the estimate (first index holding it or larger)
    val r = sorted.indexWhere(_ >= est) match {
      case -1 => sorted.length - 1
      case i  => i
    }
    math.abs(r - phi * (sorted.length - 1)) / sorted.length
  }

  test("below k the sketch is exact order statistics") {
    val s = new QuantileSketch(256)
    val vals = (1 to 100).map(_.toDouble)
    // insertion order must not matter below k either
    vals.reverse.foreach { v => s.add(v); s.n += 1 }
    assert(s.query(0.0) === 1.0)
    assert(s.query(0.5) === 50.0) // rank floor(0.5*99)=49 → value 50
    assert(s.query(1.0) === 100.0)
  }

  test("rank error stays within the deterministic bound at 40x k") {
    val k = 64
    val n = 40 * k
    // adversarial-ish order: interleave low/high halves
    val vals = (0 until n).map(i => if (i % 2 == 0) i / 2 else n - 1 - i / 2)
      .map(_.toDouble).toArray
    val s = new QuantileSketch(k)
    vals.foreach { v => s.add(v); s.n += 1 }
    val sorted = vals.sorted
    // classical bound ~ log²(n/k)/(2k) ≈ 0.27% here; assert a lax 5%
    Seq(0.1, 0.25, 0.5, 0.75, 0.9).foreach { phi =>
      val err = rankError(sorted, s.query(phi), phi)
      assert(err <= 0.05, s"phi=$phi rank error $err")
    }
  }

  test("merging disjoint sketches preserves the bound (mergeable summary)") {
    val k = 64
    val parts = (0 until 8).map { p =>
      val s = new QuantileSketch(k)
      (0 until 1000).foreach { i => s.add((p * 1000 + i).toDouble); s.n += 1 }
      s
    }
    val merged = parts.reduce { (a, b) => a.mergeIn(b); a }
    assert(merged.n === 8000L)
    val sorted = (0 until 8000).map(_.toDouble).toArray
    Seq(0.1, 0.5, 0.9).foreach { phi =>
      val err = rankError(sorted, merged.query(phi), phi)
      assert(err <= 0.05, s"phi=$phi rank error $err after merge")
    }
  }

  test("distributed aggregate matches the bound against exact percentiles") {
    val exact = Tables.orders(spark, sf0001)
      .select(col("o_orderstatus"), col("o_totalprice").cast("double").as("x"))
      .as[(String, Double)].collect().groupBy(_._1)
      .map { case (s, xs) => s -> xs.map(_._2).sorted }
    // 13 input partitions force real partial/final merges (and the
    // serialize/deserialize round trip) through the shuffle — the
    // registered query itself reads the table's own partitioning, so
    // build the same aggregate over an explicit repartition here
    val est = Tables.orders(spark, sf0001)
      .select(col("o_orderstatus"), col("o_totalprice").cast("double").as("x"))
      .repartition(13)
      .groupBy(col("o_orderstatus"))
      .agg(QuantileSketchAgg.column(col("x"), 256, Seq(0.25, 0.5, 0.75)).as("qs"))
      .select(col("o_orderstatus"), col("qs")(0).as("p25_est"),
        col("qs")(1).as("p50_est"), col("qs")(2).as("p75_est"))
      .as[(String, Double, Double, Double)].collect()
    assert(est.nonEmpty)
    est.foreach { case (status, p25, p50, p75) =>
      val sorted = exact(status)
      Seq(0.25 -> p25, 0.5 -> p50, 0.75 -> p75).foreach { case (phi, e) =>
        val err = rankError(sorted, e, phi)
        assert(err <= 0.05, s"$status phi=$phi rank error $err")
      }
    }
  }
}
