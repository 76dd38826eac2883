package graft

import org.apache.spark.sql.functions._
import graft.functions.FreqItemsAgg

/** Misra–Gries heavy-hitters guarantee, pinned: any item with true
  * frequency > n/(k+1) survives the sketch, and surviving estimates
  * undercount by at most n/(k+1) — independent of partitioning (the
  * sketch is mergeable). */
class FreqItemsSpec extends SparkSpec {
  import spark.implicits._

  private def sketch(parts: Int, k: Int): Map[String, Long] = {
    // 1000 rows: "hot" 400, "warm" 300, tail of 30 singletons × 10
    val data = Seq.fill(400)("hot") ++ Seq.fill(300)("warm") ++
      (1 to 30).flatMap(i => Seq.fill(10)(s"tail$i"))
    data.toDF("s").repartition(parts)
      .agg(FreqItemsAgg.column(col("s"), k).as("m"))
      .select(explode(col("m"))).as[(String, Long)].collect().toMap
  }

  test("heavy hitters survive with bounded undercount, any partitioning") {
    for (parts <- Seq(1, 4, 13)) {
      val m = sketch(parts, k = 4)
      val n = 1000L
      val err = n / 5 // n/(k+1)
      // true freq 400 and 300 both exceed n/(k+1)=200 → guaranteed present
      assert(m.contains("hot") && m.contains("warm"), s"parts=$parts: $m")
      assert(m("hot") >= 400 - err && m("hot") <= 400)
      assert(m("warm") >= 300 - err && m("warm") <= 300)
      assert(m.size <= 4)
    }
  }

  test("exact when distinct items fit in k counters") {
    val m = (Seq.fill(7)("a") ++ Seq.fill(3)("b")).toDF("s").repartition(3)
      .agg(FreqItemsAgg.column(col("s"), 8).as("m"))
      .select(explode(col("m"))).as[(String, Long)].collect().toMap
    assert(m === Map("a" -> 7L, "b" -> 3L))
  }
}
