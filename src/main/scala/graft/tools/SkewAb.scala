package graft.tools

import org.apache.spark.sql.functions._

/** Measured A/B of the skew-handling options on a PLANTED hot key — the
  * number the scaladoc claims ("use salting when one key dominates")
  * backed by a local measurement instead of folklore.
  *
  * Setup: an 8M-row fact side where ONE key holds 50% of all rows and
  * the rest spread uniformly over 100k keys, joined to a 100k-row
  * dimension that stands in for a too-big-to-broadcast side
  * (autoBroadcastJoinThreshold = -1 everywhere, because at 100 TB the
  * interesting dimension doesn't fit). Variants, each min-of-3 in one
  * JVM:
  *
  *   plain_no_aqe   — sort-merge join, AQE skew split disabled: the
  *                    straggler baseline (one task gets 1M rows).
  *   plain_aqe_skew — AQE skew split enabled, with the split
  *                    thresholds scaled DOWN to this data size
  *                    (advisory 4 MB / skew threshold 4 MB — the
  *                    256 MB defaults are tuned for real clusters and
  *                    would never fire on a 30 MB shuffle; at 100 TB
  *                    the defaults fire on their own).
  *   salted_16      — [[graft.operators.SkewJoin.saltedEquiJoin]] with
  *                    16 salts, AQE skew split off: the manual fallback
  *                    that also works where AQE's cannot (e.g. when the
  *                    shuffle feeds a same-key aggregation, or on the
  *                    skewed-aggregation shape itself).
  *
  * Emits one JSON line; the measured ratios live in SCALE.md §Skew. */
object SkewAb {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder("graft-skew-ab", s"local[$cpus]", cpus.toInt)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // 50% of rows on key 0, the rest uniform over [1, 100k)
    val big = spark.range(0, 8000000, 1, 32)
      .select(col("id"),
        when(pmod(xxhash64(col("id")), lit(2)) === 0, 0L)
          .otherwise(lit(1L) + pmod(xxhash64(col("id"), lit(7)), lit(99999))).as("k"),
        (col("id") % 1000).cast("double").as("v"))
    val dim = spark.range(0, 100000)
      .select(col("id").as("k"),
        concat(lit("seg-"), pmod(col("id"), lit(50))).as("seg"))

    def agg(joined: org.apache.spark.sql.DataFrame) =
      joined.groupBy("seg").agg(count(lit(1)).as("n"), sum("v").as("sv"))

    def time(plan: () => org.apache.spark.sql.DataFrame): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        plan().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min

    def withConf(kvs: (String, String)*)(body: => Double): Double = {
      val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally olds.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

    val plainNoAqe = withConf(
      "spark.sql.adaptive.skewJoin.enabled" -> "false") {
      time(() => agg(big.join(dim, "k")))
    }
    val plainAqeSkew = withConf(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // defaults (256 MB) are cluster-scale; fire them at this data size
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4m") {
      time(() => agg(big.join(dim, "k")))
    }
    val salted16 = withConf(
      "spark.sql.adaptive.skewJoin.enabled" -> "false") {
      time(() => agg(graft.operators.SkewJoin
        .saltedEquiJoin(big, dim, "k", col("id"), salts = 16)))
    }

    println(f"""{"plain_no_aqe":$plainNoAqe%.3f,"plain_aqe_skew":$plainAqeSkew%.3f,"salted_16":$salted16%.3f,"unit":"sec","stat":"min_of_3"}""")
    spark.stop()
  }
}
