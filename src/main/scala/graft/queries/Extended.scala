package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.operators.{Fixpoint, Stage}
import graft.functions.{FreqItemsAgg, QuantileSketchAgg}
import OracleSafe._

/** Operators beyond the reference's own surface that a real deployment
  * reaches for next: as-of join, stream-static broadcast enrichment
  * (SURVEY.md §2.3's natural extension), exact quantiles, outer-join
  * aggregation, UNION ALL, CUBE.
  */
object Extended extends QueryPack {

  /** As-of join: for every event, the most recent order (by order date)
    * of the same customer at or before the event time.
    *
    * Implementation is the scale-friendly union trick — tag both sides,
    * union, one window pass per key carrying the last-seen order forward
    * (`last(..., ignoreNulls)` over rows-unbounded-preceding), keep event
    * rows. One shuffle on the join key, no per-event range probe, no
    * row explosion — survives arbitrarily many events per key. Orders
    * are pre-deduped to one per (custkey, date) with a deterministic
    * winner (max orderkey) so ties match the oracle's ASOF exactly. */
  def asofJoin(spark: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(spark, d)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
    val taggedOrders = orders.select(
      col("o_custkey").as("user_id"),
      col("o_orderdate").as("t"),
      lit(0).as("kind"),
      lit(null).cast("long").as("event_id"),
      col("o_orderkey"))
    val taggedEvents = Tables.events(spark, d).select(
      col("user_id"),
      col("ts").as("t"),
      lit(1).as("kind"),
      col("event_id"),
      lit(null).cast("long").as("o_orderkey"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("kind"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    taggedOrders.unionByName(taggedEvents)
      .withColumn("asof_orderkey", last(col("o_orderkey"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("user_id"), col("t").as("ts"), col("asof_orderkey"))
      .orderBy("event_id")
  }

  /** Stream-static broadcast enrichment (the §2.3 extension): events
    * joined to the small customer dimension — explicitly broadcast, left
    * join keeps unmatched users under an UNKNOWN segment. */
  def enrichBroadcast(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .join(broadcast(Tables.customer(spark, d)),
        col("user_id") === col("c_custkey"), "left")
      .groupBy(coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
      .agg(count(lit(1)).as("n_events"),
           decSum(col("value")).as("sum_value"))
      .orderBy("segment")

  /** Exact quantiles (linear interpolation) of order value per status —
    * `percentile` ≙ DuckDB `quantile_cont`. */
  def quantiles(spark: SparkSession, d: String): DataFrame =
    Tables.orders(spark, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        expr("percentile(o_totalprice, 0.25)").as("p25"),
        expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("percentile(o_totalprice, 0.75)").as("p75"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")

  /** [[quantiles]] via the mergeable MRL summary
    * ([[graft.functions.QuantileSketchAgg]]) — the shuffle carries
    * k·log(n/k) values per group instead of the column, which is what
    * makes per-key percentiles affordable at 100 TB (Spark's exact
    * `percentile` holds every value per group in memory). Approximate
    * within a deterministic rank-error bound ⇒ rows-only; the exact
    * sibling above is the oracle-checked reference and
    * QuantileSketchSpec pins the bound. */
  def quantilesSketch(spark: SparkSession, d: String): DataFrame = {
    Tables.orders(spark, d)
      .select(col("o_orderstatus"), col("o_totalprice").cast("double").as("x"))
      .groupBy(col("o_orderstatus"))
      .agg(QuantileSketchAgg.column(col("x"), 256, Seq(0.25, 0.5, 0.75)).as("qs"),
        count(lit(1)).as("n"))
      .select(col("o_orderstatus"), col("qs")(0).as("p25_est"),
        col("qs")(1).as("p50_est"), col("qs")(2).as("p75_est"), col("n"))
      .orderBy("o_orderstatus")
  }

  /** Hot-key diagnostic — the profile you run BEFORE deciding whether a
    * join needs salting or AQE skew handling ([[graft.operators
    * .SkewJoin]] and AQE are the cures, measured in
    * SCALE.md "Measured: skew join A/B on a planted hot key"; this is the detector):
    * per-key row counts reduced to the 5 hottest keys with their share
    * of all rows and skew ratio vs the mean key load. One hash
    * aggregate (map-side combinable) + a broadcast 1-row total + a
    * TakeOrderedAndProject — at 100 TB the per-key count frame is
    * keys-sized, never rows-sized. */
  def skewProfile(spark: SparkSession, d: String): DataFrame = {
    val counts = Tables.events(spark, d)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("total"), count(lit(1)).as("n_keys"))
    counts.crossJoin(broadcast(tot))
      .withColumn("share", col("n").cast("double") / col("total"))
      .withColumn("skew_ratio",
        (col("n") * col("n_keys")).cast("double") / col("total"))
      .orderBy(col("n").desc, col("user_id")).limit(5)
      .select("user_id", "n", "share", "skew_ratio")
      .orderBy("user_id")
  }

  /** Left-outer aggregation: order count per customer including zeros. */
  def outerJoinAgg(spark: SparkSession, d: String): DataFrame =
    Tables.customer(spark, d)
      .join(Tables.orders(spark, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
           sum(col("o_totalprice").cast(DecimalType(18, 2)))
             .cast(DecimalType(38, 2)).as("total_spend"))
      .orderBy("c_custkey")

  /** UNION ALL with provenance tag (duplicates preserved — contrast with
    * the distinct set ops in [[Relational]]). */
  def unionAll(spark: SparkSession, d: String): DataFrame = {
    def side(et: String) = Tables.events(spark, d)
      .filter(col("event_type") === et)
      .select(col("user_id"), col("event_id"), lit(et).as("src"))
    side("purchase").unionByName(side("signup"))
      .orderBy("event_id")
  }

  /** Explicit GROUPING SETS — the general form rollup/cube specialize:
    * per (type, bucket), per type, per bucket (no grand total). */
  def groupingSets(spark: SparkSession, d: String): DataFrame = {
    Tables.events(spark, d).createOrReplaceTempView("events")
    spark.sql(
      """SELECT event_type, user_id % 10 AS user_bucket, COUNT(*) AS n
        |FROM events
        |GROUP BY GROUPING SETS ((event_type, user_id % 10), (event_type), (user_id % 10))
        |ORDER BY event_type ASC NULLS FIRST, user_bucket ASC NULLS FIRST, n""".stripMargin)
  }

  /** HLL++ approximate distinct — sketch-based, so rows-only (DuckDB's
    * HLL yields different estimates); the exact counterpart is
    * `distinct_users`, which IS oracle-checked. */
  def approxDistinct(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
           countDistinct(col("user_id")).as("exact_users"))
      .orderBy("event_type")

  /** Driver-visible error gate for [[approxDistinct]] — the
    * [[graft.similarity.Similarity.recallGate]] pattern applied to the
    * HLL++ sketch: `exact_users` is recomputed by the oracle from data;
    * `within_bound` asserts the estimate landed inside 3× the sketch's
    * default relative standard deviation (rsd 0.05 → bound 0.15). HLL
    * register merges are max() — commutative — so the estimate is
    * deterministic under any partitioning and the gate can't flake;
    * a broken sketch (lost registers, bad hashing) trips it. */
  def approxDistinctVerified(spark: SparkSession, d: String): DataFrame =
    approxDistinct(spark, d)
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users").cast("double") * lit(0.15)).as("within_bound"))
      .orderBy("event_type")

  /** Driver-visible RANK-error gate for [[quantilesSketch]] — the MRL
    * summary guarantees rank accuracy, not value accuracy, so the
    * checkable statement is: the rank interval the estimated quantile
    * value occupies in its group, `[count(x < v), count(x ≤ v)]`, must
    * intersect `[(φ−ε)·n, (φ+ε)·n]`. ε = 0.05, the lax bound
    * QuantileSketchSpec pins (classical bound for k=256 is ~0.3% at
    * this n — the driver gate leaves margin, a broken sketch misses by
    * miles). One extra scan of the grouped column per check — the rank
    * lookup joins the 3-quantile frame against the data, map-side
    * combinable. Oracle recomputes n per (status, φ) from data. */
  def quantilesSketchVerified(spark: SparkSession, d: String): DataFrame = {
    val eps = 0.05
    val est = quantilesSketch(spark, d)
      .select(col("o_orderstatus"),
        explode(array(
          struct(lit(0.25).as("phi"), col("p25_est").as("v")),
          struct(lit(0.5).as("phi"), col("p50_est").as("v")),
          struct(lit(0.75).as("phi"), col("p75_est").as("v")))).as("q"))
      .select(col("o_orderstatus"), col("q.phi").as("phi"), col("q.v").as("v"))
    val o = Tables.orders(spark, d)
      .select(col("o_orderstatus"), col("o_totalprice").cast("double").as("x"))
    est.join(o, "o_orderstatus")
      .groupBy("o_orderstatus", "phi", "v") // v is functionally dependent on (status, phi)
      .agg(count(lit(1)).as("n"),
        sum(when(col("x") < col("v"), 1L).otherwise(0L)).as("rank_lo"),
        sum(when(col("x") <= col("v"), 1L).otherwise(0L)).as("rank_hi"))
      .select(col("o_orderstatus"), col("phi"), col("n"),
        (col("rank_hi").cast("double") >= (col("phi") - eps) * col("n") &&
         col("rank_lo").cast("double") <= (col("phi") + eps) * col("n")).as("rank_ok"))
      .orderBy("o_orderstatus", "phi")
  }

  /** Statistical aggregates computed deterministically: mean / population
    * variance / stddev derived from exact decimal first and second
    * moments (built-in stddev over doubles is accumulation-order-
    * dependent and could never hash-match). Single pass, map-side
    * combined, identical formula in the oracle. */
  def statsAgg(spark: SparkSession, d: String): DataFrame = {
    val x = col("value").cast(DecimalType(18, 2))
    Tables.events(spark, d)
      .groupBy("event_type")
      .agg(
        sum(x).cast(DecimalType(38, 2)).as("s1"),
        sum((x * x).cast(DecimalType(18, 4))).cast(DecimalType(38, 4)).as("s2"),
        count(lit(1)).as("n"))
      .select(
        col("event_type"),
        (col("s1").cast("double") / col("n")).as("mean"),
        (col("s2").cast("double") / col("n")
          - (col("s1").cast("double") / col("n")) * (col("s1").cast("double") / col("n")))
          .as("var_pop"),
        sqrt(col("s2").cast("double") / col("n")
          - (col("s1").cast("double") / col("n")) * (col("s1").cast("double") / col("n")))
          .as("stddev_pop"),
        col("n"))
      .orderBy("event_type")
  }

  /** String function surface: case mapping, substring, concat, replace,
    * padding, LIKE — over the customer dimension. */
  def stringFuncs(spark: SparkSession, d: String): DataFrame =
    Tables.customer(spark, d)
      .filter(col("c_name").like("%1%"))
      .select(
        col("c_custkey"),
        upper(col("c_name")).as("up"),
        lower(col("c_mktsegment")).as("lo"),
        substring(col("c_name"), 1, 8).as("sub"),
        concat_ws("-", col("c_mktsegment"), col("c_custkey")).as("joined"),
        regexp_replace(col("c_name"), "[0-9]+", "#").as("masked"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("padded"),
        length(col("c_name")).cast("long").as("len"))
      .orderBy("c_custkey")

  /** CUBE over (event_type, user bucket): all 4 grouping combinations. */
  def cubeEvents(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .cube(col("event_type"), (col("user_id") % 10).as("user_bucket"))
      .agg(count(lit(1)).as("n"), grouping_id().cast("long").as("gid"))
      .orderBy(asc_nulls_first("event_type"), asc_nulls_first("user_bucket"))

  /** The custom group-wise top-k operator (bounded per-key heaps via
    * [[graft.plans.TopKPerKey]]) — semantically identical to the window
    * formulation, which is exactly what the oracle runs. */
  def topkPerKey(spark: SparkSession, d: String): DataFrame =
    graft.plans.TopKPerKey(
      Tables.orders(spark, d).select("o_custkey", "o_orderkey", "o_totalprice"),
      Seq("o_custkey"),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc),
      k = 3)
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))

  /** Range join, bucketized: error events within 5 minutes AFTER a
    * purchase by the same user. A naive time-inequality join degenerates
    * to a per-user cross product; bucketing time into range-sized bins
    * and equi-joining on (user, bin)±1 turns it into a hash join whose
    * probe set is only the adjacent bins — the standard scalable plan
    * for interval/range predicates. The residual inequality filter
    * applies after the equi-join. */
  def rangeJoin(spark: SparkSession, d: String): DataFrame = {
    val Bin = 300000000L // 5 min in microseconds
    def side(et: String, idAs: String, tsAs: String) =
      Tables.events(spark, d).filter(col("event_type") === et)
        .select(col("user_id"), col("event_id").as(idAs),
          unix_micros(col("ts")).as(tsAs))
    val p = side("purchase", "purchase_id", "t_p")
      .withColumn("bin", (col("t_p") / Bin).cast("long"))
    val e = side("error", "error_id", "t_e")
      .withColumn("bin0", (col("t_e") / Bin).cast("long"))
      // an error's 5-minute look-back window spans at most 2 bins
      .withColumn("bin", explode(array(col("bin0") - 1, col("bin0"))))
    p.join(e, Seq("user_id", "bin"))
      .filter(col("t_e") > col("t_p") && col("t_e") - col("t_p") <= Bin)
      .select(col("user_id"), col("purchase_id"), col("error_id"),
        (col("t_e") - col("t_p")).as("gap_us"))
      .distinct() // bin overlap may duplicate a qualifying pair
      .orderBy("user_id", "purchase_id", "error_id")
  }

  /** Window-frame surface in one pass per customer: 4-row moving sum /
    * count / average, previous-order delta (LAG), quartile bucketing
    * (NTILE) and PERCENT_RANK — ordered by (o_orderdate, o_orderkey),
    * which is unique, so every frame is deterministic. The moving
    * average divides the exact decimal moving sum by the frame row count
    * as the final step (the [[OracleSafe]] mean policy applied to a
    * window frame). */
  def windowFrames(spark: SparkSession, d: String): DataFrame = {
    val tp = col("o_totalprice").cast(DecimalType(18, 2))
    val wo = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val w3 = wo.rowsBetween(-3, Window.currentRow)
    val movSum = sum(tp).over(w3).cast(DecimalType(38, 2))
    val movN = count(lit(1)).over(w3)
    Tables.orders(spark, d).select(
      col("o_custkey"), col("o_orderkey"),
      movSum.as("mov_sum"),
      movN.as("mov_n"),
      (movSum.cast("double") / movN).as("mov_avg"),
      (tp - lag(tp, 1, 0).over(wo)).as("delta_prev"),
      ntile(4).over(wo).cast("long").as("quartile"),
      percent_rank().over(wo).as("pr"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Correlated-subquery semantics ("orders above their customer's
    * average"), decorrelated the way Catalyst would: one window pass
    * computing the per-customer sum and count, then the comparison in
    * exact decimal arithmetic (`price × n > sum` ⟺ `price > avg` with
    * no double rounding anywhere, so the oracle matches bitwise). */
  def aboveAvgOrders(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
    val tp = col("o_totalprice").cast(DecimalType(18, 2))
    Tables.orders(spark, d)
      .withColumn("s", sum(tp).over(w).cast(DecimalType(38, 2)))
      .withColumn("n", count(lit(1)).over(w))
      .filter(tp * col("n") > col("s"))
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Full outer join — daily purchase totals against daily error counts;
    * days that only appear on one side survive with nulls on the other
    * (the flavor left/semi/anti queries can't express). Keys coalesced
    * into one output day column. */
  def fullOuterJoin(spark: SparkSession, d: String): DataFrame = {
    def daily(et: String, out: String) =
      Tables.events(spark, d).filter(col("event_type") === et)
        .groupBy(date_trunc("day", col("ts")).as(s"day_$out"))
        .agg(count(lit(1)).as(s"n_$out"))
    daily("purchase", "p").join(daily("error", "e"),
        col("day_p") === col("day_e"), "full_outer")
      .select(coalesce(col("day_p"), col("day_e")).as("day"),
        col("n_p"), col("n_e"))
      .orderBy("day")
  }

  /** Deterministic hash sample: a reproducible ~5% sample via a fixed
    * multiplicative hash of the key — the same rows on any engine, any
    * run, any partitioning, which TABLESAMPLE/`df.sample` cannot promise.
    * Two Lehmer mix steps with the key pre-reduced mod 2³¹−1: each
    * product is at most (2³¹−2)·48271 ≈ 1.0e14, far inside a long, so
    * the arithmetic can never overflow (ANSI mode would throw, not
    * wrap) at ANY key scale — unlike a raw Knuth multiply, which leaves
    * long range once keys pass ~3.4e9. Two steps, not one: a single
    * multiply leaves keys below ~44k un-wrapped (k·48271 < 2³¹−1), so
    * the smallest keys would be selected wholesale instead of hashed. */
  def sampleDet(spark: SparkSession, d: String): DataFrame =
    Tables.orders(spark, d)
      .filter(graft.functions.DetMix.lehmerMix(col("o_orderkey")) < 107374182L)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")

  /** Stratified deterministic sample: per-segment sampling fractions
    * (20% for BUILDING, 5% elsewhere) via the overflow-safe Lehmer mix
    * of [[sampleDet]] applied twice — one step leaves keys below
    * ~44k un-wrapped (k·48271 < 2³¹−1), i.e. not mixed at all on a
    * small-key dimension; the second multiply wraps every key.
    * `df.stat.sampleBy` cannot promise the same rows across engines or
    * partitionings, this can. The per-row decision is pure
    * hash-vs-threshold: one codegen'd filter over the scan at any
    * scale. */
  def sampleStratified(spark: SparkSession, d: String): DataFrame = {
    val h = graft.functions.DetMix.lehmerMix(col("c_custkey"))
    val threshold = when(col("c_mktsegment") === "BUILDING", 429496729L)
      .otherwise(107374182L)
    Tables.customer(spark, d)
      .filter(h < threshold)
      .select("c_custkey", "c_mktsegment", "c_acctbal")
      .orderBy("c_custkey")
  }

  /** Calendar-part extraction surface: year/quarter/month/day/hour/
    * minute/second off the event timestamp — the scalar date functions a
    * dashboard slices by, in the portable subset both engines define
    * identically (no ISO-week / locale-dependent parts). */
  def timeParts(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d).select(
      col("event_id"),
      year(col("ts")).cast("long").as("y"),
      quarter(col("ts")).cast("long").as("q"),
      month(col("ts")).cast("long").as("mo"),
      dayofmonth(col("ts")).cast("long").as("dom"),
      hour(col("ts")).cast("long").as("h"),
      minute(col("ts")).cast("long").as("mi"),
      second(col("ts")).cast("long").as("s"))
      .orderBy("event_id")

  /** Collect-aggregation surface: the distinct event types a user
    * produced, as a sorted comma-joined string (sorting then joining is
    * what makes a collected set deterministic and engine-portable). */
  def userEventProfile(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .groupBy("user_id")
      .agg(concat_ws(",", sort_array(collect_set(col("event_type")))).as("types"),
           count(lit(1)).as("n_events"))
      .orderBy("user_id")

  /** The salted skew join ([[graft.operators.SkewJoin]]) as a
    * driver-checked query: events (big side, salted on the unique
    * event_id) joined to the customer dimension over 8 salt slots, then
    * aggregated per segment — semantically a plain inner join, which is
    * exactly what the oracle runs. */
  def skewJoinAgg(spark: SparkSession, d: String): DataFrame = {
    val dim = Tables.customer(spark, d)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    graft.operators.SkewJoin.saltedEquiJoin(
        Tables.events(spark, d), dim, "user_id", col("event_id"), salts = 8)
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("sum_value"))
      .orderBy("segment")
  }

  /** Heavy hitters per user bucket via the Misra–Gries sketch aggregate
    * ([[graft.functions.FreqItemsAgg]]): k=3 counters per group instead
    * of a full (bucket, event_type) group-by — the sketch shape that
    * replaces a cardinality-bound aggregation at 100 TB. Approximate ⇒
    * rows-only (estimates depend on merge order; the guarantee itself is
    * pinned in FreqItemsSpec). */
  def freqItems(spark: SparkSession, d: String): DataFrame = {
    Tables.events(spark, d)
      .groupBy((col("user_id") % 10).as("bucket"))
      .agg(FreqItemsAgg.column(col("event_type"), 3).as("m"))
      .select(col("bucket"), explode(col("m")).as(Seq("item", "est_count")))
      .orderBy("bucket", "item")
  }

  /** Sketch-candidates + exact-verify heavy hitters — the pattern that
    * makes the Misra–Gries sketch EXACTLY checkable: MG(k=7) guarantees
    * every item with true frequency > n/(k+1) survives the sketch, so
    * re-counting just the surviving candidates and filtering with the
    * exact cross-multiplied test `cnt·8 > n` returns precisely the
    * heavy-hitter set — same answer as a full group-by, but the first
    * pass shuffles k counters per bucket instead of every distinct item
    * (the LSH-then-verify shape, applied to frequency). Unlike
    * [[freqItems]] (rows-only, estimated counts), this one
    * hash-matches a plain SQL oracle. */
  def freqItemsVerified(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
      .select((col("user_id") % 10).as("bucket"), col("event_type"))
    val cand = ev.groupBy("bucket")
      .agg(FreqItemsAgg.column(col("event_type"), 7).as("m"))
      .select(col("bucket"), explode(map_keys(col("m"))).as("event_type"))
    val counts = ev.groupBy("bucket", "event_type").agg(count(lit(1)).as("cnt"))
    val totals = ev.groupBy("bucket").agg(count(lit(1)).as("n"))
    counts
      .join(cand, Seq("bucket", "event_type"), "left_semi")
      .join(totals, "bucket")
      .filter(col("cnt") * 8 > col("n"))
      .select("bucket", "event_type", "cnt")
      .orderBy("bucket", "event_type")
  }

  /** Bloom-pruned semi join ([[graft.operators.BloomPrune]]) as a
    * driver-checked query: lineitem rows kept only if their order is
    * urgent-priority. The Bloom of urgent order keys turns away
    * non-matching lines at the map side BEFORE any shuffle; the exact
    * semi join then runs on the survivors, so the result equals the
    * plain EXISTS the oracle runs — the filter moves work, never
    * answers. */
  def bloomSemiJoin(spark: SparkSession, d: String): DataFrame = {
    val urgent = Tables.orders(spark, d)
      .filter(col("o_orderpriority") === "1-URGENT")
    graft.operators.BloomPrune.prunedSemiJoin(
        Tables.lineitem(spark, d), "l_orderkey", urgent, "o_orderkey",
        expectedItems = 1000000L)
      .groupBy("l_returnflag")
      .agg(decSum(col("l_extendedprice")).as("sum_price"),
           count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** Bloom-pruned ANTI join ([[graft.operators.BloomPrune
    * .prunedAntiJoin]]) as a driver-checked query: customers that have
    * never placed an URGENT order, reported per market segment. Once
    * history outgrows the broadcast threshold the plain `left_anti`
    * sort-merge-shuffles the whole orders table; here a KB-scale Bloom
    * of the customer keys filters orders IN ITS SCAN TASKS, so only
    * the might-match sliver ever shuffles and the confirmed keys
    * broadcast back into the exact anti join (SCALE.md "The anti-join guard, measured" has
    * the curve: history shuffle rows flat in history size). Equals the
    * oracle's NOT EXISTS exactly: the Bloom only routes rows, never
    * answers. */
  def bloomAntiJoin(spark: SparkSession, d: String): DataFrame = {
    val customer = Tables.customer(spark, d)
    // size the Bloom from a cheap probe count (parquet-footer metadata
    // scan) instead of a pinned 100k: past SF ~0.7 the customer count
    // outgrows a constant and fpp degrades — the history pruning this
    // query demonstrates would silently weaken (ADVICE r8)
    val expected = math.max(1024L, customer.count())
    graft.operators.BloomPrune.prunedAntiJoin(
        customer, "c_custkey",
        Tables.orders(spark, d)
          .filter(col("o_orderpriority") === "1-URGENT"), "o_custkey",
        expectedItems = expected)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_idle"),
           decSum(col("c_acctbal")).as("idle_balance"))
      .orderBy("c_mktsegment")
  }

  /** Month-over-month revenue growth: aggregate to a monthly series,
    * then LAG + exact-decimal delta and a double growth ratio — the
    * time-series reporting shape layered on a grouped aggregate. */
  def monthlyGrowth(spark: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("month"))
    val monthly = Tables.orders(spark, d)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(decSum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
    monthly
      .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
      .withColumn("delta", col("revenue") - col("prev_revenue"))
      .withColumn("growth_pct",
        col("delta").cast("double") / col("prev_revenue").cast("double") * 100)
      .orderBy("month")
  }

  /** Per-customer RFM base aggregates, shared by the exact-quartile
    * query and the approx-boundary scale variant. */
  private def rfmBase(spark: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(spark, d)
    val maxDate = orders.agg(max(col("o_orderdate")).as("max_d"))
    // broadcast the 1-row aggregate: without the hint, pre-AQE planning
    // (no stats on an agg output) can pick CartesianProduct over the
    // full orders table — mirror of the hint on the approx variant
    orders.crossJoin(broadcast(maxDate))
      .groupBy(col("o_custkey"))
      .agg(
        max(col("o_orderdate")).as("last_order"),
        datediff(first(col("max_d")), max(col("o_orderdate"))).cast("long").as("recency_days"),
        count(lit(1)).as("frequency"),
        decSum(col("o_totalprice")).as("monetary"))
  }

  /** RFM segmentation: per customer, days since last order (vs the
    * corpus max date, so it's deterministic), order count, exact-decimal
    * spend, and NTILE quartiles of each — the classic customer-scoring
    * query (joins, window quartiles, decimal aggregates in one).
    *
    * Scale note: exact global NTILE is inherently a single-partition
    * window over one row per customer (the plan's only non-parallel
    * step — the heavy per-order aggregation underneath is fully
    * distributed). Beyond ~10^8 customers use [[customerRfmApprox]],
    * which replaces the window with broadcast sketch boundaries. */
  def customerRfm(spark: SparkSession, d: String): DataFrame = {
    val per = rfmBase(spark, d)
    def quartile(c: String, asc: Boolean) = ntile(4).over(
      Window.orderBy(if (asc) col(c).asc else col(c).desc, col("o_custkey"))).cast("long")
    per
      .withColumn("r_q", quartile("recency_days", asc = true))
      .withColumn("f_q", quartile("frequency", asc = false))
      .withColumn("m_q", quartile("monetary", asc = false))
      .select("o_custkey", "recency_days", "frequency", "monetary", "r_q", "f_q", "m_q")
      .orderBy("o_custkey")
  }

  /** The RFM scale path the exact query's scaladoc promises: quartile
    * BOUNDARIES from one `approx_percentile` aggregate (GK sketch,
    * mergeable, one row out), broadcast, and every customer bucketed by
    * comparison — no single-partition window anywhere, so the plan is
    * flat at any customer cardinality. Sketch-based boundaries are
    * merge-order-dependent ⇒ rows-only check; the spec pins the bucket
    * balance instead. */
  def customerRfmApprox(spark: SparkSession, d: String): DataFrame = {
    val per = rfmBase(spark, d)
    val bounds = per.agg(
      expr("approx_percentile(recency_days, array(0.25, 0.5, 0.75), 10000)").as("rb"),
      expr("approx_percentile(frequency, array(0.25, 0.5, 0.75), 10000)").as("fb"),
      expr("approx_percentile(monetary, array(0.25, 0.5, 0.75), 10000)").as("mb"))
    def ascBucket(c: String, b: String) = // smallest value → bucket 1
      (lit(1L) + (col(c) > expr(s"$b[0]")).cast("long")
        + (col(c) > expr(s"$b[1]")).cast("long")
        + (col(c) > expr(s"$b[2]")).cast("long"))
    def descBucket(c: String, b: String) = // largest value → bucket 1
      (lit(1L) + (col(c) <= expr(s"$b[2]")).cast("long")
        + (col(c) <= expr(s"$b[1]")).cast("long")
        + (col(c) <= expr(s"$b[0]")).cast("long"))
    per.crossJoin(broadcast(bounds))
      .withColumn("r_q", ascBucket("recency_days", "rb"))
      .withColumn("f_q", descBucket("frequency", "fb"))
      .withColumn("m_q", descBucket("monetary", "mb"))
      .select("o_custkey", "recency_days", "frequency", "monetary", "r_q", "f_q", "m_q")
      .orderBy("o_custkey")
  }

  /** Driver-visible gate for [[customerRfmApprox]] (r7, closing the
    * sketch-gate program): the two NewQueryGoldensSpec laws as a
    * hash-checked row. Gated on the MONETARY dimension — near-continuous
    * decimal sums, so sketch-vs-NTILE divergence is a real accuracy
    * signal; recency/frequency are heavily tied integers where NTILE's
    * rank-split of a tie run legitimately differs from value-threshold
    * bucketing (documented, not gated). `m_meets_floor`: ≥ 0.9 of
    * customers land in the same monetary quartile as the exact NTILE
    * (all-integer compare). `m_balanced`: every approx bucket holds
    * 15–35% of customers (tests the boundaries themselves, not just
    * agreement). `n_customers` is data-derived for the oracle. */
  def customerRfmApproxVerified(spark: SparkSession, d: String): DataFrame = Stage(spark) { st =>
    // feeds both the agreement join and the balance agg
    val a = st.checkpoint(customerRfmApprox(spark, d).select(col("o_custkey"), col("m_q").as("ma")))
    val e = customerRfm(spark, d).select(col("o_custkey"), col("m_q").as("me"))
    val agree = a.join(e, "o_custkey")
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("ma") === col("me"), 1L).otherwise(0L)).as("n_agree"))
    val balance = a.groupBy("ma").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_buckets"),
        min(col("c")).as("min_c"), max(col("c")).as("max_c"))
    agree.crossJoin(balance) // two 1-row frames
      .select(col("n_customers"), lit(0.9).as("floor"),
        (col("n_agree") * 10L >= col("n_customers") * 9L).as("m_meets_floor"),
        (col("n_buckets") === 4L &&
          col("min_c") * 100L > col("n_customers") * 15L &&
          col("max_c") * 100L < col("n_customers") * 35L).as("m_balanced"))
  }

  /** Column profiling — the data-quality pass an ingest pipeline runs
    * per table: row count, null count, distinct count, min/max per
    * profiled column, as one narrow aggregate per column union'd into a
    * tall report. Min/max are normalized per type (decimal scale for
    * doubles, fixed format for timestamps) BEFORE the string cast, so
    * both engines render identical bytes. */
  def profileOrders(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Column
    val ident = (x: Column) => x
    val cols: Seq[(String, Column => Column)] = Seq(
      ("o_custkey", ident),
      ("o_orderstatus", ident),
      ("o_totalprice", _.cast(DecimalType(18, 2))),
      ("o_orderdate", date_format(_, "yyyy-MM-dd HH:mm:ss")))
    // One branch per profiled column, unioned into the tall report.
    // NOT one wide aggregate: multiple COUNT(DISTINCT)s in one agg plan
    // a single Expand that replays every input row once per distinct
    // column (a ~5× scan multiplier over ALL profiled columns at once).
    // Here each branch scans only its own column (pruned to the parquet
    // reader), counts distinct as the classic two-phase group-by —
    // partial agg per value, then one row per distinct value into a
    // 1-row final agg — and the branches run as independent stages of
    // one job. n_rows = sum of the per-value counts, so no shared
    // full-table branch is needed.
    val perCol = cols.map { case (c, norm) =>
      Tables.orders(spark, d)
        .groupBy(col(c).as("v"))
        .agg(count(lit(1)).as("cnt"))
        .agg(
          sum(col("cnt")).as("n_rows"),
          coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L)).as("n_null"),
          count(when(col("v").isNotNull, lit(1))).as("n_distinct"),
          norm(min(col("v"))).cast("string").as("min_val"),
          norm(max(col("v"))).cast("string").as("max_val"))
        .select(lit(c).as("column_name"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_val"), col("max_val"))
    }
    perCol.reduce(_ union _).orderBy("column_name")
  }

  /** Dense ordinal ids over the documents table (order: source, doc_id)
    * via [[graft.operators.AssignIds.withContiguousIdsGrouped]] — the
    * distributed global row_number (keyed pin-free form: within-source
    * keyed ranks + a broadcast running offset over the #sources-sized
    * totals). The oracle is the naive `ROW_NUMBER() OVER (ORDER BY
    * ...)`, which DuckDB can afford at sf0.01; the Spark side must
    * produce the identical ranks without ever collapsing to one
    * partition (PlanShapeSpec pins the plan shape). */
  def assignIds(spark: SparkSession, d: String): DataFrame =
    graft.operators.AssignIds
      .withContiguousIdsGrouped(Tables.documents(spark, d),
        Seq("source"), col("doc_id"), col("doc_id"), groupBound = 64)
      .select(col("doc_id"), col("source"), col("new_id"))
      .orderBy("new_id")

  /** Entity resolution / fuzzy join: every customer-name pair within
    * edit distance 1, found WITHOUT the all-pairs scan via FastSS
    * deletion-neighborhood blocking (Bocek et al. 2007, "Fast Similarity
    * Search in Large Dictionaries"): two strings are within ED 1 only
    * if their {self + every 1-deletion variant} sets intersect, so
    * candidates come from an equi-join on the hashed variant — (len+1)
    * 8-byte keys per record on the shuffle — and the exact
    * `levenshtein` check runs only on candidates (shared variants
    * guarantee ED ≤ 2, so the verify is load-bearing, same
    * candidates-then-verify contract as the LSH dedup family). The
    * naive quadratic form IS the oracle. */
  def fuzzyJoin(spark: SparkSession, d: String): DataFrame =
    fuzzyJoinOf(Tables.customer(spark, d)
      .select(col("c_custkey").as("id"), col("c_name").as("name")))

  /** Same over any `(id, name)` frame. The variant self-join and the
    * candidate distinct carry ONLY (id, 8-byte variant hash) — names
    * would widen the heaviest shuffle ~5× for nothing — and the two
    * name lookups re-attach by id on the (small) deduped candidate
    * set, where AQE broadcasts the name table at this scale. */
  /** The FastSS blocking key stage: each name's {self + 1-deletion
    * variants} hashed to 8-byte keys — (len+1) rows per record. Exposed
    * for stage profiling (the r6 fuzzy-join profile, SCALE.md §Round-6)
    * so its timings measure the very expression the query runs. */
  private[graft] def fuzzyVariantsOf(names: DataFrame): DataFrame =
    names.select(col("id"),
      explode(expr(
        "array_union(array(name), transform(sequence(1, length(name)), " +
        "i -> concat(substring(name, 1, i-1), substring(name, i+1, length(name)))))"))
        .as("v"))
      .select(col("id"), xxhash64(col("v")).as("vh"))

  /** Candidate id pairs from colliding variant hashes — the heaviest
    * shuffle, ids + 8-byte keys only. */
  private[graft] def fuzzyCandidatesOf(names: DataFrame): DataFrame = Stage(names.sparkSession) { st =>
    // r17 note: the ivfCandidatesAmong ids-only-repartition layout rule
    // was A/B'd here and REJECTED — pre-partitioning the variants by ID
    // made the pair distinct partition-local but AQE coalesced the
    // skinny exchange to ~2 partitions and the CPU-heavy collision
    // emission + levenshtein verify ran nearly serial. r18 keeps that
    // lesson and removes the waste differently: the variant frame was
    // COMPUTED TWICE (once per self-join side) and exchanged twice by
    // vh; keyed by vh with a PINNED partition count (AQE cannot coalesce
    // it to the serial layout the r17 A/B rejected), the self-join runs
    // exchange-free AND sort-free over N-way partitions.
    val variants = st.byKeys(fuzzyVariantsOf(names), "vh")
    variants.select(col("id").as("id_a"), col("vh"))
      .join(variants.select(col("id").as("id_b"), col("vh")), Seq("vh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  def fuzzyJoinOf(names: DataFrame): DataFrame = {
    val cand = fuzzyCandidatesOf(names)
    // BOUNDED levenshtein (r18, guide §1.2 per-task work): the verify
    // only ever needs "distance ≤ 1", and levenshtein(a, b, 1) runs the
    // banded O(threshold·len) DP with a length-difference early exit
    // instead of the full O(len²) table — returning -1 past the bound
    // and the EXACT distance inside it, so the kept rows and their
    // `dist` values are bit-identical to the unbounded form the DuckDB
    // oracle still runs.
    cand
      .join(names.select(col("id").as("id_a"), col("name").as("name_a")), "id_a")
      .join(names.select(col("id").as("id_b"), col("name").as("name_b")), "id_b")
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), 1).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"), col("dist"))
      .orderBy("id_a", "id_b")
  }

  /** PageRank iterations as the engine runs them: fixed count, each
    * round one `edges ⋈ ranks` equi-join + one map-side-combinable
    * contribution sum. Shared with the oracle builder so both engines
    * execute the same number of rounds. */
  private[graft] val PagerankIters = 5
  private[graft] val PagerankScale = 1000000000000L // fixed-point 1e12

  /** PageRank over the product co-occurrence graph (parts appearing in
    * the same order, undirected) — the graph-centrality signal next to
    * the dedup family's connected components. Power iteration with
    * damping 0.85, but in FIXED-POINT INTEGER arithmetic: ranks are
    * BIGINTs scaled by 1e12, per-edge contribution is `rank div deg`
    * (integer division), and the damped update is
    * `(15·base + 85·Σcontrib) div 100` — every operation exact and
    * identical in both engines, so even 5 chained iterations hash-match
    * (double-valued PageRank never could: parallel sum order drifts
    * ulps, and 5 rounds compound them). Mass lost to floor division is
    * the documented price of determinism; ordering quality is
    * unaffected at 1e12 scale.
    *
    * Scale shape: the edge list ships (src, dst) once; each round is
    * one equi-join of edges against the O(nodes) rank frame + one
    * grouped sum (partial agg on dst), `localCheckpoint` truncating
    * lineage per round — the same round structure as
    * [[graft.dedup.Dedup.clusterLabels]]. The only driver value is the
    * node count (one long). */
  def pagerank(spark: SparkSession, d: String): DataFrame = {
    // no checkpoint on the half frame here: pagerankOf folds the edge
    // list straight into its (checkpointed) adjacency table, so
    // materializing the 2.4M-row intermediate would be a second full
    // pass for nothing
    val half = coOccurHalf(spark, d)
    val pairs = half
      .union(half.select(col("pb").as("pa"), col("pa").as("pb")))
    pagerankOf(pairs).orderBy(col("rank").desc, col("node")).limit(100)
  }

  /** The `pa < pb` half of the product co-occurrence edge set (parts
    * appearing in the same order) — shared by [[pagerank]] (which
    * mirrors it into the symmetric frame) and [[graphTriangles]]
    * (which re-orients it by degree).
    *
    * Edge build without the self-join: one groupBy collects each
    * order's (distinct, sorted) part set, a codegen'd HOF emits the
    * pa < pb combinations in-array, and only that HALF of the
    * symmetric edge set pays the distinct shuffle — the mirror half is
    * a free projection union'd on afterwards. vs the join+distinct
    * formulation this trades two 600k-row join shuffles for one
    * groupBy and halves the distinct's input (measured ~1.7× on the
    * build stage at sf0.1); the edge SET is identical, so the oracles'
    * join-based SQL still hash-matches. */
  private[graft] def coOccurHalf(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy("ok")
      .agg(sort_array(collect_set(col("pk"))).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps)), y -> struct(x AS pa, y AS pb))))"""
          .stripMargin)).as("e"))
      .select(col("e.pa").as("pa"), col("e.pb").as("pb"))
      .distinct()

  /** Per-node triangle counts over the product co-occurrence graph —
    * the local-clustering signal next to [[pagerank]]'s centrality and
    * the dedup family's connected components. All-integer (counting
    * only), so the top-100 result hash-matches the oracle exactly.
    *
    * Scale shape — the "curse of the last reducer" cure (Suri &
    * Vassilvitskii, WWW'11): every undirected edge is ORIENTED from its
    * (degree, id)-smaller endpoint to its larger one, so a hub of
    * degree d — naively C(d,2) candidate pairs, the reducer that never
    * finishes on a power-law graph — is capped at OUT-degree O(√m) on
    * ANY graph, and every per-edge intersection in [[trianglesOf]] is
    * O(√m) work no matter how skewed the part popularity gets. The
    * triangle SET is unchanged — each triangle is counted exactly
    * once, at its smallest-(degree, id) corner's base edge — so the
    * naive a<b<c three-way self-join the DuckDB oracle runs yields the
    * identical per-node counts. */
  def graphTriangles(spark: SparkSession, d: String): DataFrame = Stage(spark) { st =>
    // checkpoint the half frame ONCE (r18): trianglesOf consumes it in
    // two separate ACTIONS (the degree checkpoint, then the oriented
    // adjacency build) and Spark's exchange reuse does not cross jobs,
    // so the un-materialized frame re-ran the whole corpus-side
    // edge build per action (measured: two ~1.8 core-s scan+groupBy+
    // explode chains in the stage profile). One write of the edge
    // sliver replaces a corpus re-scan — at 100 TB the same trade,
    // only bigger. kcore/pagerank/communities already materialize it
    // exactly once via their own checkpoint; they keep their plans.
    trianglesOf(st.checkpoint(coOccurHalf(spark, d)))
      .orderBy(col("triangles").desc, col("node")).limit(100)
  }

  /** The orientation + adjacency-intersection pipeline over a `pa < pb`
    * half frame. Exposed separately so the unit spec can feed
    * constructed graphs (K4, paths, stars) with hand-countable
    * triangles.
    *
    * Shape — edge iterator, not wedge materialization: under the
    * (degree, id) orientation a triangle a→b, a→c, b→c is found exactly
    * once, as `c ∈ out(a) ∩ out(b)` probed on its base edge (a, b). The
    * measured reason to prefer this on a dense graph: at sf0.1 the
    * co-occurrence graph has 1.2M edges but 41M wedges for only 5.65M
    * triangles, so any wedge-materializing form (self-join OR in-array
    * generation) pays a 41M-row shuffle join to discard 87% of it; the
    * intersection form never materializes a wedge — per-edge
    * `array_intersect` emits just the closers. Only two shuffles
    * remain: the groupBy building the out-adjacency table (one row per
    * node, list length ≤ O(√m) by the orientation, so no task blows up)
    * and the final per-node partial-count agg. Per-node counts come
    * from per-edge contributions — a and b each earn |cs|, every closer
    * earns 1 — which explodes triangles+2·closing-edges rows instead of
    * 3·triangles.
    *
    * The adjacency table is broadcast into the probe: it is node-sized
    * in ROWS but carries the whole oriented edge mass in bytes (~15 MB
    * here — the node set is the parts catalog, not the corpus). At a
    * scale where that mass outgrows broadcast, drop the hint and let
    * the same plan shuffle-join on `b` — the join carries each edge's
    * `na` list, Σ out-deg² = 2·wedges entries, the Suri–Vassilvitskii
    * bound — while this orientation keeps it balanced. */
  private[graft] def trianglesOf(half: DataFrame,
      bcastCap: Long = GraphBroadcastRowCap): DataFrame = Stage(half.sparkSession) { st =>
    // degree over the UNDIRECTED graph: each half edge counts for both
    // endpoints; O(nodes) rows. "Model-state-sized" stops being true on
    // a big enough graph — the r8 256× sweep (306M edges, ~50M nodes)
    // blew spark.driver.maxResultSize materializing these broadcasts
    // (a broadcast collects through driver task results) — so the
    // hints are CONDITIONAL on measured sizes: one tiny aggregate
    // yields node and edge counts, and past the caps the same plan
    // shuffle-joins on the node key (linear, no driver collection).
    // reused: size probe, two orient joins
    val deg = st.checkpoint(half.select(col("pa").as("n"))
      .union(half.select(col("pb").as("n")))
      .groupBy("n").agg(count(lit(1)).as("dg")))
    // coalesce: on an EMPTY edge frame sum aggregates to null and a
    // bare getLong would NPE — an empty graph has zero edges, not none
    val sizes = deg.agg(count(lit(1)), coalesce(sum(col("dg")), lit(0L))).head()
    val nNodes = sizes.getLong(0)
    val nEdges = sizes.getLong(1) / 2
    def ifNodes(df: DataFrame): DataFrame =
      if (nNodes <= bcastCap) broadcast(df) else df
    // the adjacency frame's payload is the EDGE list (one array slot
    // per oriented edge), so its broadcast gates on the edge count
    def ifEdges(df: DataFrame): DataFrame =
      if (nEdges <= bcastCap) broadcast(df) else df
    // orient by (degree, id): ties broken by id keep the relation total
    val oriented = half
      .join(ifNodes(deg.select(col("n").as("pa"), col("dg").as("da"))), "pa")
      .join(ifNodes(deg.select(col("n").as("pb"), col("dg").as("db"))), "pb")
      .select(when(struct(col("da"), col("pa")) < struct(col("db"), col("pb")),
          struct(col("pa").as("src"), col("pb").as("dst")))
        .otherwise(struct(col("pb").as("src"), col("pa").as("dst")))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    // probe side AND (size-gated) broadcast side
    val adj = st.checkpoint(oriented.groupBy("src")
      .agg(sort_array(collect_list(col("dst"))).as("nd")))
    val tri = adj
      .select(col("src").as("a"), col("nd").as("na"),
        explode(col("nd")).as("b"))
      .join(ifEdges(adj.select(col("src").as("b"), col("nd").as("nb"))),
        Seq("b"))
      .select(col("a"), col("b"),
        array_intersect(col("na"), col("nb")).as("cs"))
      .filter(size(col("cs")) > 0)
    tri.select(explode(concat(
        array(
          struct(col("a").as("node"), size(col("cs")).cast("long").as("tc")),
          struct(col("b").as("node"), size(col("cs")).cast("long").as("tc"))),
        expr("transform(cs, c -> struct(c AS node, CAST(1 AS BIGINT) AS tc))")))
        .as("t"))
      .select(col("t.node").as("node"), col("t.tc").as("tc"))
      .groupBy("node").agg(sum("tc").as("triangles"))
  }

  /** Degree moments + Newman assortativity of the co-occurrence graph —
    * the one-row structural profile that tells a pipeline whether its
    * graph ops face a power-law hub problem (the very skew
    * [[graphTriangles]]' orientation and the skew-join cures exist
    * for). All moments are EXACT integers; the assortativity
    * coefficient is the house rational form — for an undirected graph
    * with each edge once and endpoint degrees (j, k),
    * `r = (4m·Σjk − (Σ(j+k))²) / (2m·Σ(j²+k²) − (Σ(j+k))²)` — integer
    * numerator and denominator, ONE double division (NULL on the
    * zero-variance regular graph, where r is undefined).
    *
    * Scale shape: the degree frame is O(nodes) model state broadcast
    * into the half-edge join; the moment aggregate is a map-side
    * partial reduce whose shuffle carries ONE row of longs. Nothing
    * here collects data. Int64 headroom: Σjk ≤ m·dmax² — at 1e9 edges
    * and dmax 1e4 that is 1e17, inside int64; corpora past that scale
    * the moments to DECIMAL(38,0) before the products. */
  def graphDegreeStats(spark: SparkSession, d: String): DataFrame = Stage(spark) { st =>
    // same two-action double-build as graphTriangles (deg checkpoint +
    // moment pass) — checkpoint once (r18)
    degreeStatsOf(st.checkpoint(coOccurHalf(spark, d)))
  }

  private[graft] def degreeStatsOf(half: DataFrame,
      bcastCap: Long = GraphBroadcastRowCap): DataFrame = Stage(half.sparkSession) { st =>
    // reused: size probe + two orient joins
    val deg = st.checkpoint(half.select(col("pa").as("n"))
      .union(half.select(col("pb").as("n")))
      .groupBy("n").agg(count(lit(1)).as("dg")))
    // size-gated hint, same reason as trianglesOf: past the cap the
    // node frame no longer survives driver-collected broadcast
    // materialization, and the shuffle join is the right plan anyway
    val nNodes = deg.count()
    def hinted(df: DataFrame): DataFrame =
      if (nNodes <= bcastCap) broadcast(df) else df
    val m = half
      .join(hinted(deg.select(col("n").as("pa"), col("dg").as("da"))), "pa")
      .join(hinted(deg.select(col("n").as("pb"), col("dg").as("db"))), "pb")
      .agg(count(lit(1)).as("edges"),
        sum(col("da") * col("db")).as("s_jk"),
        sum(col("da") + col("db")).as("s_sum"),
        sum(col("da") * col("da") + col("db") * col("db")).as("s_sq"))
    val nd = deg.agg(count(lit(1)).as("nodes"), max(col("dg")).as("max_degree"))
    // two 1-row frames; the cross join is a no-op physically.
    // The rational combination runs in Decimal(38,0), NOT long:
    // 4·edges·s_jk overflows int64 at ~16× the bench graph (measured —
    // ScaleR7's mult=16 rep died on ARITHMETIC_OVERFLOW here while the
    // moment SUMS were still comfortable), and 38 exact digits cover
    // any corpus this engine will meet. One-row arithmetic, so the
    // decimal path costs nothing; the double conversion at the end
    // rounds the same exact integer both engines hold.
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    nd.crossJoin(m)
      .withColumn("num", lit(4L).cast(d38) * col("edges") * col("s_jk")
        - col("s_sum").cast(d38) * col("s_sum"))
      .withColumn("den", lit(2L).cast(d38) * col("edges") * col("s_sq")
        - col("s_sum").cast(d38) * col("s_sum"))
      .select(col("nodes"), col("edges"), col("max_degree"),
        col("s_jk"), col("s_sum"), col("s_sq"),
        when(col("den") === lit(0), lit(null).cast("double"))
          .otherwise(col("num").cast("double") / col("den").cast("double"))
          .as("assortativity"))
  }

  /** Peeling parameters shared with the unrolled oracle: the k-core
    * threshold and the round cap. k = 80 sits between the graph's
    * median degree (~115) and its collapse point (k ≥ 90 unravels the
    * whole graph — measured via the oracle loop at both sf0.01 and
    * sf0.1, where peeling converges in 5 rounds); 8 rounds is the
    * declared query semantics, with convergence-margin 3 at both
    * tested SFs. */
  private[graft] val KcoreK = 80
  private[graft] val KcoreRounds = 8

  /** The k-core of the product co-occurrence graph — the "dense
    * backbone" extraction that complements [[pagerank]] (global
    * centrality), [[graphTriangles]] (local clustering) and
    * [[graphDegreeStats]] (structure profile): iteratively peel nodes
    * of degree < k until every survivor has ≥ k neighbors INSIDE the
    * surviving subgraph. All-integer (degrees only), so the result
    * hash-matches the oracle's unrolled-CTE peel exactly. */
  def graphKcore(spark: SparkSession, d: String): DataFrame =
    kcoreOf(coOccurHalf(spark, d), KcoreK, KcoreRounds).orderBy("node")

  /** The peel loop over a `pa < pb` half frame — exposed so the unit
    * spec can feed constructed cascades (pendant chains that peel one
    * node per round).
    *
    * Shape: DELTA peeling, not per-round subgraph recomputation. The
    * edge frame is checkpointed ONCE and never rewritten; the degree
    * frame is the only evolving state, and each synchronous round
    * touches work proportional to the FRONTIER — the nodes that just
    * fell below k — not the graph: the broadcast dead-set filters the
    * static edge frame for incident edges (codegen'd hash probe, no
    * shuffle of edges), their far endpoints aggregate into decrements,
    * and the node-sized degree frame applies them. After the first
    * round a cascade's frontier is a sliver, so rounds cost almost
    * nothing — the textbook delta-iteration win over re-inducing the
    * subgraph (which pays an edge-frame materialization per round; at
    * 100 TB, 8 full rewrites of the edge set). Each static-frame edge
    * decrements its survivor endpoint exactly once — in the round its
    * OTHER endpoint dies — so the running degree equals the induced
    * subgraph degree at every round boundary. The frontier can
    * outgrow broadcast (in practice only round 1 of a sparse graph —
    * the r8 256× sweep, 306M edges, actually hit it: ~77M dead nodes
    * in round 1 blew `spark.driver.maxResultSize`, since a broadcast
    * materializes through driver-collected task results), so the
    * hint is now CONDITIONAL on the frontier count the loop already
    * measures: above [[GraphBroadcastRowCap]] the same plan
    * shuffle-joins on the node key — linear, no driver collection —
    * and later sliver-sized rounds regain the broadcast.
    *
    * The loop exits early when the frontier is empty (the fixpoint —
    * no degree changed, so every later round is the identity) and is
    * capped at `rounds`, matching the oracle's unrolled semantics even
    * on inputs where the cascade runs deeper; the `dg > 0` output
    * filter mirrors the oracle's census-of-surviving-edges form, which
    * cannot see a capped survivor whose every neighbor died in the
    * final round. */
  /** Row cap above which the graph operators stop hinting broadcast
    * for their node/frontier/adjacency frames ([[trianglesOf]],
    * [[degreeStatsOf]], [[kcoreOf]]): 16M rows of longs ≈ a few
    * hundred MB of driver-collected task results — under
    * maxResultSize, far over any bench-scale frame, and crossed for
    * real by the r8 256× sweep (306M edges),
    * where the unconditional hints aborted the job. Calibrated by
    * measurement, not guesswork: 12.8M-node broadcasts (the 64×
    * sweep) worked and were fast, ~51M-node ones (256×) aborted —
    * 16M sits inside the proven band with margin. */
  private[graft] val GraphBroadcastRowCap = 16000000L

  private[graft] def kcoreOf(half: DataFrame, k: Int, rounds: Int,
      bcastCap: Long = GraphBroadcastRowCap): DataFrame =
    Fixpoint(half.sparkSession, "kcore") { (st, fx) =>
      val edges = st.checkpoint(half.select(col("pa"), col("pb")))
      var deg = fx.checkpoint(edges.select(col("pa").as("n"))
        .union(edges.select(col("pb").as("n")))
        .groupBy("n").agg(count(lit(1)).as("dg")), eager = true)
      fx.loop(rounds) { _ =>
        // the count right below materializes the frontier (and the
        // previous round's `deg`); the two decr branches and the anti
        // join read it in the round's second action
        val dead = fx.checkpoint(deg.filter(col("dg") < lit(k)).select("n"))
        val nDead = dead.count()
        def hinted(df: DataFrame): DataFrame =
          if (nDead <= bcastCap) broadcast(df) else df
        if (nDead > 0) {
          val decr = edges
            .join(hinted(dead.select(col("n").as("pa"))), "pa")
            .select(col("pb").as("n"))
            .union(edges
              .join(hinted(dead.select(col("n").as("pb"))), "pb")
              .select(col("pa").as("n")))
            .groupBy("n").agg(count(lit(1)).as("dec"))
          // the next round's frontier count (or the caller's terminal
          // action on the last round) materializes it
          deg = fx.checkpoint(deg
            .join(hinted(dead), Seq("n"), "left_anti")
            .join(decr, Seq("n"), "left_outer")
            .select(col("n"),
              (col("dg") - coalesce(col("dec"), lit(0L))).as("dg")))
        }
        nDead == 0
      }
      deg.filter(col("dg") > 0)
        .select(col("n").as("node"), col("dg").as("core_degree"))
    }._1

  /** Synchronous label-propagation rounds shared with the unrolled
    * oracle. 4 is the declared query semantics (not a convergence
    * claim — synchronous LPA can oscillate on bipartite structure,
    * which is exactly why the round count is part of the contract;
    * both engines run the identical 4 rounds, oscillating or not). */
  private[graft] val LpaRounds = 4

  /** Community structure of the product co-occurrence graph via
    * synchronous label propagation (Raghavan et al. 2007) — the
    * fourth lens beside [[pagerank]] (centrality), [[graphTriangles]]
    * (local clustering), [[graphKcore]] (dense backbone): which
    * products CLUSTER. Each round every node adopts the most frequent
    * label among its neighbors, ties to the smallest label —
    * all-integer (labels are node ids, votes are counts), so 4 rounds
    * hash-match the oracle's unrolled CTE chain exactly; a
    * float-scored variant never could. */
  def graphCommunities(spark: SparkSession, d: String): DataFrame =
    lpaOf(coOccurHalf(spark, d)).orderBy("node")

  /** The vote loop over a `pa < pb` half frame — exposed so the unit
    * spec can feed constructed clique/bridge graphs.
    *
    * Shape: the edge frame symmetrizes (mirror half is a free
    * projection) and checkpoints ONCE; the only evolving state is the
    * O(nodes) label frame. Per round: ONE broadcast hash join tags
    * each static edge's far endpoint with its current label (edges
    * never shuffle), one map-side-combinable (node, label) vote
    * count, and one node-keyed min-struct argmax ((-votes, label), so
    * count desc / label asc without a window).
    *
    * The load-bearing detail is WHERE the edge frame's one shuffle
    * happens: when the frame materializes, not per round. The frame
    * is hash-partitioned on the voting node `a` and PERSISTED — not
    * localCheckpoint'd: `LogicalRDD` reports no outputPartitioning,
    * so a checkpoint would hide the layout and EnsureRequirements
    * would re-shuffle every round, while `InMemoryRelation` carries
    * the cached plan's partitioning through. `HashPartitioning(a)`
    * satisfies the clustered distribution of BOTH round aggregations
    * (same-`a` rows share a partition, so same-`(a, label)` rows do
    * too), so every vote round runs as one partition-local stage with
    * ZERO exchanges. The naive form pays two shuffles of the
    * O(edges) vote stream per round — and round 1's votes don't
    * combine map-side at all (every label is distinct), so that's 8
    * full-width exchanges at 4 rounds: measured 11.4 s naive vs
    * 4.0 s solo at sf0.1 (what remains is mostly the shared
    * [[coOccurHalf]] edge build, the same floor [[pagerank]] pays).
    * Past [[GraphBroadcastRowCap]] nodes the hint drops AUTOMATICALLY
    * (the 256× broadcast-cliff guard): a second edge copy partitioned
    * by the join key makes the label join partition-local, so each
    * round exchanges the O(nodes) labels and the combined vote
    * stream, never the edges. */
  private[graft] def lpaOf(half: DataFrame,
      rounds: Int = LpaRounds,
      bcastCap: Long = GraphBroadcastRowCap): DataFrame =
    Fixpoint(half.sparkSession, "lpa") { (st, fx) =>
      // keyed by `a` (r18): both vote aggregations stay partition-local
      // (zero exchange, the LpaSpec pin). The r17 columnar cache kept
      // the layout too, but its decode measured ~2× the whole round
      // cost at sf0.1 (graph_communities exec 56.6 core-s vs 29.5).
      // Sorted by the PROBE key, not the partitioning key: each round's
      // broadcast-hash probe then walks the label map in near-sorted
      // order instead of randomly. Once |V| outgrows cache that's the
      // round bottleneck — ScaleR8's A/B reads 33% off every vote round
      // at 16× and 64× the bench graph (checksum-identical labels), for
      // one partition-local sort paid once at materialize.
      val edges = st.byKeys(
          half.select(col("pa").as("a"), col("pb").as("b"))
            .union(half.select(col("pb").as("a"), col("pa").as("b"))),
          Seq("a"), sortBy = Seq("b"))
      var labels = fx.checkpoint(edges.select(col("a").as("node")).distinct()
        .select(col("node"), col("node").as("label")), eager = true)
      // the broadcast-cliff guard (see GraphBroadcastRowCap): past the
      // cap the per-round label join runs partition-local against a
      // SECOND edge copy partitioned by the join key `b` — per round the
      // exchanges are then the O(nodes) label frame plus the map-side-
      // combined vote stream, never the edges; under it (every measured
      // scale through 256× = 5.12M labels) the zero-exchange broadcast
      // form is byte-identical to before
      val bcast = labels.count() <= bcastCap
      val edgesJoin =
        if (bcast) edges else st.stage(edges.repartition(col("b")))
      if (!bcast) edgesJoin.count()
      fx.loop(rounds) { _ =>
        labels = fx.checkpoint(lpaRound(edgesJoin, labels, bcast), eager = true)
        false
      }
      // community sizes run on the final O(nodes) label frame
      sizesOf(labels, bcast)
    }._1

  /** One synchronous vote round — exposed so the unit spec can pin
    * the zero-exchange plan property over a cached `a`-partitioned
    * edge frame. */
  private[graft] def lpaRound(edges: DataFrame,
      labels: DataFrame, bcast: Boolean = true): DataFrame = {
    val lab = labels.select(col("node").as("b"), col("label"))
    edges
      .join(if (bcast) broadcast(lab) else lab, "b")
      .groupBy(col("a"), col("label"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("a").as("node"))
      .agg(min(struct((-col("c")).as("nv"), col("label").as("l")))
        .as("m"))
      .select(col("node"), col("m.l").as("label"))
  }

  private def sizesOf(labels: DataFrame, bcast: Boolean = true): DataFrame = {
    val sz = labels.groupBy(col("label")).agg(count(lit(1)).as("csize"))
    labels
      .join(if (bcast) broadcast(sz) else sz, "label")
      .select(col("node"), col("label").as("community"), col("csize"))
  }

  /** The iteration loop over a symmetric `(pa, pb)` edge frame. The
    * out-degree is folded into the edge list ONCE before the loop (an
    * adjacency table with `d` on every edge costs 8 bytes/edge and
    * saves one join per round — 5 joins for the default iteration
    * count; the per-round plan is then exactly edges ⋈ ranks + one
    * partial-agg sum).
    *
    * SYMMETRIC GRAPHS ONLY: each round rebuilds the rank frame from the
    * contribution groupBy, so a node that receives no contribution
    * vanishes. On a symmetric edge frame every out-node is also an
    * in-node and nothing is lost; a DIRECTED edge list would silently
    * drop dangling-source nodes mid-iteration. Callers with directed
    * graphs must symmetrize first (or keep a rank outer-join per round,
    * which this deliberately avoids — one more O(nodes) join × iters). */
  private[graft] def pagerankOf(pairs: DataFrame,
      iters: Int = PagerankIters,
      bcastCap: Long = GraphBroadcastRowCap): DataFrame =
    Fixpoint(pairs.sparkSession, "pagerank") { (st, fx) =>
      // Adjacency-array form: the symmetric edge list folds into one row
      // per node — (node, out-neighbor array, degree = array size). Each
      // round then joins the broadcast rank frame against O(nodes) array
      // rows and re-expands contributions with a codegen'd explode,
      // instead of re-scanning and re-joining the O(edges) flat frame;
      // the degree "join" of the old shape disappears into size(nbrs).
      // Same integer contributions, same exact sums — hash-identical.
      // (AQE coalesces this shuffle to ~12 partitions at sf0.1 — measured
      // A/B shows that parallelism is sufficient for the loop's explode
      // and an explicit-N pin only adds exchange cost, unlike the
      // byte-tiny-but-CPU-heavy Multimodal id frames where pinning wins)
      val adj = st.checkpoint(pairs.groupBy(col("pa"))
        .agg(collect_list(col("pb")).as("nbrs"))
        .select(col("pa"), col("nbrs"),
          size(col("nbrs")).cast("long").as("d")))
      val n = adj.count()
      // empty graph: no nodes, no ranks — and no 1e12/0 below
      if (n == 0) adj.sparkSession.emptyDataFrame
        .withColumn("node", lit(0L)).withColumn("rank", lit(0L)).limit(0)
      else {
        val base = PagerankScale / n
        var rank = adj.select(col("pa").as("node"), lit(base).as("rank"))
        // rank is O(nodes) and localCheckpoint hides its (small) size from
        // the planner, which would otherwise shuffle the adjacency table
        // every round — broadcast it explicitly, GUARDED by the measured
        // node count (the 256× broadcast-cliff lesson): past the cap the
        // adjacency table hash-partitions by pa ONCE and each round
        // shuffles only the O(nodes) rank side into it.
        val bcast = n <= bcastCap
        val adjLoop = if (bcast) adj else st.stage(adj.repartition(col("pa")))
        if (!bcast) adjLoop.count()
        fx.loop(iters) { _ =>
          // the next round's broadcast build (or, on the last round, the
          // caller's terminal action) materializes the O(nodes) rank frame
          rank = fx.checkpoint(adjLoop
            .join(if (bcast) broadcast(rank) else rank, col("pa") === col("node"))
            .select(explode(col("nbrs")).as("pb"), expr("rank div d").as("c"))
            .groupBy("pb")
            .agg(sum(col("c")).as("s"))
            .select(col("pb").as("node"),
              expr(s"(15 * ${base}L + 85 * s) div 100").as("rank")))
          false
        }
        rank
      }
    }._1

  /** Z-score anomaly detection per event type: two-pass — per-type
    * moment statistics (the [[statsAgg]] decimal-exact formulation, so
    * the means and stddevs are bit-identical across engines), broadcast
    * back as model state (one row per type), then a stateless scan
    * predicate flags |z| > 2. The monitored stream never shuffles; at
    * 100 TB the stats side is a tiny aggregate and the flagging pass is
    * scan-bandwidth. IEEE sqrt and division of identical doubles keep
    * the z values exact for the oracle. */
  def anomalyZscore(spark: SparkSession, d: String): DataFrame =
    anomalyFlagOf(Tables.events(spark, d),
      anomalyStatsOf(Tables.events(spark, d)))
      .orderBy("event_id")

  /** TRAIN half: decimal-exact per-type (mean, stddev) model state. */
  def anomalyStatsOf(ev: DataFrame): DataFrame = {
    val x = col("value").cast(DecimalType(18, 2))
    val m = col("s1").cast("double") / col("n")
    ev.groupBy("event_type")
      .agg(
        sum(x).cast(DecimalType(38, 2)).as("s1"),
        sum((x * x).cast(DecimalType(18, 4))).cast(DecimalType(38, 4)).as("s2"),
        count(lit(1)).as("n"))
      .select(col("event_type"), m.as("mean"),
        sqrt(col("s2").cast("double") / col("n") - m * m).as("sd"))
  }

  /** SCORE half — a stateless projection + filter, so it composes into
    * a `readStream` of events unchanged (the monitoring deployment:
    * stats trained batch-side over history, the live stream flagged
    * with zero streaming state; StreamingAnalyticsSpec pins
    * stream == batch). */
  def anomalyFlagOf(ev: DataFrame, stats: DataFrame,
      threshold: Double = 2.0): DataFrame =
    ev.join(broadcast(stats), "event_type")
      .withColumn("z",
        (col("value").cast(DecimalType(18, 2)).cast("double") - col("mean")) / col("sd"))
      .filter(abs(col("z")) > threshold)
      .select("event_id", "event_type", "value", "z")

  /** Equi-width histogram of the value column (width 50): one hash
    * aggregate on the bin key, decimal-exact mass per bin. */
  def valueHistogram(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .withColumn("bin", floor(col("value") / 50).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("sum_value"))
      .select(col("bin"), (col("bin") * 50).cast("double").as("lo"), col("n"),
        col("sum_value"))
      .orderBy("bin")

  /** Numeric distribution drift — the metric-space member of the
    * monitoring triad ([[graft.text.TextAnalysis.driftIncremental]]
    * covers term mixture, `driftStream` its streaming form): per
    * event_type, the TOTAL-VARIATION distance between the ARRIVING
    * slice's binned `value` histogram (the [[valueHistogram]] width-50
    * floor bins; `event_id % 8 = 7` is the batch-slice convention) and
    * the stored history's. Same exact-arithmetic discipline as
    * `source_drift`: |c_s·T_h − c_h·T_s| integer numerators over the
    * union of bins (full-outer with zero fill — a bin present on one
    * side only contributes its full probability mass), ONE double
    * division at the end, so both engines agree bitwise. Types with no
    * history drop at the totals join by design (a brand-new type is a
    * cardinality alarm, not a drift measurement). Scale shape: two
    * (type × bin)-bounded hash aggregates, broadcast totals — the
    * events scan is the only O(data) stage. */
  def valueDrift(spark: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val ev = Tables.events(spark, d).select(col("event_id"), col("event_type"),
      floor(col("value") / 50).cast("long").as("bin"))
    val isBatch = col("event_id") % 8 === 7
    val s = ev.filter(isBatch)
      .groupBy("event_type", "bin").agg(count(lit(1)).as("c_s"))
    val h = ev.filter(!isBatch)
      .groupBy("event_type", "bin").agg(count(lit(1)).as("c_h"))
    val ts = s.groupBy("event_type").agg(sum(col("c_s")).as("t_s"))
    val th = h.groupBy("event_type").agg(sum(col("c_h")).as("t_h"))
    s.join(h, Seq("event_type", "bin"), "full_outer")
      .select(col("event_type"),
        coalesce(col("c_s"), lit(0L)).as("c_s"),
        coalesce(col("c_h"), lit(0L)).as("c_h"))
      .join(broadcast(ts), "event_type")
      .join(broadcast(th), "event_type")
      .groupBy(col("event_type"), col("t_s"), col("t_h"))
      .agg(count(lit(1)).as("n_bins"),
        sum(abs(col("c_s").cast(dec) * col("t_h")
          - col("c_h").cast(dec) * col("t_s"))).as("num"))
      .select(col("event_type"), col("n_bins"), col("t_s"), col("t_h"),
        (col("num").cast("double")
          / (lit(2.0) * col("t_s").cast("double") * col("t_h").cast("double")))
          .as("tv_drift"))
      .orderBy("event_type")
  }

  /** Per-source exact quality quartiles — the stratified binning a
    * curriculum / mixture pipeline runs before sampling ("take only
    * the top quartile of each source", "oversample Q4"). Binning is
    * the exact SQL NTILE(4) per source over (n_chars, doc_id) — the
    * remainder spread over the LEADING buckets, reproduced here with
    * explicit integer arithmetic on the per-source rank so the result
    * hash-matches DuckDB's NTILE.
    *
    * Scale shape: the naive `ntile().over(partitionBy(source))` pulls
    * each source through ONE partition — and sources are exactly the
    * axis that is huge at 100 TB (a source is "CommonCrawl", not a
    * shard). The per-source rank + total come from
    * [[graft.operators.GroupRank.withGroupRankBy]] (value-deterministic
    * buckets, model-sized per-(bucket, group) counts, running-sum
    * offsets broadcast back — since r10 the shared operator, since r11
    * the keyed pin-free form); the quartile is closed-form integer math
    * on (rank, source total). No single-partition window anywhere. */
  def qualityQuartiles(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("source"), col("n_chars"))
    // the gate estimate auto-derives from the clean scan lineage (r15)
    quartileBinsOf(docs, 4).orderBy("doc_id")
  }

  /** Same over any `(doc_id, source, n_chars)` frame with `k` bins —
    * exposed so the unit spec can pin NTILE remainder semantics and
    * partitioning invariance on constructed corpora. */
  private[graft] def quartileBinsOf(docs: DataFrame, k: Int,
      inputBytes: BigInt = BigInt(-1)): DataFrame = {
    // NTILE(k) closed form: rem = tot % k leading buckets hold
    // (tot div k)+1 rows each, the rest hold (tot div k); CASE keeps
    // the zero-size ELSE division unevaluated when tot < k.
    // `inputBytes` rides through to the rank's window-vs-keyed gate
    // ([[graft.operators.GroupRank.windowFits]]); the −1 default
    // auto-derives off the input plan (r15) — registered callers feed
    // clean scans and gate for free, while the amplified sweep frames
    // (join/repartition lineage) derive −1 and keep the keyed form
    graft.operators.GroupRank.withGroupRankBy(docs, Seq("source"),
        col("n_chars"), primaryDesc = false, col("doc_id"), "__rank",
        totalOut = Some("__tot"), groupBound = 64,
        inputBytes = inputBytes)
      .withColumn("quartile", expr(
        s"""CASE WHEN __rank <= (__tot % $k) * (__tot DIV $k + 1)
           |     THEN (__rank - 1) DIV (__tot DIV $k + 1) + 1
           |     ELSE (__tot % $k)
           |          + (__rank - (__tot % $k) * (__tot DIV $k + 1) - 1)
           |            DIV (__tot DIV $k) + 1
           |END""".stripMargin))
      // keep whatever extra columns the caller carried (pack_by_length
      // rides n_tokens through); for the standard (doc_id, source,
      // n_chars) input this is the same schema as before
      .drop("__rank", "__tot")
  }

  /** Entity resolution over customer records — the record-linkage
    * composition the fuzzy join exists for: candidate pairs from
    * FastSS deletion-neighborhood blocking ([[fuzzyCandidatesOf]]),
    * verified by exact `levenshtein ≤ 1` AND exact agreement on the
    * blocking attributes (nation, segment) — the standard
    * blocking-plus-fuzzy-name shape of production ER — then connected
    * components ([[graft.dedup.Dedup.clusterLabels]]) fold matching
    * records into entities, and each entity elects its min-id member
    * as the canonical record. Every stage is an already-proven
    * component; this query is the end-to-end pipeline with one
    * hash-checked result: (record → entity, canonical name, entity
    * size).
    *
    * Scale shape: inherits its stages' — variant-hash equi-join
    * candidates (never all-pairs), exact verify on candidates only,
    * O(log diameter) component rounds over the match sliver; the
    * size/canonical joins run on the O(nodes) label frame. The
    * quadratic form lives only in the DuckDB oracle. */
  def entityResolution(spark: SparkSession, d: String): DataFrame =
    entityResolutionOf(Tables.customer(spark, d).select(
      col("c_custkey").as("id"), col("c_name").as("name"),
      col("c_nationkey").as("nk"), col("c_mktsegment").as("seg")))

  /** Same over any `(id, name, nk, seg)` record frame — exposed so the
    * unit spec can feed constructed typo clusters spanning blocks. */
  private[graft] def entityResolutionOf(records: DataFrame): DataFrame = {
    val cand = fuzzyCandidatesOf(records.select("id", "name"))
    val pairs = cand
      .join(records.select(col("id").as("id_a"), col("name").as("name_a"),
        col("nk").as("nk_a"), col("seg").as("seg_a")), "id_a")
      .join(records.select(col("id").as("id_b"), col("name").as("name_b"),
        col("nk").as("nk_b"), col("seg").as("seg_b")), "id_b")
      // bounded levenshtein, same rows as the unbounded `≤ 1` (see
      // fuzzyJoinOf): -1 past the bound, exact distance inside it
      .filter(col("nk_a") === col("nk_b") && col("seg_a") === col("seg_b") &&
        levenshtein(col("name_a"), col("name_b"), 1) >= 0)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val labels = graft.dedup.Dedup.clusterLabels(
      records.select(col("id").as("doc_id")), pairs)
    val sizes = labels.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"))
    labels
      .join(sizes, "cluster_id")
      .join(records.select(col("id").as("cluster_id"),
        col("name").as("canonical_name")), "cluster_id")
      .select(col("doc_id").as("c_custkey"), col("cluster_id"),
        col("canonical_name"), col("n_members"))
      .orderBy("c_custkey")
  }

  val queries = Map[String, (SparkSession, String) => DataFrame](
    "assign_ids" -> assignIds,
    "fuzzy_join" -> fuzzyJoin,
    "entity_resolution" -> entityResolution,
    "quality_quartiles" -> qualityQuartiles,
    "pagerank" -> pagerank,
    "graph_triangles" -> graphTriangles,
    "graph_degree_stats" -> graphDegreeStats,
    "graph_kcore" -> graphKcore,
    "graph_communities" -> graphCommunities,
    "anomaly_zscore" -> anomalyZscore,
    "value_histogram" -> valueHistogram,
    "value_drift" -> valueDrift,
    "bloom_semi_join" -> bloomSemiJoin,
    "bloom_anti_join" -> bloomAntiJoin,
    "monthly_growth" -> monthlyGrowth,
    "customer_rfm" -> customerRfm,
    "customer_rfm_approx" -> customerRfmApprox,
    "customer_rfm_approx_verified" -> customerRfmApproxVerified,
    "profile_orders" -> profileOrders,
    "freq_items" -> freqItems,
    "freq_items_verified" -> freqItemsVerified,
    "above_avg_orders" -> aboveAvgOrders,
    "full_outer_join" -> fullOuterJoin,
    "sample_det" -> sampleDet,
    "sample_stratified" -> sampleStratified,
    "time_parts" -> timeParts,
    "user_event_profile" -> userEventProfile,
    "skew_join_agg" -> skewJoinAgg,
    "window_frames" -> windowFrames,
    "grouping_sets" -> groupingSets,
    "approx_distinct" -> approxDistinct,
    "approx_distinct_verified" -> approxDistinctVerified,
    "quantiles_sketch_verified" -> quantilesSketchVerified,
    "stats_agg" -> statsAgg,
    "string_funcs" -> stringFuncs,
    "range_join" -> rangeJoin,
    "topk_per_key" -> topkPerKey,
    "asof_join" -> asofJoin,
    "enrich_broadcast" -> enrichBroadcast,
    "quantiles" -> quantiles,
    "quantiles_sketch" -> quantilesSketch,
    "skew_profile" -> skewProfile,
    "outer_join_agg" -> outerJoinAgg,
    "union_all" -> unionAll,
    "cube_events" -> cubeEvents)

  val oracles = Map(
    // the statsAgg moment formulation inlined, then the identical
    // double arithmetic per row
    "anomaly_zscore" ->
      """WITH s AS (
        |  SELECT event_type,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean,
        |    sqrt(CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
        |                       AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
        |         - (CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
        |           * (CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))) AS sd
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.value,
        |       (CAST(CAST(e.value AS DECIMAL(18,2)) AS DOUBLE) - s.mean) / s.sd AS z
        |FROM events e JOIN s USING (event_type)
        |WHERE abs((CAST(CAST(e.value AS DECIMAL(18,2)) AS DOUBLE) - s.mean) / s.sd) > 2.0
        |ORDER BY e.event_id""".stripMargin,
    // the sketch-bound gates: the data-derived column is recomputed
    // exactly; the boolean is the gate — a degraded sketch flips it
    // Spark-side and hash-fails the row (recallGate's contract)
    "approx_distinct_verified" ->
      """SELECT event_type,
        |       count(DISTINCT user_id) AS exact_users,
        |       true AS within_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "customer_rfm_approx_verified" ->
      """SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
        |       CAST(0.9 AS DOUBLE) AS floor,
        |       true AS m_meets_floor,
        |       true AS m_balanced
        |FROM orders""".stripMargin,
    "quantiles_sketch_verified" ->
      """SELECT o_orderstatus, CAST(p.phi AS DOUBLE) AS phi,
        |       count(*) AS n, true AS rank_ok
        |FROM orders CROSS JOIN (VALUES (0.25), (0.5), (0.75)) p(phi)
        |GROUP BY 1, 2 ORDER BY o_orderstatus, phi""".stripMargin,
    "value_histogram" ->
      """SELECT CAST(floor(value / 50) AS BIGINT) AS bin,
        |       CAST(CAST(floor(value / 50) AS BIGINT) * 50 AS DOUBLE) AS lo,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY bin""".stripMargin,
    // same bin rule, slice convention, zero-filled bin union, and
    // exact-integer TV numerators as the Spark plan
    "value_drift" ->
      """WITH ev AS (
        |  SELECT event_id, event_type,
        |         CAST(FLOOR(value / 50) AS BIGINT) AS bin FROM events),
        |s AS (SELECT event_type, bin, COUNT(*) AS c_s FROM ev
        |      WHERE event_id % 8 = 7 GROUP BY 1, 2),
        |h AS (SELECT event_type, bin, COUNT(*) AS c_h FROM ev
        |      WHERE event_id % 8 <> 7 GROUP BY 1, 2),
        |ts AS (SELECT event_type, CAST(SUM(c_s) AS BIGINT) AS t_s FROM s GROUP BY 1),
        |th AS (SELECT event_type, CAST(SUM(c_h) AS BIGINT) AS t_h FROM h GROUP BY 1),
        |j AS (
        |  SELECT COALESCE(s.event_type, h.event_type) AS event_type,
        |         COALESCE(c_s, 0) AS c_s, COALESCE(c_h, 0) AS c_h
        |  FROM s FULL OUTER JOIN h
        |    ON s.event_type = h.event_type AND s.bin = h.bin),
        |agg AS (
        |  SELECT j.event_type, t_s, t_h, COUNT(*) AS n_bins,
        |         SUM(ABS(CAST(c_s AS HUGEINT) * t_h
        |                 - CAST(c_h AS HUGEINT) * t_s)) AS num
        |  FROM j JOIN ts USING (event_type) JOIN th USING (event_type)
        |  GROUP BY 1, 2, 3)
        |SELECT event_type, n_bins, t_s, t_h,
        |       CAST(num AS DOUBLE)
        |       / (2.0 * CAST(t_s AS DOUBLE) * CAST(t_h AS DOUBLE)) AS tv_drift
        |FROM agg ORDER BY event_type""".stripMargin,
    // iterations unrolled as chained CTEs (recursive CTEs forbid the
    // per-round aggregation); integer fixed-point mirrors the Spark loop.
    // rank flows through SUM(BIGINT) → HUGEINT, which pandas reads back
    // as float64 ("9.9e9" vs Spark's int64) — cast the final column to
    // BIGINT or the driver's value hash fails on dtype alone.
    "pagerank" -> {
      val iters = (1 to PagerankIters).map { i =>
        s"""pr$i AS (
           |  SELECT p.pb AS node,
           |         (15 * (SELECT $PagerankScale // nn FROM n)
           |          + 85 * SUM(r.rank // dg.d)) // 100 AS rank
           |  FROM pairs p
           |  JOIN pr${i - 1} r ON p.pa = r.node
           |  JOIN deg dg ON dg.pa = p.pa
           |  GROUP BY p.pb)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         |deg AS (SELECT pa, count(*) AS d FROM pairs GROUP BY pa),
         |n AS (SELECT count(*) AS nn FROM deg),
         |pr0 AS (
         |  SELECT pa AS node, (SELECT $PagerankScale // nn FROM n) AS rank
         |  FROM deg),
         |$iters
         |SELECT node, CAST(rank AS BIGINT) AS rank FROM pr$PagerankIters
         |ORDER BY rank DESC, node LIMIT 100""".stripMargin
    },
    // the naive a<b<c three-way self-join — affordable for DuckDB at
    // sf0.01; the Spark side must find the identical triangle set from
    // the degree-oriented wedge formulation
    "graph_triangles" ->
      """WITH pairs AS (
        |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |tri AS (
        |  SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
        |  FROM pairs e1
        |  JOIN pairs e2 ON e2.pa = e1.pa AND e2.pb > e1.pb
        |  JOIN pairs e3 ON e3.pa = e1.pb AND e3.pb = e2.pb),
        |corners AS (
        |  SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |SELECT node, COUNT(*) AS triangles
        |FROM corners GROUP BY node
        |ORDER BY triangles DESC, node LIMIT 100""".stripMargin,
    // the identical fixed-cap peel, unrolled — round i filters round
    // i-1's edge set to nodes meeting the threshold; monotonicity makes
    // rounds past the fixpoint the identity, so the 8-round unroll IS
    // the k-core wherever the cascade settles within the cap (measured
    // 5 rounds at sf0.01 and sf0.1)
    "graph_kcore" -> {
      // MATERIALIZED is load-bearing: each round reads its predecessor
      // ~4 times, so inlined CTEs would expand to 4^8 lineitem scans
      val peels = (1 to KcoreRounds).map { i =>
        s"""k$i AS MATERIALIZED (
           |  SELECT n FROM (SELECT pa AS n FROM e${i - 1}
           |                 UNION ALL SELECT pb FROM e${i - 1})
           |  GROUP BY n HAVING COUNT(*) >= $KcoreK),
           |e$i AS MATERIALIZED (
           |  SELECT pa, pb FROM e${i - 1}
           |  WHERE pa IN (SELECT n FROM k$i)
           |    AND pb IN (SELECT n FROM k$i))""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         |$peels
         |SELECT n AS node, COUNT(*) AS core_degree
         |FROM (SELECT pa AS n FROM e$KcoreRounds
         |      UNION ALL SELECT pb FROM e$KcoreRounds)
         |GROUP BY n ORDER BY node""".stripMargin
    },
    // the identical 4 synchronous vote rounds, unrolled; window rn=1
    // with (COUNT DESC, label ASC) is the oracle's spelling of the
    // engine's min-struct (-votes, label) argmax
    "graph_communities" -> {
      val votes = (1 to LpaRounds).map { i =>
        s"""l$i AS MATERIALIZED (
           |  SELECT node, label FROM (
           |    SELECT e.a AS node, l.label AS label,
           |           ROW_NUMBER() OVER (PARTITION BY e.a
           |             ORDER BY COUNT(*) DESC, l.label) AS rn
           |    FROM e JOIN l${i - 1} l ON e.b = l.node
           |    GROUP BY e.a, l.label)
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH eh AS MATERIALIZED (
         |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         |e AS MATERIALIZED (
         |  SELECT pa AS a, pb AS b FROM eh
         |  UNION ALL SELECT pb AS a, pa AS b FROM eh),
         |l0 AS MATERIALIZED (
         |  SELECT DISTINCT a AS node, a AS label FROM e),
         |$votes,
         |sz AS (SELECT label, COUNT(*) AS csize FROM l$LpaRounds
         |       GROUP BY label)
         |SELECT node, l.label AS community, csize
         |FROM l$LpaRounds l JOIN sz USING (label)
         |ORDER BY node""".stripMargin
    },
    "graph_degree_stats" ->
      """WITH pairs AS (
        |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (
        |  SELECT n, COUNT(*) AS dg FROM (
        |    SELECT pa AS n FROM pairs UNION ALL SELECT pb FROM pairs)
        |  GROUP BY n),
        |mom AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS edges,
        |         CAST(SUM(da.dg * db.dg) AS BIGINT) AS s_jk,
        |         CAST(SUM(da.dg + db.dg) AS BIGINT) AS s_sum,
        |         CAST(SUM(da.dg * da.dg + db.dg * db.dg) AS BIGINT) AS s_sq
        |  FROM pairs e JOIN deg da ON da.n = e.pa JOIN deg db ON db.n = e.pb),
        |nd AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS nodes,
        |         CAST(MAX(dg) AS BIGINT) AS max_degree FROM deg)
        |SELECT nodes, edges, max_degree, s_jk, s_sum, s_sq,
        |       CASE WHEN 2 * edges * s_sq - s_sum * s_sum = 0 THEN NULL
        |            ELSE CAST(4 * edges * s_jk - s_sum * s_sum AS DOUBLE)
        |                 / (2 * edges * s_sq - s_sum * s_sum) END
        |         AS assortativity
        |FROM nd, mom""".stripMargin,
    // the naive quadratic fuzzy match — affordable for DuckDB at sf0.01;
    // the Spark side must find the identical pairs from the
    // deletion-neighborhood blocking
    "fuzzy_join" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |       a.c_name AS name_a, b.c_name AS name_b,
        |       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin,
    // NTILE itself is the oracle; the engine must reproduce its
    // leading-bucket remainder rule from distributed ranks
    "quality_quartiles" ->
      """SELECT doc_id, source, n_chars,
        |       NTILE(4) OVER (PARTITION BY source
        |                      ORDER BY n_chars, doc_id) AS quartile
        |FROM documents ORDER BY doc_id""".stripMargin,
    // quadratic blocked-fuzzy pair set + recursive closure — the naive
    // form of the FastSS-candidates + CC pipeline, affordable at sf0.01
    "entity_resolution" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.c_custkey AS pa, b.c_custkey AS pb
        |  FROM customer a JOIN customer b
        |    ON a.c_custkey < b.c_custkey
        |   AND a.c_nationkey = b.c_nationkey
        |   AND a.c_mktsegment = b.c_mktsegment
        |  WHERE levenshtein(a.c_name, b.c_name) <= 1),
        |edges AS (
        |  SELECT pa AS a, pb AS b FROM pairs
        |  UNION ALL SELECT pb, pa FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |lab AS (
        |  SELECT c.c_custkey AS doc_id,
        |         LEAST(c.c_custkey, COALESCE(MIN(r.b), c.c_custkey)) AS cluster_id
        |  FROM customer c LEFT JOIN reach r ON r.a = c.c_custkey
        |  GROUP BY c.c_custkey),
        |sz AS (SELECT cluster_id, COUNT(*) AS n_members FROM lab GROUP BY cluster_id)
        |SELECT l.doc_id AS c_custkey, l.cluster_id,
        |       cc.c_name AS canonical_name, sz.n_members
        |FROM lab l JOIN sz USING (cluster_id)
        |JOIN customer cc ON cc.c_custkey = l.cluster_id
        |ORDER BY c_custkey""".stripMargin,
    // the naive global row_number — affordable for DuckDB at sf0.01;
    // the Spark side must reproduce it from per-partition offsets
    "assign_ids" ->
      """SELECT doc_id, source,
        |       ROW_NUMBER() OVER (ORDER BY source, doc_id) AS new_id
        |FROM documents
        |ORDER BY new_id""".stripMargin,
    // exact heavy hitters: the MG candidate set provably contains every
    // item with cnt·8 > n, so the verified query equals this plain SQL
    "freq_items_verified" ->
      """WITH ev AS (SELECT user_id % 10 AS bucket, event_type FROM events),
        |counts AS (SELECT bucket, event_type, COUNT(*) AS cnt FROM ev GROUP BY 1, 2),
        |totals AS (SELECT bucket, COUNT(*) AS n FROM ev GROUP BY 1)
        |SELECT bucket, event_type, cnt
        |FROM counts JOIN totals USING (bucket)
        |WHERE cnt * 8 > n
        |ORDER BY bucket, event_type""".stripMargin,
    "bloom_anti_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_idle,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS idle_balance
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "bloom_semi_join" ->
      """SELECT l_returnflag,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_price,
        |       COUNT(*) AS n
        |FROM lineitem
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_orderkey = l_orderkey
        |                AND o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "above_avg_orders" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |         OVER (PARTITION BY o_custkey) AS DECIMAL(38,2)) AS s,
        |    COUNT(*) OVER (PARTITION BY o_custkey) AS n
        |  FROM orders) t
        |WHERE CAST(o_totalprice AS DECIMAL(18,2)) * n > s
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "sample_det" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE (o_orderkey % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647 < 107374182
        |ORDER BY o_orderkey""".stripMargin,
    "sample_stratified" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal
        |FROM customer
        |WHERE ((c_custkey % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647 <
        |      CASE WHEN c_mktsegment = 'BUILDING' THEN 429496729 ELSE 107374182 END
        |ORDER BY c_custkey""".stripMargin,
    "monthly_growth" ->
      """WITH m AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS revenue,
        |    COUNT(*) AS n_orders
        |  FROM orders GROUP BY 1)
        |SELECT month, revenue, n_orders,
        |  LAG(revenue, 1) OVER w AS prev_revenue,
        |  revenue - LAG(revenue, 1) OVER w AS delta,
        |  CAST(revenue - LAG(revenue, 1) OVER w AS DOUBLE)
        |    / CAST(LAG(revenue, 1) OVER w AS DOUBLE) * 100 AS growth_pct
        |FROM m WINDOW w AS (ORDER BY month) ORDER BY month""".stripMargin,
    "customer_rfm" ->
      """WITH mx AS (SELECT max(o_orderdate) AS max_d FROM orders),
        |per AS (
        |  SELECT o_custkey,
        |    CAST(date_diff('day', max(o_orderdate), (SELECT max_d FROM mx)) AS BIGINT)
        |      AS recency_days,
        |    COUNT(*) AS frequency,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS monetary
        |  FROM orders GROUP BY o_custkey)
        |SELECT o_custkey, recency_days, frequency, monetary,
        |  CAST(NTILE(4) OVER (ORDER BY recency_days, o_custkey) AS BIGINT) AS r_q,
        |  CAST(NTILE(4) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT) AS f_q,
        |  CAST(NTILE(4) OVER (ORDER BY monetary DESC, o_custkey) AS BIGINT) AS m_q
        |FROM per ORDER BY o_custkey""".stripMargin,
    "profile_orders" ->
      """SELECT 'o_custkey' AS column_name, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  COUNT(DISTINCT o_custkey) AS n_distinct,
        |  CAST(min(o_custkey) AS VARCHAR) AS min_val,
        |  CAST(max(o_custkey) AS VARCHAR) AS max_val
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', COUNT(*),
        |  CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(DISTINCT o_orderstatus),
        |  min(o_orderstatus), max(o_orderstatus)
        |FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', COUNT(*),
        |  CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(DISTINCT o_totalprice),
        |  CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
        |  CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderdate', COUNT(*),
        |  CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(DISTINCT o_orderdate),
        |  strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S'),
        |  strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')
        |FROM orders
        |ORDER BY column_name""".stripMargin,
    "time_parts" ->
      """SELECT event_id,
        |  CAST(date_part('year', ts) AS BIGINT) AS y,
        |  CAST(date_part('quarter', ts) AS BIGINT) AS q,
        |  CAST(date_part('month', ts) AS BIGINT) AS mo,
        |  CAST(date_part('day', ts) AS BIGINT) AS dom,
        |  CAST(date_part('hour', ts) AS BIGINT) AS h,
        |  CAST(date_part('minute', ts) AS BIGINT) AS mi,
        |  CAST(date_part('second', ts) AS BIGINT) AS s
        |FROM events ORDER BY event_id""".stripMargin,
    "user_event_profile" ->
      """SELECT user_id,
        |  array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
        |  COUNT(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "skew_join_agg" ->
      """SELECT c_mktsegment AS segment, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "full_outer_join" ->
      """WITH p AS (
        |  SELECT date_trunc('day', ts) AS day_p, COUNT(*) AS n_p
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |e AS (
        |  SELECT date_trunc('day', ts) AS day_e, COUNT(*) AS n_e
        |  FROM events WHERE event_type = 'error' GROUP BY 1)
        |SELECT coalesce(day_p, day_e) AS day, n_p, n_e
        |FROM p FULL OUTER JOIN e ON day_p = day_e
        |ORDER BY day""".stripMargin,
    "window_frames" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w3 AS DECIMAL(38,2)) AS mov_sum,
        |  COUNT(*) OVER w3 AS mov_n,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w3 AS DECIMAL(38,2)) AS DOUBLE)
        |    / (COUNT(*) OVER w3) AS mov_avg,
        |  CAST(o_totalprice AS DECIMAL(18,2))
        |    - LAG(CAST(o_totalprice AS DECIMAL(18,2)), 1, 0) OVER wo AS delta_prev,
        |  CAST(NTILE(4) OVER wo AS BIGINT) AS quartile,
        |  PERCENT_RANK() OVER wo AS pr
        |FROM orders
        |WINDOW
        |  wo AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |  w3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "stats_agg" ->
      """WITH m AS (
        |  SELECT event_type,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s1,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS s2,
        |    COUNT(*) AS n
        |  FROM events GROUP BY event_type)
        |SELECT event_type,
        |  CAST(s1 AS DOUBLE) / n AS mean,
        |  CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS var_pop,
        |  sqrt(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) AS stddev_pop,
        |  n
        |FROM m ORDER BY event_type""".stripMargin,
    "string_funcs" ->
      """SELECT c_custkey,
        |  upper(c_name) AS up,
        |  lower(c_mktsegment) AS lo,
        |  substring(c_name, 1, 8) AS sub,
        |  concat_ws('-', c_mktsegment, c_custkey) AS joined,
        |  regexp_replace(c_name, '[0-9]+', '#', 'g') AS masked,
        |  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
        |  length(c_name) AS len
        |FROM customer WHERE c_name LIKE '%1%'
        |ORDER BY c_custkey""".stripMargin,
    "grouping_sets" ->
      """SELECT event_type, user_id % 10 AS user_bucket, COUNT(*) AS n
        |FROM events
        |GROUP BY GROUPING SETS ((event_type, user_id % 10), (event_type), (user_id % 10))
        |ORDER BY event_type ASC NULLS FIRST, user_bucket ASC NULLS FIRST, n""".stripMargin,
    "range_join" ->
      """SELECT p.user_id, p.event_id AS purchase_id, e.event_id AS error_id,
        |       epoch_us(e.ts) - epoch_us(p.ts) AS gap_us
        |FROM events p JOIN events e
        |  ON p.user_id = e.user_id
        | AND p.event_type = 'purchase' AND e.event_type = 'error'
        | AND epoch_us(e.ts) > epoch_us(p.ts)
        | AND epoch_us(e.ts) - epoch_us(p.ts) <= 300000000
        |ORDER BY p.user_id, purchase_id, error_id""".stripMargin,
    "topk_per_key" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin,
    "asof_join" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY o_custkey, o_orderdate)
        |SELECT e.event_id, e.user_id, e.ts, o.o_orderkey AS asof_orderkey
        |FROM events e
        |ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY event_id""".stripMargin,
    "enrich_broadcast" ->
      """SELECT coalesce(c_mktsegment, 'UNKNOWN') AS segment,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_value
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "skew_profile" ->
      """WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
        |t AS (SELECT SUM(n) AS total, COUNT(*) AS n_keys FROM c),
        |top AS (SELECT user_id, n FROM c ORDER BY n DESC, user_id LIMIT 5)
        |SELECT user_id, n, CAST(n AS DOUBLE) / total AS share,
        |       CAST(n * n_keys AS DOUBLE) / total AS skew_ratio
        |FROM top, t ORDER BY user_id""".stripMargin,
    "quantiles" ->
      """SELECT o_orderstatus,
        |       quantile_cont(o_totalprice, 0.25) AS p25,
        |       quantile_cont(o_totalprice, 0.5) AS p50,
        |       quantile_cont(o_totalprice, 0.75) AS p75,
        |       COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "outer_join_agg" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total_spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "union_all" ->
      """SELECT user_id, event_id, 'purchase' AS src FROM events WHERE event_type = 'purchase'
        |UNION ALL
        |SELECT user_id, event_id, 'signup' AS src FROM events WHERE event_type = 'signup'
        |ORDER BY event_id""".stripMargin,
    "cube_events" ->
      """SELECT event_type, user_id % 10 AS user_bucket, COUNT(*) AS n,
        |       CAST(GROUPING(event_type, user_id % 10) AS BIGINT) AS gid
        |FROM events
        |GROUP BY CUBE(event_type, user_id % 10)
        |ORDER BY event_type ASC NULLS FIRST, user_bucket ASC NULLS FIRST""".stripMargin)
}
