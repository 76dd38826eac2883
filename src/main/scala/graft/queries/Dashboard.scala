package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, StructField, StructType}
import graft.Tables
import graft.functions.JsonIntExpr
import OracleSafe._

/** The reference dashboard's four serving queries (reference web-app
  * app.py:57-66, 91-100, 126-135, 150-168), re-expressed over the driver's
  * `events` table (the designated stream stand-in, FIXTURES.md §3):
  * `purchase` events play the sales stream, the other event types play the
  * movement stream.
  *
  * Plan shape at scale (verified via `.explain`): every query is
  * scan → [filter pushed to parquet] → partial hash-agg → shuffle(32) →
  * final hash-agg [→ TakeOrderedAndProject for the top-k ones]. No
  * wide-row shuffles: filters and projections reach the scan, top-k never
  * global-sorts.
  */
object Dashboard extends QueryPack {

  /** A1/O1/F3 — hourly sales & revenue (app.py:57-66): `sum(quantity),
    * sum(total) GROUP BY toStartOfHour` → `date_trunc("hour")` group-by.
    * Decimal sum keeps the revenue exact and order-independent. */
  def salesByHour(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .filter(col("event_type") === "purchase")
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(decSum(col("value")).as("revenue"),
           count(lit(1)).as("n_sales"))
      .orderBy("hour")

  /** P4 variant — the reference's relative time predicate `WHERE event_time
    * >= now() - INTERVAL 1 DAY` (app.py:63). `now()` is nondeterministic,
    * so the anchor is the table's max(ts) (a scalar subquery — Catalyst
    * plans it as a one-row broadcast, no driver round-trip in the plan). */
  def salesLastDay(spark: SparkSession, d: String): DataFrame = {
    Tables.events(spark, d).createOrReplaceTempView("events")
    spark.sql("""
      SELECT date_trunc('hour', ts) AS hour,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS revenue,
             COUNT(*) AS n_sales
      FROM events
      WHERE event_type = 'purchase'
        AND ts >= (SELECT max(ts) - INTERVAL 1 DAY FROM events)
      GROUP BY 1 ORDER BY 1""")
  }

  /** A2/O2/F6 — conditional-aggregate "incoming vs outgoing" pivot in one
    * pass, top-5 by combined volume (app.py:91-100): both sums share one
    * hash aggregate; ORDER BY (incoming+outgoing) DESC LIMIT 5 plans as
    * TakeOrderedAndProject (no global sort), user_id breaks ties. */
  def topMovers(spark: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(18, 2)
    val zero = lit(0).cast(dec)
    Tables.events(spark, d)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "purchase", col("value").cast(dec)).otherwise(zero))
          .cast(DecimalType(38, 2)).as("incoming"),
        sum(when(col("event_type").isin("click", "view"), col("value").cast(dec)).otherwise(zero))
          .cast(DecimalType(38, 2)).as("outgoing"))
      .orderBy((col("incoming") + col("outgoing")).desc, col("user_id"))
      .limit(5)
  }

  /** O3 — latest-10 feed (app.py:126-135): ORDER BY ts DESC LIMIT 10 →
    * TakeOrderedAndProject; event_id breaks (sub-microsecond) ties. */
  def recentEvents(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(10)

  /** A3/D5 — status endpoint (app.py:150-168): table cardinalities, here
    * per stream (= per event_type). */
  def statusCounts(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type")

  /** S2/S4 — JSONEachRow field extraction as a query: the `props` column
    * carries a JSON payload; `from_json` parses it with null-on-corrupt
    * semantics (the Kafka-engine `kafka_skip_broken_messages` analog). The
    * oracle extracts the same field with a regex, proving the parse. */
  def parseProps(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .select(col("event_id"),
        from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
          .getField("k").as("k"))
      .orderBy("event_id")

  /** Same field, no JSON parser: [[graft.functions.JsonIntExpr]] scans
    * the bytes for `"k":` + digits inside whole-stage codegen — the
    * projection-time fast path for flat JSONEachRow payloads (~3× the
    * from_json throughput locally). Same oracle as [[parseProps]]; the
    * expression's contract IS the oracle regex. */
  def parsePropsNative(spark: SparkSession, d: String): DataFrame = {
    Tables.events(spark, d)
      .select(col("event_id"), JsonIntExpr.column(col("props"), lit("k")).as("k"))
      .orderBy("event_id")
  }

  val queries = Map[String, (SparkSession, String) => DataFrame](
    "sales_by_hour" -> salesByHour,
    "sales_last_day" -> salesLastDay,
    "top_movers" -> topMovers,
    "recent_events" -> recentEvents,
    "status_counts" -> statusCounts,
    "parse_props" -> parseProps,
    "parse_props_native" -> parsePropsNative)

  val oracles = Map(
    "sales_by_hour" ->
      """SELECT date_trunc('hour', ts) AS hour,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS revenue,
        |       COUNT(*) AS n_sales
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "sales_last_day" ->
      """SELECT date_trunc('hour', ts) AS hour,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS revenue,
        |       COUNT(*) AS n_sales
        |FROM events
        |WHERE event_type = 'purchase'
        |  AND ts >= (SELECT max(ts) - INTERVAL 1 DAY FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "top_movers" ->
      """SELECT user_id,
        |       CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(38,2)) AS incoming,
        |       CAST(SUM(CASE WHEN event_type IN ('click','view') THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(38,2)) AS outgoing
        |FROM events GROUP BY user_id
        |ORDER BY (incoming + outgoing) DESC, user_id LIMIT 5""".stripMargin,
    "recent_events" ->
      """SELECT event_id, ts, user_id, event_type, value FROM events
        |ORDER BY ts DESC, event_id DESC LIMIT 10""".stripMargin,
    "status_counts" ->
      "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type ORDER BY event_type",
    "parse_props" ->
      """SELECT event_id, CAST(regexp_extract(props, '"k": *(-?[0-9]+)', 1) AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "parse_props_native" ->
      """SELECT event_id, CAST(regexp_extract(props, '"k": *(-?[0-9]+)', 1) AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin)
}
