package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.ingest.{EventSink, IngestTransform}
import graft.schema.EventSchemas

/** The sink's insert-time stamp (F12): the reference's
  * `processing_time DateTime DEFAULT now()`, one value per insert. */
class EventSinkSpec extends SparkSpec {
  import spark.implicits._

  private def sale(id: String, month: String) =
    s"""{"event_id":"$id","event_type":"sale","event_time":"2026-$month-12 10:00:00","product_id":17,"product_name":"система письмо","category":"Электроника","quantity":3,"price":4321.55,"discount":0.15,"total":3673.32,"store_id":7,"cashier_id":12,"customer_id":"c1"}"""
  private val move =
    """{"event_id":"m1","event_type":"stock_movement","event_time":"2026-08-12 10:00:01","product_id":17,"product_name":"n","category":"c","warehouse":"Москва","quantity":42,"movement_type":"supply","source":"s","responsible":"r"}"""

  /** Run `body` with `event_month` read back as written (a string), not
    * as partition-value inference would type it. */
  private def monthsAsWritten(body: => Unit): Unit = {
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    spark.conf.set(key, "false")
    try body finally spark.conf.unset(key)
  }

  test("processing_time is stamped on insert (F12) and non-ASCII strings survive") { monthsAsWritten {
    val dir = tmpDir("stamp")
    // three months in three input partitions: one append, several tasks
    val first = (1 to 30).map(i => sale(s"a$i", f"${6 + i % 3}%02d")).toDF("value").repartition(3)
    EventSink.append(IngestTransform.salesFromJson(first), dir)
    EventSink.append(IngestTransform.salesFromJson(Seq(sale("b1", "08")).toDF("value")), dir)
    val back = spark.read.parquet(dir)
    def stamps(prefix: String) = back.filter($"event_id".startsWith(prefix))
      .select("processing_time").distinct().as[java.sql.Timestamp].collect()
    val Array(a) = stamps("a")
    val Array(b) = stamps("b")
    assert(a != null && back.filter($"event_id".startsWith("a")).count() === 30)
    assert(!b.before(a), s"a later append is stamped no earlier: $a then $b")
    assert(back.filter($"event_id" === "b1").select("product_name").as[String].head() ===
      "система письмо")
    assert(back.schema === StructType(EventSchemas.salesTyped.fields :+
      StructField("event_month", StringType)))

    val moves = tmpDir("stamp-moves")
    EventSink.append(IngestTransform.warehouseFromJson(Seq(move).toDF("value")), moves)
    val backMoves = spark.read.parquet(moves)
    assert(backMoves.schema === StructType(EventSchemas.warehouseTyped.fields :+
      StructField("event_month", StringType)))
    assert(backMoves.select("warehouse").as[String].head() === "Москва")
  }}

  test("a supplied processing_time is kept, as a value overrides a DEFAULT") { monthsAsWritten {
    val dir = tmpDir("stamp-kept")
    val supplied = java.sql.Timestamp.valueOf("2020-01-02 03:04:05")
    val typed = IngestTransform.salesFromJson(Seq(sale("k1", "08")).toDF("value"))
      .withColumn("processing_time", lit(supplied))
    EventSink.append(typed, dir)
    val back = spark.read.parquet(dir)
    assert(back.select("processing_time").as[java.sql.Timestamp].collect().toSeq === Seq(supplied))
    assert(back.columns.toSeq === EventSchemas.salesTyped.fieldNames.toSeq :+ "event_month")
  }}
}
