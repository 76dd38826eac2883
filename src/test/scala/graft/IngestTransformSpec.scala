package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.ingest.{EventSink, IngestTransform}
import graft.schema.EventSchemas
import graft.streaming.StreamingPipeline
import graft.streaming.StreamingPipeline.{Sales, Warehouse}

/** The MV-transform semantics from FIXTURES.md §1c: corrupt-JSON skip
  * (S4), null-price drop (P3), lenient timestamp parse (F1), decimal
  * casts (F2); one JSON parse per event, checked against the plain
  * `from_json` formulation. Processing-time stamping (F12) happens on
  * insert and is checked in [[EventSinkSpec]]. */
class IngestTransformSpec extends SparkSpec {
  import spark.implicits._

  private val goodSale =
    """{"event_id":"e1","event_type":"sale","event_time":"2026-08-12 10:00:00","product_id":17,"product_name":"система письмо","category":"Электроника","quantity":3,"price":4321.55,"discount":0.15,"total":3673.32,"store_id":7,"cashier_id":12,"customer_id":"c1"}"""
  private val nullPriceSale =
    """{"event_id":"e2","event_type":"sale","event_time":"2026-08-12 10:00:01","product_id":2,"product_name":"x","category":"y","quantity":1,"price":null,"discount":0.0,"total":1.0,"store_id":1,"cashier_id":1,"customer_id":"c2"}"""
  private val badTimeSale =
    """{"event_id":"e3","event_type":"sale","event_time":"garbage","product_id":3,"product_name":"x","category":"y","quantity":1,"price":5.00,"discount":0.0,"total":5.0,"store_id":1,"cashier_id":1,"customer_id":"c3"}"""
  private val corrupt = """{"event_id": "x", broken"""

  private def salesDf = Seq(goodSale, nullPriceSale, badTimeSale, corrupt).toDF("value")

  test("corrupt JSON rows are skipped, not fatal (S4)") {
    val out = IngestTransform.salesFromJson(salesDf)
    assert(!out.select("event_id").as[String].collect().contains("x"))
  }

  test("null-price rows are dropped (P3)") {
    val ids = IngestTransform.salesFromJson(salesDf)
      .select("event_id").as[String].collect().toSet
    assert(ids === Set("e1", "e3"))
  }

  test("unparseable event_time becomes NULL but the row survives (F1)") {
    val row = IngestTransform.salesFromJson(salesDf)
      .filter($"event_id" === "e3").collect().head
    assert(row.getAs[java.sql.Timestamp]("event_time") == null)
  }

  test("lenient parse accepts the fixed wire format and ISO-8601 (F1)") {
    val parsed = Seq("2026-08-12 10:00:00", "2026-08-12T10:00:00", "2026-08-12", "nope")
      .toDF("s").select(IngestTransform.bestEffortTimestamp($"s").as("t"))
      .as[Option[java.sql.Timestamp]].collect()
    assert(parsed(0).isDefined && parsed(1).isDefined && parsed(2).isDefined)
    assert(parsed(0) == parsed(1))
    assert(parsed(3).isEmpty)
  }

  test("money columns land as Decimal(9,2) and values survive (F2)") {
    val row = IngestTransform.salesFromJson(salesDf)
      .filter($"event_id" === "e1").collect().head
    val price = row.getAs[java.math.BigDecimal]("price")
    assert(price.compareTo(new java.math.BigDecimal("4321.55")) == 0)
    val dt = IngestTransform.salesFromJson(salesDf).schema("price").dataType
    assert(dt === org.apache.spark.sql.types.DecimalType(9, 2))
  }

  test("warehouse transform parses its 11-column shape (P2)") {
    val m = """{"event_id":"m1","event_type":"stock_movement","event_time":"2026-08-12 10:00:01","product_id":17,"product_name":"n","category":"c","warehouse":"Москва","quantity":42,"movement_type":"supply","source":"ООО Ромашка","responsible":"Иванов Иван"}"""
    val out = IngestTransform.warehouseFromJson(Seq(m, corrupt).toDF("value"))
    assert(out.count() === 1)
    val row = out.collect().head
    assert(row.getAs[String]("warehouse") === "Москва")
    assert(row.getAs[Int]("quantity") === 42)
  }

  test("EventSink writes month-partitioned, sorted parquet (S5)") {
    val dir = tmpDir("sink")
    val typed = IngestTransform.salesFromJson(salesDf)
    EventSink.append(typed, dir)
    val dirs = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("event_month="))
    assert(dirs.contains("event_month=202608"))
    // NULL event_time lands in the Hive default partition, row preserved:
    val back = spark.read.parquet(dir)
    assert(back.count() === 2)
    assert(back.filter($"event_time".isNull).count() === 1)
  }

  test("each event is parsed once: one JsonToStructs in the executed plan") {
    val dir = tmpDir("parse-once")
    Files.write(Paths.get(dir, "lines.json"), String.join("\n", goodSale, corrupt).getBytes("UTF-8"))
    val text = spark.read.text(dir)
    for ((name, df) <- Seq("sales" -> IngestTransform.salesFromJson(text),
        "warehouse" -> IngestTransform.warehouseFromJson(text))) {
      df.write.format("noop").mode("overwrite").save()
      val plan = df.queryExecution.executedPlan
      val parses = plan.collect { case node => node.expressions.map(_.collect {
        case j: JsonToStructs => j }.size).sum }.sum
      assert(parses === 1, s"$name: from_json must run once per line:\n$plan")
    }
  }

  // The ingest formulation before the single-parse transform, kept
  // verbatim as the reference: from_json, filter e / e.event_id not null,
  // e.*, the typed SELECT, the price filter.
  private object Reference {
    private val money = EventSchemas.money
    private def ts(c: Column) = IngestTransform.bestEffortTimestamp(c)

    def salesFromJson(raw: DataFrame): DataFrame = {
      val parsed = raw
        .select(from_json(col("value"), EventSchemas.salesRaw).as("e"))
        .filter(col("e").isNotNull && col("e.event_id").isNotNull)
      typedSales(parsed.select(col("e.*")))
    }

    def warehouseFromJson(raw: DataFrame): DataFrame = {
      val parsed = raw
        .select(from_json(col("value"), EventSchemas.warehouseRaw).as("e"))
        .filter(col("e").isNotNull && col("e.event_id").isNotNull)
      typedWarehouse(parsed.select(col("e.*")))
    }

    def typedSales(raw: DataFrame): DataFrame = raw
      .select(
        col("event_id"), col("event_type"),
        ts(col("event_time")).as("event_time"),
        col("product_id"), col("product_name"), col("category"),
        col("quantity"),
        col("price").cast(money).as("price"),
        col("discount").cast(money).as("discount"),
        col("total").cast(money).as("total"),
        col("store_id"), col("cashier_id"), col("customer_id"))
      .filter(col("price").isNotNull)
      .withColumn("processing_time", current_timestamp())

    def typedWarehouse(raw: DataFrame): DataFrame = raw
      .select(
        col("event_id"), col("event_type"),
        ts(col("event_time")).as("event_time"),
        col("product_id"), col("product_name"), col("category"),
        col("warehouse"), col("quantity"), col("movement_type"),
        col("source"), col("responsible"))
      .withColumn("processing_time", current_timestamp())

    def of(topic: StreamingPipeline.Topic): DataFrame => DataFrame = topic match {
      case Sales     => salesFromJson
      case Warehouse => warehouseFromJson
    }
  }

  private def transformOf(topic: StreamingPipeline.Topic): DataFrame => DataFrame = topic match {
    case Sales     => IngestTransform.salesFromJson
    case Warehouse => IngestTransform.warehouseFromJson
  }

  private def q(s: String) = "\"" + s + "\""
  private def saleFields(id: String): Seq[(String, String)] = Seq(
    "event_id" -> q(id), "event_type" -> q("sale"), "event_time" -> q("2026-08-12 10:00:00"),
    "product_id" -> "17", "product_name" -> q("p"), "category" -> q("c"), "quantity" -> "3",
    "price" -> "4.5", "discount" -> "0.15", "total" -> "3.82", "store_id" -> "7",
    "cashier_id" -> "12", "customer_id" -> q("c1"))
  private def moveFields(id: String): Seq[(String, String)] = Seq(
    "event_id" -> q(id), "event_type" -> q("stock_movement"),
    "event_time" -> q("2026-08-12 10:00:01"), "product_id" -> "17", "product_name" -> q("n"),
    "category" -> q("c"), "warehouse" -> q("w"), "quantity" -> "42",
    "movement_type" -> q("supply"), "source" -> q("s"), "responsible" -> q("r"))

  /** One JSON object: `fields` with each of `set` replacing the field of
    * its name (or added) and `drop` left out. */
  private def wire(fields: Seq[(String, String)], set: Seq[(String, String)] = Nil,
      drop: String = ""): String = {
    val replaced = set.map(_._1).toSet + drop
    (fields.filterNot(f => replaced(f._1)) ++ set)
      .map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
  }

  /** Every edge the parse can meet, in both wire shapes; each topic reads
    * all of them, the other topic's lines included. */
  private val edgeLines: Seq[String] = Seq(
    """{"event_id": "x", broken""",
    "",
    "null",
    "[" + wire(saleFields("arr")) + "]") ++
    Seq(saleFields _, moveFields _).zipWithIndex.flatMap { case (fields, k) => Seq(
      wire(fields(s"ok$k")),
      wire(fields(s"noid$k"), drop = "event_id"),
      wire(fields(s"nullid$k"), Seq("event_id" -> "null")),
      wire(fields(s"abcprice$k"), Seq("price" -> q("abc"))),
      wire(fields(s"abcqty$k"), Seq("quantity" -> q("abc"))),
      wire(fields(s"nullprice$k"), Seq("price" -> "null")),
      wire(fields(s"extra$k"), Seq("extra" -> """{"a":[1,2]}""", "more" -> q("x"))),
      wire(fields(s"cyr$k"), Seq("product_name" -> q("система письмо"),
        "category" -> q("Электроника"))),
      wire(fields(s"iso$k"), Seq("event_time" -> q("2026-08-12T10:00:00"))),
      wire(fields(s"garbage$k"), Seq("event_time" -> q("garbage"))))
    }

  /** Rows without processing_time, in one order. */
  private def rowsOf(df: DataFrame): Seq[Row] =
    df.drop("processing_time").collect().toSeq.sortBy(_.toString)

  test("single-parse transform equals the from_json reference, batch and stream, both topics") {
    for (topic <- Seq(Sales, Warehouse)) {
      val batch = edgeLines.toDF("value")
      val want = rowsOf(Reference.of(topic)(batch))
      assert(want.nonEmpty, s"${topic.name}: the reference keeps the well-formed lines")
      assert(rowsOf(transformOf(topic)(batch)) === want, s"${topic.name}: batch")

      val in = tmpDir("diff-in")
      Files.write(Paths.get(in, "lines.json"), String.join("\n", edgeLines: _*).getBytes("UTF-8"))
      val refOut = tmpDir("diff-ref")
      val ref = Reference.of(topic)(spark.readStream.text(in)).writeStream
        .option("checkpointLocation", tmpDir("diff-ref-ckpt"))
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) => EventSink.append(b, refOut) }
        .start()
      ref.awaitTermination()
      val out = tmpDir("diff-out")
      val p = StreamingPipeline.textDir(spark, topic, in, out, tmpDir("diff-ckpt"))
      p.attach(); p.processAllAvailable(); p.detach()
      val streamed = rowsOf(spark.read.parquet(out))
      assert(streamed === rowsOf(spark.read.parquet(refOut)), s"${topic.name}: stream")
      assert(streamed.size === want.size)
    }
  }
}
