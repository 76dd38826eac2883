package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamingPipeline
import graft.streaming.StreamingPipeline.{Sales, Warehouse}

/** End-to-end streaming ingest (SURVEY.md §3.1) over the file source:
  * JSON lines appear in a directory → transform → partitioned parquet,
  * with the reference's detach/attach lifecycle (D4/ST4) and checkpoint
  * resume. */
class StreamingPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def writeLines(dir: String, name: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(dir, name), String.join("\n", lines: _*).getBytes("UTF-8"))

  private def sale(id: String, t: String, price: String) =
    s"""{"event_id":"$id","event_type":"sale","event_time":"$t","product_id":1,"product_name":"p","category":"c","quantity":1,"price":$price,"discount":0.1,"total":9.0,"store_id":1,"cashier_id":1,"customer_id":"u"}"""

  test("pipeline is constructed detached; attach consumes; detach stops; re-attach resumes from checkpoint (ST4)") {
    val in = tmpDir("stream-in")
    val out = tmpDir("stream-out")
    val ckpt = tmpDir("stream-ckpt")
    writeLines(in, "batch1.json", Seq(
      sale("s1", "2026-08-12 10:00:00", "10.00"),
      sale("s2", "2026-08-12 11:00:00", "null"), // dropped by P3
      """{"event_id":"oops", broken"""))         // skipped by S4

    val p = StreamingPipeline.textDir(spark, Sales, in, out, ckpt)
    assert(!p.isAttached, "pipeline must start detached, like CH Kafka tables")

    p.attach()
    assert(p.isAttached)
    p.processAllAvailable()
    val ids1 = spark.read.parquet(out).select("event_id").as[String].collect().toSet
    assert(ids1 === Set("s1"))

    p.detach()
    assert(!p.isAttached)

    // new data while detached; re-attach must pick up ONLY the new file
    writeLines(in, "batch2.json", Seq(sale("s3", "2026-09-01 09:00:00", "20.00")))
    p.attach()
    p.processAllAvailable()
    p.detach()

    val back = spark.read.parquet(out)
    assert(back.select("event_id").as[String].collect().toSet === Set("s1", "s3"))
    // month partitioning mirrors toYYYYMM (S5): two months → two partitions
    val months = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("event_month=")).toSet
    assert(months === Set("event_month=202608", "event_month=202609"))
  }

  test("compactMonth merges micro-batch files and preserves rows (scale path)") {
    val in = tmpDir("c-in"); val out = tmpDir("c-out"); val ckpt = tmpDir("c-ckpt")
    val p = StreamingPipeline.textDir(spark, Sales, in, out, ckpt)
    // three micro-batches → three files in the same month partition
    for (i <- 1 to 3) {
      writeLines(in, s"b$i.json", Seq(sale(s"s$i", s"2026-08-12 1$i:00:00", "10.00")))
      p.attach(); p.processAllAvailable(); p.detach()
    }
    val partDir = new java.io.File(s"$out/event_month=202608")
    def parquetFiles = partDir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles >= 3)
    val before = spark.read.parquet(out).select("event_id").as[String].collect().toSet
    graft.ingest.EventSink.compactMonth(spark, out, "202608")
    assert(parquetFiles === 1)
    val after = spark.read.parquet(out).select("event_id").as[String].collect().toSet
    assert(after === before)
  }

  test("warehouse topic pipeline ingests its schema (S3)") {
    val in = tmpDir("wh-in"); val out = tmpDir("wh-out"); val ckpt = tmpDir("wh-ckpt")
    writeLines(in, "b.json", Seq(
      """{"event_id":"m1","event_type":"stock_movement","event_time":"2026-08-12 10:00:01","product_id":17,"product_name":"n","category":"c","warehouse":"Москва","quantity":42,"movement_type":"supply","source":"s","responsible":"r"}"""))
    val p = StreamingPipeline.textDir(spark, Warehouse, in, out, ckpt)
    p.attach(); p.processAllAvailable(); p.detach()
    val row = spark.read.parquet(out).collect().head
    assert(row.getAs[String]("movement_type") === "supply")
  }

  test("steady micro-batches compile no code: the compilation count stops after the second batch") {
    val in = tmpDir("cg-in"); val stage = tmpDir("cg-stage")
    val out = tmpDir("cg-out"); val ckpt = tmpDir("cg-ckpt")
    val p = StreamingPipeline.textDir(spark, Sales, in, out, ckpt, Trigger.ProcessingTime(0L))
    // one file per micro-batch, moved in whole so no batch reads half of it
    def batch(i: Int): Long = {
      writeLines(stage, s"b$i.json", (1 to 20).map(j => sale(s"s$i-$j", s"2026-08-12 1$i:00:00", "10.00")))
      Files.move(Paths.get(stage, s"b$i.json"), Paths.get(in, s"b$i.json"),
        StandardCopyOption.ATOMIC_MOVE)
      p.processAllAvailable()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    }
    p.attach()
    val compilations = try (1 to 5).map(batch) finally p.detach()
    assert(spark.read.parquet(out).count() === 100)
    assert(compilations.drop(1).distinct.size === 1,
      s"compilation count after each batch: ${compilations.mkString(", ")}")
  }
}
