package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ingest.{EventSink, IngestTransform}

/** The reference pipeline's spine as Structured Streaming
  * (SURVEY.md §2.9, §3.1):
  *
  *   Kafka topics (`sales` 70% / `warehouse` 30%)
  *     → Kafka-engine tables (JSONEachRow, broken messages skipped)
  *     → materialized views (parse / cast / filter)
  *     → MergeTree tables (partitioned, sorted)
  *
  * maps to
  *
  *   `readStream` (kafka or file/text source behind one interface)
  *     → `from_json` + corrupt-row drop (S4), one parse per event
  *     → `IngestTransform.typedSales` / `typedWarehouse` (ST2 — stateless,
  *        no watermark needed: the reference MVs deliberately do no
  *        event-time filtering, generate_data.py:205)
  *     → `foreachBatch` append to partitioned sorted parquet (S5/S6),
  *        which stamps `processing_time` with one insert time per
  *        micro-batch (ST5, the MergeTree's `DEFAULT now()`)
  *
  * Nothing in a micro-batch's plan changes from one batch to the next
  * except its input files; the insert time is bound outside the
  * generated code, so steady batches compile no new classes.
  *
  * Delivery: the reference is at-least-once end to end (producer acks=1 →
  * Kafka-engine offset commit per block, duplicates possible). Kafka source
  * + checkpointed sink gives exactly-once to files — strictly stronger
  * (ST1). `dedupKeyed` upgrades to keyed dedup if wanted.
  *
  * Lifecycle: CH creates its Kafka tables DETACHED and the operator ATTACHes
  * them to start consumption (reference generate_data.py:273-301,
  * README.md:63-70). Here a pipeline is *constructed* detached — nothing
  * runs until `attach()` starts the StreamingQuery; `detach()` stops it and
  * a later `attach()` resumes from the checkpoint (D4/ST4).
  */
object StreamingPipeline {

  sealed trait Topic { def name: String }
  case object Sales extends Topic { val name = "sales" }
  case object Warehouse extends Topic { val name = "warehouse" }

  /** One stream's source → transform → sink wiring, held un-started. */
  final class Pipeline(
      spark: SparkSession,
      topic: Topic,
      source: () => DataFrame,
      targetPath: String,
      checkpointPath: String,
      trigger: Trigger) {

    @volatile private var query: Option[StreamingQuery] = None

    private def transform(raw: DataFrame): DataFrame = topic match {
      case Sales     => IngestTransform.salesFromJson(raw)
      case Warehouse => IngestTransform.warehouseFromJson(raw)
    }

    /** Start consuming (ClickHouse `ATTACH TABLE`). Idempotent. */
    def attach(): StreamingQuery = synchronized {
      query.filter(_.isActive).getOrElse {
        val q = transform(source())
          .writeStream
          .queryName(s"graft_ingest_${topic.name}")
          .option("checkpointLocation", checkpointPath)
          .trigger(trigger)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            // Sort-within-partitions happens per micro-batch; files
            // interleave across batches but row-group stats still prune
            // (SURVEY.md §7 risk 6).
            EventSink.append(batch, targetPath)
          }
          .start()
        query = Some(q)
        q
      }
    }

    /** Stop consuming (ClickHouse `DETACH TABLE`). State survives in the
      * checkpoint; `attach()` resumes exactly where it stopped. */
    def detach(): Unit = synchronized {
      query.filter(_.isActive).foreach(_.stop())
      query = None
    }

    def isAttached: Boolean = query.exists(_.isActive)

    /** Block until everything currently available is ingested (tests). */
    def processAllAvailable(): Unit = query.foreach(_.processAllAvailable())
  }

  /** Kafka-source pipeline — production shape (S2/S3). One consumer group
    * per topic, like the reference's `clickhouse_sales_consumer` /
    * `clickhouse_warehouse_consumer` (generate_data.py:102,125). */
  def kafka(
      spark: SparkSession,
      topic: Topic,
      brokers: String,
      targetPath: String,
      checkpointPath: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): Pipeline =
    new Pipeline(spark, topic,
      () => spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic.name)
        .option("startingOffsets", "earliest")
        // at-least-once tolerance knobs, mirroring kafka_skip_broken_messages:
        .option("failOnDataLoss", "false")
        .load()
        .select(col("value").cast("string").as("value")),
      targetPath, checkpointPath, trigger)

  /** File/text-source pipeline — same transform, JSON-lines files appearing
    * in a directory. Used by tests and by batch backfills; demonstrates the
    * source-agnostic design (any source yielding a `value: STRING` column). */
  def textDir(
      spark: SparkSession,
      topic: Topic,
      inputDir: String,
      targetPath: String,
      checkpointPath: String,
      trigger: Trigger = Trigger.AvailableNow()): Pipeline =
    new Pipeline(spark, topic,
      () => spark.readStream.text(inputDir),
      targetPath, checkpointPath, trigger)

  /** Optional exactly-once-by-key upgrade over the reference's at-least-once
    * semantics: drop duplicate event_ids within the watermark horizon.
    *
    * Uses `dropDuplicatesWithinWatermark`, not `dropDuplicates`: with plain
    * `dropDuplicates("event_id")` the event-time column is not part of the
    * dedup key, so Spark can never evict state and it grows without bound.
    * The within-watermark variant expires each key once the watermark passes
    * its first-seen event time — bounded state, which is the semantics a
    * 100 TB/day ingest needs. */
  def dedupKeyed(typed: DataFrame, watermarkCol: String, horizon: String): DataFrame =
    typed.withWatermark(watermarkCol, horizon).dropDuplicatesWithinWatermark("event_id")
}
