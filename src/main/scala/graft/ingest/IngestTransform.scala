package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.schema.EventSchemas

/** The reference's materialized-view transforms, as pure batch
  * `DataFrame => DataFrame` functions (so they are testable without Kafka
  * and reusable verbatim under `readStream` — Structured Streaming executes
  * the same logical plan incrementally).
  *
  * Semantics replicated (SURVEY.md §2.2, §2.8):
  *  - JSONEachRow parse with broken-message skip
  *    (`kafka_skip_broken_messages=1`, reference generate_data.py:67):
  *    on corrupt input `from_json` yields an all-null struct (an empty
  *    line yields NULL); the `event_id IS NOT NULL` check drops both.
  *  - `parseDateTimeBestEffortOrNull(event_time)` (generate_data.py:215,236):
  *    lenient parse — NULL, not error, on garbage. The wire format is fixed
  *    `yyyy-MM-dd HH:mm:ss`, but we accept ISO-8601 variants too via
  *    coalesce of `try_to_timestamp` patterns.
  *  - `toDecimal32(x, 2)` (generate_data.py:220-222): cast to Decimal(9,2).
  *  - `WHERE price IS NOT NULL` (generate_data.py:227): drop unparsable
  *    prices — the ONLY row filter in the sales MV; the unparseable-
  *    event_time row is kept (event_time NULL), matching the reference.
  *
  * `processing_time DateTime DEFAULT now()` (generate_data.py:169,190) is
  * not a transform column: as in the reference, the table fills it on
  * insert, here [[EventSink.append]]. The output is
  * `EventSchemas.salesTyped` / `warehouseTyped` without it.
  *
  * Every expression is a built-in `org.apache.spark.sql.functions` call —
  * no UDFs, no RDDs. `from_json` and the `filter` lambda have no generated
  * code of their own: the generated stage calls their interpreted `eval`.
  */
object IngestTransform {

  /** Lenient string→timestamp: NULL on failure, never an error.
    * Mirrors ClickHouse parseDateTimeBestEffortOrNull for the formats the
    * pipeline can see (fixed format first — it short-circuits). */
  def bestEffortTimestamp(c: Column): Column = coalesce(
    try_to_timestamp(c, lit("yyyy-MM-dd HH:mm:ss")),
    try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ss")),
    try_to_timestamp(c, lit("yyyy-MM-dd HH:mm:ss.SSSSSS")),
    try_to_timestamp(c, lit("yyyy-MM-dd")))

  private val money = EventSchemas.money

  /** Raw JSON lines (column `value`: STRING) → the fields of `schema`,
    * one row per line that parsed with an event_id.
    *
    * Each line is parsed once. `from_json(...) AS e` followed by a filter
    * on `e.event_id` would not be: the optimizer pushes the filter below
    * the projection, substitutes the alias, and gives each copy its own
    * pruned schema, so a line was parsed once per predicate plus once for
    * the output. A generator is opaque to that substitution; P3's price
    * filter stays above it. */
  private def parse(raw: DataFrame, schema: StructType): DataFrame =
    raw.select(inline(filter(array(from_json(col("value"), schema)),
      e => e.getField("event_id").isNotNull)))

  /** Raw JSON lines (column `value`: STRING) → typed sales rows.
    * Corrupt JSON rows are skipped (S4); null-price rows dropped (P3). */
  def salesFromJson(raw: DataFrame): DataFrame =
    typedSales(parse(raw, EventSchemas.salesRaw))

  /** Raw JSON lines (column `value`: STRING) → typed stock movements. */
  def warehouseFromJson(raw: DataFrame): DataFrame =
    typedWarehouse(parse(raw, EventSchemas.warehouseRaw))

  /** The sales MV SELECT (reference generate_data.py:211-227) over an
    * already-destructured raw frame. */
  def typedSales(raw: DataFrame): DataFrame = raw
    .select(
      col("event_id"), col("event_type"),
      bestEffortTimestamp(col("event_time")).as("event_time"),
      col("product_id"), col("product_name"), col("category"),
      col("quantity"),
      col("price").cast(money).as("price"),
      col("discount").cast(money).as("discount"),
      col("total").cast(money).as("total"),
      col("store_id"), col("cashier_id"), col("customer_id"))
    .filter(col("price").isNotNull)

  /** The warehouse MV SELECT (reference generate_data.py:232-245). */
  def typedWarehouse(raw: DataFrame): DataFrame = raw
    .select(
      col("event_id"), col("event_type"),
      bestEffortTimestamp(col("event_time")).as("event_time"),
      col("product_id"), col("product_name"), col("category"),
      col("warehouse"), col("quantity"), col("movement_type"),
      col("source"), col("responsible"))
}
