package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.InsertTimeExpr

/** Partitioned, sort-ordered columnar sink — the MergeTree analog.
  *
  * The reference stores both streams as MergeTree tables with
  * `PARTITION BY toYYYYMM(event_time)` and `ORDER BY (event_time,
  * product_id)` (reference generate_data.py:170-173, 191-194). The Spark
  * mapping (SURVEY.md §4):
  *
  *  - Hive-style `partitionBy("event_month")` parquet layout → partition
  *    pruning for month-range predicates, exactly like CH part pruning.
  *  - `sortWithinPartitions(event_time, product_id)` before write → parquet
  *    row-group min/max statistics give CH-sparse-index-like data skipping
  *    for time-range scans, with zero custom code.
  *
  * At 100 TB this layout is what makes the dashboard queries cheap: a
  * "last 24h" predicate touches at most two month partitions, and within
  * them only the row groups whose event_time range overlaps.
  */
object EventSink {

  /** Derived partition column mirroring `toYYYYMM(event_time)`
    * (reference generate_data.py:171,192). NULL event_time (lenient-parse
    * failures) lands in the Hive default partition — kept, as in the
    * reference, where such rows are still stored. */
  def withEventMonth(df: DataFrame): DataFrame =
    df.withColumn("event_month", date_format(col("event_time"), "yyyyMM"))

  /** `processing_time DateTime DEFAULT now()` (reference
    * generate_data.py:169,190; SURVEY ST5): every row of one insert gets
    * the same insert time, taken when the insert starts. A frame that
    * already carries `processing_time` keeps it, as a supplied value
    * overrides a ClickHouse DEFAULT. */
  private def withInsertTime(df: DataFrame): DataFrame =
    if (df.columns.contains("processing_time")) df
    else df.withColumn("processing_time", InsertTimeExpr.column(java.time.Instant.now()))

  /** Append `df` to `path` as a partitioned, locally-sorted parquet
    * table, stamped with this append's insert time. */
  def append(df: DataFrame, path: String): Unit =
    withEventMonth(withInsertTime(df))
      .sortWithinPartitions("event_month", "event_time", "product_id")
      .write.mode("append")
      .partitionBy("event_month")
      .parquet(path)

  /** Rewrite one closed month partition through a transform, with a
    * swap that never destroys data it hasn't replaced: write the new
    * copy aside, move the live partition out of the way, move the new
    * copy in, and only then delete the old. A crash mid-swap can leave
    * the month temporarily invisible (dot-prefixed dirs are ignored by
    * readers) but every row still exists in exactly one of the aside or
    * tmp dirs — unlike delete-then-rename, which loses the partition if
    * the rename never happens. */
  private def rewriteMonth(spark: org.apache.spark.sql.SparkSession, path: String,
      month: String)(transform: DataFrame => DataFrame): Unit = {
    import org.apache.hadoop.fs.Path
    val partDir = new Path(s"$path/event_month=$month")
    val tmpDir = new Path(s"$path/.compacting_event_month=$month")
    val asideDir = new Path(s"$path/.replaced_event_month=$month")
    val fs = partDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recovery from a crash between the two renames of an earlier run:
    // the data then lives only in asideDir — put it back before redoing
    // the rewrite, so re-running the compactor always self-heals
    if (!fs.exists(partDir) && fs.exists(asideDir))
      require(fs.rename(asideDir, partDir), s"could not restore $asideDir")
    transform(spark.read.parquet(partDir.toString))
      .write.mode("overwrite").parquet(tmpDir.toString)
    fs.delete(asideDir, true) // leftovers from an earlier completed swap
    require(fs.rename(partDir, asideDir), s"could not move $partDir aside")
    require(fs.rename(tmpDir, partDir), s"could not move $tmpDir into place")
    fs.delete(asideDir, true)
    // the files under this table just changed identity — drop any cached
    // relation so later Tables.load calls re-list instead of reading
    // file names that no longer exist
    graft.Tables.invalidate(path)
  }

  /** Compact one closed month partition: streaming appends leave one
    * small sorted file per micro-batch; this rewrites the partition as
    * few large files re-sorted on the table's sort key, restoring
    * optimal row-group skipping. Closed months are immutable, so the
    * rewrite is safe; run it per month as months roll over. */
  def compactMonth(spark: org.apache.spark.sql.SparkSession, path: String,
      month: String, targetFiles: Int = 1): Unit =
    rewriteMonth(spark, path, month)(
      _.repartition(targetFiles)
        .sortWithinPartitions("event_time", "product_id"))

  /** Compact one closed month partition into a Z-ordered layout:
    * instead of the lexicographic (event_time, product_id) sort — whose
    * min/max stats only skip on time — cluster rows along the Morton
    * curve of (minute-bucketed time, product_id) so every file bounds
    * BOTH dimensions and a product-only predicate also skips files
    * ([[graft.operators.ZOrder]]; ZOrderSpec measures ~4× fewer files
    * touched per product on a uniform grid). Use for read-heavy closed
    * months where product-scoped queries matter. */
  def compactMonthZOrdered(spark: org.apache.spark.sql.SparkSession, path: String,
      month: String, targetFiles: Int = 1): Unit = {
    val zk = graft.operators.ZOrder.zkey(
      (unix_micros(col("event_time")) / 60000000L).cast("long"), col("product_id"))
    rewriteMonth(spark, path, month)(
      _.withColumn("_zk", zk)
        .repartitionByRange(targetFiles, col("_zk"))
        .sortWithinPartitions("_zk")
        .drop("_zk"))
  }
}
