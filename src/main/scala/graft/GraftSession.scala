package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions._

/** Session-level registration of the engine's custom expressions and
  * sketch aggregates via `SparkSessionExtensions` — users get
  * `cosine_sim`, `rolling_hash`, `simhash_agg`, `minhash_agg` in SQL
  * without any per-query register call:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * // or
  * val spark = GraftSession.builder("app").getOrCreate()
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, name, usage, "", "")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(a, b) - cosine similarity of two ARRAY<DOUBLE>"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("sq_dist"),
      info("sq_dist", "sq_dist(a, b) - squared Euclidean distance of two ARRAY<DOUBLE>"),
      (exprs: Seq[Expression]) => SqEuclidean(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("json_int"),
      info("json_int", "json_int(s, key) - first \"key\": integer field by byte scan"),
      (exprs: Seq[Expression]) => JsonIntExpr(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("rolling_hash"),
      info("rolling_hash", "rolling_hash(s) - polynomial rolling hash mod 1e9+7"),
      (exprs: Seq[Expression]) => RollingHashExpr(exprs.head)))
    e.injectFunction((FunctionIdentifier("simhash_agg"),
      info("simhash_agg", "simhash_agg(h) - 64-bit SimHash over feature hashes"),
      (exprs: Seq[Expression]) => SimHashAgg(exprs.head).toAggregateExpression()))
    e.injectFunction((FunctionIdentifier("minhash_agg"),
      info("minhash_agg", "minhash_agg(h) - 128-perm MinHash signature (ARRAY<BIGINT>)"),
      (exprs: Seq[Expression]) =>
        MinHashAgg(exprs.head, MinHashAgg.DefaultA, MinHashAgg.DefaultB)
          .toAggregateExpression()))
    e.injectFunction((FunctionIdentifier("minhash_bands"),
      info("minhash_bands", "minhash_bands(h) - 32 LSH band keys fused into the MinHash sketch"),
      (exprs: Seq[Expression]) =>
        MinHashAgg(exprs.head, MinHashAgg.DefaultA, MinHashAgg.DefaultB,
          bands = MinHashAgg.DefaultBands).toAggregateExpression()))
    e.injectFunction((FunctionIdentifier("shingle_hashes"),
      info("shingle_hashes", "shingle_hashes(s, n) - distinct hashed word n-grams, one pass"),
      (exprs: Seq[Expression]) => ShingleHashesExpr(exprs.head,
        exprs(1).eval(null).asInstanceOf[Int])))
    e.injectFunction((FunctionIdentifier("gram_hashes"),
      info("gram_hashes", "gram_hashes(s, n) - positional hashed word n-grams (index = start)"),
      (exprs: Seq[Expression]) => GramPosHashesExpr(exprs.head,
        exprs(1).eval(null).asInstanceOf[Int])))
    e.injectFunction((FunctionIdentifier("minhash_bands_row"),
      info("minhash_bands_row", "minhash_bands_row(s) - per-row MinHash LSH band keys of a document"),
      (exprs: Seq[Expression]) => MinHashBandsRowExpr(exprs.head, 3,
        MinHashAgg.DefaultBands)))
  }
}

/** The one session factory: every entry point (Verify/Bench/tools/tests)
  * builds its session here. Preconfigured the way this engine wants to
  * run: the graft extensions plus UTC session time, micros parquet
  * timestamps, AQE, no UI, and shuffle parallelism sized to the
  * executor count rather than the 200 default. */
object GraftSession {
  def builder(appName: String, master: String = "local[*]",
      shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")

  /** Bytes-proportional shuffle sizing — SCALE.md §r9's measured
    * three-way policy comparison, promoted into the engine (VERDICT r9
    * #3): initial `spark.sql.shuffle.partitions` =
    * `max(floor, ⌈inputBytes / 64 MB⌉)`, then AQE coalesces DOWN at
    * runtime from actual shuffle sizes. The measurement: partitions
    * kept at a latency-provisioned constant while data grew 256× put
    * ~16 GB through 32 partitions (GC-bound, 460 s where the sized run
    * took 3.6 s); rows-proportional partitions overshot into ~1 MB
    * tasks (scheduling-bound, 2.5× slower); AQE alone, started from a
    * high constant, paid un-coalescible map-side fan-out (16–226%
    * slower). Deriving the INITIAL count from bytes at the 64 MB
    * advisory target — then letting AQE trim — beat both. 64 MB is
    * AQE's own `advisoryPartitionSizeInBytes` default, so the initial
    * guess and the runtime re-plan pull toward the same size. */
  val BytesPerShufflePartition: Long = 64L << 20

  /** The policy as a pure formula (spec anchor). Capped at 2²⁰
    * partitions — past that (64 TB of shuffle) per-reducer metadata in
    * the map-output tracker, not partition size, is the binding
    * constraint, the one knob this formula does not model. */
  def shufflePartitionsForBytes(bytes: Long, floor: Int = 32): Int =
    math.min(1L << 20, math.max(floor.toLong,
      (bytes + BytesPerShufflePartition - 1) / BytesPerShufflePartition)).toInt

  /** Size the session's initial shuffle-partition count from a data
    * directory's on-disk footprint. The floor is the session's CURRENT
    * setting — latency provisioning (≈2×cores) already encodes the
    * small-data answer, so this only ever RAISES the count, and at the
    * driver's test scales (≪ 64 MB × 32) it is the identity. Returns
    * the count it set. */
  def tuneShufflePartitions(spark: SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    val floor = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val parts = shufflePartitionsForBytes(bytes, floor)
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    parts
  }
}
