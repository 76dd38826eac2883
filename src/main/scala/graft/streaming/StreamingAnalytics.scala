package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType
import graft.operators.Stage
import graft.functions.{FreqItemsAgg, LshBucketKeysExpr, MinHashBandsRowExpr, VectorFunctions}

/** Incremental maintenance of the dashboard aggregates (the alternative
  * ST6 path: instead of re-scanning the table per 5 s poll, keep the
  * aggregate hot in streaming state):
  *
  *  - [[hourlyRevenue]] — the `sales_by_hour` aggregate as a watermarked
  *    tumbling-window streaming aggregation. State per key = one
  *    (window, sums) row; the 1-hour watermark bounds state to
  *    (horizon / window) × active keys and lets late data within the
  *    horizon still merge (the reference's MVs accept any late row,
  *    ST3 — the watermark is the knob that trades that tolerance for
  *    bounded state).
  *
  *  - [[sessionizeStream]] — the batch `sessionize` query as
  *    flatMapGroupsWithState: per-user custom state (open session
  *    bounds + count), 30-minute gap timeout, emits a session row when
  *    the gap closes it. State per user = one small case class,
  *    dropped on timeout → total state is O(active users), regardless
  *    of history length.
  */
object StreamingAnalytics {

  /** Tumbling 1-hour revenue over a typed sales stream (columns
    * event_time TIMESTAMP, total DECIMAL, quantity INT). Works on any
    * DataFrame — batch or streaming — because it is one logical plan. */
  def hourlyRevenue(typedSales: DataFrame): DataFrame =
    typedSales
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour").as("w"))
      .agg(
        sum(col("total").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("revenue"),
        sum(col("quantity")).as("units"),
        count(lit(1)).as("n_sales"))
      .select(col("w.start").as("hour"), col("revenue"), col("units"), col("n_sales"))

  /** Incremental distinct-count MV — the STREAMING half of the
    * ClickHouse `uniqState` AggregatingMergeTree pattern
    * ([[graft.queries.Relational.distinctRollup]] is the batch/merge
    * half): a watermarked daily window maintains one DataSketches HLL
    * state per day (a few KB of bounded state, not a distinct-user
    * set), emitting (day, sketch state, estimate) when the watermark
    * closes the window. The persisted `sk` column is the handoff —
    * later monthly reports `hll_union_agg` the stored states without
    * ever replaying the stream. Same logical plan batch or streaming
    * (the TypedImperativeAggregate sketch is mergeable, so micro-batch
    * partials combine exactly like shuffle partials). */
  def dailyUniquesStream(events: DataFrame,
      tsCol: String = "ts", idCol: String = "user_id"): DataFrame =
    events
      .withWatermark(tsCol, "1 day")
      .groupBy(window(col(tsCol), "1 day").as("w"))
      .agg(expr(s"hll_sketch_agg($idCol)").as("sk"))
      .select(col("w.start").as("day"), col("sk"),
        expr("hll_sketch_estimate(sk)").as("est_users"))

  /** Keyed Misra–Gries heavy hitters over a stream — the sketch
    * (`functions/FreqItemsAgg`) is mergeable, so it runs as a normal
    * incremental streaming aggregate: each micro-batch's partial
    * buffers merge into the k-counter state per key, and state stays
    * k counters per key FOREVER, no matter how many items flow
    * through — the bounded-state form of "what's trending per key".
    * Works on a batch frame too (one logical plan, like
    * [[hourlyRevenue]]). Estimates depend on merge order (standard
    * MG), but the guarantee does not: any item with true frequency
    * > n/(k+1) is in the map, undercounted by at most n/(k+1) —
    * StreamingAnalyticsSpec drives multiple micro-batches and asserts
    * exactly that. */
  def freqItemsStream(events: DataFrame, key: String, item: String,
      k: Int = 7): DataFrame = {
    events.groupBy(col(key))
      .agg(FreqItemsAgg.column(col(item), k).as("heavy_hitters"))
  }

  /** Stream-stream interval join as a library operator — the streaming
    * mirror of the batch `range_join` query: each left row pairs with
    * right rows of the same key whose event time falls in
    * `(leftTime, leftTime + horizon]`.
    *
    * Both sides are watermarked, which is what lets Spark bound the join
    * state: a buffered row can be dropped as soon as the other side's
    * watermark passes the end of its match window, so state is
    * O(rows inside watermark + horizon) per side regardless of stream
    * length. Key columns must already be named apart (rename before
    * calling); the joined frame carries both sides' columns. */
  def intervalJoin(
      left: DataFrame, leftKey: String, leftTime: String,
      right: DataFrame, rightKey: String, rightTime: String,
      horizon: String, watermark: String): DataFrame =
    left.withWatermark(leftTime, watermark)
      .join(right.withWatermark(rightTime, watermark),
        col(leftKey) === col(rightKey) &&
          col(rightTime) > col(leftTime) &&
          col(rightTime) <= col(leftTime) + expr(s"INTERVAL $horizon"))

  /** Stream-static enrichment join (SURVEY.md §2.3's natural extension):
    * a streaming fact joined to a batch dimension. The static side is
    * re-resolved per micro-batch (so a dimension refresh is picked up
    * without restarting the query) and broadcast-hinted — the plan
    * inside every micro-batch is the same BroadcastHashJoin the batch
    * `enrich_broadcast` query runs; for a dimension too big to
    * broadcast, call with the hint stripped and let AQE pick the
    * shuffle join. Stateless: no watermark, no join state, unlike the
    * stream-stream [[intervalJoin]]. */
  def enrichStream(stream: DataFrame, streamKey: String,
      dim: DataFrame, dimKey: String): DataFrame =
    stream.join(broadcast(dim), col(streamKey) === col(dimKey), "left_outer")

  /** The static historical side of streaming near-dup detection: every
    * (band, key) of every corpus document, built batch-side with the
    * same per-row kernel the stream probe uses. At scale this is the
    * persisted "LSH index" table, partitioned by band key. */
  def bandIndexOf(history: DataFrame): DataFrame = {
    history.select(col("doc_id").as("ref_id"),
      posexplode(MinHashBandsRowExpr.column(col("text"))).as(Seq("band", "bkey")))
  }

  /** Online near-duplicate detection: incoming documents checked against
    * a historical corpus WITHOUT any streaming state — the per-row
    * MinHash band kernel ([[graft.functions.MinHashBandsRowExpr]]) is a
    * stateless projection, so the whole plan is projection → explode →
    * stream-static equi-join on (band, key), which Structured Streaming
    * runs in append mode with no watermark. (The aggregate MinHash
    * formulation cannot do this: a streaming groupBy would force
    * update-mode state and forbid the downstream join.) Emits one row
    * per band collision (doc_id, ref_id, band); production pipelines
    * dedup collisions and exact-verify per micro-batch in foreachBatch —
    * the same verify stage the batch path uses. */
  def nearDupStream(incoming: DataFrame, bandIndex: DataFrame): DataFrame = {
    incoming.select(col("doc_id"),
        posexplode(MinHashBandsRowExpr.column(col("text"))).as(Seq("band", "bkey")))
      .join(bandIndex, Seq("band", "bkey"))
      .filter(col("doc_id") =!= col("ref_id"))
      .select("doc_id", "ref_id", "band")
  }

  /** The (8, 4) hyperplane bucket keys of a float `embedding` column. */
  private def bucketKeys(embedding: org.apache.spark.sql.Column) =
    LshBucketKeysExpr.column(embedding.cast("array<double>"),
      graft.similarity.Similarity.planesFor(8, 4), 4)

  /** Hyperplane bucket index of a stored embedding corpus — one row
    * per (vector, table) with the vector carried for in-stream verify;
    * the SEMANTIC analog of [[bandIndexOf]], same geometry as the
    * batch net ([[graft.similarity.Similarity.planesFor]](8, 4), the
    * oracle-pinned configuration, so `semantic_incremental`'s batch
    * results and this index agree bucket-for-bucket). */
  def lshBucketIndexOf(corpus: DataFrame): DataFrame = {
    corpus.select(col("vec_id").as("ref_id"),
      col("embedding").cast("array<double>").as("rv"),
      posexplode(bucketKeys(col("embedding"))).as(Seq("tbl", "bucket")))
  }

  /** Online SEMANTIC near-duplicate detection — the streaming form of
    * [[graft.similarity.Similarity.semanticIncremental]]: arriving
    * embeddings probe a static bucket index with zero streaming state
    * (stateless projection → explode → stream-static equi-join on
    * (table, bucket), append mode, no watermark — the
    * [[nearDupStream]] plan shape). Unlike the text path, the exact
    * verify runs IN-STREAM: cosine is a cheap codegen'd per-row
    * kernel, so the emitted rows are VERIFIED matches (cos ≥ 0.4),
    * not raw collisions. One row per (vector, match, table) —
    * multi-table hits repeat across tables because a streaming
    * distinct would force aggregation state; consumers dedup per
    * micro-batch (or take any row — the match set per pair is
    * identical). The argmax/labeling tail stays in foreachBatch or
    * downstream, where the batch query's hash-checked form already
    * defines it. */
  def semanticProbeStream(incoming: DataFrame, bucketIndex: DataFrame): DataFrame = {
    incoming.select(col("vec_id"),
        col("embedding").cast("array<double>").as("qv"),
        posexplode(bucketKeys(col("embedding"))).as(Seq("tbl", "bucket")))
      .join(bucketIndex, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("ref_id"))
      .withColumn("cos_sim", VectorFunctions.cosineSim(col("qv"), col("rv")))
      .filter(col("cos_sim") >= 0.4)
      .select("vec_id", "ref_id", "tbl", "cos_sim")
  }

  /** STREAMING MAINTENANCE of the PERSISTED semantic bucket index — the
    * LSH analog of [[annIndexStream]] (same table-as-state discipline):
    * arriving corpus embeddings are banded through the frozen
    * [[lshBucketIndexOf]] geometry and appended to a parquet posting
    * table of exactly the shape [[semanticProbeStream]] joins against.
    * Composing the two gives the full production loop — index stream
    * keeps the table fresh, probe stream reads it as the static side —
    * with ZERO Spark streaming state on either side: the index stream
    * is a stateless projection per micro-batch, the probe a
    * stream-static equi-join. Idempotency follows the pass-table
    * recipe: replayed vec_ids anti-join out against the table's
    * existing ref_ids, so a crash-replayed batch appends nothing (a
    * duplicated index row would duplicate probe hits). A probe session
    * that already scanned the table must `refreshByPath` to see later
    * appends — the [[annIndexStream]] caveat verbatim. */
  def bucketIndexStream(incoming: DataFrame, indexPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // in-batch dedup first: two files delivering one vec_id in one
        // trigger would both survive the table anti-join (annIndexStream)
        val vs = batch.select("vec_id", "embedding").dropDuplicates("vec_id")
        // missing/empty table = first batch; a real read failure must
        // fail the batch, not wipe the idempotency guard
        val dir = new org.apache.hadoop.fs.Path(indexPath)
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val hasData = fs.exists(dir) && fs.globStatus(
          new org.apache.hadoop.fs.Path(indexPath, "*.parquet")).nonEmpty
        val arriving =
          if (hasData)
            vs.join(spark.read.parquet(indexPath)
                .select(col("ref_id").as("vec_id")).distinct(),
              Seq("vec_id"), "left_anti")
          else vs
        lshBucketIndexOf(arriving).write.mode("append").parquet(indexPath)
        ()
      }
      .start()

  /** STREAMING CORPUS CURATION MV — the reference's
    * Kafka→MV→MergeTree ingestion shape applied to the training-corpus
    * domain, with the dedup state living in the SINK (the
    * AggregatingMergeTree idea: the table IS the state):
    *
    * per micro-batch (`foreachBatch`, the canonical pattern for
    * batch-grade logic inside a stream):
    *  1. quality-gate the arriving docs
    *     ([[graft.text.TextAnalysis.qualityGateOf]], stateless);
    *  2. re-read the pass table as history and run the SAME
    *     batch-vs-history triage the batch path uses
    *     ([[graft.dedup.Dedup.dedupIncrementalOf]]: band-index probe +
    *     candidate-restricted exact verify);
    *  3. append unique docs to the pass table — which makes them
    *     HISTORY for every later micro-batch (cross-batch dedup
    *     without any streaming state) — and everything else, gate
    *     rejects included, to the quarantine table with its reason.
    *
    * Spark streaming state carried: ZERO rows (no watermark, no
    * aggregation state). Delivery: the checkpoint prevents
    * re-consuming acknowledged input, and the PASS table is idempotent
    * at doc_id granularity — a crash-replayed batch's docs anti-join
    * out against the rows their first attempt appended, so the corpus
    * never holds duplicates. The QUARANTINE side stays at-least-once
    * (a replay can re-append reject rows); production closes that
    * residual window with a transactional table format or batchId
    * stamping. Scale note: THIS implementation re-bands the pass
    * table's text each micro-batch (fine while history fits a scan;
    * the probe itself touches text only for band-colliding
    * candidates); the 100 TB deployment persists the band index and
    * shingle store incrementally alongside the pass table — same
    * appends, same triage joins, no per-batch re-derivation.
    *
    * `bloomHistoryGuard`: the replay-idempotency check (step 3's
    * anti-join of arriving doc_ids against the pass table) is the one
    * place this stream shuffles HISTORY — at 100 TB that is re-sorting
    * the whole corpus id set every micro-batch to reject the occasional
    * crash-replay. With the guard on, it runs through
    * [[graft.operators.BloomPrune.prunedAntiJoin]] instead: a KB-scale
    * Bloom of the BATCH's ids filters history in its scan tasks, so
    * only the might-match sliver (replays + fpp·history) ever shuffles
    * and the confirmed ids broadcast back into the exact anti join —
    * result identical by construction (the spec pins table equality
    * both ways), history never shuffle-sorts. `expectedBatchDocs`
    * sizes the Bloom over the batch (overshoot costs KBs). The
    * endgame past even one scan per batch is a pass table bucketed on
    * doc_id — see prunedAntiJoin's scale envelope note. */
  def curateStream(incoming: DataFrame, passPath: String,
      quarantinePath: String, checkpoint: String,
      bloomHistoryGuard: Boolean = false,
      expectedBatchDocs: Long = 4L << 20)
      : org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // what the batch materializes is released when it ends
        Stage(spark) { st =>
          // materialized once: the gate's tokenize + marker scan feeds the
          // reject anti-join, the triage union, and both sink writes
          val gated = st.checkpoint(graft.text.TextAnalysis.qualityGateOf(batch)
            .select("doc_id", "text"))
          val rejected = batch.select("doc_id", "text")
            .join(gated.select("doc_id"), Seq("doc_id"), "left_anti")
            .withColumn("reason", lit("quality_gate"))
          // only a MISSING/EMPTY pass table means "first batch, empty
          // history" — a real read failure (transient FS error, corrupt
          // footer) must fail the batch, not silently wipe the dedup
          // history, so the probe checks for data files rather than
          // swallowing read exceptions
          val passDir = new org.apache.hadoop.fs.Path(passPath)
          val fs = passDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val hasData = fs.exists(passDir) && fs.globStatus(
            new org.apache.hadoop.fs.Path(passPath, "*.parquet")).nonEmpty
          val history =
            if (hasData) spark.read.parquet(passPath).select("doc_id", "text")
            else spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType.fromDDL(
                "doc_id BIGINT, text STRING"))
          // doc_id-level idempotency: a crash-replayed batch re-arrives
          // with ids its first attempt already appended — anti-join them
          // out so the pass table never holds duplicate rows (and so the
          // triage never sees the same id on both sides, which would
          // double that doc's shingle counts)
          val arriving =
            if (bloomHistoryGuard)
              graft.operators.BloomPrune.prunedAntiJoin(
                gated, "doc_id", history, "doc_id", expectedBatchDocs)
            else gated
              .join(history.select("doc_id"), Seq("doc_id"), "left_anti")
          val labeled = st.checkpoint(graft.dedup.Dedup.dedupIncrementalOf(
            history.withColumn("source", lit("history"))
              .unionByName(arriving.withColumn("source", lit("arriving"))),
            batchSource = "arriving")
            .join(gated, "doc_id")) // re-attach text; one triage run serves both writes
          labeled.filter(col("status") === "unique")
            .select("doc_id", "text")
            .write.mode("append").parquet(passPath)
          labeled.filter(col("status") =!= "unique")
            .select(col("doc_id"), col("text"), col("status").as("reason"))
            .unionByName(rejected)
            .write.mode("append").parquet(quarantinePath)
        }
      }
      .start()

  /** STREAMING ANN-INDEX MAINTENANCE — the serving-index sibling of
    * [[curateStream]] (same table-as-state discipline, applied to the
    * vector domain): new embedding vectors arrive as a stream and are
    * folded into a persisted IVF-PQ posting table of the exact shape
    * [[graft.similarity.Similarity.annIvfPqServed]] probes.
    *
    * Integration caveats (what "feeds the served probe" requires):
    * a probe session that already scanned the posting table holds its
    * file listing in the relation cache — it must
    * `spark.catalog.refreshTable`/`refreshByPath` after external
    * appends to see them; and the served probe re-ranks from the
    * CORPUS store's float vectors (the index holds codes, not
    * vectors), so an arrival must land in the corpus table as well or
    * it will rank in the shortlist and then drop at the re-rank join.
    * Production appends both stores per batch — this operator is the
    * posting-side half.
    *
    * Per micro-batch (`foreachBatch`):
    *  1. idempotency guard — replayed vec_ids anti-join out against the
    *    posting table's existing ids (the pass-table recipe), so a
    *    crash-replayed batch appends nothing;
    *  2. coarse assignment — the SAME argmax-as-hash-aggregate the batch
    *    index build uses ([[graft.similarity.Similarity.nearestLists]])
    *    against the broadcast FROZEN centroid table;
    *  3. PQ encode against the frozen codebook
    *    ([[graft.similarity.ProductQuantizer.encodeAll]], per-row);
    *  4. append (vec_id, list_id, codes) to the posting table — visible
    *    to the next served probe.
    *
    * Spark streaming state: ZERO rows — both models are broadcast
    * static frames and every step is a stateless projection/aggregate
    * over the arriving sliver. The models are deliberately FROZEN: an
    * index must encode arrivals with the codebook its stored codes were
    * built with (mixing codebooks corrupts ADC distances); when drift
    * warrants retraining, production rebuilds the index offline
    * ([[graft.similarity.Similarity.ensureServedIndex]]) and swaps —
    * the FAISS lifecycle. The no-duplicates guarantee (in-batch dedup +
    * table anti-join) is load-bearing: a duplicated posting row doubles
    * that vector's summed ADC distance in the probe and evicts it from
    * the shortlist — the probe's dropDuplicates dedups candidates, not
    * the codes join. StreamingAnalyticsSpec pins stream-built ==
    * batch-built postings and replay idempotence. */
  def annIndexStream(incoming: DataFrame, // streaming (vec_id, embedding)
      coarse: DataFrame, codebook: DataFrame,
      postingPath: String, checkpoint: String,
      m: Int = 8, subDim: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // what the batch materializes is released when it ends
        Stage(spark) { st =>
          // in-batch dedup FIRST: two files delivering the same vec_id in
          // one trigger would both survive the table anti-join and append
          // twice — and a duplicated posting row doubles that vector's
          // summed ADC distance in the probe (codes join is not deduped),
          // evicting it from the shortlist. Not mere degradation.
          val vs = batch.select(col("vec_id"),
            col("embedding").cast("array<double>").as("v"))
            .dropDuplicates("vec_id")
          // missing/empty table = first batch; a real read failure must
          // fail the batch, not wipe the idempotency guard (the
          // curateStream probe rule)
          val postDir = new org.apache.hadoop.fs.Path(postingPath)
          val fs = postDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val hasData = fs.exists(postDir) && fs.globStatus(
            new org.apache.hadoop.fs.Path(postingPath, "*.parquet")).nonEmpty
          val arriving = st.checkpoint( // one materialization feeds assign + encode
            if (hasData)
              vs.join(spark.read.parquet(postingPath).select("vec_id"),
                Seq("vec_id"), "left_anti")
            else vs)
          val assigned = graft.similarity.Similarity
            .nearestLists(coarse, arriving, "v", 1, "list_id")
            .select("vec_id", "list_id")
          val codes = graft.similarity.ProductQuantizer
            .encodeAll(arriving, m, subDim, codebook)
          assigned.join(codes, "vec_id")
            .write.mode("append").parquet(postingPath)
        }
      }
      .start()

  /** STREAMING MIXTURE-DRIFT MONITOR — the online form of the
    * `source_drift` / `drift_incremental` diagnostic: every arriving
    * micro-batch is scored per source against a FROZEN corpus unigram
    * model ([[graft.text.TextAnalysis.unigramModelOf]], built once
    * from history) and the per-batch TV-distance rows append to a
    * drift-report table — the "did tonight's crawl slice shift
    * off-distribution" alarm the serving layer reads.
    *
    * `foreachBatch` because the kernel needs two aggregations (slice
    * term counts, then the per-source reduction) — not expressible as
    * one streaming agg. State: ZERO rows; the model is a static
    * vocabulary-bound frame re-broadcast per batch, the scored slice
    * is batch-sized, and the kernel is the SAME code path the
    * hash-checked `drift_incremental` driver row gates
    * ([[graft.text.TextAnalysis.driftAgainstModelOf]] — OOV terms
    * carry c_t = 0, so a batch of novel vocabulary reads as maximal
    * drift, not a dropped join). Deliberately frozen like the ANN
    * index's codebook: a drift monitor that re-fit its reference on
    * every batch would chase the drift it is supposed to flag;
    * retraining is an offline model swap. */
  def driftStream(incoming: DataFrame, model: DataFrame,
      reportPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.text.TextAnalysis.driftAgainstModelOf(batch, model)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(reportPath)
        ()
      }
      .start()

  /** Train-batch / score-stream classifier composition: the model from
    * [[graft.text.TextAnalysis.nbModelOf]] (a STATIC, vocabulary-sized
    * frame — the fastText-file analog) is broadcast into a scoring plan
    * that works identically on a batch frame or a `readStream` of
    * documents. Exploded tokens stream-static-join the model map-side
    * (the unbounded side never shuffles); per-document per-class masses
    * pivot into ONE streaming aggregation (5 conditional sums — a
    * single state row per doc, not one per class); the argmax is a
    * stateless when-chain in class order, breaking ties toward the
    * earlier class exactly like the batch classifier's
    * `(score DESC, class ASC)` row_number. A class sharing no term
    * with the doc scores -1 (absent < any real nonnegative score). */
  def nbScore(docs: DataFrame, model: DataFrame, totals: DataFrame,
      classes: Seq[String]): DataFrame = {
    require(classes.nonEmpty && classes == classes.sorted,
      "pass classes sorted so tie-breaks match the batch classifier")
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val joined = toks.join(broadcast(model.join(totals, "clang")), "term")
    def m(c: String) = s"m_$c"; def t(c: String) = s"t_$c"
    val aggCols =
      classes.map(c => sum(when(col("clang") === c, col("c")).otherwise(lit(0L))).as(m(c))) ++
      classes.map(c => max(when(col("clang") === c, col("t"))).as(t(c)))
    val mass = joined.groupBy("doc_id").agg(aggCols.head, aggCols.tail: _*)
    val score = classes.map(c =>
      c -> coalesce(col(m(c)).cast("double") / col(t(c)), lit(-1.0)))
    val predicted = score.init.zipWithIndex.foldRight(lit(classes.last)) {
      case (((c, s), i), rest) =>
        when(score.drop(i + 1).map(_._2 <= s).reduce(_ && _), c).otherwise(rest)
    }
    mass.select(col("doc_id"), predicted.as("predicted"))
  }

  /** Native session-window aggregation — the third sessionization path
    * next to the batch lag-cumsum ([[graft.queries.Relational.sessionize]])
    * and the custom [[sessionizeStream]] state machine: Spark's built-in
    * `session_window()` grouped aggregation. One logical plan serves
    * batch and streaming (watermark the input first for streaming
    * append mode); state per open session is one merging window row,
    * dropped once the watermark passes its close — the managed-state
    * equivalent of the hand-rolled GroupState below.
    *
    * Boundary semantics (pinned empirically in StreamingAnalyticsSpec):
    * the built-in closes a session only when the next event is
    * STRICTLY more than `gap` after the last — an exactly-gap event
    * still merges — which is the same inclusive rule as the
    * lag-cumsum's `diff > gap` test, so the two paths agree everywhere
    * and share one oracle formulation. */
  def sessionWindowAgg(events: DataFrame, userCol: String, timeCol: String,
      gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col(userCol), session_window(col(timeCol), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"),
           min(col(timeCol)).as("session_start"),
           max(col(timeCol)).as("session_end"))
      .select(col(userCol), col("session_start"), col("session_end"), col("n_events"))

  case class SessionEvent(user_id: String, event_time: Timestamp)
  case class SessionState(start: Long, end: Long, n: Long)
  case class SessionOut(user_id: String, session_start: Timestamp,
      session_end: Timestamp, n_events: Long)

  val GapMs: Long = 30 * 60 * 1000L

  /** Gap-closure logic, exposed for unit tests. */
  def advance(state: Option[SessionState], eventTimesMs: Seq[Long]):
      (Option[SessionState], Seq[SessionState]) = {
    var open = state
    val closed = Seq.newBuilder[SessionState]
    eventTimesMs.sorted.foreach { t =>
      open = open match {
        case Some(s) if t - s.end <= GapMs => Some(s.copy(end = t, n = s.n + 1))
        case Some(s) => closed += s; Some(SessionState(t, t, 1))
        case None => Some(SessionState(t, t, 1))
      }
    }
    (open, closed.result())
  }

  case class BudgetDoc(source: String, doc_id: Long, n_tokens: Long)
  case class BudgetOut(source: String, doc_id: Long, n_tokens: Long,
      cum_tokens: Long, admitted: Boolean)

  /** Pure admission step, exposed for unit tests: fold the batch's
    * docs (doc_id order — the only reproducible order inside a
    * micro-batch) over the source's running admitted-token total. A
    * document is admitted iff it fits WHOLE under the budget; rejected
    * docs pass through flagged (audit/re-route), leaving the total
    * untouched — a later smaller doc may still fit. */
  def admitStep(already: Long, docs: Seq[BudgetDoc],
      budget: Long): (Long, Seq[BudgetOut]) = {
    var cum = already
    val out = docs.sortBy(_.doc_id).map { d =>
      val admit = cum + d.n_tokens <= budget
      if (admit) cum += d.n_tokens
      BudgetOut(d.source, d.doc_id, d.n_tokens, cum, admit)
    }
    (cum, out)
  }

  /** Streaming counterpart of the batch `token_budget` query:
    * per-source token-budget ADMISSION on the ingest stream — "stop
    * taking documents from a source once it has contributed its token
    * quota", enforced while the data arrives instead of in a later
    * batch pass. State is ONE long per source (the admitted-token
    * total): the state axis is sources — bounded and tiny at any
    * corpus scale — so no timeout is needed and the state store
    * plateaus at #sources entries (the same boundedness argument
    * measured for dedupKeyed in SCALE.md §r9). Admission order is
    * arrival order across micro-batches (inherent to streaming
    * admission; the batch twin is the deterministic replay), doc_id
    * order within one. */
  /** One admission budget, interpolated into BOTH the registered
    * streaming query below and its DuckDB oracle
    * ([[graft.text.TextAnalysis.oracles]]) — a single edit point. */
  private[graft] val AdmissionBudget = 1300L

  /** Hard ceiling on the MemoryStream HARNESS feed (and thus the
    * ledger) this registered row collects onto the driver. The collect
    * is inherent to the harness, not the operator — but the row sits
    * in the standard registry, so a registry-wide sweep over an
    * amplified corpus must fail LOUD here instead of silently driving
    * the driver to OOM (ADVICE r12). 2²⁰ docs ≈ tens of MB of
    * (source, id, tokens) triples — far above every verify/bench scale
    * factor, far below driver memory. */
  private[graft] val AdmissionHarnessMaxRows = 1L << 20

  /** REGISTERED stream-equivalence row for [[tokenBudgetStream]]
    * (VERDICT r11 #6): feed the scale-factor documents through a
    * MemoryStream in five doc_id-contiguous micro-batches, run the
    * per-source admission with one long of state per source, and
    * return the admitted/rejected ledger. The DuckDB oracle recomputes
    * the SAME greedy fold (admit iff the doc fits WHOLE under
    * [[AdmissionBudget]]; rejected docs leave the total untouched) as
    * a recursive CTE in doc_id order — so the row turns red if the
    * streaming state ever drops, double-counts, or re-orders a
    * source's total across batches. The driver-held feed is the
    * MemoryStream HARNESS, not the operator: in production the same
    * [[tokenBudgetStream]] hangs off the ingest source
    * ([[StreamingPipeline]]), and its state is #sources longs at any
    * corpus size. Arrival order is doc_id order here because the batch
    * twin must be SQL-expressible; streaming admission in general is
    * arrival-order (scaladoc above). */
  def tokenBudgetAdmission(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = graft.Tables.documents(spark, d)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val n = src.count() // column-pruned; cheap next to the harness run
    require(n <= AdmissionHarnessMaxRows,
      s"token_budget_admission is a driver-held MemoryStream harness " +
        s"($n rows > cap $AdmissionHarnessMaxRows); run the streaming " +
        "operator tokenBudgetStream off a real source at this scale")
    val feed = src.as[BudgetDoc].collect().sortBy(_.doc_id)
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[BudgetDoc]
    val name = "token_budget_admission_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    // Size the state-store partition count from the KEY SPACE, not the
    // session's byte-derived shuffle default (r17; guide §2.2 "fewer,
    // larger partitions"): the state axis is sources — bounded and tiny
    // at any corpus size (the operator's own scaladoc) — while the
    // session default provisions for corpus-sized shuffles. Every state
    // partition costs a store open/commit per micro-batch whether or
    // not it holds a key, so 32 partitions × 5 batches ran 160 state
    // tasks for 20 sources (measured 84 exec-core-s of store overhead
    // at sf0.1). Derived from the data (distinct sources in the feed,
    // floor 4 for key skew), never hard-coded to a core count; the
    // ledger is per-source deterministic, so partitioning cannot change
    // a row. Restored in the same finally that drops the sink view.
    val nSources = feed.iterator.map(_.source).toSet.size
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      math.max(4, math.min(prevParts.toInt, nSources)).toString)
    val q =
      try tokenBudgetStream(stream.toDS(), AdmissionBudget)
        .writeStream.outputMode("append").format("memory").queryName(name)
        .start()
      catch { case t: Throwable =>
        spark.conf.set("spark.sql.shuffle.partitions", prevParts); throw t }
    // drain the ledger out of the memory sink, then DROP the sink's
    // temp view before returning: the sink table holds the full ledger
    // on the driver and clearCache() does not drop temp views, so a
    // session calling this repeatedly (Bench's passes) would otherwise
    // accumulate one ledger copy per invocation. The ledger is
    // driver-sized by the same argument as the feed (this is the
    // MemoryStream harness); the returned frame is a LocalRelation.
    val ledger =
      try {
        // five doc_id-contiguous micro-batches: the per-source totals
        // must carry ACROSS batch boundaries for the hash to match
        feed.grouped(math.max(1, (feed.length + 4) / 5)).foreach { chunk =>
          stream.addData(chunk.toSeq)
          q.processAllAvailable()
        }
        spark.table(name).as[BudgetOut].collect()
      } finally {
        // drop BEFORE stop: stop() can throw (stopTimeout, fatal
        // stream error), and the view drop must not be skippable or
        // the ledger leak this drain exists to close reopens
        spark.conf.set("spark.sql.shuffle.partitions", prevParts)
        spark.catalog.dropTempView(name)
        q.stop()
      }
    spark.createDataset(ledger.toSeq).toDF()
      .select(col("source"), col("doc_id"), col("n_tokens"),
        col("cum_tokens"),
        col("admitted").cast("long").as("admitted"))
      .orderBy("source", "doc_id")
  }

  def tokenBudgetStream(docs: Dataset[BudgetDoc],
      budgetTokens: Long): Dataset[BudgetOut] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.groupByKey(_.source)
      .flatMapGroupsWithState[Long, BudgetOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[BudgetDoc], state: GroupState[Long]) =>
          val (cum, out) = admitStep(state.getOption.getOrElse(0L),
            rows.toSeq, budgetTokens)
          state.update(cum)
          out.iterator
      }
  }

  // ---------- streaming KMV sketch maintenance (VERDICT r16 #6) ----------

  /** One (source, 64-bit shingle hash) stream element — the same
    * shape [[graft.dedup.Dedup.kmvSourceSummaries]] aggregates in
    * batch. */
  case class KmvIn(source: String, shingle: Long)

  /** Per-source sketch state: the retained k-minimum values in
    * unsigned ascending order (exactly [[graft.functions.KmvState]]'s
    * eval representation — re-adding them reconstructs the state, and
    * the snapshot column is bit-comparable against the batch
    * aggregate's `sk`), plus an update counter so a sink holding every
    * emitted snapshot can select the latest per source. */
  case class KmvSnap(source: String, upd: Long, sk: Array[Long])

  /** Incremental per-source KMV/Theta sketch maintenance — the
    * streaming consumer of the batch Theta algebra (VERDICT r16 #6):
    * the mixture builder's live question is "how much of the data
    * arriving from source X is NOVEL against my corpus", and the
    * batch operators (`source_novelty_kmv`, `mix_coverage_kmv`,
    * `coverage_curve_kmv`) all consume per-source sketch SUMMARIES —
    * so a streaming state that maintains those same sketches makes
    * every one of them a live query over the snapshot, with no new
    * estimator code. State per source is the retained k values (k
    * longs — model-sized; the state axis is sources, bounded like
    * [[tokenBudgetStream]]'s), updated by replaying them into a
    * [[graft.functions.KmvState]] and adding the batch's hashes. A
    * KMV sketch is a commutative, idempotent monoid over value SETS —
    * insertion order, batch boundaries, and duplicate re-delivery all
    * land on the identical k-minimum state — so the emitted snapshot
    * is BIT-identical to what the batch `kmv_sketch` aggregate
    * computes over the union of every batch so far (the union law
    * KmvSketchSpec pins; the streaming parity spec re-pins it across
    * micro-batch boundaries). Append mode with an `upd` counter: the
    * latest snapshot per source is max(upd), and a restart replays
    * from the checkpointed state exactly like every other stateful
    * operator here. */
  def kmvSketchStream(ss: Dataset[KmvIn],
      k: Int = graft.dedup.Dedup.KmvK): Dataset[KmvSnap] = {
    val spark = ss.sparkSession
    import spark.implicits._
    ss.groupByKey(_.source)
      .flatMapGroupsWithState[KmvSnap, KmvSnap](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source: String, rows: Iterator[KmvIn], state: GroupState[KmvSnap]) =>
          val st = new graft.functions.KmvState(k)
          val prev = state.getOption
          prev.foreach(_.sk.foreach(st.add))
          rows.foreach(r => st.add(r.shingle))
          val snap = KmvSnap(source, prev.map(_.upd).getOrElse(0L) + 1L,
            st.sorted)
          state.update(snap)
          Iterator.single(snap)
      }
  }

  /** The batch pair algebra over a (source, sk) snapshot frame — the
    * SAME directed difference/union estimator the registered
    * `source_novelty_kmv` runs ([[graft.dedup.Dedup.kmvNoveltyOfSummaries]]),
    * applied to [[kmvSketchStream]]'s latest snapshots: novelty of
    * arriving data as a live query. The snapshot frame is S rows of k
    * longs (model-sized), so this is driver-cheap at any corpus
    * scale. */
  def kmvNoveltyOfSnapshot(snaps: DataFrame,
      k: Int = graft.dedup.Dedup.KmvK): DataFrame = Stage(snaps.sparkSession) { st =>
    graft.dedup.Dedup.kmvNoveltyOfSummaries(
      st.checkpoint(graft.dedup.Dedup.kmvSummary(snaps.select("source", "sk"), k)), k)
  }

  /** Streaming sessionization with custom state. Event-time timeout
    * closes idle sessions once the watermark passes start+gap. */
  def sessionizeStream(events: Dataset[SessionEvent]): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("event_time", "30 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: String, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          def out(s: SessionState) = SessionOut(user,
            new Timestamp(s.start), new Timestamp(s.end), s.n)
          if (state.hasTimedOut) {
            val done = state.getOption.map(out).toSeq
            state.remove()
            done.iterator
          } else {
            val (open, closed) = advance(state.getOption,
              rows.map(_.event_time.getTime).toSeq)
            open match {
              case Some(s) =>
                state.update(s)
                state.setTimeoutTimestamp(s.end + GapMs)
              case None => state.remove()
            }
            closed.map(out).iterator
          }
      }
  }
}
