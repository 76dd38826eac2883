package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamingAnalytics
import graft.streaming.StreamingAnalytics.{SessionEvent, SessionState}

/** Incremental (streaming) aggregates match their batch equivalents, and
  * the custom session state machine behaves. */
class StreamingAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def sale(id: String, t: String, total: String, qty: Int) =
    s"""{"event_id":"$id","event_type":"sale","event_time":"$t","product_id":1,"product_name":"p","category":"c","quantity":$qty,"price":10.00,"discount":0.0,"total":$total,"store_id":1,"cashier_id":1,"customer_id":"u"}"""

  test("streaming Misra-Gries: heavy-hitter guarantee holds across micro-batches") {
    val in = tmpDir("mg-in")
    // skew: per bucket, item "hot" dominates; lots of one-off noise items
    def batchLines(tag: String): Seq[String] =
      (0 until 2).flatMap { b =>
        Seq.fill(40)(s"$b,hot") ++ Seq.fill(10)(s"$b,warm") ++
          (0 until 10).map(i => s"$b,noise-$tag-$i")
      }
    Files.write(Paths.get(in, "b1.csv"), String.join("\n", batchLines("x"): _*).getBytes)
    val stream = spark.readStream
      .schema("bucket LONG, item STRING").csv(in)
    val out = StreamingAnalytics.freqItemsStream(stream, "bucket", "item", k = 7)
    val q = out.writeStream.outputMode("complete")
      .format("memory").queryName("mg_out").start()
    try {
      q.processAllAvailable()
      // second micro-batch arrives later — state must merge, not reset
      Files.write(Paths.get(in, "b2.csv"), String.join("\n", batchLines("y"): _*).getBytes)
      q.processAllAvailable()
      val got = spark.table("mg_out")
        .select($"bucket", $"heavy_hitters").as[(Long, Map[String, Long])]
        .collect().toMap
      val n = 120L // rows per bucket across both batches
      val truth = Map("hot" -> 80L, "warm" -> 20L)
      (0L until 2L).foreach { b =>
        val m = got(b)
        truth.foreach { case (item, cnt) =>
          if (cnt > n / 8) { // k=7 → guarantee threshold n/(k+1)
            assert(m.contains(item), s"bucket $b lost heavy hitter $item: $m")
            assert(m(item) <= cnt, "MG estimates never overcount")
            assert(cnt - m(item) <= n / 8, s"undercount bound broken for $item: $m")
          }
        }
      }
    } finally q.stop()
  }

  test("anomaly flagging scores a stream with batch-trained stats, zero state") {
    val history = Seq(
      (1L, "click", 10.0), (2L, "click", 12.0), (3L, "click", 11.0),
      (4L, "click", 9.0), (5L, "click", 10.0),
      (6L, "view", 100.0), (7L, "view", 101.0), (8L, "view", 99.0)
    ).toDF("event_id", "event_type", "value")
    val stats = graft.queries.Extended.anomalyStatsOf(history)
    val incoming = Seq(
      (100L, "click", 10.5),  // normal
      (101L, "click", 50.0),  // wildly off for clicks
      (102L, "view", 100.5)   // normal for views
    ).toDF("event_id", "event_type", "value")
    val in = tmpDir("anom-in")
    incoming.coalesce(1).write.mode("overwrite").parquet(in)
    val batchFlagged = graft.queries.Extended.anomalyFlagOf(incoming, stats)
      .select("event_id").as[Long].collect().toSet
    val stream = spark.readStream
      .schema("event_id LONG, event_type STRING, value DOUBLE").parquet(in)
    val q = graft.queries.Extended.anomalyFlagOf(stream, stats)
      .writeStream.outputMode("append")
      .format("memory").queryName("anom_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("anom_out").select("event_id").as[Long].collect().toSet
      assert(streamed === batchFlagged)
      assert(streamed === Set(101L), "only the off-distribution click flags")
    } finally q.stop()
  }

  test("streaming daily-uniques MV: sketch states match batch bit-for-bit") {
    // the uniqState streaming half: two micro-batches with overlapping
    // users; closed day windows must carry estimates identical to one
    // batch sketch over the same rows (mergeable state contract)
    val in = tmpDir("uq-in"); val ck = tmpDir("uq-ck")
    def ev(ts: String, uid: Long) = s"""{"ts":"$ts","user_id":$uid}"""
    Files.write(Paths.get(in, "b1.json"), Seq(
      ev("2026-08-10 01:00:00", 1), ev("2026-08-10 02:00:00", 2),
      ev("2026-08-10 03:00:00", 1), ev("2026-08-11 01:00:00", 2))
      .mkString("\n").getBytes)
    Files.write(Paths.get(in, "b2.json"), Seq(
      ev("2026-08-10 04:00:00", 3), // late-but-in-horizon for day 10
      ev("2026-08-11 02:00:00", 3),
      ev("2026-08-13 00:30:00", 9)) // pushes watermark past both days
      .mkString("\n").getBytes)
    val schema = "ts TIMESTAMP, user_id BIGINT"
    val typed = spark.readStream.schema(schema).json(in)
    val q = StreamingAnalytics.dailyUniquesStream(typed)
      .writeStream.outputMode("append")
      .format("memory").queryName("uniq_out")
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("uniq_out")
      .select($"day".cast("string"), $"est_users")
      .as[(String, Double)].collect().toMap
    // both closed days present with exact small-cardinality estimates
    assert(streamed === Map(
      "2026-08-10 00:00:00" -> 3.0, "2026-08-11 00:00:00" -> 2.0))
    // bit-identical to the batch plan over the same closed-day rows
    val batch = StreamingAnalytics.dailyUniquesStream(
      spark.read.schema(schema).json(in))
      .filter($"day" < lit("2026-08-12").cast("timestamp"))
      .select($"day".cast("string"), $"est_users")
      .as[(String, Double)].collect().toMap
    assert(streamed === batch)
  }

  test("watermarked hourly MV appends finalized windows to durable parquet") {
    // the durable materialized-view shape: watermarked streaming agg →
    // append-mode parquet. A window row lands ONLY once the watermark
    // passes its close (append finalizes), and late data inside the
    // horizon still merges before that.
    val in = tmpDir("mv-in"); val out = tmpDir("mv-out"); val ck = tmpDir("mv-ck")
    def batchOf(lines: Seq[String], name: String): Unit =
      Files.write(Paths.get(in, name), String.join("\n", lines: _*).getBytes)
    batchOf(Seq(
      sale("a", "2026-08-12 10:05:00", "10.00", 1),
      sale("b", "2026-08-12 10:40:00", "20.00", 2)), "b1.json")
    val stream = spark.readStream.text(in)
    val typed = graft.ingest.IngestTransform.salesFromJson(stream)
    val q = graft.streaming.StreamingAnalytics.hourlyRevenue(typed)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ck)
      .format("parquet").option("path", out).start()
    try {
      q.processAllAvailable()
      // hour 10 is still open (watermark at 10:40 - 1h) → nothing final
      assert(spark.read.parquet(out).count() === 0)
      // late-but-in-horizon row for hour 10, plus an hour-12 row that
      // pushes the watermark past 10:59:59 → hour 10 finalizes WITH the
      // late row merged
      batchOf(Seq(
        sale("late", "2026-08-12 10:20:00", "5.00", 1),
        sale("c", "2026-08-12 12:30:00", "1.00", 1)), "b2.json")
      q.processAllAvailable()
      // one more batch so the advanced watermark emits the closed window
      batchOf(Seq(sale("d", "2026-08-12 12:45:00", "1.00", 1)), "b3.json")
      q.processAllAvailable()
      val rows = spark.read.parquet(out)
        .select(col("hour").cast("string"), col("revenue").cast("string"), col("n_sales"))
        .as[(String, String, Long)].collect().toSet
      assert(rows === Set(("2026-08-12 10:00:00", "35.00", 3L)),
        s"hour 10 must finalize once, late row included: $rows")
    } finally q.stop()
  }

  test("streaming near-dup against a static band index matches the batch join") {
    // history = the sf0.001 corpus; the stream carries one near-copy of
    // a historical doc, one exact copy, and one unrelated doc
    val history = Tables.documents(spark, sf0001)
    val index = StreamingAnalytics.bandIndexOf(history).cache()
    val h0 = history.orderBy("doc_id").select("text").as[String].head()
    val incoming = Seq(
      (9000L, h0),                                    // exact historical copy
      (9001L, h0.split(" ").init.mkString(" ")),      // near copy (one token off)
      (9002L, "zz qq ww ee rr tt yy uu ii oo pp aa")  // unrelated
    ).toDF("doc_id", "text")
    val in = tmpDir("neardup-in")
    incoming.coalesce(1).write.mode("overwrite").parquet(in)
    def hits(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "ref_id").distinct()
      .as[(Long, Long)].collect().toSet
    val batchHits = hits(StreamingAnalytics.nearDupStream(incoming, index))
    val stream = spark.readStream.schema("doc_id LONG, text STRING").parquet(in)
    val q = StreamingAnalytics.nearDupStream(stream, index)
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_out").start()
    try {
      q.processAllAvailable()
      assert(hits(spark.table("neardup_out")) === batchHits)
      assert(batchHits.exists(_._1 === 9000L), "exact copy must collide")
      assert(batchHits.exists(_._1 === 9001L), "near copy must collide")
      assert(!batchHits.exists(_._1 === 9002L), "unrelated doc must not")
    } finally { q.stop(); index.unpersist() }
  }

  test("streaming semantic probe against a static bucket index matches the batch triage") {
    // corpus = the stored 7/8 slice, incoming stream = the batch slice —
    // the exact split semantic_incremental hash-checks batch-side
    val all = Tables.embeddings(spark, sf0001)
    val corpus = all.filter($"vec_id" % 8 =!= 7)
    val index = StreamingAnalytics.lshBucketIndexOf(corpus).cache()
    val incoming = all.filter($"vec_id" % 8 === 7).select("vec_id", "embedding")
    val in = tmpDir("semprobe-in")
    incoming.coalesce(1).write.mode("overwrite").parquet(in)
    def hits(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "ref_id").distinct().as[(Long, Long)].collect().toSet
    val batchHits = hits(StreamingAnalytics.semanticProbeStream(incoming, index))
    val stream = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>").parquet(in)
    val q = StreamingAnalytics.semanticProbeStream(stream, index)
      .writeStream.outputMode("append")
      .format("memory").queryName("semprobe_out").start()
    try {
      q.processAllAvailable()
      assert(hits(spark.table("semprobe_out")) === batchHits)
      // the probe's verified pair set must contain every match the
      // hash-checked batch triage reports (same planes, same verify)
      val triage = graft.similarity.Similarity.semanticIncremental(spark, sf0001)
        .filter($"is_dup").select($"vec_id", $"dup_of").as[(Long, Long)]
        .collect().toSet
      assert(triage.nonEmpty && triage.subsetOf(batchHits))
    } finally { q.stop(); index.unpersist() }
  }

  test("semanticProbeStream over a PERSISTED index maintained by bucketIndexStream") {
    // the full production composition (VERDICT r7 #6): the index is not
    // an in-memory frame but a parquet table WRITTEN BY ITS OWN
    // MAINTENANCE STREAM (two corpus batches + one verbatim replay),
    // then a second stream probes the persisted table
    val all = Tables.embeddings(spark, sf0001)
    val corpus = all.filter($"vec_id" % 8 =!= 7).select("vec_id", "embedding")
    val idxIn = tmpDir("bidx-in"); val idxPath = tmpDir("bidx-tbl")
    val ck = tmpDir("bidx-ck")
    corpus.filter($"vec_id" < 250).coalesce(1).write.mode("overwrite").parquet(idxIn)
    val cstream = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>").parquet(idxIn)
    val qi = StreamingAnalytics.bucketIndexStream(cstream, idxPath, ck)
    try {
      qi.processAllAvailable()
      corpus.filter($"vec_id" >= 250).coalesce(1).write.mode("append").parquet(idxIn)
      qi.processAllAvailable()
      // crash-replay shape: batch 1 re-arrives verbatim — must append nothing
      corpus.filter($"vec_id" < 250).coalesce(1).write.mode("append").parquet(idxIn)
      qi.processAllAvailable()
    } finally qi.stop()
    // the persisted table IS the batch-built index, row for row
    val persisted = spark.read.parquet(idxPath)
    val batchIdx = StreamingAnalytics.lshBucketIndexOf(corpus)
    assert(persisted.select($"ref_id", $"tbl", $"bucket")
      .exceptAll(batchIdx.select($"ref_id", $"tbl", $"bucket")).count() === 0)
    assert(batchIdx.select($"ref_id", $"tbl", $"bucket")
      .exceptAll(persisted.select($"ref_id", $"tbl", $"bucket")).count() === 0)
    // probe the PERSISTED table from a second (file-source) stream
    val incoming = all.filter($"vec_id" % 8 === 7).select("vec_id", "embedding")
    val in = tmpDir("bidx-probe-in")
    incoming.coalesce(1).write.mode("overwrite").parquet(in)
    def hits(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "ref_id").distinct().as[(Long, Long)].collect().toSet
    val batchHits = hits(StreamingAnalytics.semanticProbeStream(incoming, persisted))
    val stream = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>").parquet(in)
    val q = StreamingAnalytics.semanticProbeStream(stream,
        spark.read.parquet(idxPath))
      .writeStream.outputMode("append")
      .format("memory").queryName("bidx_probe_out").start()
    try {
      q.processAllAvailable()
      assert(hits(spark.table("bidx_probe_out")) === batchHits)
      // and the composition agrees with the hash-checked batch triage:
      // every semantic_incremental duplicate surfaces through the
      // persisted-index probe too (same planes, same verify threshold)
      val triage = graft.similarity.Similarity.semanticIncremental(spark, sf0001)
        .filter($"is_dup").select($"vec_id", $"dup_of").as[(Long, Long)]
        .collect().toSet
      assert(triage.nonEmpty && triage.subsetOf(batchHits))
    } finally q.stop()
  }

  test("train-batch / score-stream classifier matches batch scoring") {
    // TRAIN on a static labeled corpus; SCORE a document stream with the
    // broadcast model. Stream scores must equal scoring the same docs
    // batch-side, including the absent-class and tie-break paths.
    val labeled = Seq(
      (100L, "aa bb aa", "en"),
      (101L, "bb aa", "en"),
      (102L, "xx yy", "de"),
      (103L, "yy yy xx", "de")).toDF("doc_id", "text", "lang")
    val (model, totals) = graft.text.TextAnalysis.nbModelOf(labeled)
    val classes = Seq("de", "en")
    val in = tmpDir("nb-in")
    val docs = Seq(
      (0L, "aa aa xx"),      // en mass 3/5 of en tokens vs de 2/5? hand: see assert
      (1L, "yy yy"),
      (2L, "aa xx"),         // potential tie path
      (3L, "zz zz")          // no term in model → absent from output
    ).toDF("doc_id", "text")
    docs.coalesce(1).write.mode("overwrite").parquet(in)
    val batchScored = StreamingAnalytics
      .nbScore(docs, model, totals, classes)
      .as[(Long, String)].collect().toMap
    val stream = spark.readStream.schema("doc_id LONG, text STRING").parquet(in)
    val q = StreamingAnalytics.nbScore(stream, model, totals, classes)
      .writeStream.outputMode("complete")
      .format("memory").queryName("nb_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("nb_stream")
        .as[(Long, String)].collect().toMap
      assert(streamed === batchScored)
      assert(streamed.keySet === Set(0L, 1L, 2L))      // doc 3 has no model term
      assert(streamed(1L) === "de")                    // yy is de-only
      // doc 2: en score = c(aa)=3 of t_en=5; de score = c(xx)=2 of t_de=5
      assert(streamed(2L) === "en")
    } finally q.stop()
  }

  test("driftStream: per-batch TV vs the frozen model, stream == batch kernel") {
    val in = tmpDir("dr-in"); val rep = tmpDir("dr-rep"); val ck = tmpDir("dr-ck")
    // frozen history model: terms a:2, b:2 → T = 4, p = {a:½, b:½}
    val model = graft.text.TextAnalysis.unigramModelOf(
      Seq((1L, "h", "a a b b")).toDF("doc_id", "source", "text"))
    // batch 1 — s1 "a a": p_s={a:1} → TV = ½(|1−½| + ½) = 0.5
    //           s2 "a b": p_s=p → TV = 0
    Seq((10L, "s1", "a a"), (11L, "s2", "a b"))
      .toDF("doc_id", "source", "text").coalesce(1)
      .write.mode("overwrite").parquet(in)
    val stream = spark.readStream
      .schema("doc_id LONG, source STRING, text STRING").parquet(in)
    val q = StreamingAnalytics.driftStream(stream, model, rep, ck)
    try {
      q.processAllAvailable()
      // batch 2 — s3 "z z": all-OOV slice → TV = ½(|1−0| + 4/4) = 1.0,
      // the maximal-drift case the left join's c_t = 0 exists for
      Seq((20L, "s3", "z z")).toDF("doc_id", "source", "text").coalesce(1)
        .write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(rep)
      .select($"source", $"tv_drift", $"batch_id")
      .as[(String, Double, Long)].collect().toSet
    assert(got === Set(("s1", 0.5, 0L), ("s2", 0.0, 0L), ("s3", 1.0, 1L)))
    // and the stored rows are exactly the batch kernel's output per batch
    val batch1 = graft.text.TextAnalysis.driftAgainstModelOf(
      Seq((10L, "s1", "a a"), (11L, "s2", "a b"))
        .toDF("doc_id", "source", "text"), model)
      .select($"source", $"tv_drift").as[(String, Double)].collect().toSet
    assert(got.filter(_._3 == 0L).map(r => (r._1, r._2)) === batch1)
  }

  test("curateStream: cross-micro-batch dedup through the pass-table-as-state MV") {
    curateScenario("cu", bloomGuard = false)
  }

  test("curateStream with the Bloom history guard: identical tables, history never shuffles") {
    curateScenario("cub", bloomGuard = true)
  }

  /** Ids of the RDDs the session holds blocks of. */
  private def persistentRdds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def curateScenario(tag: String, bloomGuard: Boolean): Unit = {
    val in = tmpDir(s"$tag-in"); val pass = tmpDir(s"$tag-pass")
    val quar = tmpDir(s"$tag-quar"); val ck = tmpDir(s"$tag-ck")
    val longDoc = "the quick brown fox jumps over the lazy dog before noon today"
    val otherDoc = "completely different sentences describing a second unique training document here"
    // batch 1: one good doc, one in-batch duplicate pair member, one
    // gate reject (too short)
    Seq((1L, longDoc), (2L, longDoc + " x"), (3L, "too short"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(in)
    val stream = spark.readStream.schema("doc_id LONG, text STRING").parquet(in)
    val start = persistentRdds()
    val q = StreamingAnalytics.curateStream(stream, pass, quar, ck,
      bloomHistoryGuard = bloomGuard)
    try {
      q.processAllAvailable()
      val afterBatch1 = persistentRdds() -- start
      // batch 2 arrives LATER: a near-dup of batch-1's doc 1 (cross-batch
      // history hit — the pass table is the dedup state) + a fresh doc
      Seq((10L, longDoc + " y"), (11L, otherDoc))
        .toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(in)
      q.processAllAvailable()
      // batch 3 REPLAYS batch 1's rows verbatim (the crash-replay
      // shape): already-passed ids must anti-join out — no duplicate
      // pass rows — while rejects re-quarantine (at-least-once side)
      Seq((1L, longDoc), (2L, longDoc + " x"), (3L, "too short"))
        .toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(in)
      q.processAllAvailable()
      // each micro-batch releases what it materialized when it ends
      assert(persistentRdds() -- start === afterBatch1)
    } finally q.stop()

    // full multisets, not Sets/Maps: a duplicate append (the failure
    // mode the at-least-once quarantine doc names) must FAIL here
    val passed = spark.read.parquet(pass)
      .select($"doc_id").as[Long].collect().toList.sorted
    val quarantined = spark.read.parquet(quar)
      .select($"doc_id", $"reason").as[(Long, String)].collect().toList.sorted
    // 1 unique; 2 deduped in-batch vs 1; 3 gate-rejected;
    // 10 deduped against HISTORY (batch-1's pass table); 11 unique.
    // The replayed batch adds NOTHING to pass (1 anti-joined out) but
    // re-quarantines 2 (now dup_of_history — its partner 1 is history
    // by then) and 3 (gate reject again).
    assert(passed === List(1L, 11L))
    assert(quarantined === List(
      (2L, "dup_in_batch"), (2L, "dup_of_history"),
      (3L, "quality_gate"), (3L, "quality_gate"),
      (10L, "dup_of_history")))
  }

  test("annIndexStream: stream-built postings == batch encode; replay appends nothing") {
    val in = tmpDir("ai-in"); val post = tmpDir("ai-post"); val ck = tmpDir("ai-ck")
    val all = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    // frozen models, trained once from the full corpus (the offline build)
    val coarse = graft.similarity.Similarity
      .trainCentroids(spark, all, 16, iters = 2).localCheckpoint()
    val book = graft.similarity.ProductQuantizer
      .train(spark, all, m = 8, subDim = 8, k = 16, iters = 1).localCheckpoint()
    val src = Tables.embeddings(spark, sf0001).select("vec_id", "embedding")
    src.filter($"vec_id" < 100).coalesce(1).write.mode("overwrite").parquet(in)
    val stream = spark.readStream.schema(src.schema).parquet(in)
    val start = persistentRdds()
    val q = StreamingAnalytics.annIndexStream(stream, coarse, book, post, ck)
    try {
      q.processAllAvailable()
      val afterBatch1 = persistentRdds() -- start
      // batch 2: the rest of the corpus arrives later
      src.filter($"vec_id" >= 100).coalesce(1).write.mode("append").parquet(in)
      q.processAllAvailable()
      // batch 3 REPLAYS batch 1 verbatim — ids must anti-join out
      src.filter($"vec_id" < 100).coalesce(1).write.mode("append").parquet(in)
      q.processAllAvailable()
      assert(persistentRdds() -- start === afterBatch1)
    } finally q.stop()
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select($"vec_id", $"list_id", $"codes")
      .as[(Long, Long, Seq[Int])].collect().toList.sortBy(_._1)
    val streamed = key(spark.read.parquet(post))
    // the batch-side index build over the same vectors with the same
    // frozen models — per-row deterministic, so rows must be identical
    val expected = key(graft.similarity.Similarity
      .nearestLists(coarse, all, "v", 1, "list_id").select("vec_id", "list_id")
      .join(graft.similarity.ProductQuantizer.encodeAll(all, 8, 8, book), "vec_id"))
    assert(streamed.map(_._1) === streamed.map(_._1).distinct, "replay duplicated a row")
    assert(streamed === expected)
  }

  test("curation stages (gopher gates, pii scrub) run unchanged on a stream") {
    // the Of variants are stateless projections, so the SAME code path
    // must compose into a readStream plan and produce the batch rows
    val in = tmpDir("cur-in")
    val docs = Seq(
      (0L, "a b a b a b"),
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "q w e r t y u i o p")).toDF("doc_id", "text")
    docs.coalesce(1).write.mode("overwrite").parquet(in)
    val stream = spark.readStream.schema("doc_id LONG, text STRING").parquet(in)
    val gq = graft.text.TextAnalysis.gopherGatesOf(stream)
      .writeStream.outputMode("append").format("memory").queryName("cur_gopher").start()
    val pq = graft.text.TextAnalysis.piiScrubOf(stream)
      .writeStream.outputMode("append").format("memory").queryName("cur_pii").start()
    try {
      gq.processAllAvailable(); pq.processAllAvailable()
      def rows(t: String) = spark.table(t).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      def batch(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      assert(rows("cur_gopher") === batch(graft.text.TextAnalysis.gopherGatesOf(docs)))
      assert(rows("cur_pii") === batch(graft.text.TextAnalysis.piiScrubOf(docs)))
      assert(rows("cur_gopher").size === 3)
    } finally { gq.stop(); pq.stop() }
  }

  test("streaming hourly revenue == batch hourly revenue on the same data") {
    val in = tmpDir("sa-in"); val ckpt = tmpDir("sa-ckpt")
    val lines = Seq(
      sale("a", "2026-08-12 10:05:00", "10.00", 1),
      sale("b", "2026-08-12 10:55:00", "5.50", 2),
      sale("c", "2026-08-12 11:10:00", "7.25", 3),
      sale("d", "2026-08-12 13:30:00", "1.00", 1)) // watermark → 12:30, closes 10:00 and 11:00
    Files.write(Paths.get(in, "b1.json"), String.join("\n", lines: _*).getBytes)

    // streaming path: file stream → ingest transform → windowed agg → memory sink
    val stream = spark.readStream.text(in)
    val typed = graft.ingest.IngestTransform.salesFromJson(stream)
    val q = StreamingAnalytics.hourlyRevenue(typed)
      .writeStream.outputMode("append")
      .format("memory").queryName("hourly_out")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // append mode only emits windows the watermark has closed (10:00, 11:00)
    val streamed = spark.table("hourly_out")
      .select($"hour".cast("string"), $"revenue".cast("string"), $"units", $"n_sales")
      .as[(String, String, Long, Long)].collect().toSet

    val batch = StreamingAnalytics.hourlyRevenue(
      graft.ingest.IngestTransform.salesFromJson(Seq(lines: _*).toDF("value")))
      .filter($"hour" < lit("2026-08-12 12:30:00").cast("timestamp"))
      .select($"hour".cast("string"), $"revenue".cast("string"), $"units", $"n_sales")
      .as[(String, String, Long, Long)].collect().toSet

    assert(streamed === batch)
    assert(streamed.map(_._1) === Set("2026-08-12 10:00:00", "2026-08-12 11:00:00"))
  }

  test("stream-static enrichment: every micro-batch row joined to the dimension") {
    val in = tmpDir("es-in"); val ckpt = tmpDir("es-ckpt")
    val lines = Seq(
      sale("a", "2026-08-12 10:05:00", "10.00", 1),
      sale("b", "2026-08-12 10:55:00", "5.50", 2))
    Files.write(Paths.get(in, "b1.json"), String.join("\n", lines: _*).getBytes)
    val dim = Seq((1L, "gadgets"), (2L, "gizmos")).toDF("dim_id", "dept")
    val typed = graft.ingest.IngestTransform.salesFromJson(spark.readStream.text(in))
    val q = StreamingAnalytics.enrichStream(typed, "product_id", dim, "dim_id")
      .select("event_id", "dept")
      .writeStream.outputMode("append")
      .format("memory").queryName("enrich_out")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("enrich_out").as[(String, String)].collect().toSet
    assert(got === Set(("a", "gadgets"), ("b", "gadgets")))
  }

  test("dedupKeyed drops duplicate event_ids across micro-batches (ST1 exactly-once upgrade)") {
    val in = tmpDir("dk-in"); val ckpt = tmpDir("dk-ckpt")
    // same event_id delivered twice (at-least-once redelivery), second batch
    Files.write(Paths.get(in, "b1.json"),
      Seq(sale("dup-1", "2026-08-12 10:00:00", "10.00", 1),
          sale("uniq-1", "2026-08-12 10:01:00", "5.00", 1)).mkString("\n").getBytes)
    Files.write(Paths.get(in, "b2.json"),
      Seq(sale("dup-1", "2026-08-12 10:00:00", "10.00", 1),
          sale("uniq-2", "2026-08-12 10:02:00", "6.00", 1)).mkString("\n").getBytes)
    val typed = graft.ingest.IngestTransform.salesFromJson(spark.readStream.text(in))
    val q = graft.streaming.StreamingPipeline.dedupKeyed(typed, "event_time", "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val ids = spark.table("dedup_out").select("event_id").as[String].collect().toSeq
    assert(ids.sorted === Seq("dup-1", "uniq-1", "uniq-2"))
  }

  test("session_window boundary: exactly-gap merges, just-over splits") {
    // pins the built-in's close rule to `> gap` — the SAME inclusive
    // boundary as the lag-cumsum sessionize, so the two queries share
    // one oracle formulation
    val df = Seq(
      ("u", Timestamp.valueOf("2026-08-12 10:00:00")),
      ("u", Timestamp.valueOf("2026-08-12 10:30:00")), // exactly 30 min later
      ("v", Timestamp.valueOf("2026-08-12 10:00:00")),
      ("v", Timestamp.valueOf("2026-08-12 10:30:00.000001")) // 1 µs over
    ).toDF("user_id", "ts")
    val s = StreamingAnalytics.sessionWindowAgg(df, "user_id", "ts")
      .select($"user_id", $"n_events").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(s("u") === Seq(2L), "a gap of exactly 30 min must merge")
    assert(s("v") === Seq(1L, 1L), "one microsecond over the gap must split")
  }

  test("batch session_window sessions equal the lag-cumsum sessionize sessions") {
    val native = graft.queries.Relational.sessionWindows(spark, sf0001)
      .select($"user_id", $"session_start".cast("string"),
        $"session_end".cast("string"), $"n_events")
      .as[(Long, String, String, Long)].collect().toSet
    val cumsum = graft.queries.Relational.sessionize(spark, sf0001)
      .select($"user_id", $"session_start".cast("string"),
        $"session_end".cast("string"), $"n_events")
      .as[(Long, String, String, Long)].collect().toSet
    assert(native.nonEmpty)
    // identical unless an exact-to-the-microsecond gap tie exists (none here)
    assert(native === cumsum)
  }

  test("streaming session_window emits closed sessions across micro-batches") {
    val in = tmpDir("sw-in"); val ckpt = tmpDir("sw-ckpt")
    def ev(u: String, t: String) = s"$u,$t"
    // batch 1: two users; batch 2 only advances the watermark past their close
    Files.write(Paths.get(in, "b1.csv"), String.join("\n",
      ev("alice", "2026-08-12 10:00:00"), ev("alice", "2026-08-12 10:10:00"),
      ev("bob", "2026-08-12 10:00:00"),
      ev("alice", "2026-08-12 12:00:00")).getBytes)
    Files.write(Paths.get(in, "b2.csv"),
      ev("carol", "2026-08-12 13:30:00").getBytes)
    val stream = spark.readStream.schema("user_id STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", 1).csv(in)
    val q = StreamingAnalytics
      .sessionWindowAgg(stream.withWatermark("ts", "30 minutes"), "user_id", "ts")
      .writeStream.outputMode("append")
      .format("memory").queryName("sw_out")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.table("sw_out")
      .select($"user_id", $"n_events", $"session_start".cast("string"))
      .as[(String, Long, String)].collect().toSet
    // all three batch-1 sessions close once the watermark reaches 13:00
    assert(rows === Set(
      ("alice", 2L, "2026-08-12 10:00:00"),
      ("alice", 1L, "2026-08-12 12:00:00"),
      ("bob", 1L, "2026-08-12 10:00:00")))
  }

  test("session state machine: gap splits, ordering, counts") {
    import StreamingAnalytics.advance
    val h = 3600L * 1000
    // two bursts separated by > 30 min
    val (open, closed) = advance(None, Seq(0L, 60000L, 120000L, 3 * h, 3 * h + 1000))
    assert(closed === Seq(SessionState(0L, 120000L, 3)))
    assert(open === Some(SessionState(3 * h, 3 * h + 1000, 2)))
    // feeding more events within the gap extends the open session
    val (open2, closed2) = advance(open, Seq(3 * h + 2000))
    assert(closed2.isEmpty && open2.get.n === 3)
  }

  test("token-budget admission: pure step admits whole docs under the " +
    "budget, skips, then admits smaller later docs") {
    import StreamingAnalytics.{BudgetDoc, admitStep}
    val (cum, out) = admitStep(70L, Seq(
      BudgetDoc("a", 10L, 40L), BudgetDoc("a", 11L, 20L)), budget = 100L)
    assert(out.map(o => (o.doc_id, o.admitted, o.cum_tokens)) ===
      Seq((10L, false, 70L), (11L, true, 90L)))
    assert(cum === 90L)
  }

  test("PROPERTY: admission is batch-boundary-invariant — ANY split of " +
    "the doc_id-ordered feed into micro-batches (sources arbitrarily " +
    "interleaved) yields the identical ledger as one single batch") {
    // the registered harness feeds five contiguous batches; this pins
    // the operator's actual cross-batch claim: state carry makes WHERE
    // the micro-batch boundaries fall irrelevant. The fold below is
    // exactly tokenBudgetStream's per-trigger body (per source group,
    // admitStep over the carried long) — the pure kernel, so ScalaCheck
    // can drive hundreds of splits without a streaming query each.
    import StreamingAnalytics.{BudgetDoc, BudgetOut, admitStep}
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    def fold(batches: Seq[Seq[BudgetDoc]], budget: Long): Seq[BudgetOut] = {
      val state = scala.collection.mutable.Map.empty[String, Long]
      batches.flatMap(_.groupBy(_.source).toSeq.sortBy(_._1).flatMap {
        case (s, docs) =>
          val (cum, out) = admitStep(state.getOrElse(s, 0L), docs, budget)
          state(s) = cum
          out
      })
    }
    def ledger(out: Seq[BudgetOut]) =
      out.map(o => o.doc_id -> ((o.source, o.n_tokens, o.cum_tokens,
        o.admitted))).toMap
    val genCase = for {
      n <- Gen.choose(0, 60)
      sources <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))
      tokens <- Gen.listOfN(n, Gen.choose(0L, 150L))
      cuts <- Gen.listOf(Gen.choose(1, math.max(1, n)))
    } yield {
      val docs = sources.zip(tokens).zipWithIndex.map {
        case ((s, t), i) => BudgetDoc(s, i.toLong, t)
      }
      // cut the doc_id-ordered feed at arbitrary positions — every
      // batch is a contiguous slice, sources interleave freely
      val bounds = (cuts.distinct.sorted :+ n).distinct
      val batches = bounds.foldLeft((Seq.empty[Seq[BudgetDoc]], 0)) {
        case ((acc, from), to) => (acc :+ docs.slice(from, to), to)
      }._1
      (docs, batches)
    }
    val prop = Prop.forAll(genCase) { case (docs, batches) =>
      val split = ledger(fold(batches, budget = 100L))
      val whole = ledger(fold(Seq(docs), budget = 100L))
      split == whole && split.size == docs.size
    }
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(r.passed, r.status.toString)
  }

  test("streaming token-budget admission carries the per-source total " +
    "across micro-batches (flatMapGroupsWithState, bounded state)") {
    import StreamingAnalytics.{BudgetDoc, BudgetOut}
    val in = tmpDir("tb-in"); val ckpt = tmpDir("tb-ckpt")
    def doc(s: String, id: Long, t: Long) =
      s"""{"source":"$s","doc_id":$id,"n_tokens":$t}"""
    // batch 1: source a consumes 70 of its 100-token budget
    Files.write(Paths.get(in, "b1.json"), String.join("\n",
      doc("a", 1, 40), doc("a", 2, 30), doc("b", 3, 50)).getBytes)
    // batch 2: a 40-token doc no longer fits a's budget, a 20-token one
    // does; b continues under its own independent total
    Files.write(Paths.get(in, "b2.json"), String.join("\n",
      doc("a", 10, 40), doc("a", 11, 20), doc("b", 12, 60)).getBytes)

    val parsed = spark.readStream
      .option("maxFilesPerTrigger", "1")
      .schema("source STRING, doc_id BIGINT, n_tokens BIGINT")
      .json(in)
      .as[BudgetDoc]
    val q = StreamingAnalytics.tokenBudgetStream(parsed, budgetTokens = 100L)
      .writeStream.outputMode("append")
      .format("memory").queryName("budget_out")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val rows = spark.table("budget_out").as[BudgetOut].collect()
      .map(o => o.doc_id -> ((o.admitted, o.cum_tokens))).toMap
    assert(rows(1L) === ((true, 40L)))
    assert(rows(2L) === ((true, 70L)))
    assert(rows(3L) === ((true, 50L)))
    // cross-batch state: a's 70 carried, so 40 rejected, 20 admitted
    assert(rows(10L) === ((false, 70L)))
    assert(rows(11L) === ((true, 90L)))
    // b: 50 carried, 60 would overflow
    assert(rows(12L) === ((false, 50L)))
  }

  test("streaming sessionization emits closed sessions with custom state (flatMapGroupsWithState)") {
    val in = tmpDir("ss-in"); val ckpt = tmpDir("ss-ckpt")
    def ev(u: String, t: String) = s"""{"u":"$u","t":"$t"}"""
    val lines = Seq(
      ev("alice", "2026-08-12 10:00:00"), ev("alice", "2026-08-12 10:10:00"),
      ev("bob", "2026-08-12 10:00:00"),
      ev("alice", "2026-08-12 12:00:00"), // closes alice's first session
      ev("carol", "2026-08-12 13:30:00")) // advances watermark
    Files.write(Paths.get(in, "b1.json"), String.join("\n", lines: _*).getBytes)

    val parsed = spark.readStream.text(in)
      .select(from_json($"value",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("u", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("t", org.apache.spark.sql.types.StringType)))).as("e"))
      .select($"e.u".as("user_id"), to_timestamp($"e.t").as("event_time"))
      .as[SessionEvent]

    val q = StreamingAnalytics.sessionizeStream(parsed)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_out")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val rows = spark.table("sessions_out")
      .select($"user_id", $"n_events", $"session_start".cast("string"))
      .as[(String, Long, String)].collect()
    // alice's 2-event morning session must be closed (split by the 2h gap)
    assert(rows.contains(("alice", 2L, "2026-08-12 10:00:00")))
    // bob's idle session closes via event-time timeout once watermark passes
    assert(rows.exists(r => r._1 == "bob" && r._2 == 1L))
  }

  test("streaming KMV sketch maintenance (VERDICT r16 #6): final-state " +
    "snapshots BIT-match the batch kmv_sketch aggregate over the union " +
    "of all micro-batches, and the snapshot feeds the SAME novelty pair " +
    "algebra row-for-row") {
    import StreamingAnalytics.KmvIn
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the union-law spec's saturating recipe: 3 sources, half-shared
    // pool — per-source distinct 8000 ≫ k = 512, so the sketches are
    // genuinely in estimation mode and the k-minimum state is exercised
    // (replacement path), not just accumulation
    val stream = spark.range(60000L).select(
      concat(lit("s"), col("id") % 3).as("source"),
      when(expr("(id div 3) % 2") === 0, expr("(id div 6) % 4000"))
        .otherwise(lit(4000L) + (col("id") % 3 + 1) * 4000L +
          expr("(id div 6) % 4000")).as("key"))
      .select(col("source"), xxhash64(col("key")).as("shingle"))
    val feed = stream.as[KmvIn].collect()
    val mem =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[KmvIn]
    val q = StreamingAnalytics.kmvSketchStream(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("kmv_snap").start()
    try {
      // four micro-batches: the k-minimum state must carry ACROSS batch
      // boundaries (a reset would lose pre-batch minima and the sketch
      // would drift high)
      feed.grouped((feed.length + 3) / 4).foreach { chunk =>
        mem.addData(chunk.toSeq); q.processAllAvailable()
      }
      val latest = spark.table("kmv_snap")
        .groupBy("source").agg(max_by($"sk", $"upd").as("sk"))
      val got = latest.collect()
        .map(r => r.getAs[String]("source") -> r.getSeq[Long](1).toList).toMap
      val want = graft.dedup.Dedup.kmvSourceSummaries(stream)
        .select("source", "sk").collect()
        .map(r => r.getAs[String]("source") -> r.getSeq[Long](1).toList).toMap
      assert(got.keySet == Set("s0", "s1", "s2"))
      assert(got == want,
        "streaming snapshots must BIT-match the batch sketches")
      // every source saw all four updates (no state loss mid-stream)
      val upds = spark.table("kmv_snap").groupBy("source")
        .agg(max($"upd").as("u")).collect().map(_.getAs[Long]("u"))
      assert(upds.forall(_ == 4L))
      // the snapshot through the SAME pair algebra ≡ the batch operator
      val live = StreamingAnalytics.kmvNoveltyOfSnapshot(latest)
        .collect().map(_.toSeq).toList
      val batch = graft.dedup.Dedup.kmvNoveltyOfHashes(stream)
        .collect().map(_.toSeq).toList
      assert(live.nonEmpty && live == batch,
        "snapshot novelty must be row-identical to the batch estimator")
    } finally { spark.catalog.dropTempView("kmv_snap"); q.stop() }
  }
}
