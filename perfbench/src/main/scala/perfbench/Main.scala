package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, timestamp_seconds}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DecimalType, DoubleType, TimestampNTZType, TimestampType}
import graft.ingest.{EventSink, IngestTransform}
import graft.streaming.StreamingPipeline

/** Benchmark driver: runs one workload against the program's public
  * functions and writes the raw measurements (set-up times, per-file
  * stamps, micro-batch progress, poll and query timings, scheduler
  * counts, spans, output checks) to one JSON file. `run.py` turns them
  * into metrics.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <workDir> <outFile> [corpusDir warmCorpusDir]
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, out: Path, corpus: Option[String], warmCorpus: Option[String])

  val Cpus: Int = math.min(4, Runtime.getRuntime.availableProcessors)
  val Topics = Seq(StreamingPipeline.Sales, StreamingPipeline.Warehouse)
  def tableOf(t: StreamingPipeline.Topic): String =
    if (t == StreamingPipeline.Sales) "sales" else "stock_movements"

  // live_dashboard: the open-loop offered load (about a tenth of what a
  // single large AvailableNow drain sustains on four cores, in ticks
  // long enough that each micro-batch reads one file), the reference
  // dashboard's 5 s refresh, and the history set-up writes before the
  // clock starts. Polls fall due midway between ticks and the next
  // tick's files are prepared after the poll, so a micro-batch, a poll
  // and the generator's work each find the cores as the last left them;
  // they meet only when one overruns its share of the tick.
  val TickMs = 5000
  val EventsPerTick = 15000
  val PollMs = 5000
  val PollOffsetMs = 2500
  val PrepareOffsetMs = 4000
  // set-up runs this many ticks, with this many polls each, through the
  // live pipelines: after one tick and two polls, the JIT still sped the
  // polls up through the measured window
  val WarmTicks = 2
  val WarmPollsPerTick = 2
  val LiveStart: Long = Events.epochSec("2026-08-12 10:00:00")
  val HistoryDays = 4
  val HistoryEvents = 40000
  val WarmEvents = 2000

  // traced live runs also drain one backlog spread over six months
  // with Trigger.AvailableNow, at full width and at local[1]
  val BackfillEvents = 60000
  val BackfillFrom: Long = Events.epochSec("2026-03-01 00:00:00")
  val BackfillTo: Long = Events.epochSec("2026-09-01 00:00:00")

  // corpus_ops: multi-second registry queries with DuckDB oracles, in
  // the order they run, and the corpus table each one reads
  val CorpusQueries: Seq[(String, String)] = Seq(
    "semantic_dedup_ivf_auto" -> "embeddings", "pagerank" -> "lineitem",
    "graph_triangles" -> "lineitem", "dedup_cluster_sizes" -> "documents",
    "corpus_build" -> "documents", "fuzzy_join" -> "customer")
  val CorpusTables: Seq[String] = CorpusQueries.map(_._2).distinct
  // a warm refresh takes 8-12 s on four vCPUs. The count is fixed by
  // the window, not by the clock: each refresh in a JVM runs faster than
  // the one before, so a count that followed the host's speed moved the
  // medians by more than the speed did. With three, the median passes
  // over the first, which still pays JIT warm-up and at times ran 1.5x
  // the others
  val RefreshS = 10
  val MinRefreshes = 2

  /** Every streaming query the benchmark started, for its progress. */
  private val started = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQuery]()

  /** Exits 0 once the result file is written, 1 on any failure, without
    * waiting for threads Spark may leave running. */
  def main(argv: Array[String]): Unit =
    try { run(argv); System.exit(0) }
    catch { case e: Throwable => e.printStackTrace(); System.exit(1) }

  private def run(argv: Array[String]): Unit = {
    val entryMs = System.currentTimeMillis()
    val a = Args(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1",
      Paths.get(argv(4)), Paths.get(argv(5)), argv.lift(6), argv.lift(7))
    require(Set("live_dashboard", "corpus_ops")(a.workload), s"unknown workload ${a.workload}")
    Files.createDirectories(a.work)
    val trace = new Trace(a.trace)
    val res = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "cpus" -> Cpus, "main_entry_ms" -> entryMs)
    val counts = new Counts
    val prep = setup(a, counts)
    val spark = prep.spark
    res("setup_s") = prep.seconds
    // the listener counts from the end of set-up on
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(counts)
    val liveFiles =
      if (a.workload == "live_dashboard") live(prep, a, trace, res)
      else { corpus(prep, a, trace, res); Nil }
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    res("batches") = started.asScala.toSeq.flatMap(Batch.of).sortBy(_.commitMs).map(b => Map(
      "query" -> b.query, "batch_id" -> b.batchId, "input_rows" -> b.inputRows,
      "start_ms" -> b.startMs, "commit_ms" -> b.commitMs, "durations_ms" -> b.durations))
    res("counts") = counts.asJson
    res("counts_total") = counts.total
    if (a.trace && a.workload == "live_dashboard") {
      // after the measured window: the transform/sink split over the
      // live input, and the backfill drains at full width and at local[1]
      decompose(spark, prep.dir, liveFiles, trace)
      val (wide, wideOk) = drainRate(spark, a.work.resolve("backfill"), a.seed)
      spark.stop()
      val single = session(a.work, 1)
      warmDrain(single, a.work.resolve("single"), a.seed)
      val (narrow, narrowOk) = drainRate(single, a.work.resolve("single"), a.seed)
      single.stop()
      res("backfill_rows_per_s") = wide
      res("single_core_rows_per_s") = narrow
      res("backfill_counts_ok") = wideOk && narrowOk
    } else spark.stop()
    res("spans") = trace.asJson
    Files.writeString(a.out, new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsString(res))
  }

  def session(work: Path, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The set-up: its session and directory, its seconds, and the
    * events it already wrote to the tables. */
  final case class Prepared(spark: SparkSession, dir: Path, seconds: Double, history: Events,
      live: Events, pipes: Seq[(StreamingPipeline.Topic, StreamingPipeline.Pipeline)])

  /** Build the session and warm it, once and cold, as a user's first
    * start pays it. A live set-up pre-fills the tables with days of
    * history through the same transform and sink the stream uses, polls
    * the dashboard once, attaches both streaming pipelines and runs
    * `WarmTicks` ticks through them, each beside polls; a corpus set-up
    * resolves and counts the corpus tables and runs one refresh over a
    * corpus a fifth the size of the measured one. The measured phase
    * then does not pay the JVM's first-run class loading and JIT. */
  private def setup(a: Args, counts: Counts): Prepared = {
    val history = new Events(a.seed + 7)
    val live = new Events(a.seed)
    val historyIn = a.work.resolve("history")
    if (a.workload == "live_dashboard") {
      val from = LiveStart - HistoryDays * 86400L
      history.write(historyIn, "history", HistoryEvents, r => from + r.nextLong(LiveStart - from))
    }
    val dir = a.work.resolve("setup")
    val t0 = Clock.ms()
    val spark = session(a.work, Cpus)
    var pipes = Seq.empty[(StreamingPipeline.Topic, StreamingPipeline.Pipeline)]
    if (a.workload == "live_dashboard") {
      Topics.foreach { t =>
        val raw = spark.read.text(historyIn.resolve(t.name).toString)
        EventSink.append(transform(t, raw), dir.resolve(tableOf(t)).toString)
      }
      def warmPoll(): Unit = Dashboard.poll(spark, dir.resolve("sales").toString,
        dir.resolve("stock_movements").toString, timestamp_seconds(lit(LiveStart)),
        new Trace(false), "warm", Map.empty)
      warmPoll()
      Topics.foreach(t => Files.createDirectories(dir.resolve("in").resolve(t.name)))
      pipes = pipelines(spark, dir, Trigger.ProcessingTime(0L))
      pipes.foreach { case (t, p) =>
        val q = p.attach()
        counts.tagStream(q.runId, s"stream.${t.name}")
        started.add(q)
      }
      for (k <- 0 until WarmTicks) {
        live.write(dir.resolve("in"), s"warm$k", EventsPerTick, _ => LiveStart - 1)
        (0 until WarmPollsPerTick).foreach(_ => warmPoll())
        pipes.foreach(_._2.processAllAvailable())
      }
    } else {
      graft.GraftSession.tuneShufflePartitions(spark, a.corpus.get)
      CorpusTables.foreach(t => graft.Tables.load(spark, a.corpus.get, t).count())
      CorpusQueries.foreach { case (q, _) =>
        runQuery(spark, q, a.warmCorpus.get, a.work.resolve("warm_out").resolve(q).toString)
      }
    }
    Prepared(spark, dir, (Clock.ms() - t0) / 1e3, history, live, pipes)
  }

  def transform(t: StreamingPipeline.Topic, raw: DataFrame): DataFrame =
    if (t == StreamingPipeline.Sales) IngestTransform.salesFromJson(raw)
    else IngestTransform.warehouseFromJson(raw)

  private def pipelines(spark: SparkSession, dir: Path, trigger: Trigger) =
    Topics.map { t =>
      t -> StreamingPipeline.textDir(spark, t, dir.resolve("in").resolve(t.name).toString,
        dir.resolve(tableOf(t)).toString, dir.resolve("ckpt").resolve(t.name).toString, trigger)
    }

  /** A small drain through both pipelines. */
  private def warmDrain(spark: SparkSession, dir: Path, seed: Long): Unit = {
    new Events(seed + 11).write(dir.resolve("in"), "warm", WarmEvents,
      r => BackfillFrom + r.nextLong(BackfillTo - BackfillFrom))
    pipelines(spark, dir, Trigger.AvailableNow()).map(_._2.attach()).foreach(_.awaitTermination())
  }

  /** Land one backlog of `BackfillEvents` spread over six months and
    * drain it through both pipelines with `Trigger.AvailableNow`;
    * returns typed rows committed per second, and whether each table
    * gained exactly the generator's typed rows. */
  private def drainRate(spark: SparkSession, dir: Path, seed: Long): (Double, Boolean) = {
    val stage = dir.resolve("stage")
    val files = new Events(seed + 13).write(stage, "backlog", BackfillEvents,
      r => BackfillFrom + r.nextLong(BackfillTo - BackfillFrom))
    val before = sinkCounts(spark, dir)
    val t0 = Clock.ms()
    publish(stage, dir.resolve("in"), files)
    pipelines(spark, dir, Trigger.AvailableNow()).map(_._2.attach()).foreach(_.awaitTermination())
    val rate = files.map(_.typedRows).sum / ((Clock.ms() - t0) / 1e3)
    val after = sinkCounts(spark, dir)
    (rate, files.forall(f => after(f.topic) - before(f.topic) == f.typedRows))
  }

  /** Move files written under `stage` into the source directory `in`. */
  private def publish(stage: Path, in: Path, files: Seq[InFile]): Unit =
    files.foreach { f =>
      Files.createDirectories(in.resolve(f.topic))
      Files.move(stage.resolve(f.topic).resolve(f.name), in.resolve(f.topic).resolve(f.name),
        StandardCopyOption.ATOMIC_MOVE)
    }

  /** Rows in each sink table (0 for a table not written yet). */
  private def sinkCounts(spark: SparkSession, dir: Path): Map[String, Long] =
    Topics.map { t =>
      val p = dir.resolve(tableOf(t))
      t.name -> (if (Files.exists(p)) spark.read.parquet(p.toString).count() else 0L)
    }.toMap

  /** Parquet files and bytes under both sink directories. */
  private def sinkFiles(dir: Path): (Long, Long) = {
    val fs = Topics.flatMap { t =>
      val s = Files.walk(dir.resolve(tableOf(t)))
      try s.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
      finally s.close()
    }
    (fs.size.toLong, fs.map(Files.size).sum)
  }

  /** Run the transform and the sink separately over the given input
    * files of each topic: the transform's output is materialized, then
    * appended through `EventSink`, each call in its own span. */
  private def decompose(spark: SparkSession, dir: Path, files: Seq[InFile],
      trace: Trace): Unit =
    Topics.foreach { t =>
      val paths = files.filter(_.topic == t.name)
        .map(f => dir.resolve("in").resolve(t.name).resolve(f.name).toString)
      spark.sparkContext.setJobGroup("pb:ingest.decompose", "transform/sink split")
      val typed = trace.span("ingest.transform", s"decompose-${t.name}") { _ =>
        val df = transform(t, spark.read.text(paths: _*)).persist()
        df.count()
        df
      }
      trace.span("ingest.sink", s"decompose-${t.name}") { _ =>
        EventSink.append(typed, dir.resolve("decompose").resolve(tableOf(t)).toString)
      }
      typed.unpersist(blocking = true)
      spark.sparkContext.clearJobGroup()
    }

  private def timed(due: Double)(body: => Unit): Map[String, Any] = {
    val start = Clock.ms()
    val ok = try { body; true } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] operation failed: $e")
        false
    }
    Map("due_ms" -> due, "start_ms" -> start, "end_ms" -> Clock.ms(), "ok" -> ok)
  }

  private def sleepUntil(t: Double): Unit = {
    val d = t - Clock.ms()
    if (d > 0) Thread.sleep(d.toLong, ((d % 1.0) * 1e6).toInt)
  }

  /** live_dashboard: one open-loop generator thread publishes a file per
    * topic every tick; the pipelines run with a `ProcessingTime(0)`
    * trigger; one dashboard client polls on a fixed schedule against
    * the same tables. Returns the live input files. */
  def live(prep: Prepared, a: Args, trace: Trace, res: mutable.Map[String, Any]): Seq[InFile] = {
    val spark = prep.spark
    val dir = prep.dir
    val ev = prep.live
    val in = dir.resolve("in")
    val stats = Dashboard.Queries.map(_ -> new Dashboard.QueryStats).toMap
    val (files0, bytes0) = sinkFiles(dir)
    val pipes = prep.pipes
    // each tick's files are written aside before they are due, so at the
    // tick the generator only renames them in
    val stage = dir.resolve("stage")
    val ticks = a.seconds * 1000 / TickMs
    def prepare(k: Int): Seq[InFile] =
      ev.write(stage, f"tick$k%05d", EventsPerTick, _ => LiveStart + k * TickMs / 1000)
    val first = prepare(0)
    val t0 = Clock.ms() + 500.0
    val files = mutable.ArrayBuffer.empty[Map[String, Any]]
    val liveFiles = mutable.ArrayBuffer.empty[InFile]
    val polls = mutable.ArrayBuffer.empty[Map[String, Any]]
    val generator = new Thread(() => {
      var next = first
      for (k <- 0 until ticks) {
        val due = t0 + k.toDouble * TickMs
        sleepUntil(due)
        val created = Clock.ms()
        publish(stage, in, next)
        liveFiles ++= next
        next.foreach(f => files += Map("topic" -> f.topic, "name" -> f.name, "lines" -> f.lines,
          "typed" -> f.typedRows, "due_ms" -> due, "created_ms" -> created))
        if (k + 1 < ticks) {
          sleepUntil(due + PrepareOffsetMs)
          next = prepare(k + 1)
        }
      }
    }, "perfbench-generator")
    val client = new Thread(() => {
      for (j <- 0 until a.seconds * 1000 / PollMs) {
        val due = t0 + PollOffsetMs + j.toDouble * PollMs
        sleepUntil(due)
        val simNow = LiveStart + ((due - t0) / 1000.0).toLong
        polls += timed(due) {
          Dashboard.poll(spark, dir.resolve("sales").toString, dir.resolve("stock_movements").toString,
            timestamp_seconds(lit(simNow)), trace, s"poll-$j", stats)
        }
      }
    }, "perfbench-dashboard")
    generator.start(); client.start()
    generator.join(); client.join()
    val drainStart = Clock.ms()
    pipes.foreach(_._2.processAllAvailable())
    res("drain_out_s") = (Clock.ms() - drainStart) / 1e3
    pipes.foreach(_._2.detach())
    val (files1, bytes1) = sinkFiles(dir)
    res("t0_ms") = t0
    res("offered_rows_per_s") = EventsPerTick * 1000 / TickMs
    res("files") = files
    res("polls") = polls
    res("checkpoints") = Topics.map(t => t.name -> dir.resolve("ckpt").resolve(t.name).toString).toMap
    res("sink_files_written") = files1 - files0
    res("sink_bytes_written") = bytes1 - bytes0
    res("dashboard_stats") = stats.map { case (q, s) =>
      q -> Map("plan_s" -> s.planS, "exec_s" -> s.execS, "files_read" -> s.files)
    }
    val history = prep.history
    res("sink_counts") = sinkCounts(spark, dir)
    res("expected_counts") = Map("sales" -> (history.sales.size + ev.sales.size),
      "warehouse" -> (history.moves.size + ev.moves.size))
    // the four answers at a fixed `now`, against the benchmark's tallies
    val nowSec = LiveStart + a.seconds
    val want = Events.expectedDashboard((history.sales ++ ev.sales).toSeq,
      (history.moves ++ ev.moves).toSeq, nowSec)
    val got = Dashboard.poll(spark, dir.resolve("sales").toString,
      dir.resolve("stock_movements").toString, timestamp_seconds(lit(nowSec)), new Trace(false),
      "check", Map.empty)
    res("dashboard_check") = Dashboard.Queries.map { q =>
      q -> Map("ok" -> (want(q) == got(q)), "want" -> want(q).take(12), "got" -> got(q).take(12))
    }.toMap
    liveFiles.toSeq
  }

  /** Result columns cast the way `graft.Verify` casts them, so the
    * DuckDB oracle compares identical types. */
  private def oracleTyped(df: DataFrame): DataFrame = df.select(df.schema.fields.map { f =>
    f.dataType match {
      case TimestampType => col(f.name).cast(TimestampNTZType).as(f.name)
      case _: DecimalType => col(f.name).cast(DoubleType).as(f.name)
      case _ => col(f.name)
    }
  }.toSeq: _*)

  private def runQuery(spark: SparkSession, q: String, sf: String, out: String): Unit = {
    spark.sparkContext.setJobGroup(s"pb:corpus.$q", q)
    try oracleTyped(graft.SparkEntry.queries(q)(spark, sf)).coalesce(1).write.mode("overwrite")
      .parquet(out)
    finally {
      spark.sparkContext.clearJobGroup()
      spark.catalog.clearCache()
    }
  }

  /** corpus_ops: refreshes of the derived tables, one after another, one
    * per `RefreshS` seconds of the window and at least `MinRefreshes` —
    * each registry query once per refresh, in a fixed order, its result
    * written as parquet. */
  def corpus(prep: Prepared, a: Args, trace: Trace, res: mutable.Map[String, Any]): Unit = {
    val spark = prep.spark
    val sf = a.corpus.get
    val rows = CorpusTables.map(t => t -> graft.Tables.load(spark, sf, t).count()).toMap
    val runs = mutable.ArrayBuffer.empty[Map[String, Any]]
    for (r <- 0 until math.max(MinRefreshes, a.seconds / RefreshS)) {
      runs ++= CorpusQueries.map { case (q, table) =>
        val out = a.work.resolve("corpus_out").resolve(q).toString
        timed(Clock.ms()) {
          trace.span("corpus.query", s"$q-$r")(_ => runQuery(spark, q, sf, out))
        } + ("query" -> q) + ("refresh" -> r) + ("rows_in" -> rows(table)) + ("out" -> out)
      }
    }
    res("queries") = runs.toSeq
    res("oracle_sql") = CorpusQueries.map { case (q, _) => q -> graft.SparkEntry.oracleSql(q) }.toMap
    res("corpus_rows") = rows
  }
}
