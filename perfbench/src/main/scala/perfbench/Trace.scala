package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** One timed call into a layer of the program. `unit` names the batch,
  * poll or query the call belongs to; `parent` is the id of the span
  * that caused it (0 for a root). Times are wall-clock milliseconds
  * with microsecond fraction, so they line up with streaming progress
  * stamps. */
final case class Span(name: String, id: Long, parent: Long, unit: String,
    startMs: Double, endMs: Double)

object Clock {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall-clock ms with sub-ms resolution from the monotonic clock. */
  def ms(): Double = wall0 + (System.nanoTime() - nano0) / 1e6
}

/** Spans kept in memory while the benchmark runs and written out at
  * the end. With tracing off, `span` only runs its body. */
final class Trace(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()

  def span[T](name: String, unit: String, parent: Long = 0L)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = Clock.ms()
      try body(id)
      finally spans.add(Span(name, id, parent, unit, t0, Clock.ms()))
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startMs)

  def asJson: Seq[Map[String, Any]] = all.map(s => Map(
    "name" -> s.name, "id" -> s.id, "parent" -> s.parent, "unit" -> s.unit,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs))
}

/** Scheduler counts per tag. A job's tag is its job group: groups the
  * benchmark sets start with `pb:`; a streaming query's jobs carry the
  * query's run id as group, which `tagStream` maps to a name. */
final class Counts extends SparkListener {
  final class Acc {
    val jobs, stages, tasks = new AtomicLong()
    val taskWaitMs, execCpuNs, execRunMs, gcMs = new AtomicLong()
    val shuffleRead, shuffleWrite, spill, bytesRead = new AtomicLong()
    def asMap: Map[String, Any] = Map(
      "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
      "task_wait_s" -> taskWaitMs.get / 1e3, "exec_cpu_s" -> execCpuNs.get / 1e9,
      "exec_run_s" -> execRunMs.get / 1e3, "gc_s" -> gcMs.get / 1e3,
      "shuffle_read_bytes" -> shuffleRead.get, "shuffle_write_bytes" -> shuffleWrite.get,
      "spill_bytes" -> spill.get, "input_bytes" -> bytesRead.get)
  }

  private val streamTags = TrieMap.empty[String, String]
  private val stageTag = TrieMap.empty[Int, String]
  private val stageSubmitted = TrieMap.empty[Int, Long]
  val byTag = TrieMap.empty[String, Acc]

  def tagStream(runId: java.util.UUID, tag: String): Unit = streamTags(runId.toString) = tag

  private def acc(tag: String) = byTag.getOrElseUpdate(tag, new Acc)

  private def tagOf(props: java.util.Properties): String = {
    val g = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    if (g.startsWith("pb:")) g.stripPrefix("pb:")
    else streamTags.getOrElse(g, if (g.isEmpty) "untagged" else "stream.other")
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = tagOf(e.properties)
    e.stageIds.foreach(stageTag(_) = tag)
    acc(tag).jobs.incrementAndGet()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    stageSubmitted(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    acc(stageTag.getOrElse(id, "untagged")).stages.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageTag.getOrElse(e.stageId, "untagged"))
    a.tasks.incrementAndGet()
    stageSubmitted.get(e.stageId).foreach { s =>
      a.taskWaitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - s))
    }
    Option(e.taskMetrics).foreach { m =>
      a.execCpuNs.addAndGet(m.executorCpuTime)
      a.execRunMs.addAndGet(m.executorRunTime)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      a.bytesRead.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  /** Sum of every tag's counts. */
  def total: Map[String, Any] = {
    val t = new Acc
    byTag.values.foreach { a =>
      t.jobs.addAndGet(a.jobs.get); t.stages.addAndGet(a.stages.get)
      t.tasks.addAndGet(a.tasks.get); t.taskWaitMs.addAndGet(a.taskWaitMs.get)
      t.execCpuNs.addAndGet(a.execCpuNs.get); t.execRunMs.addAndGet(a.execRunMs.get)
      t.gcMs.addAndGet(a.gcMs.get); t.shuffleRead.addAndGet(a.shuffleRead.get)
      t.shuffleWrite.addAndGet(a.shuffleWrite.get); t.spill.addAndGet(a.spill.get)
      t.bytesRead.addAndGet(a.bytesRead.get)
    }
    t.asMap
  }

  def asJson: Map[String, Any] = byTag.map { case (k, a) => k -> a.asMap }.toMap
}

/** One streaming micro-batch as reported by `StreamingQueryProgress`. */
final case class Batch(query: String, batchId: Long, inputRows: Long,
    startMs: Double, commitMs: Double, durations: Map[String, Long])

object Batch {
  /** The micro-batches a query ran, from its progress reports; a report
    * without `addBatch` is an idle trigger, not a batch. */
  def of(q: org.apache.spark.sql.streaming.StreamingQuery): Seq[Batch] =
    q.recentProgress.toSeq.flatMap { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      if (d.contains("addBatch"))
        Some(Batch(p.name, p.batchId, p.numInputRows, start,
          start + d.getOrElse("triggerExecution", 0L), d))
      else None
    }
}
