package perfbench

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import graft.queries.ReferenceDashboard

/** One dashboard client poll: the reference web app's four queries,
  * through `ReferenceDashboard`, over the typed tables the ingest
  * writes. The reference page fires its requests together on each
  * refresh, so a poll runs the four queries concurrently and ends when
  * the last answer is in. With tracing on, each query gets a plan span
  * and an exec span, and its scans' file counts are summed. */
object Dashboard {
  val Queries = Seq("sales_by_hour", "top_movements", "recent_sales", "status")

  final class QueryStats {
    var planS, execS = 0.0
    var files = 0L
  }

  private def frames(spark: SparkSession, salesPath: String, movesPath: String,
      now: Column): Seq[(String, DataFrame)] = {
    val sales = spark.read.parquet(salesPath)
    val moves = spark.read.parquet(movesPath)
    Seq(
      "sales_by_hour" -> ReferenceDashboard.salesByHour(sales, now),
      "top_movements" -> ReferenceDashboard.topMovements(moves, now),
      "recent_sales" -> ReferenceDashboard.recentSales(sales),
      "status" -> ReferenceDashboard.status(sales, moves))
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Seq(s)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case t: java.sql.Timestamp => Events.Fmt.format(t.toInstant)
    case t: java.time.Instant => Events.Fmt.format(t)
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }

  def rows(rs: Array[Row]): Seq[String] = rs.toSeq.map(_.toSeq.map(render).mkString("|"))

  private implicit val requests: ExecutionContext = ExecutionContext.fromExecutorService(
    Executors.newFixedThreadPool(Queries.size, (r: Runnable) => {
      val t = new Thread(r, "perfbench-dashboard-request")
      t.setDaemon(true)
      t
    }))

  /** Run one poll; returns each query's rendered rows. */
  def poll(spark: SparkSession, salesPath: String, movesPath: String, now: Column,
      trace: Trace, unit: String, stats: Map[String, QueryStats]): Map[String, Seq[String]] =
    trace.span("dashboard.poll", unit) { pollId =>
      val answers = frames(spark, salesPath, movesPath, now).map { case (q, df) => Future {
        spark.sparkContext.setJobGroup("pb:dashboard", "dashboard poll")
        val out = trace.span(s"dashboard.$q", unit, pollId) { qId =>
          if (!trace.enabled) df.collect()
          else {
            val st = stats(q)
            val t0 = Clock.ms()
            trace.span(s"dashboard.$q.plan", unit, qId)(_ => df.queryExecution.executedPlan)
            val t1 = Clock.ms()
            val rs = trace.span(s"dashboard.$q.exec", unit, qId)(_ => df.collect())
            val t2 = Clock.ms()
            st.synchronized {
              st.planS += (t1 - t0) / 1e3
              st.execS += (t2 - t1) / 1e3
              st.files += scans(df.queryExecution.executedPlan)
                .flatMap(_.metrics.get("numFiles")).map(_.value).sum
            }
            rs
          }
        }
        spark.sparkContext.clearJobGroup()
        q -> rows(out)
      }}
      Await.result(Future.sequence(answers), Duration.Inf).toMap
    }
}
