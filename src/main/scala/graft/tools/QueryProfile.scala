package graft.tools

/** r17 optimization-round instrument: per-registered-query decomposition
  * of WHERE the bench seconds go — wall time, Spark job count, stage
  * count, task count, summed executor run time, shuffle records/bytes —
  * so a plan change can be judged by the structural numbers (jobs,
  * exchanges, shuffled bytes) and not just a noisy wall clock.
  * Optionally dumps `.explain("formatted")` per query for the
  * plans/r17/ evidence files.
  *
  * Usage:
  *   sbt "runMain graft.tools.QueryProfile <sfDir> [reps] [explainDir|-] [q1 q2 ...]"
  * With no query names: all registered queries, slowest-first order is
  * the caller's problem (output is one line per query, greppable).
  * Not part of the driver contract.
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).flatMap(_.toIntOption).getOrElse(2)
    val explainDir = args.lift(2).filter(_ != "-")
    val wanted = args.drop(3).toSet
    val spark = graft.GraftSession.builder("graft-query-profile", "local[32]", 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.tuneShufflePartitions(spark, d)
    val metrics = new StageMetrics(spark)

    val qs = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.isEmpty || wanted(n) }

    // warmup: one pass at sf0.01 (JIT + codegen, same policy as Bench)
    qs.foreach { case (_, fn) =>
      try fn(spark, "/root/testdata/sf0.01")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }

    println("query\twall_s\tjobs\tstages\ttasks\texec_s\tshw_mb\tshr_mb\tshw_rec")
    qs.foreach { case (name, fn) =>
      explainDir.foreach { dir =>
        try {
          val plan = fn(spark, d).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val out = java.nio.file.Paths.get(s"$dir/$name.txt")
          java.nio.file.Files.createDirectories(out.getParent)
          java.nio.file.Files.write(out, plan.getBytes("UTF-8"))
        } catch { case scala.util.control.NonFatal(_) => () }
        spark.catalog.clearCache()
      }
      val samples = (1 to reps).map { _ =>
        val before = metrics.snapshot()
        val t0 = System.nanoTime()
        val ok = try {
          fn(spark, d).write.format("noop").mode("overwrite").save(); true
        } catch { case e: Throwable =>
          System.err.println(s"[qp] $name FAILED: ${e.getMessage}"); false
        }
        spark.catalog.clearCache()
        val wall = (System.nanoTime() - t0) / 1e9
        (wall, ok, metrics.snapshot() - before)
      }
      val (wall, ok, m) = samples.minBy(_._1)
      if (ok) println(f"$name\t$wall%.2f\t${m.jobs}\t${m.stages}\t${m.tasks}\t${m.runTimeMs / 1e3}%.2f\t${m.shufWriteBytes / 1e6}%.2f\t${m.shufReadBytes / 1e6}%.2f\t${m.shufWriteRec}")
      else println(s"$name\tFAILED")
    }
    spark.stop()
  }
}
