package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard for the single paths: engine expressions bind as
  * typed Columns (never a session-global temp function looked up by
  * name), every session comes from [[GraftSession.builder]], every
  * k-means trains through the one grouped Lloyd trainer, every
  * fixpoint loop runs through the one driver, every frame is
  * materialized through the one scope, and the one graft-owned listener
  * is the profiling tools' metrics listener. */
class SinglePathSpec extends AnyFunSuite {

  private def sources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  /** Files under src/ whose text contains `needle`. */
  private def filesWith(needle: String): Seq[String] =
    sources.filter(p => Files.readString(p).contains(needle))
      .map(_.toString).sorted

  test("no temp-function registration anywhere under src/") {
    // split so this file does not match itself
    assert(filesWith("createOrReplace" + "TempFunction").isEmpty)
    assert(filesWith("def " + "register(").isEmpty)
  }

  test("every session is built by the one factory") {
    assert(filesWith("SparkSession" + ".builder(") ===
      Seq("src/main/scala/graft/GraftSession.scala"))
  }

  test("one Lloyd trainer: no per-quantizer loop or seam, one decimal mean") {
    // split so this file does not match itself
    for (name <- Seq("lloyd" + "Flat", "lloyd" + "Pq", "lloyd" + "Hier",
        "Distributed" + "ForTest", "trainCentroids" + "Distributed",
        "trainFrom" + "Distributed"))
      assert(filesWith(name).isEmpty, name)
    assert(filesWith("DecimalType" + "(28, 12)").filter(_.startsWith("src/main/")) ===
      Seq("src/main/scala/graft/similarity/Lloyd.scala"))
  }

  test("one fixpoint driver") {
    // split so this file does not match itself
    val callers = filesWith("release" + "Checkpoint").filterNot(
      _ == "src/main/scala/org/apache/spark/sql/execution/graft/GraftPlanBridge.scala")
    assert(callers === Seq("src/main/scala/graft/operators/Stage.scala"))
    assert(filesWith("localCheckpoint" + "(false)").filter(p =>
      Seq("dedup", "queries", "text").exists(d => p.startsWith(s"src/main/scala/graft/$d/"))).isEmpty)
    assert(filesWith("var super" + "seded").isEmpty)
    assert(filesWith("super" + "seded.foreach").isEmpty)
  }

  test("one materialization scope") {
    // split so this file does not match itself
    val needles = Seq("localCheckpoint" + "(", ".persist" + "(", ".cache" + "()",
      "Materi" + "alize", "Keyed" + "Store", "Staged" + ".", "checkpointHash" + "Partitioned")
    val exempt = Set("src/main/scala/graft/operators/Stage.scala",
      "src/main/scala/org/apache/spark/sql/execution/graft/GraftPlanBridge.scala")
    val raw = for {
      p <- sources
      f = p.toString
      if f.startsWith("src/main/") && !f.startsWith("src/main/scala/graft/tools/") && !exempt(f)
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if needles.exists(line.contains)
    } yield s"$f:${i + 1}: ${line.trim}"
    // the one named exception: quarantine hands both of its frames to the caller
    assert(raw.size === 1, raw.mkString("\n"))
    assert(raw.head.startsWith("src/main/scala/graft/sources/FileSources.scala:") &&
      raw.head.endsWith("val parsed = df" + ".cache" + "()"), raw.head)
    assert(Seq("Materialize", "KeyedStore", "Staged").forall(n =>
      !Files.exists(Paths.get(s"src/main/scala/graft/operators/$n.scala"))))
  }

  test("one listener") {
    def mainFilesWith(needle: String) = filesWith(needle).filter(_.startsWith("src/main/"))
    assert(mainFilesWith("QueryExecutionListener").isEmpty)
    assert(mainFilesWith("listenerManager.register").isEmpty)
    assert(mainFilesWith("addSparkListener") ===
      Seq("src/main/scala/graft/tools/StageMetrics.scala"))
  }
}
