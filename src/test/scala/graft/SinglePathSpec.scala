package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard for the single paths: engine expressions bind as
  * typed Columns (never a session-global temp function looked up by
  * name), every session comes from [[GraftSession.builder]], every
  * k-means trains through the one grouped Lloyd trainer, and every
  * fixpoint loop runs through the one driver. */
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
      _ == "src/main/scala/org/apache/spark/sql/execution/graft/TopKPerKeyExec.scala")
    assert(callers === Seq("src/main/scala/graft/operators/Fixpoint.scala"))
    assert(filesWith("localCheckpoint" + "(false)").filter(p =>
      Seq("dedup", "queries", "text").exists(d => p.startsWith(s"src/main/scala/graft/$d/"))).isEmpty)
    assert(filesWith("var super" + "seded").isEmpty)
    assert(filesWith("super" + "seded.foreach").isEmpty)
  }
}
