package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard for the single paths: engine expressions bind as
  * typed Columns (never a session-global temp function looked up by
  * name), and every session comes from [[GraftSession.builder]]. */
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
}
