package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps per-`main` session builders from coming back: under src/main a
  * session is built only by [[GraftSession]], which every local `main`
  * uses, and by [[ClusterHarness]], whose local[4] and local-cluster
  * builders are pinned for plan-shape parity. A `main` that builds its own
  * session drifts from the others' time zone, partitions and codegen cache.
  */
class SessionBuilderSpec extends AnyFunSuite {

  private val allowed = Set("GraftSession.scala", "ClusterHarness.scala")

  test("SparkSession.builder() under src/main appears only in GraftSession and ClusterHarness") {
    val sites = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("SparkSession.builder()") => (f.getFileName.toString, i + 1)
        }
      }
    val others = sites.filterNot(s => allowed(s._1))
    assert(others.isEmpty, s"session builders outside GraftSession and ClusterHarness: " +
      others.map { case (f, l) => s"$f:$l" }.mkString(", "))
    assert(sites.exists(_._1 == "GraftSession.scala"), "GraftSession no longer builds the session")
  }
}
