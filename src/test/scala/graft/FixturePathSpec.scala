package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps specs reading the committed covSonar fixtures: a string literal
  * that opens with the path of the upstream checkout they were copied from
  * ties the suite to a directory the repository does not hold. Specs take
  * fixture paths from `graft.covsonar.Fixtures.dir` instead. Doc comments
  * citing the upstream sources carry no opening quote and stay allowed.
  */
class FixturePathSpec extends AnyFunSuite {

  private val upstreamLiteral = """["]/root/reference""".r

  test("no spec names a fixture by the upstream checkout's absolute path") {
    val hits = Files.walk(Paths.get("src/test/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if upstreamLiteral.findFirstIn(line).nonEmpty => s"$f:${i + 1}"
        }
      }
    assert(hits.isEmpty, s"string literals open with the upstream path: ${hits.mkString(", ")}")
  }
}
