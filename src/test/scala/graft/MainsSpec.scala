package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps probe `main`s from piling up again: every object with a `main`
  * under src/main is either one of the tools (bench, verify, CLI, plan
  * dump, scale-up data generator) or a rehearsal that
  * `tools/run_rehearsals.sh` runs and gates. A one-off measurement belongs
  * in Bench's subset mode, not in a new entry point.
  */
class MainsSpec extends AnyFunSuite {

  private val tools = Set("graft.Bench", "graft.Verify", "graft.covsonar.SonarCli",
    "graft.PlanDump", "graft.ScaleUp")

  /** Fully qualified names of the objects that declare a `def main(`. */
  private def mainsUnder(root: Path): Set[String] = {
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    files.flatMap { f =>
      val src = Files.readString(f)
      val pkg = """(?m)^package\s+([\w.]+)""".r.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
      val objects = """\bobject\s+(\w+)""".r.findAllMatchIn(src).map(m => m.start -> m.group(1)).toList
      """\bdef\s+main\s*\(""".r.findAllMatchIn(src).map { m =>
        val owner = objects.takeWhile(_._1 < m.start).lastOption
        assert(owner.nonEmpty, s"$f: main outside any object")
        pkg + owner.get._2
      }
    }.toSet
  }

  private def gatedRehearsals: Set[String] =
    """runMain\s+(graft\.[\w.]+)""".r
      .findAllMatchIn(Files.readString(Paths.get("tools/run_rehearsals.sh")))
      .map(_.group(1)).toSet

  test("the mains under src/main are the tools plus the gated rehearsals, nothing else") {
    val rehearsals = gatedRehearsals
    assert(rehearsals.nonEmpty, "no runMain found in tools/run_rehearsals.sh")
    val mains = mainsUnder(Paths.get("src/main/scala"))
    val expected = tools ++ rehearsals
    assert(mains == expected,
      s"unexpected mains: ${(mains -- expected).toSeq.sorted.mkString(", ")}; " +
        s"missing: ${(expected -- mains).toSeq.sorted.mkString(", ")}")
  }
}
