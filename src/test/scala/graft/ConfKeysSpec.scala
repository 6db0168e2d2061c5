package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps `spark.graft.*` dials from piling up again: the keys named in
  * string literals under src/main must be exactly the ones listed here. A
  * new dial is a visible edit of this list, made together with the
  * measurement that shows the dial pays.
  */
class ConfKeysSpec extends AnyFunSuite {

  /** The fault-tolerance dials of [[Ckpt]], which `ClusterKillRehearsal`
    * sets and rehearses. A branch that only a spec needs to force takes an
    * argument instead of a session dial.
    */
  private val keys = Set(
    "checkpoint.replicated", "checkpoint.reliable", "checkpoint.reliable.every")

  /** Every `"spark.graft.<key>` string literal under src/main, by key. */
  private def keysUnder(root: String): Map[String, Seq[String]] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .flatMap { f =>
        """"spark\.graft\.([\w.]*)""".r.findAllMatchIn(Files.readString(f))
          .map(m => m.group(1) -> f.getFileName.toString)
      }
      .groupMap(_._1)(_._2)

  test("the spark.graft.* keys under src/main are the listed dials, nothing else") {
    val found = keysUnder("src/main/scala")
    val unexpected = found.keySet -- keys
    assert(found.keySet == keys,
      s"unexpected keys: ${unexpected.toSeq.sorted.map(k => s"$k (${found(k).distinct.mkString(", ")})")
        .mkString(", ")}; missing: ${(keys -- found.keySet).toSeq.sorted.mkString(", ")}")
  }
}
