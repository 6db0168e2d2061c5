package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps eager cuts from piling up again: the `lossTolerantCheckpoint()`
  * call sites under src/main must be exactly the ones listed here, counted
  * per file and innermost enclosing `def`. Each one costs a job and a block
  * write, so a new site is a visible edit of this list, made together with
  * the measurement that shows it pays (SCALING.md, "Materialization
  * budget").
  */
class CkptSitesSpec extends AnyFunSuite {

  /** (file, innermost enclosing def) → number of call sites. */
  private val kept: Map[(String, String), Int] = Map(
    // cut an iteration's lineage
    ("PipelineQueries.scala", "bpeTrain") -> 2,
    ("PipelineQueries.scala", "g1Pagerank") -> 3,
    ("PipelineQueries.scala", "propagateLabels") -> 1,
    ("PipelineQueries.scala", "rebased") -> 1,
    ("PipelineQueries.scala", "d6Impl") -> 1,
    ("PipelineQueries.scala", "x36GreedyDecode") -> 1,
    // ClusterKillRehearsal queries
    ("PipelineQueries.scala", "d3bSimhashPairs") -> 1,
    ("PipelineQueries.scala", "exportManifest") -> 1,
    // one evaluation that two passes share
    ("PipelineQueries.scala", "x11Pack") -> 1,
    // result checkpoints that release a persisted gram cache
    ("PipelineQueries.scala", "d4Core") -> 1,
    ("PipelineQueries.scala", "d4cCore") -> 2, // and its band table, measured to pay
    // streaming micro-batches, and the indexes built once that they screen
    // every batch against (d10/m7 build the same index for one probe)
    ("StreamingOps.scala", "annAgainstIndex") -> 1,
    ("StreamingOps.scala", "changelogApplyStream") -> 3,
    ("StreamingOps.scala", "changelogApplyStreamBucketed") -> 1,
    ("StreamingOps.scala", "changelogApplyStreamPersistent") -> 4,
    ("StreamingOps.scala", "dedupAgainstIndex") -> 1,
    ("StreamingOps.scala", "imageDedupAgainstIndex") -> 1,
    ("PipelineQueries.scala", "prepareCorpusIndex") -> 2,
    ("PipelineQueries.scala", "prepareImageIndex") -> 2,
    ("PipelineQueries.scala", "prepareVideoIndex") -> 3,
    ("PipelineQueries.scala", "videoDedupProbe") -> 1,
    // covSonar ingest: crash order and align-once
    ("SonarIngest.scala", "add") -> 2,
    // no registered query reaches these; kept unmeasured
    ("PipelineQueries.scala", "videoDedupDemuxed") -> 1,
    ("JsonlDocs.scala", "read") -> 1,
    // measured to pay (SCALING.md cites each number)
    ("PipelineQueries.scala", "signaturesOf") -> 1,
    ("PipelineQueries.scala", "d2FromSignatures") -> 1,
    ("PipelineQueries.scala", "prepareVectorIndex") -> 1,
    ("PipelineQueries.scala", "sim6IvfPq") -> 1,
    ("PipelineQueries.scala", "m3FeatureAnn") -> 1,
    ("PipelineQueries.scala", "k16Pairs") -> 1,
    ("PipelineQueries.scala", "d7Contamination") -> 1,
    ("PipelineQueries.scala", "x12LmScore") -> 1,
    ("PipelineQueries.scala", "d8SpanDedup") -> 1,
    ("PipelineQueries.scala", "w8ConversionLatency") -> 1,
    ("PipelineQueries.scala", "signaturesWithVariants") -> 1,
    ("PipelineQueries.scala", "m8VideoDedup") -> 1,
    ("PipelineQueries.scala", "pipe1Curate") -> 1,
    ("PipelineQueries.scala", "x21ImportanceWeights") -> 1,
    ("PipelineQueries.scala", "x27TrainClassifier") -> 1,
    ("PipelineQueries.scala", "x30GoodTuring") -> 1,
    ("PipelineQueries.scala", "preparePhraseIndex") -> 1,
    ("PipelineQueries.scala", "x34Keywords") -> 2,
    ("PipelineQueries.scala", "trianglesOfMemberships") -> 3,
    ("RelationalQueries.scala", "fileInventory") -> 1,
    ("RelationalQueries.scala", "k15ZoneMapPlan") -> 1,
  )

  private val Def = """^(\s*)(?:[\w\[\]]+\s+)*def\s+(\w+)""".r.unanchored

  private def indent(l: String): Int = l.length - l.dropWhile(_ == ' ').length

  /** The innermost `def` whose body holds line `i`: the nearest earlier
    * `def` line indented less than every non-blank line between it and `i`.
    */
  private def enclosingDef(lines: IndexedSeq[String], i: Int): String = {
    var lo = indent(lines(i))
    var j = i - 1
    while (j >= 0) {
      val l = lines(j)
      if (l.trim.nonEmpty) {
        l match {
          case Def(_, name) if indent(l) < lo => return name
          case _ =>
        }
        lo = math.min(lo, indent(l))
      }
      j -= 1
    }
    "?"
  }

  /** Every `.lossTolerantCheckpoint()` call in code (not comments) under
    * `root`, outside [[Ckpt]] itself, counted by (file, enclosing def).
    */
  private def sitesUnder(root: String): Map[(String, String), Int] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && f.getFileName.toString != "Ckpt.scala")
      .toList
      .flatMap { f =>
        val lines = Files.readAllLines(f).asScala.toIndexedSeq
        lines.indices.flatMap { i =>
          val code = lines(i).split("//", 2)(0)
          val n = if (code.trim.startsWith("*")) 0
            else code.split(java.util.regex.Pattern.quote(".lossTolerantCheckpoint()"), -1).length - 1
          Seq.fill(n)(f.getFileName.toString -> enclosingDef(lines, i))
        }
      }
      .groupMapReduce(identity)(_ => 1)(_ + _)

  test("the lossTolerantCheckpoint() sites under src/main are the listed ones, nothing else") {
    val found = sitesUnder("src/main/scala")
    val diff = (found.keySet ++ kept.keySet).toSeq.sorted
      .filter(k => found.getOrElse(k, 0) != kept.getOrElse(k, 0))
      .map { case k @ (file, d) => s"$file/$d: found ${found.getOrElse(k, 0)}, listed ${kept.getOrElse(k, 0)}" }
    assert(diff.isEmpty, diff.mkString("checkpoint sites differ from the list:\n", "\n", ""))
  }
}
