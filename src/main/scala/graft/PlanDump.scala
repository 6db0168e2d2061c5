package graft

import org.apache.spark.sql.SparkSession

/** Dev utility (optimization rounds): dump `.explain("formatted")` for named
  * registered queries to text files, e.g.
  * `SPARK_GRAFT_PLAN_DIR=plans/r12 SPARK_GRAFT_PLAN_SUFFIX=before \
  *    sbt "runMain graft.PlanDump g2b_triangles_keyed q5_region_revenue"`.
  *
  * Queries that eagerly materialize through `lossTolerantCheckpoint` during
  * construction (d4b/d4c) are mapped to their plan-probe variants so the
  * dumped plan shows the real join structure, not a checkpoint scan — the
  * same hook PlanQualitySpec uses.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r12")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val spark = GraftSession("graft.PlanDump")
    new java.io.File(outDir).mkdirs()
    val probes: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      "d4b_jaccard_prefix_path" -> (graft.queries.PipelineQueries.d4bPlanProbe _),
      "d4c_jaccard_banded" -> (graft.queries.PipelineQueries.d4cPlanProbe _))
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    for (q <- names) {
      try {
        val fn = probes.getOrElse(q, SparkEntry.queries(q))
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          // embedded binary literals (bloom sketches, CMS tables) print as
          // full hex — megabytes of noise; elide them for the committed file
          .replaceAll("(0x[0-9A-Fa-f]{200})[0-9A-Fa-f]+", "$1…<elided>")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${q}_$suffix.txt"), plan)
        println(s"PLAN $q -> $outDir/${q}_$suffix.txt (${plan.length} chars)")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $q FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
