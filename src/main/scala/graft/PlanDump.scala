package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev utility (optimization rounds): run named registered queries and dump
  * the final (post-AQE) physical plan of every SQL execution each one
  * starts, in order, to one text file per query, e.g.
  * `SPARK_GRAFT_PLAN_DIR=plans/r12 SPARK_GRAFT_PLAN_SUFFIX=before \
  *    sbt "runMain graft.PlanDump g2b_triangles_keyed q5_region_revenue"`.
  *
  * A query that checkpoints while it is built (d4b/d4c's result, pipe3's
  * encoded table, d6b's rounds) runs each checkpoint as its own execution,
  * so the join structure shows in that execution's plan, and the returned
  * frame's own plan is the last one.
  */
object PlanDump {

  /** Runs `query`, consumes every row of the frame it returns, and gives
    * back the [[QueryExecution]] of every SQL execution started meanwhile,
    * in completion order. The listener is registered only around the call.
    */
  def executions(spark: SparkSession)(query: => DataFrame): Seq[QueryExecution] = {
    val seen = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = seen.add(qe)
    }
    spark.listenerManager.register(listener)
    try {
      query.write.format("noop").mode("overwrite").save()
      // the listener bus delivers in order: once a marker execution run
      // after the query arrives, every execution before it has arrived
      val marker = spark.range(1)
      marker.collect()
      Iterator.continually(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .map { qe => require(qe != null, "PlanDump.executions: listener bus stalled"); qe }
        .takeWhile(_ ne marker.queryExecution).toList
    } finally spark.listenerManager.unregister(listener)
  }

  /** The formatted final plan of one execution. */
  def plan(qe: QueryExecution): String =
    qe.explainString(ExplainMode.fromString("formatted"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r12")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val spark = GraftSession("graft.PlanDump")
    new java.io.File(outDir).mkdirs()
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    for (q <- names) {
      try {
        val qes = executions(spark)(SparkEntry.queries(q)(spark, sfDir))
        val text = qes.zipWithIndex.map { case (qe, i) =>
          s"== execution ${i + 1} of ${qes.size} ==\n" + plan(qe)
        }.mkString("\n")
          // embedded binary literals (bloom sketches, CMS tables) print as
          // full hex — megabytes of noise; elide them for the committed file
          .replaceAll("(0x[0-9A-Fa-f]{200})[0-9A-Fa-f]+", "$1…<elided>")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${q}_$suffix.txt"), text)
        println(s"PLAN $q -> $outDir/${q}_$suffix.txt (${qes.size} executions, ${text.length} chars)")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $q FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
