package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one session builder of the local `main`s (Bench, Verify, PlanDump,
  * ScaleUp, SonarCli, the match-volume rehearsal and the date-partition
  * probe): `local[cpus]` unless the launcher already set a master
  * (spark-submit), `cpus` shuffle partitions, the UTC session time zone
  * the specs and the oracle compare run under, no UI, WARN logs and
  * [[Tables.configure]]. [[ClusterHarness]] keeps its own two builders,
  * pinned to local[4] and local-cluster for plan-shape parity.
  */
object GraftSession {

  /** Task threads of a local run and shuffle partitions of every run:
    * `SPARK_GRAFT_CPUS`, by default every core — an unset variable must not
    * quietly measure fewer threads than the box has.
    */
  lazy val cpus: Int = ConfValue.int(sys.env.get, "SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors, min = 1)

  def apply(appName: String): SparkSession = {
    val builder = SparkSession.builder().appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the full registry is ~90 plans × several codegen units each; the
      // default 100-entry codegen cache evicts between Bench passes, so every
      // timed pass would re-pay Janino compilation that a long-running
      // cluster pays once
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
    if (!new SparkConf().contains("spark.master")) builder.master(s"local[$cpus]")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.configure(spark)
    spark
  }
}
