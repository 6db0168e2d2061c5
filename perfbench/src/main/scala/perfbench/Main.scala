package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Everything a workload needs: the session, the tracer, its seed and
  * budget, and a scratch directory it owns.
  */
final class Ctx(val spark: SparkSession, val trace: Trace, val seed: Long,
    val seconds: Double, val work: Path, val cores: Int) {

  /** Ends the measured phase once `seconds` have passed since it began. */
  final class Clock {
    private val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    def running: Boolean = elapsed < seconds
  }

  def dir(name: String): Path = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p
  }
}

/** What one run measured and checked. Every operation and every output check
  * counts as attempted; a failed one is counted, kept with its message and
  * makes the run incorrect.
  */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val sizes = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit = layers(name) = (value, unit)

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) fail(what)
  }

  def fail(what: String): Unit = {
    failed += 1
    failures += what
    System.err.println(s"perfbench: FAILED: $what")
  }

  /** Runs one operation; an exception counts it failed and is reported. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }
}

object Stats {
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
}

object Main {

  /** The spark.sql settings the benchmark itself sets (recorded in the artifact). */
  def sqlSettings(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traceOn = args("trace") == "1"
    val work = Paths.get(args("work"))
    val out = Paths.get(args("out"))
    val graftKeys = args.get("graft-keys").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val cores = Runtime.getRuntime.availableProcessors
    // A screen match is a small query that mostly waits on the driver thread.
    // With a task thread per core, the JIT, the collector and the host's other
    // work preempt its tasks: two busy cores slowed a match by 54% at local[4]
    // and by 7% at local[2]. So screen runs half as many task threads as
    // cores; its tables keep one partition per core. Ingest's alignment uses
    // every core.
    val threads = if (workload == "screen") math.max(1, cores / 2) else cores
    val master = s"local[$threads]"

    val wall0 = System.nanoTime()
    val t0 = System.nanoTime()
    val builder = SparkSession.builder().master(master).appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
    sqlSettings(cores).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val trace = new Trace(traceOn)
    trace.attach(spark.sparkContext)
    val ctx = new Ctx(spark, trace, seed, seconds, work, cores)
    val res = new Result
    try {
      workload match {
        case "ingest" => Ingest.run(ctx, res, sessionS)
        case "screen" => Screen.run(ctx, res, sessionS)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case e: Exception =>
        e.printStackTrace()
        res.fail(s"workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val wallNs = System.nanoTime() - wall0
    val mem = memory
    res.metric("memory_mb", mem.values.sum / 1048576.0, "MB")
    res.sizes("memory_bytes") = mem
    if (traceOn) {
      trace.finish()
      // checkpoint materializations per traced `add` (ingest batches, nightly
      // adds), not per run: a faster add must not raise the count
      res.layer("Ckpt.jobs", trace.jobsFrom("Ckpt.scala", "SonarIngest.add")._1.toDouble /
        math.max(1, trace.named("SonarIngest.add").size), "count")
      res.sizes("job_call_sites") = trace.callSites
      res.layer("failed_frac", res.failed.toDouble / math.max(1L, res.attempted), "frac")
      res.layer("trace.overhead_frac", trace.overheadFrac(wallNs), "frac")
      Files.writeString(work.getParent.resolve(s"spans-$workload-s$seed.json"), trace.toJson)
    }

    val conf = spark.conf
    val artifact = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traceOn,
      "cores" -> cores, "master" -> master,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "sizes" -> res.sizes.toMap,
      "spark_graft" -> graftKeys.map(k => k -> conf.getOption(k).getOrElse("(unset: program default)")).toMap,
      "spark_sql_set" -> sqlSettings(cores).toMap,
      "wall_s" -> wallNs / 1e9,
      "failures" -> res.failures.toSeq)
    spark.stop()

    def metricsJson(m: mutable.LinkedHashMap[String, (Double, String)]) =
      Json.Raw(Json.obj(m.toSeq.map { case (k, (v, u)) => k -> Json.Raw(Json.obj("value" -> v, "unit" -> u)) }: _*))
    Files.writeString(out, Json.obj(
      "correct" -> (res.failed == 0 && res.attempted > 0),
      "attempted" -> math.max(1L, res.attempted),
      "failed" -> res.failed,
      "metrics" -> metricsJson(res.metrics),
      "layers" -> metricsJson(res.layers),
      "artifact" -> Json.Raw(artifact)))
  }

  /** Memory the program holds, by part: the heap still live after a full
    * collection at the end of the run, and the peak resident memory outside
    * the heap (peak resident set minus the committed heap, which the fixed,
    * pre-touched heap keeps resident and constant). The heap's own peak is
    * left out: it is set by when the collector runs, not by what the program
    * keeps.
    */
  private def memory: Map[String, Long] = {
    // the first collection lets Spark's cleaner drop the broadcast and
    // shuffle blocks of finished queries; the second frees them
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val bean = ManagementFactory.getMemoryMXBean
    val hwmKb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    Map("live heap" -> bean.getHeapMemoryUsage.getUsed,
      "outside heap" -> math.max(0L, hwmKb * 1024 - bean.getHeapMemoryUsage.getCommitted))
  }

  /** Bytes of each table (and the token index) of the store at `dir`. */
  def tableBytes(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    val s = Files.list(root)
    try s.iterator.asScala.filter(Files.isDirectory(_)).map(p => p.getFileName.toString -> duBytes(p)).toMap
    finally s.close()
  }

  /** Bytes under `p` (files only). */
  def duBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def countFiles(p: Path, suffix: String): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.count(f => Files.isRegularFile(f) && f.toString.endsWith(suffix)).toLong
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}
