package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** In-memory spans around the calls the benchmark makes into the program,
  * plus a SparkListener whose job, task, byte, spill and CPU counts are
  * attributed afterwards to the innermost span open when each job was
  * submitted. Everything is kept in memory and written out once at the end.
  *
  * With tracing off, `span` only runs its body: no clock reads, no listener.
  */
final class Trace(val on: Boolean) {

  final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
      val startMs: Long) {
    var durNs: Long = 0L
    var endMs: Long = 0L
    var gcMs: Long = 0L
    var jobs = 0
    var tasks = 0L
    var cpuNs = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    var outputBytes = 0L
    var spillBytes = 0L
    var selfNs = 0L
  }

  final case class Job(id: Int, submitMs: Long, callSite: String, stages: Seq[Int]) {
    var endMs: Long = -1L
  }

  final class StageAgg {
    var tasks = 0L; var cpuNs = 0L; var inBytes = 0L; var inRecords = 0L
    var outBytes = 0L; var spill = 0L
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private var nextOp = 0
  private var bookkeepingNs = 0L
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  private val sqlSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  @volatile private var listenerNs = 0L
  private var finished = false

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** A new operation id: spans opened under it share it. */
  def newOp(): Int = { nextOp += 1; nextOp }

  def span[T](name: String, op: Int = 0)(body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      val parent = open.headOption
      val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1),
        if (op != 0) op else parent.map(_.op).getOrElse(0), System.currentTimeMillis())
      val gc0 = gcMs
      spans += s
      open.push(s)
      val t1 = System.nanoTime()
      bookkeepingNs += t1 - t0
      try body
      finally {
        val t2 = System.nanoTime()
        s.durNs = t2 - t1
        s.endMs = System.currentTimeMillis()
        s.gcMs = gcMs - gc0
        open.pop()
        bookkeepingNs += System.nanoTime() - t2
      }
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val t = System.nanoTime()
      // A SQL job's own call site is lost when AQE submits it from a pool
      // thread; its execution's description keeps the one of the action
      // ("parquet at SonarStore.scala:92"). Other jobs: the result stage name.
      val site = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(sqlSites.get(id.toLong)))
        .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
      jobs.put(e.jobId, Job(e.jobId, e.time, site, e.stageIds))
      listenerNs += System.nanoTime() - t
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlSites.put(s.executionId, s.description)
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t = System.nanoTime()
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      listenerNs += System.nanoTime() - t
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val t = System.nanoTime()
      val m = e.taskMetrics
      if (m != null) {
        val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
        a.synchronized {
          a.tasks += 1
          a.cpuNs += m.executorCpuTime
          a.inBytes += m.inputMetrics.bytesRead
          a.inRecords += m.inputMetrics.recordsRead
          a.outBytes += m.outputMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
      listenerNs += System.nanoTime() - t
    }
  }

  def attach(sc: SparkContext): Unit = if (on) sc.addSparkListener(listener)

  /** Listener events arrive asynchronously: wait until every started job has
    * ended and the task counts have stopped moving.
    */
  private def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 20000
    def snapshot = (jobs.values.asScala.count(_.endMs < 0), stages.values.asScala.map(_.tasks).sum)
    var prev = (-1, -1L)
    var cur = snapshot
    while ((cur._1 > 0 || cur != prev) && System.currentTimeMillis() < deadline) {
      Thread.sleep(100); prev = cur; cur = snapshot
    }
  }

  /** The innermost span open at `ms`, or None outside every span. */
  private def spanAt(ms: Long): Option[Span] =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs).sortBy(-depth(_)).headOption

  private def depth(s: Span): Int = if (s.parent < 0) 0 else 1 + depth(spans(s.parent))

  /** Attributes every recorded job to the innermost span open at its
    * submission and to all that span's ancestors, so each span's counts are
    * inclusive; computes self times. Runs once: spans opened afterwards
    * carry no job counts.
    */
  def finish(): Unit = if (on && !finished) {
    finished = true
    settle()
    jobs.values.asScala.foreach { j =>
      var s = spanAt(j.submitMs).orNull
      val aggs = j.stages.flatMap(id => Option(stages.get(id)))
      while (s != null) {
        s.jobs += 1
        aggs.foreach { a =>
          s.tasks += a.tasks; s.cpuNs += a.cpuNs; s.inputBytes += a.inBytes
          s.inputRecords += a.inRecords; s.outputBytes += a.outBytes; s.spillBytes += a.spill
        }
        s = if (s.parent >= 0) spans(s.parent) else null
      }
    }
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.durNs)
    spans.foreach(s => s.selfNs = s.durNs - childNs(s.id))
  }

  /** Whether `s` runs inside a span called `name`. */
  def under(s: Span, name: String): Boolean =
    s.parent >= 0 && (spans(s.parent).name == name || under(spans(s.parent), name))

  /** Spans called `name`. */
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Jobs submitted inside any span called `within` whose call site is in
    * `file` (e.g. "TokenIndex.scala"): how many, and their summed seconds.
    */
  def jobsFrom(file: String, within: String = null): (Int, Double) = {
    val sel = jobs.values.asScala.filter { j =>
      j.callSite.contains(s" at $file:") &&
        (within == null || named(within).exists(s => s.startMs <= j.submitMs && j.submitMs <= s.endMs))
    }
    (sel.size, sel.map(j => math.max(0L, j.endMs - j.submitMs)).sum / 1e3)
  }

  /** Job count per call site, for the artifact. */
  def callSites: Map[String, Int] =
    jobs.values.asScala.groupBy(_.callSite).map { case (k, v) => k -> v.size }

  /** Share of the traced wall time spent on trace bookkeeping, counting
    * both the span hooks on the client thread and the listener callbacks.
    */
  def overheadFrac(wallNs: Long): Double = (bookkeepingNs + listenerNs).toDouble / wallNs

  def toJson: String = Json.arr(spans.map { s =>
    Json.Raw(Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.durNs / 1e9,
      "self_s" -> s.selfNs / 1e9, "gc_s" -> s.gcMs / 1e3, "jobs" -> s.jobs,
      "tasks" -> s.tasks, "cpu_s" -> s.cpuNs / 1e9, "input_bytes" -> s.inputBytes,
      "input_records" -> s.inputRecords, "output_bytes" -> s.outputBytes,
      "spill_bytes" -> s.spillBytes))
  }.toSeq)
}
