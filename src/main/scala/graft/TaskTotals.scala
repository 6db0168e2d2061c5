package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task metrics summed per Spark job group — the one listener behind
  * Bench's per-query metrics sidecar and the rehearsals' byte counts.
  *
  * A job is assigned to the group set on the thread that submitted it
  * (Spark carries the group into broadcast and subquery threads); every
  * task of the job's stages is summed under that group. Jobs submitted
  * outside any group land under "". Listener events arrive
  * asynchronously, so call [[settle]] before reading totals that must be
  * complete — once, after the measured work, not once per measurement.
  */
final class TaskTotals private (sc: SparkContext) extends SparkListener {
  import TaskTotals.Totals

  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val groups = new ConcurrentHashMap[String, Totals]
  // written only by the listener-bus thread, polled by settle()
  @volatile private var events = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, group))
    groups.merge(group, Totals(jobs = 1), _ + _)
    events += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val task = if (m == null) Totals(tasks = 1) else Totals(
      tasks = 1,
      inputBytes = m.inputMetrics.bytesRead,
      shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      memorySpillBytes = m.memoryBytesSpilled,
      diskSpillBytes = m.diskBytesSpilled,
      gcMs = m.jvmGCTime,
      peakExecutionMemoryBytes = m.peakExecutionMemory)
    groups.merge(stageGroup.getOrDefault(e.stageId, ""), task, _ + _)
    events += 1
  }

  /** Runs `body` with every job it submits counted under `group`. */
  def within[T](group: String)(body: => T): T = {
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
  }

  /** Unregisters the listener from its SparkContext. */
  def detach(): Unit = sc.removeSparkListener(this)

  /** The totals of `group` so far (all zero if it ran no job). */
  def apply(group: String): Totals = groups.getOrDefault(group, Totals())

  /** Waits until no listener event has arrived for 200 ms. */
  def settle(): Unit = {
    var prev = -1L
    while (events != prev) { prev = events; Thread.sleep(200) }
  }
}

object TaskTotals {

  /** Sums over a group's tasks, except `peakExecutionMemoryBytes`: the
    * largest single task's peak, since tasks that ran one after another
    * never held their peaks at once.
    */
  final case class Totals(
      jobs: Long = 0, tasks: Long = 0, inputBytes: Long = 0,
      shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
      memorySpillBytes: Long = 0, diskSpillBytes: Long = 0, gcMs: Long = 0,
      peakExecutionMemoryBytes: Long = 0) {
    def +(o: Totals): Totals = Totals(jobs + o.jobs, tasks + o.tasks,
      inputBytes + o.inputBytes, shuffleReadBytes + o.shuffleReadBytes,
      shuffleWriteBytes + o.shuffleWriteBytes, memorySpillBytes + o.memorySpillBytes,
      diskSpillBytes + o.diskSpillBytes, gcMs + o.gcMs,
      math.max(peakExecutionMemoryBytes, o.peakExecutionMemoryBytes))

    /** The fields as JSON object members, without the braces. */
    def jsonFields: String =
      s""""jobs":$jobs,"tasks":$tasks,"input_bytes":$inputBytes,""" +
      s""""shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,""" +
      s""""memory_spill_bytes":$memorySpillBytes,"disk_spill_bytes":$diskSpillBytes,""" +
      s""""gc_ms":$gcMs,"peak_execution_memory_bytes":$peakExecutionMemoryBytes"""
  }

  /** A new listener registered on `sc`. */
  def attach(sc: SparkContext): TaskTotals = {
    val t = new TaskTotals(sc)
    sc.addSparkListener(t)
    t
  }
}
