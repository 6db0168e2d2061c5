package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Executor-LOSS rehearsal: run the iterative / checkpoint-heavy queries
  * on `local-cluster`, `kill -9` real executor JVMs mid-query, and require
  * the job to finish with results identical to an untouched single-JVM
  * baseline. This is the failure mode `local[*]` can never exercise:
  * shuffle files vanish (FetchFailed → stage retry), cached and
  * localCheckpoint blocks are stranded (block-fetch failure), broadcast
  * pieces re-fetch, and the standalone worker relaunches a fresh executor
  * that must re-register mid-job.
  *
  * Three phases, one per [[Ckpt]] fault-domain claim:
  *
  *  A. `replicated` dial ON, 3 executors, ONE kill per run — swept across
  *     three kill points (¼, ½, ¾ of the measured warm wall), so the loss
  *     lands before, during, and after the bulk of the checkpoint traffic.
  *  B. NEGATIVE CONTROL: all dials OFF, 2 executors, one kill — the
  *     executor holding a block of d6b's checkpointed edge list is killed
  *     at the next job start (a scheduler event, not a wall-clock
  *     fraction); the un-replicated block is
  *     unrecoverable by construction, so the run MUST fail (that failure
  *     is the proof the replicated dial is load-bearing, not decorative).
  *  C. `reliable` dial (shared-storage checkpoint every 2 rounds), 3
  *     executors, TWO simultaneous kills — beyond what replication can
  *     survive; recovery must come from the durable snapshot + retained
  *     lineage of the in-between rounds.
  *
  * Run: `sbt "runMain graft.ClusterKillRehearsal [sfDir] [execMemMb]"`.
  * Exits 1 on any divergence, any failed query in phases A/C, or a phase-B
  * control that survives every attempt.
  */
object ClusterKillRehearsal {

  /** The queries whose loops re-read checkpointed state — the verdicts'
    * named risk set — plus a shuffle-heavy non-iterative control.
    */
  val RehearsalQueries: Seq[String] = Seq(
    "d6b_dup_clusters_dist", // pointer-jumped label propagation (ckpt per round)
    "g1_pagerank",           // unrolled rounds over a pinned edge list
    "pipe3_export",          // multi-stage pipeline with interior materialization
    "d2_minhash_lsh")        // pure shuffle control (no checkpoint): FetchFailed path

  /** Phase C runs only the Ckpt-dependent loops (the dial under test). */
  val ReliableQueries: Seq[String] = Seq("d6b_dup_clusters_dist", "g1_pagerank")

  private def digestOf(df: org.apache.spark.sql.DataFrame): (Long, String) = {
    val rows = df.collect()
    val schema = df.columns.mkString("<", "|", ">")
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(r => schema + ClusterHarness.canonValue(r)).sorted
      .foreach(l => md.update(l.getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }

  /** Kill `count` executor JVMs (never the driver) after `delayMs`.
    * `killedAtNs` records when the LAST kill signal went out — 0 until
    * then — so the caller can reject an attempt whose kill landed after
    * the query already finished (warm runs pay codegen the killed run
    * doesn't, so warm-wall fractions can overshoot a faster re-run; an
    * overshot kill proves nothing and must not count).
    */
  private final class Killer(s: SparkSession, delayMs: Long, count: Int) {
    val killedAtNs = new java.util.concurrent.atomic.AtomicLong(0)
    // pids resolved BEFORE the timed window: probing executorJvms mid-query
    // would queue probe tasks behind the query's and delay the kill
    private val driverPid = java.lang.management.ManagementFactory.getRuntimeMXBean.getName
      .split("@")(0)
    private val pids = (ClusterHarness.executorJvms(s).map(_.split("@")(0)) - driverPid)
      .take(count)
    private val t = new Thread(() => {
      Thread.sleep(delayMs)
      pids.foreach { pid =>
        println(s"KILL executor pid $pid")
        new ProcessBuilder("kill", "-9", pid).inheritIO().start().waitFor()
      }
      killedAtNs.set(System.nanoTime())
    }, "executor-killer")
    t.setDaemon(true)
    t.start()
    def join(ms: Long): Unit = t.join(ms)
  }

  /** Phase B's trigger, taken from the scheduler instead of the wall clock:
    * once a second RDD has been checkpointed, the executor holding a block
    * of the latest one is killed at the next job start. In d6b that RDD is
    * the edge list, which every later round reads, and the block is the
    * only copy of its partition.
    */
  private final class CheckpointHolderKiller(s: SparkSession) extends SparkListener {
    val killedAtNs = new java.util.concurrent.atomic.AtomicLong(0)
    private val sc = s.sparkContext
    // executor id → pid, probed before the run: a probe mid-query would
    // queue behind the query's tasks
    private val pids = sc.range(0, 8, 1, 8).map(_ => org.apache.spark.SparkEnv.get.executorId ->
      java.lang.management.ManagementFactory.getRuntimeMXBean.getName.split("@")(0)).collect().toMap
    @volatile private var holders = Vector.empty[(Int, String)] // (rdd id, executor id)

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val i = e.blockUpdatedInfo
      if (i.storageLevel.isValid)
        i.blockId.asRDDId.foreach(b => holders :+= (b.rddId -> i.blockManagerId.executorId))
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = if (killedAtNs.get == 0) {
      val checkpointed = sc.getPersistentRDDs.filter(_._2.isCheckpointed).keySet
      val held = holders.filter { case (rdd, exec) => checkpointed(rdd) && pids.contains(exec) }
      if (held.map(_._1).distinct.size >= 2) held.lastOption
        .foreach { case (rdd, exec) =>
          println(s"KILL executor $exec (pid ${pids(exec)}) holding checkpointed rdd $rdd at job ${e.jobId}")
          new ProcessBuilder("kill", "-9", pids(exec)).inheritIO().start().waitFor()
          killedAtNs.set(System.nanoTime())
        }
    }
  }

  private def awaitExecutors(s: SparkSession, n: Int): Unit = {
    var tries = 0
    while (ClusterHarness.executorJvms(s).size < n && tries < 60) {
      Thread.sleep(1000); tries += 1
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val memMb = args.lift(1).map(_.toInt).getOrElse(1024)

    val local = ClusterHarness.localSession("graft-kill-baseline")
    val expected = try {
      (RehearsalQueries ++ ReliableQueries).distinct
        .map { n => n -> digestOf(SparkEntry.queries(n)(local, sfDir)) }.toMap
    } finally local.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()

    val retryConf = Map(
      "spark.task.maxFailures" -> "8",
      "spark.stage.maxConsecutiveAttempts" -> "8",
      // a killed executor must not poison the app via blacklisting
      "spark.excludeOnFailure.enabled" -> "false")
    var bad = 0

    // ---- phase A: replicated dial, single kill, swept kill points ---------
    // 3 executors so that after one dies (and before its replacement
    // registers) the replicated checkpoint blocks still have a live home
    val clusterA = ClusterHarness.clusterSession("graft-kill-rehearsal",
      executors = 3, coresPerExec = 2, memMb = memMb,
      extraConf = retryConf + ("spark.graft.checkpoint.replicated" -> "true"))
    try {
      println(s"PHASE A executors: ${ClusterHarness.requireMultiJvm(clusterA).mkString(", ")}")
      RehearsalQueries.foreach { name =>
        val exp = expected(name)
        // warm twice: the first pays codegen/broadcast setup the killed run
        // won't, so kill fractions are placed on the STEADY-STATE wall
        val warm = digestOf(SparkEntry.queries(name)(clusterA, sfDir))
        if (warm != exp) { bad += 1; println(s"DIVERGED $name warm run: $warm vs $exp") }
        val t0 = System.nanoTime()
        digestOf(SparkEntry.queries(name)(clusterA, sfDir))
        val wallMs = (System.nanoTime() - t0) / 1000000
        Seq(0.25, 0.5, 0.75).foreach { frac =>
          var attempts = 0
          var valid = false
          while (!valid && attempts < 3) {
            attempts += 1
            val killer = new Killer(clusterA,
              math.max(100L, (wallMs * frac).toLong), count = 1)
            val got =
              try Right(digestOf(SparkEntry.queries(name)(clusterA, sfDir)))
              catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
            val endNs = System.nanoTime()
            killer.join(30000)
            val landed = killer.killedAtNs.get
            valid = landed > 0 && landed < endNs
            (got, valid) match {
              case (Right(g), true) if g == exp =>
                println(s"ok   A $name kill@${(frac * 100).toInt}% survived (rows=${g._1})")
              case (Right(g), true) =>
                bad += 1; println(s"DIVERGED A $name kill@$frac: $g vs $exp")
              case (Left(err), _) =>
                // a kill that raced past completion can't FAIL a correct
                // engine, so any failure counts regardless of landing time
                valid = true
                bad += 1; println(s"FAILED A $name kill@$frac: $err")
              case (Right(_), false) =>
                println(s"A    $name kill@$frac landed post-completion — retrying")
            }
            awaitExecutors(clusterA, 3)
          }
          if (!valid) {
            bad += 1
            println(s"INVALID A $name kill@$frac never landed mid-flight in 3 attempts")
          }
        }
      }
    } finally clusterA.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()

    // ---- phase B: negative control — dial OFF, the job SHOULD die ---------
    // 2 executors: any checkpoint block on the dead JVM is the only copy.
    // Success here would mean the replicated dial protects against nothing
    // this rehearsal exercises — so a control that survives all attempts
    // fails the gate.
    val controlQuery = "d6b_dup_clusters_dist"
    var controlDied = false
    var attempt = 0
    while (!controlDied && attempt < 5) {
      attempt += 1
      val clusterB = ClusterHarness.clusterSession(s"graft-kill-control-$attempt",
        executors = 2, coresPerExec = 2, memMb = memMb, extraConf = retryConf)
      try {
        awaitExecutors(clusterB, 2) // a loaded box can register the second late
        ClusterHarness.requireMultiJvm(clusterB)
        digestOf(SparkEntry.queries(controlQuery)(clusterB, sfDir)) // codegen warm
        // the lethal window is "after a checkpoint write, before its last
        // read": a wall-clock fraction kept missing it (five misses in a
        // row on unchanged code), so the scheduler's own events place it
        val killer = new CheckpointHolderKiller(clusterB)
        clusterB.sparkContext.addSparkListener(killer)
        val got =
          try Right(digestOf(SparkEntry.queries(controlQuery)(clusterB, sfDir)))
          catch { case e: Throwable => Left(e.getClass.getSimpleName) }
          finally clusterB.sparkContext.removeSparkListener(killer)
        val endNs = System.nanoTime()
        val landedMidFlight = killer.killedAtNs.get > 0 && killer.killedAtNs.get < endNs
        got match {
          // a failure only counts as the control dying FROM THE KILL when
          // the kill verifiably landed inside the run's window — an
          // unrelated transient (OOM, bind error) with the kill landing
          // post-completion must not validate the negative control
          case Left(err) if landedMidFlight =>
            controlDied = true
            println(s"ok   B control died as predicted without the dial ($err)")
          case Left(err) =>
            println(s"B    control attempt $attempt failed but kill landed " +
              s"post-completion ($err) — not evidence; retrying")
          case Right(_) =>
            println(s"B    control attempt $attempt survived " +
              s"(kill ${if (landedMidFlight) "landed mid-flight" else "never fired"}) — retrying")
        }
      } finally clusterB.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }
    if (!controlDied) {
      bad += 1
      println("CONTROL-FAILED B: un-replicated run survived 5 kill attempts — " +
        "the replicated dial is not demonstrably load-bearing")
    }

    // ---- phase C: reliable checkpoint, TWO simultaneous kills -------------
    val reliableDir = new java.io.File("target/reliable-ckpt").getAbsoluteFile
    org.apache.commons.io.FileUtils.deleteQuietly(reliableDir)
    val clusterC = ClusterHarness.clusterSession("graft-kill-reliable",
      executors = 3, coresPerExec = 2, memMb = memMb,
      extraConf = retryConf ++ Map(
        "spark.graft.checkpoint.reliable" -> reliableDir.toString,
        "spark.graft.checkpoint.reliable.every" -> "2"))
    try {
      println(s"PHASE C executors: ${ClusterHarness.requireMultiJvm(clusterC).mkString(", ")}")
      ReliableQueries.foreach { name =>
        val exp = expected(name)
        val warm = digestOf(SparkEntry.queries(name)(clusterC, sfDir))
        if (warm != exp) { bad += 1; println(s"DIVERGED C $name warm run: $warm vs $exp") }
        val t0 = System.nanoTime()
        digestOf(SparkEntry.queries(name)(clusterC, sfDir))
        val wallMs = (System.nanoTime() - t0) / 1000000
        var attempts = 0
        var valid = false
        while (!valid && attempts < 3) {
          attempts += 1
          val killer = new Killer(clusterC, math.max(100L, wallMs / 2), count = 2)
          val got =
            try Right(digestOf(SparkEntry.queries(name)(clusterC, sfDir)))
            catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
          val endNs = System.nanoTime()
          killer.join(30000)
          val landed = killer.killedAtNs.get
          valid = landed > 0 && landed < endNs
          (got, valid) match {
            case (Right(g), true) if g == exp =>
              println(s"ok   C $name survived DOUBLE executor kill via reliable ckpt (rows=${g._1})")
            case (Right(g), true) =>
              bad += 1; println(s"DIVERGED C $name double-kill: $g vs $exp")
            case (Left(err), _) =>
              valid = true
              bad += 1; println(s"FAILED C $name double-kill: $err")
            case (Right(_), false) =>
              println(s"C    $name double-kill landed post-completion — retrying")
          }
          awaitExecutors(clusterC, 3)
        }
        if (!valid) {
          bad += 1
          println(s"INVALID C $name double-kill never landed mid-flight in 3 attempts")
        }
      }
    } finally clusterC.stop()

    println(if (bad == 0) "KILL-REHEARSAL OK: A(sweep) + B(control) + C(double-kill) all held"
            else s"KILL-REHEARSAL FAILED: $bad")
    if (bad > 0) sys.exit(1)
  }
}
