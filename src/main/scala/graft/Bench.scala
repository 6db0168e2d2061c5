package graft

object Bench {
  /** Fixed-work contention sentinel: a single-thread 2×10⁸-step xorshift
    * spin whose wall-time depends only on how loaded the box is — the work
    * is identical every round, so comparing this one number across round
    * artifacts separates "the engine regressed" from "the box was busy"
    * (round 4's driver bench showed 4–6× per-query inflation with zero code
    * change; a judge re-run on a quiet box landed at 1×). Min of three runs
    * rides past JIT warm-up and scheduler hiccups; measured before warm-up
    * AND after the timed passes so contention arriving mid-bench is visible
    * too.
    */
  private def calibrate(): Double = {
    def spin(): Double = {
      val t0 = System.nanoTime()
      var s = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 200000000) { s ^= s << 13; s ^= s >>> 7; s ^= s << 17; i += 1 }
      // data dependency on s defeats dead-code elimination of the loop
      if (s == 42L) System.err.print("")
      (System.nanoTime() - t0) / 1e9
    }
    Seq.fill(3)(spin()).min
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession("graft.Bench")
    val master = spark.sparkContext.master
    // A failed query must be LOUD: it records "err" (not a fake
    // time-to-throw duration), lands in the "errors" map with its message,
    // and bumps the failed count in the summary line. Silently swallowed
    // failures masquerade as 65 ms successes and poison the round artifact.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Optional subset dials (comma-separated names) for scale probes past
    // the oracle contract's fixed-dial entries — e.g. the sf10 rehearsal
    // benches the scalable paths while sim7/d9's registered nCells/k
    // (deliberately fixed: they ARE the oracle contract) go quadratic at
    // 100× and are measured separately with √n-scaled dials. Both unset →
    // the driver's full-suite contract is byte-identical to before.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val skip = sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty[String])
    val queries = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.contains(name)) && !skip.contains(name)
    }
    val calibPre = calibrate()
    // localCheckpoint blocks from a finished query are garbage — the
    // DataFrame is discarded after count() — but the ContextCleaner only
    // reclaims them on a later GC of the weak refs, so across 136 queries
    // in one JVM they pile up into real storage-memory pressure that
    // inflates UNRELATED queries (round 7's diffuse 1.1–1.8× drift on
    // untouched plans). Sweep them eagerly after every query: on a real
    // cluster each query runs in its own session, so this reproduces the
    // isolation the bench is supposed to measure.
    // blocking=true: an async unpersist's removal work would land inside
    // the NEXT query's timed window (measured +0.6 s over 12 queries);
    // blocking puts the release in the untimed gap between queries.
    def sweepBlocks(): Unit = {
      // clearCache drops CacheManager ENTRIES too (d4 persists its gram
      // set): without it the plan-match list grows across 142 queries and
      // every later .persist pays a scan over stale InMemoryRelations.
      spark.sqlContext.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      // Broadcast blocks have no unpersist-all hook: the ContextCleaner
      // reclaims them only after a GC collects their weak refs, and at
      // sf10 the backlog across ~270 query executions (stop-gram maps,
      // hot-head dictionaries, …) outgrew a 16 GiB heap faster than
      // ad-hoc GCs drained it — g1's checkpoint unroll then OOMed in
      // pass 1 while the same query runs clean standalone. One explicit
      // GC per untimed gap keeps the cleaner current; on a real cluster
      // each query's session teardown does this implicitly.
      System.gc()
    }
    // Name each query on stderr before running it — the only way to
    // attribute a failure that kills the JVM outright (a task-thread OOM
    // halts local mode via SparkUncaughtExceptionHandler before the
    // per-query catch below can record anything).
    def traced(name: String): Unit = System.err.println(s"[bench] >> $name")
    // Untimed warm-up pass: first execution of each plan pays one-time JVM
    // costs (encoder/codegen Janino compilation, JIT) that a long-running
    // cluster amortizes to zero; the timed pass below measures steady-state
    // engine speed.
    queries.foreach { case (name, fn) =>
      traced(name)
      try { fn(spark, sfDir).count(); sweepBlocks() } catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(1).mkString.take(200)
          System.err.println(s"[bench] $name FAILED: ${errors(name)}")
      }
    }
    // Two timed passes, per-query minimum: a single pass is subject to GC
    // pauses and stats-collection jitter; the min of two is the steady-state
    // number a long-running cluster sees. Each timed run's jobs carry the
    // job group "<query>#<pass>", so the sidecar can report the task
    // metrics of exactly the run whose time is reported.
    val totals = TaskTotals.attach(spark.sparkContext)
    def timedPass(pass: Int): Map[String, Double] = queries.map { case (name, fn) =>
      traced(name)
      if (errors.contains(name)) name -> -1.0
      else {
        val t0 = System.nanoTime()
        val ok = try { totals.within(s"$name#$pass")(fn(spark, sfDir).count()); true } catch {
          case e: Throwable =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
              .linesIterator.take(1).mkString.take(200)
            false
        }
        val dt = (System.nanoTime() - t0) / 1e9
        sweepBlocks() // outside the timed window: block release is cluster work the query never sees
        name -> (if (ok) dt else -1.0)
      }
    }
    val first = timedPass(1)
    val second = timedPass(2)
    val results = first.map { case (k, v) =>
      k -> (if (errors.contains(k)) -1.0 else math.min(v, second(k)))
    }
    // Failed queries record the numeric sentinel -1 (never a string) so the
    // queries map stays uniformly numeric for strict parsers; the human-readable
    // failure detail lives in the errors map and the failed count.
    // 1 ms resolution: full double precision triples the line length for
    // nothing (the per-query noise floor is tens of ms), and an oversized
    // line is exactly what overflowed the driver's tail capture in r10
    val qs = results.map { case (k, v) =>
      Json.str(k) + ":" + (if (v < 0) "-1" else f"$v%.3f")
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => Json.str(k) + ":" + Json.str(v) }
      .mkString("{", ",", "}")
    val ok = results.filter(_._2 >= 0)
    val total = if (ok.nonEmpty) ok.values.sum else 0.0
    val calibPost = calibrate()
    // A subset run must be distinguishable from a full-suite run in the
    // artifact itself: record the active filters and the ran-vs-registered
    // counts so a subset total is never mistaken for a full-suite total.
    val subsetJson =
      s""""n_ran":${queries.size},"n_registered":${SparkEntry.queries.size}""" +
      only.map(o => s""","only":${o.toSeq.sorted.map(Json.str).mkString("[", ",", "]")}""").getOrElse("") +
      (if (skip.nonEmpty) s""","skip":${skip.toSeq.sorted.map(Json.str).mkString("[", ",", "]")}""" else "")
    // cpus + master make the artifact SELF-DESCRIBING: a scaling check
    // compares runs at different core counts, and without these
    // fields the artifact cannot prove which core count actually ran (the
    // r12 `suspect_cpus_ignored` flag fired on exactly that gap).
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""failed":${errors.size},"errors":$errJson,$subsetJson,""" +
      s""""cpus":${GraftSession.cpus},"master":${Json.str(master)},""" +
      s""""calib_pre_sec":$calibPre,"calib_post_sec":$calibPost,"sf":"$sfDir"}"""
    // Also write to a dedicated file so the artifact survives stdout being
    // interleaved with Spark logs / truncated by the harness.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write $out: $e") }
    // Per-query task metrics go to a sidecar next to it, one entry per
    // query for the timed pass whose time the line reports, so the
    // one-line artifact keeps its keys. The listener is settled once here,
    // never between timed queries.
    totals.settle()
    val metricsOut = out.stripSuffix(".json") + "_metrics.json"
    val perQuery = results.map { case (k, v) =>
      val pass = if (v >= 0 && second(k) < first(k)) 2 else 1
      s"""${Json.str(k)}:{"sec":${if (v < 0) "-1" else f"$v%.3f"},"pass":$pass,""" +
        totals(s"$k#$pass").jsonFields + "}"
    }.mkString("{\n", ",\n", "\n}")
    val metrics =
      s"""{"master":${Json.str(master)},"sf":${Json.str(sfDir)},""" +
      s""""queries":$perQuery}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(metricsOut), metrics + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write $metricsOut: $e") }
    if (errors.nonEmpty)
      System.err.println(s"[bench] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    // The JSON line goes out LAST, after spark.stop(): anything printed
    // after it (shutdown chatter) pushes the line's START out of the
    // driver's bounded tail capture — r10's BENCH artifact parsed null for
    // exactly this reason. stdout-only, one line, nothing after it.
    spark.stop()
    println(line)
    System.out.flush()
  }
}
