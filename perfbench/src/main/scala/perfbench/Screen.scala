package perfbench

import graft.covsonar._
import org.apache.spark.sql.{Row => SRow}

import scala.collection.mutable

/** Writes a generated population through the store's own append path and
  * `optimize`, which range-clusters the tables and builds the token index.
  */
object PopulationStore {

  /** Genome count of the screen and nightly populations. */
  val Genomes = 25000

  def write(ctx: Ctx, pop: Gen.Population, dir: String): SonarStore = {
    val spark = ctx.spark
    val store = new SonarStore(spark, dir)
    val imported = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val genomes = pop.rows.map { g =>
      SRow(g.accession, s"${g.accession} synthetic", g.seqhash, g.lineage, g.zip, g.date,
        g.date, "", "", "SRC", "COLL", g.lab, "ILLUMINA", "", "", "", "", "", g.ct, imported)
    }
    val seen = mutable.HashSet.empty[String]
    val profiles = pop.rows.filter(g => seen.add(g.seqhash)).map { g =>
      SRow(g.seqhash, g.dna.sorted.toSeq, g.aa.sorted.toSeq, Seq.empty[String])
    }
    def df(name: String, rows: Seq[SRow]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, ctx.cores), SonarStore.schemas(name))
    ctx.trace.span("SonarStore.append") {
      store.append("genome", df("genome", genomes))
      store.append("profile", df("profile", profiles))
      store.append("sequence", df("sequence", profiles.map(p => SRow(p.getString(0)))))
    }
    ctx.trace.span("SonarOps.optimize")(SonarOps.optimize(store))
    store
  }

  /** Repeated set-up: generate the population and build its store
    * `SetupReps` times; returns the last build and the median set-up time.
    */
  def setup(ctx: Ctx, res: Result, tag: String): (Gen.Population, SonarStore, Double) = {
    var pop: Gen.Population = null
    var store: SonarStore = null
    val times = (0 until SetupReps).map { _ =>
      val t = System.nanoTime()
      ctx.trace.span("setup") {
        Main.deleteTree(ctx.work.resolve(tag))
        pop = Gen.population(ctx.seed, Genomes)
        store = write(ctx, pop, ctx.dir(s"$tag/store").toString)
      }
      (System.nanoTime() - t) / 1e9
    }
    res.sizes("setup_reps_s") = times
    (pop, store, Stats.median(times))
  }

  val SetupReps = 3

  /** Index size, and index build time per `optimize` of the set-ups. */
  def indexLayers(ctx: Ctx, res: Result, store: SonarStore): Unit = {
    val optimizes = math.max(1, ctx.trace.named("SonarOps.optimize").size)
    res.layer("TokenIndex.build_s", ctx.trace.jobsFrom("TokenIndex.scala", "SonarOps.optimize")._2 / optimizes, "s")
    res.layer("TokenIndex.bytes",
      Main.duBytes(java.nio.file.Paths.get(store.dir, TokenIndex.DirName)).toDouble, "B")
  }
}

/** `screen`: a read-only closed loop (one client) runs a fixed, seeded mix of
  * `match` shapes against an optimized population. Selective shapes collect
  * every row; broad ones use count mode. `SonarMatch`, the essence join and
  * the token-index carrier lookup do the work; the aligner is never called.
  */
object Screen {
  val WarmupPasses = 3

  /** One match shape and the rows it must return, computed from the
    * generated rows alone.
    */
  final case class Shape(name: String, point: Boolean, args: MatchArgs, expected: Set[String])

  /** The shapes cover the three plan tiers (IN-pushdown, semi-join, full
    * scan after the hot-token short-circuit), AND/OR groups, exclusion, a
    * lineage wildcard with sublineages and metadata-only filters.
    */
  def shapes(pop: Gen.Population): Seq[Shape] = {
    val rows = pop.rows
    val carriers = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val seen = mutable.HashSet.empty[String]
    rows.foreach(g => if (seen.add(g.seqhash)) g.dna.foreach(t => carriers(t) += 1))
    // a pool token whose genome count is nearest `target`
    def nearest(target: Int) = pop.dnaPool.minBy(t => math.abs(carriers(t) - target))
    val hot = pop.dnaPool.maxBy(carriers)
    val rare = nearest(150)
    val mid = nearest(2000)
    def accs(p: Gen.Row => Boolean) = rows.filter(p).map(_.accession).toSet
    // a `%` wildcard expands over the lineages present in the store, then
    // `--with-sublineage` closes over the bundled lineage map
    val present = rows.map(_.lineage).distinct
    val parent = present.find(l => Reference.lineageSublineages.getOrElse(l, "none") != "none")
      .getOrElse(present.head)
    val prefix = parent.takeWhile(_ != '.')
    val lineageSet = present.filter(_.startsWith(prefix)).toSet.flatMap(closure)
    require(carriers(hot) > SonarStore.CarrierPlanCap, s"hot token $hot is under the index cap")
    Seq(
      Shape("point_dna", point = true, MatchArgs(profiles = Seq(Seq(pop.markers(0)))),
        accs(_.dna.contains(pop.markers(0)))),
      Shape("point_aa", point = true, MatchArgs(profiles = Seq(Seq(pop.aaMarker))),
        accs(_.aa.contains(pop.aaMarker))),
      Shape("point_or", point = true,
        MatchArgs(profiles = Seq(Seq(pop.markers(1)), Seq(pop.markers(2)))),
        accs(g => g.dna.contains(pop.markers(1)) || g.dna.contains(pop.markers(2)))),
      Shape("point_and_hot", point = true, MatchArgs(profiles = Seq(Seq(hot, pop.markers(3)))),
        accs(g => g.dna.contains(hot) && g.dna.contains(pop.markers(3)))),
      Shape("rare_token", point = true, MatchArgs(profiles = Seq(Seq(rare))), accs(_.dna.contains(rare))),
      Shape("semi_join", point = true, MatchArgs(profiles = Seq(Seq(mid))), accs(_.dna.contains(mid))),
      Shape("hot_scan", point = false, MatchArgs(profiles = Seq(Seq(hot))), accs(_.dna.contains(hot))),
      Shape("exclude", point = false,
        MatchArgs(profiles = Seq(Seq(mid)), excludeProfiles = Seq(Seq(hot))),
        accs(g => g.dna.contains(mid) && !g.dna.contains(hot))),
      Shape("lineage_sublineage", point = false,
        MatchArgs(lineages = Seq(prefix + "%"), withSublineage = true),
        accs(g => lineageSet.contains(g.lineage))),
      Shape("metadata", point = false,
        MatchArgs(dates = Seq("2021-03-01:2021-09-30"), zips = Seq("1", "2"),
          minCt = Some(15.0), maxCt = Some(25.0)),
        accs(g => g.date >= "2021-03-01" && g.date <= "2021-09-30" &&
          (g.zip.startsWith("1") || g.zip.startsWith("2")) && g.ct >= 15.0 && g.ct <= 25.0)))
  }

  /** Sublineage closure over the bundled lineage map, computed here rather
    * than through the code under test.
    */
  def closure(lineage: String): Set[String] = {
    val out = mutable.LinkedHashSet(lineage)
    val queue = mutable.Queue(lineage)
    while (queue.nonEmpty)
      Reference.lineageSublineages.getOrElse(queue.dequeue(), "none") match {
        case "none" =>
        case subs => subs.split(",").foreach(s => if (out.add(s)) queue.enqueue(s))
      }
    out.toSet
  }

  /** Runs one shape: plan (`matchGenomes`, which includes the index lookup),
    * then execute (collect for selective shapes, count otherwise). Returns
    * (plan seconds, execute seconds) when the result is right.
    */
  def runShape(ctx: Ctx, res: Result, store: SonarStore, s: Shape, op: Int): Option[(Double, Double)] = {
    val t0 = System.nanoTime()
    val out = res.attempt(s"match ${s.name}") {
      ctx.trace.span("SonarMatch.match", op) {
        val df = ctx.trace.span("SonarMatch.matchGenomes")(SonarMatch.matchGenomes(store, s.args))
        val t1 = System.nanoTime()
        val got = ctx.trace.span("SonarMatch.execute") {
          if (s.point) Left(df.collect().map(_.getAs[String]("accession")).toSeq)
          else Right(df.count())
        }
        (t1, got)
      }
    }
    val t2 = System.nanoTime()
    out.flatMap { case (t1, got) =>
      val ok = got match {
        case Left(accs) => accs.size == s.expected.size && accs.toSet == s.expected
        case Right(n) => n == s.expected.size
      }
      res.check(ok, s"match ${s.name} returned ${got.fold(_.size.toLong, identity)} rows, expected ${s.expected.size}")
      if (ok) Some(((t1 - t0) / 1e9, (t2 - t1) / 1e9)) else None
    }
  }

  /** Plan tier and carrier count of each shape, resolved through the same
    * public index lookup `match` uses (traced runs only).
    */
  def tierLayers(ctx: Ctx, res: Result, store: SonarStore, shapes: Seq[Shape]): Unit = {
    var in, semi, full = 0
    val carriers = mutable.ArrayBuffer.empty[Double]
    shapes.foreach { s =>
      val groups = SonarMatch.fixXNSearch(s.args.profiles).map(SonarMatch.makeExplicit)
      val c = if (groups.isEmpty) None
        else ctx.trace.span("TokenIndex.carrierSuperset")(
          TokenIndex.carrierSuperset(store, groups, SonarStore.CarrierPlanCap))
      c match {
        case Some(cs) if cs.size <= SonarStore.CarrierPushdownCap => in += 1; carriers += cs.size
        case Some(cs) => semi += 1; carriers += cs.size
        case None => full += 1
      }
    }
    res.layer("TokenIndex.carriers_per_query", Stats.median(carriers.toSeq), "count")
    res.layer("TokenIndex.tier.in_pushdown", in, "count")
    res.layer("TokenIndex.tier.semi_join", semi, "count")
    res.layer("TokenIndex.tier.full_scan", full, "count")
  }

  /** Per-query numbers of the screen matches (the nightly probe's excluded). */
  def matchLayers(ctx: Ctx, res: Result, rowsReturned: Long): Unit = {
    val trace = ctx.trace
    def screen(name: String) = trace.named(name).filterNot(trace.under(_, "nightly"))
    val ms = screen("SonarMatch.match")
    val n = math.max(1, ms.size).toDouble
    res.layer("SonarMatch.plan_ms", screen("SonarMatch.matchGenomes").map(_.durNs).sum / 1e6 / n, "ms")
    res.layer("SonarMatch.exec_ms", screen("SonarMatch.execute").map(_.durNs).sum / 1e6 / n, "ms")
    res.layer("SonarMatch.jobs_per_query", ms.map(_.jobs).sum / n, "count")
    res.layer("SonarMatch.input_bytes_per_query", ms.map(_.inputBytes).sum / n, "B")
    res.layer("SonarMatch.rows_read_per_row_returned",
      ms.map(_.inputRecords).sum.toDouble / math.max(1L, rowsReturned), "ratio")
  }

  def run(ctx: Ctx, res: Result, sessionS: Double): Unit = {
    val trace = ctx.trace
    val (pop, store, setupS) = PopulationStore.setup(ctx, res, "screen")
    val all = shapes(pop)
    // untimed passes: page cache, codegen and JIT warm, as in a serving
    // process (latency keeps falling for about the first 30 matches)
    val tw = System.nanoTime()
    trace.span("warmup")(for (_ <- 0 until WarmupPasses; s <- all) runShape(ctx, res, store, s, 0))
    val warmS = (System.nanoTime() - tw) / 1e9
    res.metric("setup_s", sessionS + setupS + warmS, "s")
    res.sizes ++= Seq("session_s" -> sessionS, "warmup_s" -> warmS)

    val r = Gen.rng(ctx.seed, 0x5C2EE)
    val point, scan, every = mutable.ArrayBuffer.empty[Double]
    val byShape = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var rowsReturned = WarmupPasses * all.map(_.expected.size.toLong).sum
    val clock = new ctx.Clock
    var ops = 0
    // wall and JIT compile milliseconds of each measured cycle: the JIT is
    // still busy after the warm-up, and latency still falls a little
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val cycleMs, cycleJitMs = mutable.ArrayBuffer.empty[Double]
    while (clock.running || ops == 0) {
      val (c0, j0) = (System.nanoTime(), jit.getTotalCompilationTime)
      val order = all.indices.map(i => (r.nextInt(), i)).sorted.map(_._2)
      order.foreach { i =>
        val s = all(i)
        runShape(ctx, res, store, s, trace.newOp()).foreach { case (p, e) =>
          val ms = (p + e) * 1e3
          (if (s.point) point else scan) += ms
          every += ms
          byShape.getOrElseUpdate(s.name, mutable.ArrayBuffer.empty[Double]) += ms
          rowsReturned += s.expected.size
        }
        ops += 1
      }
      cycleMs += (System.nanoTime() - c0) / 1e6
      cycleJitMs += (jit.getTotalCompilationTime - j0).toDouble
    }
    val measuredS = clock.elapsed

    // each shape counts once, whatever its latency: the median of the mix
    // would sit where the point and scan latencies meet and jump between them
    val shapeMedians = byShape.values.map(v => Stats.median(v.toSeq)).toSeq
    res.metric("op_latency_ms", Stats.geomean(shapeMedians), "ms")
    res.metric("throughput_per_s", shapeMedians.size / math.max(1e-9, shapeMedians.sum / 1e3), "1/s")
    res.metric("store_bytes_per_genome",
      Main.duBytes(java.nio.file.Paths.get(store.dir)).toDouble / pop.rows.size, "B")
    res.sizes ++= Seq("population_genomes" -> pop.rows.size,
      "population_sequences" -> pop.rows.map(_.seqhash).distinct.size,
      "shapes" -> all.map(s => s.name -> s.expected.size).toMap, "matches" -> ops,
      "store_bytes" -> Main.tableBytes(store.dir), "match_ms" -> byShape.map { case (k, v) => k -> v.toSeq }.toMap,
      "measured_s" -> measuredS, "cycle_ms" -> cycleMs.toSeq, "cycle_jit_ms" -> cycleJitMs.toSeq)

    if (trace.on) {
      tierLayers(ctx, res, store, all)
      val nightly = Nightly.probe(ctx, res, pop, store)
      trace.finish()
      nightly()
      res.layer("match.point_p50_ms", Stats.median(point.toSeq), "ms")
      res.layer("match.scan_p50_ms", Stats.median(scan.toSeq), "ms")
      res.layer("match.p90_ms", if (every.isEmpty) 0.0 else Stats.quantile(every.toSeq, 0.9), "ms")
      matchLayers(ctx, res, rowsReturned)
      PopulationStore.indexLayers(ctx, res, store)
    }
  }
}
