package graft.covsonar

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `match` at population scale — the flagship query
  * (ref: lib/sonardb.py:3133-3486) measured past test-fixture size for the
  * first time: synthesize ~10⁶ genome rows WITH realistic profile shape
  * (Zipf-weighted variant draws from a 20k-variant pool over real
  * reference bases, shared-sequence dedup, categorical metadata pools),
  * write them through the store's real parquet path, then time the golden
  * match shapes (profile AND/OR groups, exclusion, metadata predicates,
  * combined, count mode).
  *
  * Profile synthesis bypasses the ALIGNER on purpose: alignment throughput
  * is measured elsewhere (the `ingest` workload of `perfbench/`); this
  * rehearsal isolates the QUERY side, whose inputs are store tables no
  * matter how they were produced.
  *
  * Run: `sbt "runMain graft.covsonar.MatchVolumeRehearsal [n] [storeDir]"`;
  * prints per-query wall seconds (min of 2), result rows, and rows/s over
  * the genome count, plus a plan audit line for the flagship shape.
  */
object MatchVolumeRehearsal {

  /** Ultra-rare marker variant carried by exactly 5 sequences — the u³
    * Zipf draw gives every pool rank ≥~450 carriers at 10⁶, so the
    * point-lookup shape (a handful of carriers in a population) has to be
    * injected explicitly.
    */
  val Marker = "G99999T"

  /** 20k-SNP pool over real reference bases; token rank r is drawn with
    * Zipf-ish density (common variants shared by most genomes, a long
    * rare tail) — the shape real lineage-defining vs private mutations have.
    */
  lazy val pool: Array[String] = {
    val ref = Reference.sarsCov2.refSeq
    (0 until 20000).map { r =>
      val pos = 1 + ((r.toLong * 2654435761L) % ref.length).toInt // 1-based
      val refBase = ref.charAt(pos - 1)
      val alt = "ACGT".filterNot(_ == refBase).charAt(r % 3)
      s"$refBase$pos$alt"
    }.toArray
  }

  /** Synthesize the population: (genomes, seqs(seqhash, seqid), profiles).
    * Shared by the single-JVM volume rehearsal and the local-cluster twin.
    * A non-zero `offset` yields rows disjoint from the base population
    * (fresh accessions and seqhashes) — the nightly-increment shape for the
    * incremental index-merge phase.
    */
  def synthesize(spark: SparkSession, n: Long, offset: Long = 0L): (DataFrame, DataFrame, DataFrame) = {
    val poolSize = pool.length
    // token lookup as a plain array literal + element_at (1-based) — keeps
    // the synthesis expression fully codegen'd, no udf
    val poolCol = typedlit(pool.toSeq)
    def poolToken(idx: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      element_at(poolCol, idx + lit(1))

    // ~5% of accessions share the previous accession's sequence (the
    // accession-vs-sequence split the data model exists for)
    val base = spark.range(offset, offset + n)
      .withColumn("seqid", when(col("id") % 20 === 19, col("id") - 1).otherwise(col("id")))
      .withColumn("seqhash", md5(concat(lit("seq"), col("seqid"))))
    val genomes = base.select(
      concat(lit("VOL"), col("id")).as("accession"),
      concat(lit("synthetic genome "), col("id")).as("description"),
      col("seqhash"),
      concat(lit("B.1."), pmod(xxhash64(col("id"), lit(1)), lit(400)).cast("string")).as("lineage"),
      format_string("%05d", (pmod(xxhash64(col("id"), lit(2)), lit(90000)) + 10000).cast("int")).as("zip"),
      date_format(date_add(lit("2020-01-01").cast("date"),
        pmod(xxhash64(col("id"), lit(3)), lit(900)).cast("int")), "yyyy-MM-dd").as("date"),
      date_format(date_add(lit("2020-01-05").cast("date"),
        pmod(xxhash64(col("id"), lit(3)), lit(900)).cast("int")), "yyyy-MM-dd").as("submission_date"),
      lit("").as("gisaid"), lit("").as("ena"),
      concat(lit("SRC"), pmod(xxhash64(col("id"), lit(4)), lit(20)).cast("string")).as("source"),
      concat(lit("COLL"), pmod(xxhash64(col("id"), lit(5)), lit(50)).cast("string")).as("collection"),
      concat(lit("LAB"), pmod(xxhash64(col("id"), lit(6)), lit(200)).cast("string")).as("lab"),
      lit("ILLUMINA").as("technology"), lit("").as("platform"), lit("").as("chemistry"),
      lit("").as("software"), lit("").as("software_version"), lit("").as("material"),
      (pmod(xxhash64(col("id"), lit(7)), lit(2000)).cast("double") / 100.0 + 10.0).as("ct"),
      current_timestamp().as("imported"))

    val seqs = base.select(col("seqhash"), col("seqid")).distinct()
    val markerIds = Seq(101L, 200002L, 400003L, 600004L, 800005L).filter(_ < n)
    // ~30 Zipf-ish draws per sequence: u³ density concentrates on low ranks
    val profiles = seqs
      .select(col("seqhash"), col("seqid"),
        transform(sequence(lit(0), lit(29)), j =>
          poolToken(least(
            floor(pow(
              pmod(xxhash64(col("seqid"), j), lit(1L << 52)).cast("double") / lit((1L << 52).toDouble),
              lit(3.0)) * lit(poolSize.toDouble)).cast("int"),
            lit(poolSize - 1)))).as("draws"))
      .select(col("seqhash"),
        array_sort(array_distinct(
          when(col("seqid").isInCollection(markerIds),
            concat(col("draws"), array(lit(Marker)))).otherwise(col("draws"))))
          .as("dna_profile"),
        array().cast("array<string>").as("aa_profile"),
        array().cast("array<string>").as("fs_profile"))
    (genomes, seqs, profiles)
  }

  /** Build a store at `dir` (wiped first) from the synthesized population. */
  def buildStore(spark: SparkSession, dir: String, n: Long): SonarStore = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val store = new SonarStore(spark, dir)
    val (genomes, seqs, profiles) = synthesize(spark, n)
    store.append("genome", genomes)
    store.append("sequence", seqs.select("seqhash"))
    store.append("profile", profiles)
    store
  }

  /** The golden match shapes over the synthesized population. */
  def goldenShapes: Seq[(String, MatchArgs)] = {
    val common = pool(2)      // rank 2: carried by most genomes
    val mid = pool(1000)
    val rare = pool(15000)
    Seq(
      "full_scan_count" -> MatchArgs(),
      "profile_and" -> MatchArgs(profiles = Seq(Seq(common, mid))),
      "profile_or" -> MatchArgs(profiles = Seq(Seq(mid), Seq(rare))),
      "profile_rare" -> MatchArgs(profiles = Seq(Seq(rare))),
      "profile_ultra" -> MatchArgs(profiles = Seq(Seq(Marker))),
      "profile_exclude" -> MatchArgs(profiles = Seq(Seq(mid)),
        excludeProfiles = Seq(Seq(rare))),
      "metadata_only" -> MatchArgs(zips = Seq("1"), dates = Seq("2020-06-01:2021-06-01"),
        labs = Seq("LAB7")),
      "combined" -> MatchArgs(profiles = Seq(Seq(mid)), zips = Seq("1"),
        dates = Seq("2020-06-01:2021-06-01"), minCt = Some(15.0), maxCt = Some(25.0)))
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val dir = args.lift(1).getOrElse("target/match-volume-store")
    // "fast": skip the pre-optimize baseline phase — at the 10⁸ decade the
    // un-clustered full scans are the bulk of the wall and prove nothing
    // new (appended-vs-optimized row agreement is pinned at 10⁵..10⁷); the
    // indexed-vs-full-scan agreement still runs on the optimized store.
    val fast = args.lift(2).contains("fast")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.configure(spark)

    val t0 = System.nanoTime()
    val store = buildStore(spark, dir, n)
    val buildS = (System.nanoTime() - t0) / 1e9
    val nGenomes = store.table("genome").count()
    val nSeqs = store.table("sequence").count()
    println(f"BUILD n=$nGenomes seqs=$nSeqs in $buildS%.1f s")

    val shapes = goldenShapes
    val common = pool(2)

    // scan-volume accounting: task input bytes, settled (listener events are
    // async) by polling the counter to stability between measurements
    val bytesRead = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) bytesRead.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
    })
    def settle(): Long = {
      var prev = -1L; var cur = bytesRead.get
      while (cur != prev) { Thread.sleep(200); prev = cur; cur = bytesRead.get }
      cur
    }

    def runShapes(label: String): Map[String, (Long, Double, Long)] = {
      // untimed warm pass: equalize page-cache / writeback state across
      // phases (the phase right after OPTIMIZE otherwise pays the rewrite's
      // cold cache and its timings under-credit the indexed plans)
      shapes.foreach { case (_, margs) => SonarMatch.matchGenomes(store, margs).count() }
      shapes.map { case (name, margs) =>
        def once(): (Long, Double, Long) = {
          val b0 = settle()
          val t = System.nanoTime()
          val rows = SonarMatch.matchGenomes(store, margs).count()
          val s = (System.nanoTime() - t) / 1e9
          (rows, s, settle() - b0)
        }
        val (rows1, s1, b1) = once()
        val (rows2, s2, b2) = once()
        require(rows1 == rows2)
        val s = math.min(s1, s2)
        val b = math.min(b1, b2)
        println(f"$label $name%-18s $rows1%12d $s%10.2f ${nGenomes / s}%12.0f ${b / 1e6}%10.1f MB")
        name -> ((rows1, s, b))
      }.toMap
    }

    println(f"${"phase+query"}%-28s ${"rows"}%12s ${"sec(min2)"}%10s ${"genomes/s"}%12s ${"read"}%13s")
    val baseline = if (fast) Map.empty[String, (Long, Double, Long)]
      else runShapes("appended ")

    // ---- optimize: clustered rewrite + seqhash blooms + token index ----------
    val tOpt = System.nanoTime()
    SonarOps.optimize(store, maxFilesPerTable = 32, rowGroupBytes = Some(8L << 20))
    println(f"OPTIMIZE (32 files, 8 MB row groups, token index) in ${(System.nanoTime() - tOpt) / 1e9}%.1f s")

    val indexed = runShapes("indexed  ")
    spark.conf.set("spark.graft.match.tokenIndex", "false")
    val optScan = runShapes("opt-noidx")
    spark.conf.unset("spark.graft.match.tokenIndex")

    // rows must agree across all (run) physical plans
    shapes.foreach { case (name, _) =>
      require(baseline.get(name).forall(_._1 == indexed(name)._1) &&
          indexed(name)._1 == optScan(name)._1,
        s"$name diverged across plans: ${baseline.get(name).map(_._1)}/${indexed(name)._1}/${optScan(name)._1}")
    }
    Seq("profile_rare", "profile_ultra", "profile_and").foreach { q =>
      val (_, sIdx, bIdx) = indexed(q)
      val (_, sFull, bFull) = optScan(q)
      println(f"SKIP $q%-14s wall ${sFull / sIdx}%5.1fx  bytes ${bFull.toDouble / math.max(bIdx, 1)}%5.1fx  " +
        f"(${bIdx / 1e6}%.1f MB vs ${bFull / 1e6}%.1f MB)")
    }

    // plan audit: the pruned flagship must push the carrier IN-list into
    // both scans and broadcast the carrier slice
    val prunedPlan = SonarMatch.matchGenomes(store,
        MatchArgs(profiles = Seq(Seq(Marker)))).queryExecution.executedPlan.toString
    println(s"PLAN pruned: inPushdown=${prunedPlan.linesIterator.count(l =>
      l.contains("PushedFilters") && l.contains("In(seqhash"))} " +
      s"broadcast=${prunedPlan.contains("BroadcastHashJoin")}")

    // plan audit for the full-scan flagship: the profile predicate must
    // reach the scan as an array_contains filter, and the essence join must
    // shuffle on seqhash once (or broadcast the filtered side)
    // `common` is carried by ~every genome → over the carrier cap → this
    // audits the unpruned plan even with the index fresh
    val plan = SonarMatch.matchGenomes(store,
        MatchArgs(profiles = Seq(Seq(common)), zips = Seq("1")))
      .queryExecution.executedPlan.toString
    val pushed = plan.linesIterator.filter(l =>
      l.contains("PushedFilters") || l.contains("array_contains")).take(4).toList
    println("PLAN " + pushed.mkString(" | ").take(600))
    val joins = plan.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin") || l.contains("ShuffledHashJoin"))
    println(s"PLAN joins=$joins broadcast=${plan.contains("BroadcastHashJoin")}")

    // ---- incremental maintenance: nightly append, NO optimize ----------------
    // A 1% increment (two of its sequences carrying the ultra-rare marker)
    // is appended and MERGED into the live index. Gate: the index must stay
    // fresh, the pruned plan must FIND the new carriers (profile_ultra rows
    // +2), every shape must agree with the full scan, and the point-lookup
    // latency must stay at indexed levels — all without the full-store
    // optimize rewrite (whose cost is printed above for comparison).
    val nInc = math.max(n / 100, 1000L)
    val preSig = graft.Tables.listingSignature(spark, store.dir + "/profile")
    val (gInc, sInc, pInc0) = synthesize(spark, nInc, offset = n)
    val newCarriers = pInc0.select("seqhash").orderBy("seqhash").limit(2)
      .collect().map(_.getString(0)).toSeq
    val pInc = pInc0.withColumn("dna_profile",
      when(col("seqhash").isin(newCarriers: _*),
        array_sort(array_union(col("dna_profile"), array(lit(Marker)))))
        .otherwise(col("dna_profile")))
    store.append("genome", gInc)
    store.append("sequence", sInc.select("seqhash"))
    store.append("profile", pInc)
    // a carrier SEQUENCE maps to 1..2 accessions (~5% are shared), so the
    // expected match growth is counted over the increment's genome rows
    val newAccessions = gInc.filter(col("seqhash").isin(newCarriers: _*)).count()
    val tM = System.nanoTime()
    val mergedOk = TokenIndex.merge(store, pInc, preSig)
    val mergeS = (System.nanoTime() - tM) / 1e9
    println(f"MERGE increment=$nInc ok=$mergedOk in $mergeS%.1f s (vs full optimize above)")
    require(mergedOk && TokenIndex.isFresh(store), "merge must keep the index fresh")

    val merged = runShapes("merged   ")
    require(merged("profile_ultra")._1 == indexed("profile_ultra")._1 + newAccessions,
      s"merged index must serve the NEW carriers: ${merged("profile_ultra")._1} " +
        s"vs ${indexed("profile_ultra")._1} + $newAccessions")
    spark.conf.set("spark.graft.match.tokenIndex", "false")
    val mergedScan = runShapes("mrg-noidx")
    spark.conf.unset("spark.graft.match.tokenIndex")
    shapes.foreach { case (name, _) =>
      require(merged(name)._1 == mergedScan(name)._1,
        s"$name diverged post-merge: ${merged(name)._1} vs ${mergedScan(name)._1}")
    }
    Seq("profile_rare", "profile_ultra").foreach { q =>
      println(f"POST-MERGE SKIP $q%-14s wall ${mergedScan(q)._2 / merged(q)._2}%5.1fx  " +
        f"bytes ${mergedScan(q)._3.toDouble / math.max(merged(q)._3, 1)}%5.1fx  " +
        f"(${merged(q)._3 / 1e6}%.1f MB vs ${mergedScan(q)._3 / 1e6}%.1f MB)")
    }

    // ---- removal maintenance: delete survives via RESTAMP, no optimize -------
    // Remove every increment marker accession plus ~1000 ordinary increment
    // rows. remove() rewrites four tables (anti-join), then re-stamps the
    // index META driver-side — ZERO Spark jobs for the index itself. Gates:
    // index stays FRESH, the pruned plan drops exactly the removed marker
    // accessions (back to the pre-increment count), and every shape agrees
    // with the full scan. Honest-layout note: remove's rewrite does not
    // re-apply optimize's bloom/row-group options, so post-remove skip
    // ratios measure the DEGRADED layout the next optimize re-tightens.
    val markerAccs = gInc.filter(col("seqhash").isin(newCarriers: _*))
      .select("accession").collect().map(_.getString(0)).toSeq
    val rmAccs = (markerAccs ++ (0L until 1000L).map(i => s"VOL${n + i}")).distinct
    val tRm = System.nanoTime()
    SonarOps.remove(store, rmAccs)
    val rmS = (System.nanoTime() - tRm) / 1e9
    println(f"REMOVE ${rmAccs.size} accessions in $rmS%.1f s " +
      f"(4-table anti-join rewrite; index restamped fresh=${TokenIndex.isFresh(store)})")
    require(TokenIndex.isFresh(store), "remove must restamp the index, not strand it stale")
    val removed = runShapes("removed  ")
    require(removed("profile_ultra")._1 == indexed("profile_ultra")._1,
      s"restamped index must drop the removed carriers: ${removed("profile_ultra")._1} " +
        s"vs pre-increment ${indexed("profile_ultra")._1}")
    spark.conf.set("spark.graft.match.tokenIndex", "false")
    val removedScan = runShapes("rm-noidx ")
    spark.conf.unset("spark.graft.match.tokenIndex")
    shapes.foreach { case (name, _) =>
      require(removed(name)._1 == removedScan(name)._1,
        s"$name diverged post-remove: ${removed(name)._1} vs ${removedScan(name)._1}")
    }
    Seq("profile_rare", "profile_ultra").foreach { q =>
      println(f"POST-REMOVE SKIP $q%-13s wall ${removedScan(q)._2 / removed(q)._2}%5.1fx  " +
        f"bytes ${removedScan(q)._3.toDouble / math.max(removed(q)._3, 1)}%5.1fx  " +
        f"(${removed(q)._3 / 1e6}%.1f MB vs ${removedScan(q)._3 / 1e6}%.1f MB)")
    }
    spark.stop()
  }
}
