package graft.covsonar

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The population-scale `match` rehearsal on REAL executor JVMs — the
  * multi-JVM twin of [[MatchVolumeRehearsal]]: same synthesized population
  * (shared synthesis code), same golden shapes, run on
  * `local-cluster[2,2,mem]` and digest-compared against a `local[4]`
  * baseline. Exercises what single-JVM local mode structurally cannot:
  * the match plan's broadcasts and carrier IN-lists crossing a real
  * serialization boundary, the token-index carrier collect from executor
  * JVMs, and parquet bloom/min-max skipping through executor-side readers.
  *
  * Digesting is DISTRIBUTED: per-row md5 reduced with a commutative
  * decimal sum, so no result set is ever collected to the driver and the
  * 10⁷-genome variant is runnable (the result of the full-scan shape at
  * 10⁷ is the whole genome table).
  *
  * Also proves the BUCKETED essence-join layout at this scale across real
  * executors: genome and profile written `bucketBy(8, seqhash)` join with
  * ZERO Exchange in the plan (StoreBucketingSpec pins this single-JVM at
  * 2k rows; here it holds at volume on a real cluster, and the bucketed
  * join row counts agree with the store plan's).
  *
  * Finally MEASURES the mid-band carrier plan (512 < carriers ≤ 10⁴ → the
  * broadcast-semi-join slice, not the IN pushdown) against the full
  * essence join across real executors: wall, input bytes, and shuffle
  * bytes — the cluster-scale claim SCALING.md's covsonar section records.
  *
  * Run: `sbt "runMain graft.covsonar.MatchClusterRehearsal [n] [memMb]"`.
  * Exits 1 on any divergence.
  */
object MatchClusterRehearsal {

  /** Order-insensitive distributed digest of a match result: md5 per row
    * over the null-tagged string form of every column, the digest's two
    * 60-bit halves summed as DECIMAL(38,0) alongside the row count. The
    * combine is commutative and associative, so partition boundaries and
    * executor scheduling cannot move it — and nothing but the 3-field
    * aggregate ever reaches the driver.
    */
  private def digests(store: SonarStore, shapes: Seq[(String, MatchArgs)],
      carrierCap: Int = SonarStore.CarrierPlanCap): Map[String, (Long, String)] =
    shapes.map { case (name, margs) =>
      // floor 0: the index is priced whatever the store's size
      val df = SonarMatch.matchWithPlan(store, margs, carrierCap, 0L)._1
      val line = concat_ws("\u0001",
        df.columns.toIndexedSeq.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
      val agg = df.select(md5(line).as("h"))
        .agg(count(lit(1)).as("n"),
          sum(conv(substring(col("h"), 1, 15), 16, 10).cast("decimal(38,0)")).as("h1"),
          sum(conv(substring(col("h"), 17, 15), 16, 10).cast("decimal(38,0)")).as("h2"))
        .head()
      val n = agg.getLong(0)
      name -> ((n, if (n == 0) "empty" else s"${agg.getDecimal(1)}:${agg.getDecimal(2)}"))
    }.toMap

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val memMb = args.lift(1).map(_.toInt).getOrElse(2048)
    val dir = new java.io.File("target/match-cluster-store").getAbsolutePath
    val shapes = MatchVolumeRehearsal.goldenShapes

    // baseline session builds the store ONCE (both sessions read the same
    // on-disk store — what differs is the engine topology, exactly the
    // variable under test) and runs the shapes single-JVM, indexed
    val local = graft.ClusterHarness.localSession("graft-match-cluster-baseline")
    val (expectedIndexed, expectedPlain) = try {
      val store = MatchVolumeRehearsal.buildStore(local, dir, n)
      SonarOps.optimize(store, maxFilesPerTable = 16, rowGroupBytes = Some(8L << 20))
      val idx = digests(store, shapes)
      val plain = digests(store, shapes, carrierCap = 0) // 0: no index lookup
      require(idx == plain, s"indexed vs full-scan diverged single-JVM: " +
        s"${idx.toSeq.diff(plain.toSeq)}")
      (idx, plain)
    } finally local.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()

    val cluster = graft.ClusterHarness.clusterSession("graft-match-cluster",
      executors = 2, coresPerExec = 2, memMb = memMb)
    var bad = 0
    try {
      val jvms = graft.ClusterHarness.requireMultiJvm(cluster)
      println(s"CLUSTER executors: ${jvms.mkString(", ")}")
      val store = new SonarStore(cluster, dir)
      require(TokenIndex.isFresh(store), "index must be fresh for the cluster run")

      val t0 = System.nanoTime()
      val got = digests(store, shapes)
      println(f"CLUSTER indexed shapes in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      shapes.foreach { case (name, _) =>
        if (got(name) == expectedIndexed(name))
          println(s"ok   $name rows=${got(name)._1}")
        else { bad += 1; println(s"DIVERGED $name: ${got(name)} vs ${expectedIndexed(name)}") }
      }

      // bucketed essence-join proof at volume on real executors
      cluster.sql("DROP TABLE IF EXISTS genome_bkt")
      cluster.sql("DROP TABLE IF EXISTS profile_bkt")
      store.table("genome").write.bucketBy(8, "seqhash").sortBy("seqhash")
        .saveAsTable("genome_bkt")
      store.table("profile").write.bucketBy(8, "seqhash").sortBy("seqhash")
        .saveAsTable("profile_bkt")
      val prev = cluster.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        cluster.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val joined = cluster.table("genome_bkt")
          .join(cluster.table("profile_bkt"), Seq("seqhash"), "left")
        val plan = joined.queryExecution.executedPlan.toString
        val noExchange = !plan.contains("Exchange")
        val cnt = joined.count()
        val expectCnt = store.table("genome").count()
        println(s"BUCKETED join exchangeFree=$noExchange rows=$cnt (genomes=$expectCnt)")
        if (!noExchange || cnt != expectCnt) { bad += 1; println("BUCKETED-JOIN FAILED") }
      } finally {
        cluster.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        cluster.sql("DROP TABLE IF EXISTS genome_bkt")
        cluster.sql("DROP TABLE IF EXISTS profile_bkt")
      }

      // ---- mid-band carrier plan, measured across real executors ------------
      // The (CarrierPushdownCap, CarrierPlanCap] band is where the pruned
      // plan is a broadcast semi-join of the carrier slice — the one plan
      // tier whose win was argued (byte-neutral single-box) but never
      // measured multi-JVM. Which pool rank lands in that band depends on
      // the population size (rank 1000 is ~3.7k carriers at 10⁶ but ~37k at
      // 10⁷), so pick the probe token FROM THE INDEX: the heaviest token
      // still inside the band — the worst case for the pruned plan.
      // min-of-2 after an untimed warm pass, both plans.
      val midToken = cluster.read
        .parquet(dir + "/" + TokenIndex.DirName + "/tokens")
        .filter(col("n") > SonarStore.CarrierPushdownCap &&
          col("n") <= SonarStore.CarrierPlanCap &&
          col("token").startsWith("d:"))
        .orderBy(desc("n")).select("token")
        .head().getString(0).stripPrefix("d:")
      val midArgs = MatchArgs(profiles = Seq(Seq(midToken)))
      val groups = SonarMatch.fixXNSearch(midArgs.profiles).map(SonarMatch.makeExplicit)
      val carriers = TokenIndex.carrierSuperset(store, groups, SonarStore.CarrierPlanCap, 0L)
        .map(_.size).getOrElse(-1)
      require(carriers > SonarStore.CarrierPushdownCap,
        s"mid-band probe $midToken resolved $carriers carriers — not in the " +
          s"semi-join band; the measurement would be vacuous")
      val meter = graft.TaskTotals.attach(cluster.sparkContext)
      def timed(label: String, carrierCap: Int): (Double, Long, Long) = {
        SonarMatch.matchWithPlan(store, midArgs, carrierCap, 0L)._1.count() // warm
        def once(run: Int): Double = {
          val t = System.nanoTime()
          meter.within(s"$label#$run")(SonarMatch.matchWithPlan(store, midArgs, carrierCap, 0L)._1.count())
          (System.nanoTime() - t) / 1e9
        }
        val w = math.min(once(1), once(2))
        meter.settle()
        val runs = Seq(meter(s"$label#1"), meter(s"$label#2"))
        val r = (w, runs.map(_.inputBytes).min,
          runs.map(m => m.shuffleReadBytes + m.shuffleWriteBytes).min)
        println(f"MIDBAND $label%-9s carriers=$carriers wall ${r._1}%6.2f s  " +
          f"input ${r._2 / 1e6}%8.1f MB  shuffle ${r._3 / 1e6}%8.1f MB")
        r
      }
      val midIdx = timed("pruned", SonarStore.CarrierPlanCap)
      val midFull = timed("full-join", carrierCap = 0)
      println(f"MIDBAND WIN wall ${midFull._1 / midIdx._1}%4.2fx  " +
        f"input ${midFull._2.toDouble / math.max(midIdx._2, 1)}%4.2fx  " +
        f"shuffle ${midFull._3.toDouble / math.max(midIdx._3, 1)}%4.2fx")
    } finally cluster.stop()
    println(if (bad == 0) s"MATCH-CLUSTER OK: ${shapes.size} shapes reproduced + bucketed join exchange-free"
            else s"MATCH-CLUSTER FAILED: $bad")
    if (bad > 0) sys.exit(1)
  }
}
