package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Multi-executor rehearsal: the registered-query smoke set on
  * `local-cluster[2,2,1024]` — REAL executor JVMs behind a real
  * serialization boundary, unlike `local[n]` where driver and executors
  * share one heap and one classloader.
  *
  * What only this mode can catch (and `local[32]` structurally cannot):
  *  - TypedImperativeAggregate buffer serialization (graft_bitmap_distinct's
  *    roaring-style buffers cross the wire in partial-merge),
  *  - codegen'd custom expressions compiled INSIDE executor JVMs from
  *    serialized plans (graft_cms_estimate / graft_bloom_agg /
  *    graft_popcnt_and reference driver-built sketch objects as literals),
  *  - broadcast variables actually transported (TorrentBroadcast blocks)
  *    rather than read from the shared heap,
  *  - localCheckpoint blocks living on executor block managers,
  *  - closure cleanliness: a closure accidentally capturing a
  *    non-serializable driver object fails HERE, not in local mode.
  *
  * Method: run the smoke set on a plain `local[4]` session first, capture
  * canonical result multisets, stop it, boot the cluster session in the
  * SAME JVM (one SparkContext at a time), re-run, compare. Both sessions
  * use the same shuffle-partition count so plan shapes match; doubles are
  * rounded to 9 significant decimals because reduction order across real
  * executors legitimately differs at the ulp level.
  *
  * This suite runs in its OWN forked test JVM (build.sbt testGrouping):
  * the suite-shared local[4] session of every other spec cannot coexist
  * with a local-cluster master in one JVM.
  */
class ClusterModeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  /** The judge-designated smoke set: every custom Catalyst expression, the
    * checkpointed iterative loops, the keyed/broadcast join branches, the
    * IVF index probe, and the two-phase prefix-sum export.
    */
  private val smokeSet = Seq(
    "a14_bitmap_distinct",         // TypedImperativeAggregate buffers
    "a10s_cms_freq",               // CMS expression w/ driver-built sketch
    "a8s_approx_distinct",         // HLL partial-merge across executors
    "j8_bloom_semi",               // bloom agg + contains
    "d4_ngram_jaccard",            // broadcast dictionaries + popcnt codegen
    "d4c_jaccard_banded",          // broadcast stop-gram map + banded join
    "g1_pagerank",                 // checkpointed iterative loop
    "g2b_triangles_keyed",         // forced keyed-join cluster branch
    "d6b_dup_clusters_dist",       // distributed label prop + pointer jump
    "sim7b_incremental_ann_scaled",// VectorIndex build + probe
    "k10b_bucketed_merge",         // executor-side partitionBy writes + FS state
    "pipe3_export")                // two-phase prefix sums

  // canonicalization + session bring-up live in graft.ClusterHarness — ONE
  // definition shared with the full sweep (graft.ClusterSweep), so the CI
  // gate and the sweep cannot drift apart in either
  private def runSet(s: SparkSession): Map[String, (Seq[String], Map[String, Int])] =
    smokeSet.map { name =>
      val df = SparkEntry.queries(name)(s, sf)
      val schema = df.columns.toSeq
      val rows = df.collect().toSeq
        .map(r => schema.mkString("<", "|", ">") + ClusterHarness.canonValue(r))
      name -> ((rows.sorted, rows.groupBy(identity).view.mapValues(_.size).toMap))
    }.toMap

  private def localSession(): SparkSession =
    ClusterHarness.localSession("graft-cluster-baseline")

  private def clusterSession(): SparkSession =
    ClusterHarness.clusterSession("graft-cluster-smoke")

  test("the smoke set is executor-JVM-clean: local-cluster[2,2,1024] reproduces local[4] exactly") {
    // 1. baseline on a single-JVM session
    val local = localSession()
    val expected = try runSet(local) finally local.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()

    // 2. the same queries across a real executor boundary
    val cluster = clusterSession()
    try {
      // prove we're really multi-JVM before trusting anything else
      ClusterHarness.requireMultiJvm(cluster)

      val got = runSet(cluster)
      for (name <- smokeSet) {
        val (expRows, expCounts) = expected(name)
        val (gotRows, gotCounts) = got(name)
        assert(gotRows.size == expRows.size,
          s"$name: ${gotRows.size} rows on cluster vs ${expRows.size} local")
        if (gotCounts != expCounts) {
          val onlyCluster = gotRows.diff(expRows).take(3)
          val onlyLocal = expRows.diff(gotRows).take(3)
          fail(s"$name diverged across the executor boundary;" +
            s" cluster-only=$onlyCluster local-only=$onlyLocal")
        }
      }
    } finally {
      cluster.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }
  }

  test("stateful streaming twins run green across real executor JVMs: sessionizer, trending top-k, content dedup") {
    // The stateful twins carry flatMapGroupsWithState state stores and
    // per-batch closures that, before round 10, had only ever executed in
    // a shared-heap local[4] session. On local-cluster the state store
    // providers live in executor JVMs, state rows cross a real
    // serialization boundary on every update, and the MemoryStream's
    // driver-side data must broadcast to executors — none of which
    // local mode exercises.
    val cluster = clusterSession()
    try {
      ClusterHarness.requireMultiJvm(cluster)
      implicit val sq = cluster.sqlContext
      import cluster.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.OutputMode
      import graft.streaming.{Event, Session, StreamDoc, StreamingOps}
      val Base = 86400000L
      def ts(minutes: Long) = new java.sql.Timestamp(Base + minutes * 60000L)
      def us(minutes: Long): Long = (Base + minutes * 60000L) * 1000L

      // 1. stateful sessionizer (EventTimeTimeout state machine)
      val sIn = MemoryStream[Event]
      val sQ = StreamingOps.sessionize(sIn.toDS())
        .writeStream.format("memory").queryName("cluster_sessions")
        .outputMode(OutputMode.Append()).start()
      try {
        sIn.addData(Event(1, ts(0), 1, "CLICK", 1.0), Event(2, ts(10), 1, "CLICK", 2.0))
        sQ.processAllAvailable()
        sIn.addData(Event(3, ts(50), 1, "VIEW", 4.0))
        sQ.processAllAvailable()
        val rows = cluster.table("cluster_sessions").as[Session].collect().toSet
        assert(rows == Set(Session(1, us(0), us(10), 2, 3.0)), s"sessionizer diverged: $rows")
      } finally sQ.stop()

      // 2. trending top-k (windowed heavy-hitter state + timeout emission)
      val tIn = MemoryStream[Event]
      val tQ = StreamingOps.trendingTopK(tIn.toDS())
        .writeStream.format("memory").queryName("cluster_trending")
        .outputMode(OutputMode.Append()).start()
      try {
        tIn.addData(
          Event(1, ts(0), 1, "A", 1.0), Event(2, ts(1), 2, "A", 1.0),
          Event(3, ts(2), 3, "B", 1.0), Event(4, ts(3), 4, "A", 1.0))
        tQ.processAllAvailable()
        // push the watermark past window end + delay, then tick the timeouts
        tIn.addData(Event(5, ts(300), 9, "tick", 0.0)); tQ.processAllAvailable()
        tIn.addData(Event(6, ts(400), 9, "tick", 0.0)); tQ.processAllAvailable()
        val got = cluster.table("cluster_trending")
          .filter(org.apache.spark.sql.functions.col("event_type") =!= "tick")
          .collect().map(r => (r.getAs[Int]("rank"), r.getAs[String]("event_type"),
            r.getAs[Long]("n_events"))).toSet
        assert(got == Set((1, "A", 3L), (2, "B", 1L)), s"trending diverged: $got")
      } finally tQ.stop()

      // 3. streaming content dedup (watermarked keyed state, first-copy-wins)
      val dIn = MemoryStream[StreamDoc]
      val dQ = StreamingOps.dedupByContent(dIn.toDF(), delay = "10 minutes")
        .writeStream.format("memory").queryName("cluster_dedup")
        .outputMode(OutputMode.Append()).start()
      try {
        dIn.addData(
          StreamDoc(1, ts(0), "same text"),
          StreamDoc(2, ts(1), "same text"),
          StreamDoc(3, ts(2), "other text"))
        dQ.processAllAvailable()
        dIn.addData(StreamDoc(4, ts(3), "same text"))
        dQ.processAllAvailable()
        val ids = cluster.table("cluster_dedup").collect()
          .map(_.getAs[Long]("doc_id")).toSet
        assert(ids == Set(1L, 3L), s"dedup diverged: $ids")
      } finally dQ.stop()
    } finally {
      cluster.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }
  }

  test("token-indexed match reproduces the full scan across real executor JVMs") {
    // the round-11 match planner: carrier collect from executor-side index
    // reads, carrier IN-slice pushdown, and the semi-join fallback all
    // cross a real serialization boundary here (MatchClusterRehearsal runs
    // this at 10⁶; this is the CI-fast pin so `sbt test` guards it too)
    import graft.covsonar._
    val cluster = clusterSession()
    try {
      ClusterHarness.requireMultiJvm(cluster)
      val store = MatchVolumeRehearsal.buildStore(
        cluster, java.nio.file.Files.createTempDirectory("cluster-tokidx").toString, 5000L)
      SonarOps.optimize(store, maxFilesPerTable = 4)
      // pool(2) carries ~hundreds at n=5000 — far below the default
      // buildCap (10000), so the default index would take the pruned plan
      // for it and never exercise the hot-token full-scan fallback in CI.
      // Rebuild with a buildCap under its carrier count: pool(2) lands on
      // the META hot list (full-scan branch genuinely covered) while the
      // marker/rare shapes stay well under 100 carriers and stay pruned.
      TokenIndex.build(store, 4, buildCap = 100)
      assert(TokenIndex.isFresh(store))
      assert(TokenIndex.hotTokens(store).contains("d:" + MatchVolumeRehearsal.pool(2)),
        "pool(2) must be hot under buildCap=100 or the fallback branch is untested")
      val shapes = Seq(
        MatchArgs(profiles = Seq(Seq(MatchVolumeRehearsal.Marker))), // point lookup
        MatchArgs(profiles = Seq(Seq(MatchVolumeRehearsal.pool(15000)))), // rare
        MatchArgs(profiles = Seq(Seq(MatchVolumeRehearsal.pool(2))))) // hot → full scan
      shapes.zip(Seq(true, true, false)).foreach { case (args, pruned) =>
        // floor 0: the index is priced on this small store
        val (df, plan) = SonarMatch.matchWithPlan(store, args, SonarStore.CarrierPlanCap, 0L)
        assert((plan.tier != MatchPlan.FullScan) == pruned, s"$plan for $args")
        val indexed = df.collect().map(r => ClusterHarness.canonValue(r)).sorted.toSeq
        val full = SonarMatch.matchWithPlan(store, args, 0, 0L)._1 // cap 0: no index lookup
          .collect().map(r => ClusterHarness.canonValue(r)).sorted.toSeq
        assert(indexed == full, s"indexed≠full on cluster for $args")
      }
    } finally {
      cluster.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }
  }

  test("bucketed changelog MERGE survives a kill-and-restart on real executors") {
    val cluster = clusterSession()
    try {
      implicit val sq = cluster.sqlContext
      import cluster.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val nB = 8
      val initial = cluster.range(10000L)
        .selectExpr("id AS k", "concat('s', id % 3) AS status")
      val st = java.nio.file.Files.createTempDirectory("graft-cluster-cdc").toString
      val cp = java.nio.file.Files.createTempDirectory("graft-cluster-cdc-cp").toString
      graft.streaming.StreamingOps.prepareBucketedChangelogTarget(initial, st, nB)
      val b0 = Seq((7L, "U", "u0"), (9999L, "U", "u1"))
      val b1 = Seq((10001L, "I", "fresh"), (11L, "D", null.asInstanceOf[String]))
      // run A: one batch lands, then the query "dies"
      val in1 = MemoryStream[(Long, String, String)]
      val q1 = graft.streaming.StreamingOps.changelogApplyStreamBucketed(
        in1.toDF().toDF("k", "op", "new_status"), st, nB) { (_, _) => () }
        .option("checkpointLocation", cp).start()
      try { in1.addData(b0: _*); q1.processAllAvailable() } finally q1.stop()
      // restart: fresh driver state, same checkpoint — committed batch 0
      // must replay-skip, batch 1 must apply, all on cluster executors
      val in2 = MemoryStream[(Long, String, String)]
      var applied = Vector.empty[Long]
      Seq(b0, b1).foreach(b => in2.addData(b: _*))
      val q2 = graft.streaming.StreamingOps.changelogApplyStreamBucketed(
        in2.toDF().toDF("k", "op", "new_status"), st, nB) { (_, bid) => applied :+= bid }
        .option("checkpointLocation", cp).start()
      try q2.processAllAvailable() finally q2.stop()
      assert(applied == Vector(1L), s"restart re-fired committed batches: $applied")
      val got = graft.streaming.StreamingOps.loadBucketedSnapshot(cluster, st, nB)
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      assert(got.size == 10000L, s"${got.size}")
      assert(got(7L) == "u0" && got(9999L) == "u1" && got(10001L) == "fresh" &&
        !got.contains(11L))
    } finally {
      cluster.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }
  }
}
