package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.Ckpt._

/** Single-JVM semantics of the [[Ckpt]] fault-domain dials: identical
  * results under every dial, durable snapshots actually written in
  * reliable mode, and the every-N cadence keeping intermediate rounds
  * recomputable. (The loss claims themselves are rehearsed with real
  * executor kills in `graft.ClusterKillRehearsal` — this spec pins the
  * policy plumbing so a conf-key typo can't silently no-op the dial.)
  */
class CkptSpec extends SparkSpec {

  private def loop(rounds: Int): Long = {
    var df = spark.range(100).toDF("v")
    (1 to rounds).foreach { _ =>
      df = df.withColumn("v", col("v") + 1).lossTolerantCheckpoint()
    }
    df.agg(sum("v")).head().getLong(0)
  }

  // range(100) is 0..99; +1 per round → sum = Σ (i + rounds)
  private def expected(rounds: Int): Long = (0 until 100).map(_ + rounds).sum

  test("default (localCheckpoint) and replicated dial produce identical results") {
    assert(loop(5) == expected(5))
    spark.conf.set("spark.graft.checkpoint.replicated", "true")
    try assert(loop(5) == expected(5))
    finally spark.conf.unset("spark.graft.checkpoint.replicated")
  }

  test("reliable mode: durable snapshots land in the shared dir, results identical") {
    val dir = Files.createTempDirectory("relckpt")
    spark.conf.set("spark.graft.checkpoint.reliable", dir.toString)
    spark.conf.set("spark.graft.checkpoint.reliable.every", "2")
    // pin the shared session's checkpoint dir: another spec (or an earlier
    // reliable test) may already have set it elsewhere in this JVM
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      assert(loop(6) == expected(6))
      // every=2 over 6 calls → ≥2 reliable snapshots regardless of the
      // global counter's phase when this test starts
      val rddDirs = Files.walk(dir).iterator()
      var snapshots = 0
      while (rddDirs.hasNext) {
        val p = rddDirs.next()
        if (p.getFileName.toString.startsWith("rdd-")) snapshots += 1
      }
      assert(snapshots >= 2, s"expected reliable rdd-* snapshot dirs under $dir, found $snapshots")
    } finally {
      spark.conf.unset("spark.graft.checkpoint.reliable")
      spark.conf.unset("spark.graft.checkpoint.reliable.every")
    }
  }

  test("reliable every=1: every call durable, results identical") {
    val dir = Files.createTempDirectory("relckpt1")
    spark.conf.set("spark.graft.checkpoint.reliable", dir.toString)
    try assert(loop(4) == expected(4))
    finally spark.conf.unset("spark.graft.checkpoint.reliable")
  }

  private def countSnapshots(dir: java.nio.file.Path): Int = {
    val it = Files.walk(dir).iterator()
    var n = 0
    while (it.hasNext) if (it.next().getFileName.toString.startsWith("rdd-")) n += 1
    n
  }

  test("reliable cadence is per call site: interleaved loops don't starve each other") {
    // Two loops interleaved call-for-call under every=3. A single global
    // counter would hand out durable slots by global phase (3 of 8 calls,
    // split arbitrarily between the loops — one loop can get none after its
    // first); per-site counting guarantees each loop its own rhythm: first
    // call durable + every 3rd after → calls 1 and 4 of each loop → exactly
    // 4 durable snapshots, 2 per loop.
    val dir = Files.createTempDirectory("relckpt-sites")
    spark.conf.set("spark.graft.checkpoint.reliable", dir.toString)
    spark.conf.set("spark.graft.checkpoint.reliable.every", "3")
    // the shared session's checkpoint dir was pinned by the first reliable
    // test in this JVM; repoint it so this test counts its own snapshots
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      var a = spark.range(100).toDF("v")
      var b = spark.range(100).toDF("w")
      (1 to 4).foreach { _ =>
        a = a.withColumn("v", col("v") + 1).lossTolerantCheckpoint()
        b = b.withColumn("w", col("w") + 2).lossTolerantCheckpoint()
      }
      assert(a.agg(sum("v")).head().getLong(0) == expected(4))
      assert(b.agg(sum("w")).head().getLong(0) == (0 until 100).map(_ + 8).sum)
      assert(countSnapshots(dir) == 4,
        s"expected 2 durable snapshots per loop (first + every 3rd), got ${countSnapshots(dir)}")
    } finally {
      spark.conf.unset("spark.graft.checkpoint.reliable")
      spark.conf.unset("spark.graft.checkpoint.reliable.every")
    }
  }

  test("a site's first call is always durable, even at a huge cadence") {
    // single-shot checkpoints (a pinned edge list, a base snapshot) must
    // not depend on a global counter's phase to be protected
    val dir = Files.createTempDirectory("relckpt-first")
    spark.conf.set("spark.graft.checkpoint.reliable", dir.toString)
    spark.conf.set("spark.graft.checkpoint.reliable.every", "1000")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      val one = spark.range(50).toDF("v").lossTolerantCheckpoint()
      assert(one.count() == 50)
      assert(countSnapshots(dir) == 1, s"lone call at a fresh site must be durable")
    } finally {
      spark.conf.unset("spark.graft.checkpoint.reliable")
      spark.conf.unset("spark.graft.checkpoint.reliable.every")
    }
  }

  test("a bad dial value fails naming its key") {
    val dir = Files.createTempDirectory("relckpt-bad")
    for ((key, value, extra) <- Seq(
        ("spark.graft.checkpoint.replicated", "yes", None),
        ("spark.graft.checkpoint.reliable.every", "abc", Some(dir.toString)))) {
      extra.foreach(spark.conf.set("spark.graft.checkpoint.reliable", _))
      spark.conf.set(key, value)
      try {
        val e = intercept[IllegalArgumentException](spark.range(10).toDF("v").lossTolerantCheckpoint())
        assert(e.getMessage.contains(key) && e.getMessage.contains(value), e.getMessage)
      } finally {
        spark.conf.unset(key)
        spark.conf.unset("spark.graft.checkpoint.reliable")
      }
    }
  }
}
