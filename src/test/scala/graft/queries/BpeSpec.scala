package graft.queries

import graft.SparkSpec
import scala.collection.mutable

/** BPE merge training (x18) and encoding (x19) pinned against an
  * INDEPENDENT reference implementation — plain Scala loops implementing
  * Sennrich et al.'s algorithm directly on symbol vectors, sharing no code
  * or representation with the engine's `(sym)(sym)` replace formulation.
  * The crafted corpus includes the self-overlap case (`aaaa`) where greedy
  * leftmost non-overlapping application is observable.
  */
class BpeSpec extends SparkSpec {

  // ---- independent reference: symbol-vector BPE with explicit loops ----

  /** One reference pass: the learned merges AND the final symbol tables —
    * a single implementation so the train- and encode-pinning tests cannot
    * drift apart on what "the reference" is.
    */
  private def refBpe(wordFreq: Map[String, Long], m: Int)
      : (Seq[(Int, String, String, String, Long)], Map[String, Vector[String]]) = {
    var syms: Map[String, Vector[String]] =
      wordFreq.keys.map(w => w -> w.map(_.toString).toVector).toMap
    val out = mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    for (r <- 1 to m) {
      val pc = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      for ((w, f) <- wordFreq; s = syms(w); i <- 0 until s.length - 1)
        pc((s(i), s(i + 1))) += f
      if (pc.nonEmpty) {
        val ((a, b), n) = pc.toSeq.minBy { case ((x, y), c) => (-c, x, y) }
        out += ((r, a, b, a + b, n))
        syms = syms.map { case (w, s) =>
          val o = Vector.newBuilder[String]
          var i = 0
          while (i < s.length) {
            if (i + 1 < s.length && s(i) == a && s(i + 1) == b) { o += a + b; i += 2 }
            else { o += s(i); i += 1 }
          }
          w -> o.result()
        }
      }
    }
    (out.toSeq, syms)
  }

  private def refTrain(wordFreq: Map[String, Long], m: Int): Seq[(Int, String, String, String, Long)] =
    refBpe(wordFreq, m)._1

  private def refSyms(wordFreq: Map[String, Long], m: Int): Map[String, Vector[String]] =
    refBpe(wordFreq, m)._2

  private val docs = Seq(
    (0L, "aaaa abab aaa cab banana"),
    (1L, "banana bandana cabana cab cab"),
    (2L, "aaaa aaaa banana bandana window window"),
    (3L, "window windows abab aaaa cab"))

  private lazy val craftedDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bpe-crafted").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  private lazy val craftedFreq: Map[String, Long] =
    docs.flatMap(_._2.split(" ")).groupBy(identity)
      .map { case (w, ws) => w -> ws.size.toLong }

  test("bpeTrain matches the independent reference merge-for-merge, counts included") {
    val got = PipelineQueries.bpeTrain(spark, craftedDir, 8)
    val want = refTrain(craftedFreq, 8)
    assert(got == want, s"\nengine: $got\nref:    $want")
  }

  test("the checkpoint cadence moves no merge: ckptEvery 1 and 4 train the same table") {
    spark.conf.set("spark.graft.bpe.ckptEvery", "1")
    val every1 = try PipelineQueries.bpeTrain(spark, craftedDir, 8)
      finally spark.conf.unset("spark.graft.bpe.ckptEvery")
    assert(every1 == PipelineQueries.bpeTrain(spark, craftedDir, 8))
  }

  test("a bad spark.graft.bpe.ckptEvery fails naming the key") {
    spark.conf.set("spark.graft.bpe.ckptEvery", "abc")
    val e = try intercept[IllegalArgumentException](PipelineQueries.bpeTrain(spark, craftedDir, 8))
      finally spark.conf.unset("spark.graft.bpe.ckptEvery")
    assert(e.getMessage.contains("spark.graft.bpe.ckptEvery") && e.getMessage.contains("abc"), e.getMessage)
  }

  test("greedy leftmost non-overlap: merging (a,a) over aaaa yields [aa][aa], over aaa yields [aa][a]") {
    // forces (a,a) to be the first merge; 'aaaa' must contribute 3 to its
    // count but consume as two non-overlapping [aa] tokens afterwards
    val freq = Map("aaaa" -> 5L, "aaa" -> 3L, "bc" -> 1L)
    val ref = refSyms(freq, 1)
    assert(ref("aaaa") == Vector("aa", "aa") && ref("aaa") == Vector("aa", "a"))
    // the engine agrees end-to-end: train 1 merge on a corpus with those words
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bpe-ovl").toString
    Seq((0L, "aaaa aaaa aaaa aaaa aaaa aaa aaa aaa bc"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val m = PipelineQueries.bpeTrain(spark, dir, 2)
    assert(m.head == ((1, "a", "a", "aa", 5 * 3 + 3 * 2)),
      s"first merge should be (a,a) with count 21, got ${m.head}")
    // round 2 sees aaaa as [aa][aa] and aaa as [aa][a]: pair (aa,aa)=5, (aa,a)=3
    assert(m(1) == ((2, "aa", "aa", "aaaa", 5L)), s"got ${m(1)}")
  }

  test("max pair count is non-increasing across rounds (merge argmax bounds successors)") {
    val merges = PipelineQueries.bpeTrain(spark, sf, 10)
    assert(merges.size == 10)
    val counts = merges.map(_._5)
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      s"counts not non-increasing: $counts")
  }

  test("x19 encode equals the reference encoding of every document") {
    val syms = refSyms(craftedFreq, 10)
    val want = docs.map { case (id, text) =>
      (id, text.split(" ").map(w => syms(w).length.toLong).sum)
    }
    val got = PipelineQueries.x19BpeEncode(spark, craftedDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want, s"\nengine: $got\nref:    $want")
  }

  test("randomized corpora: engine equals the reference on 3 seeded random word sets") {
    // the d10 discipline: the crafted corpus can only catch the mistakes we
    // anticipated; seeded random corpora (skewed frequencies, shared
    // prefixes/suffixes, repeated letters) catch the ones we didn't.
    import spark.implicits._
    for (seed <- Seq(11, 42, 97)) {
      val rnd = new scala.util.Random(seed)
      val words = (0 until 40).map { _ =>
        val len = 1 + rnd.nextInt(7)
        (0 until len).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
      }
      val freqs = words.map(w => w -> (1L + rnd.nextInt(9)))
      val text = freqs.flatMap { case (w, f) => Seq.fill(f.toInt)(w) }
      val docs = rnd.shuffle(text).grouped(25).zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      val dir = java.nio.file.Files.createTempDirectory(s"bpe-rnd$seed").toString
      docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      val freq = text.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
      val got = PipelineQueries.bpeTrain(spark, dir, 12)
      val want = refTrain(freq, 12)
      assert(got == want, s"seed=$seed\nengine: $got\nref:    $want")
    }
  }

  test("pair exhaustion: a single-letter corpus trains zero merges and still encodes") {
    // every word is one symbol from round 0, so there are no pairs: the
    // trainer must stop (not loop or throw), and encoding with an empty
    // artifact is the identity tokenization — one token per word. The
    // oracle side guards every round on COUNT(m_i): an exhausted round's
    // scalar subqueries are NULL and an unguarded replace() would NULL
    // every word (caught in review; the Spark side was never affected).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bpe-exh").toString
    Seq((0L, "a b c a"), (1L, "b c")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    assert(PipelineQueries.bpeTrain(spark, dir, 10).isEmpty)
    val enc = PipelineQueries.x19BpeEncode(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(enc == Seq((0L, 4L), (1L, 2L)))
    // partial exhaustion: two merges possible, then every word is one
    // symbol — the trainer emits exactly those two and stops (DuckDB run
    // of the generated oracle on this corpus: same 2 rows, encode = 3)
    val dir2 = java.nio.file.Files.createTempDirectory("bpe-exh2").toString
    Seq((0L, "ab ab cd")).toDF("doc_id", "text")
      .write.parquet(s"$dir2/documents.parquet")
    assert(PipelineQueries.bpeTrain(spark, dir2, 10) ==
      Seq((1, "a", "b", "ab", 2L), (2, "c", "d", "cd", 1L)))
    val enc2 = PipelineQueries.x19BpeEncode(spark, dir2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(enc2 == Seq((0L, 3L)))
  }

  test("x18 output schema and determinism across two runs") {
    val a = PipelineQueries.x18BpeMerges(spark, sf)
    assert(a.columns.toSeq == Seq("mrank", "lhs", "rhs", "merged", "pair_n"))
    val r1 = a.collect().toSeq
    val r2 = PipelineQueries.x18BpeMerges(spark, sf).collect().toSeq
    assert(r1 == r2)
  }
}
