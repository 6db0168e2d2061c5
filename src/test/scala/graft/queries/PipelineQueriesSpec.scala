package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, expr}

class PipelineQueriesSpec extends SparkSpec {

  /** Candidate-pair detectors may legitimately find nothing at the smallest
    * scale factor; everything else must match rows.
    */
  private val mayBeEmpty = Set("d2_minhash_lsh", "d3b_simhash_pairs", "d4_ngram_jaccard")

  /** Sketch aggregates are deterministic per engine but implementation-
    * specific across engines — by contract they take the driver's rows-only
    * check instead of a DuckDB oracle (their accuracy is pinned by a
    * dedicated spec below).
    */
  private val sketchOps =
    Set("a8s_approx_distinct", "a9s_approx_quantiles", "a10s_cms_freq",
      "k16_bloom_skip")

  /** Ops whose compute is deterministic but not SQL-expressible (the stubbed
    * multimodal codec): rows-only by the declared driver contract, verified
    * against a driver-side brute force in a dedicated spec instead.
    */
  private val nonSqlOps = Set("m3_feature_ann")

  test("every pipeline query runs at sf0.001, has an oracle, and returns rows") {
    PipelineQueries.queries.foreach { case (name, fn) =>
      assert(sketchOps(name) || nonSqlOps(name) ||
        PipelineQueries.oracles.contains(name),
        s"$name lacks an oracle")
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
      val n = df.count()
      if (!mayBeEmpty(name))
        assert(n > 0, s"$name returned no rows at sf0.001")
    }
  }

  test("m6 perceptual pairing: pigeonhole-exact on crafted hashes; sf run recovers every planted variant") {
    import spark.implicits._
    // crafted aHashes: doc 2 is 2 bits from doc 1 (pair), doc 3 is 4 bits
    // from doc 1 spread over all four 16-bit blocks (no block collision AND
    // over the verify threshold), doc 4 is far away
    val sig = Seq(
      (1L, 0L, 0L),
      (2L, (1L << 0) | (1L << 1), 1L),
      (3L, (1L << 0) | (1L << 16) | (1L << 32) | (1L << 48), 2L),
      (4L, -1L, -1L)).toDF("doc_id", "ahash", "dhash")
    val pairs = PipelineQueries.perceptualPairs(sig).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    // (1,3) collides on block 0 via doc 3's bit 0? no: doc1 block0 = 0,
    // doc3 block0 has bit 0 set — different keys. (2,3) share no block
    // either. Only (1,2) survives: blocks 1..3 all match and hamming = 2.
    assert(pairs.toSet == Set((1L, 2L, 2, java.lang.Long.bitCount(0L ^ 1L))),
      s"crafted pairing wrong: ${pairs.mkString(", ")}")

    // the registered query finds EXACTLY the planted re-encode variants:
    // every doc_id % 10 == 0 pairs with its noisy twin, nothing else
    val out = PipelineQueries.m6ImageDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val planted = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 10 === 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(out.nonEmpty && out.length == planted.size,
      s"expected ${planted.size} planted pairs, got ${out.length}")
    out.foreach { case (a, b, hamA) =>
      assert(planted(a) && b == a + PipelineQueries.M6VariantOffset,
        s"unplanted pair ($a, $b)")
      assert(hamA <= 3, s"pair ($a, $b) hamming $hamA over threshold")
    }
  }

  test("m7 incremental image dedup: every re-encoded variant lands on its base, via the index") {
    val out = PipelineQueries.m7IncrementalImageDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1 else r.getInt(3)))
    val planted = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 10 === 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(out.length == planted.size, s"expected ${planted.size} increment rows, got ${out.length}")
    out.foreach { case (id, verdict, m, ham) =>
      assert(verdict == "near_dup" && m == id - PipelineQueries.M6VariantOffset,
        s"variant $id matched $m ($verdict) instead of its base")
      assert(ham >= 0 && ham <= 3, s"variant $id hamming $ham out of range")
    }
    // agreement with m6's within-set pairing: same (base, variant) pair set
    val m6pairs = PipelineQueries.m6ImageDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.map { case (id, _, m, _) => (m, id) }.toSet == m6pairs,
      "m7's increment-vs-index verdicts diverge from m6's within-set pairs")
  }

  test("m6 pairing fuzz: banding finds EVERY pair within Hamming 3 (pigeonhole completeness), none past it") {
    import spark.implicits._
    // 150 random 64-bit signatures, each with a planted twin k bit-flips
    // away (k = 0..6). Manku's 4×16-bit pigeonhole guarantees k ≤ 3 pairs
    // are candidates; the popcount verify must keep exactly those.
    val rnd = new scala.util.Random(20260815L)
    val rows = (0 until 150).flatMap { i =>
      val h = rnd.nextLong()
      val k = i % 7
      var twin = h
      // flip k DISTINCT bits
      rnd.shuffle((0 until 64).toList).take(k).foreach(b => twin ^= 1L << b)
      Seq((2L * i, h, 0L), (2L * i + 1, twin, 0L))
    }
    val pairs = PipelineQueries.perceptualPairs(rows.toDF("doc_id", "ahash", "dhash"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 until 150).filter(_ % 7 <= 3)
      .map(i => (2L * i, 2L * i + 1)).toSet
    assert(pairs == expected,
      s"missing=${(expected -- pairs).take(5)} extra=${(pairs -- expected).take(5)}")
  }

  test("m8 video near-dup: every trimmed copy is recovered; the rule's invariants hold on all pairs") {
    import spark.implicits._
    val out = PipelineQueries.m8VideoDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // every planted trimmed copy (doc_id % 10 == 0, long enough to keep
    // ≥ 2 frames after the trim) must pair with its base
    val planted = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 10 === 0 &&
        org.apache.spark.sql.functions.length(col("text")) > PipelineQueries.M8Chunk + PipelineQueries.M8Trim)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(planted.nonEmpty)
    val pairSet = out.map(t => (t._1, t._2)).toSet
    planted.foreach { b =>
      assert(pairSet((b, b + PipelineQueries.M6VariantOffset)),
        s"trimmed copy of $b not recovered")
    }
    // rule invariants on EVERY returned pair: ordered, thresholded, and
    // shared frames can never exceed the smaller side's frame count
    // (containment ≤ 100%)
    out.foreach { case (a, b, shared, cont) =>
      assert(a < b && cont >= PipelineQueries.M8MinContainPpm && cont <= 1000000L,
        s"pair ($a,$b) violates the rule: shared=$shared cont=$cont")
    }
    // a trimmed copy's containment is exact: (nf_v - 1) / nf_v unless the
    // trim landed on a frame boundary (then 100%) — replay one planted pair
    val b0 = planted.min
    val (_, _, shared0, cont0) =
      out.find(t => t._1 == b0 && t._2 == b0 + PipelineQueries.M6VariantOffset).get
    val len = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") === b0).select(org.apache.spark.sql.functions.length(col("text")))
      .head().getInt(0).toLong
    val vLen = len - PipelineQueries.M8Trim
    val nfv = (vLen + PipelineQueries.M8Chunk - 1) / PipelineQueries.M8Chunk
    val expShared = if (vLen % PipelineQueries.M8Chunk == 0) nfv else nfv - 1
    assert(shared0 == expShared && cont0 == expShared * 1000000L / nfv,
      s"pair ($b0, variant): shared=$shared0 cont=$cont0, expected shared=$expShared")
  }

  test("videoFrames: empty docs yield ZERO frames — no phantom md5(\"\") pairing empty bodies at 100%") {
    import spark.implicits._
    // sequence(0, -1) in Spark defaults to step -1 and walks [0, -1]; the
    // len > 0 guard must keep an empty body (a real WARC response with an
    // empty payload) out of the frame table entirely, matching the
    // oracle's range(0) = no rows
    val fr = PipelineQueries.videoFrames(
      Seq((1L, ""), (2L, ""), (3L, "x" * 100)).toDF("doc_id", "text"))
      .collect().map(_.getLong(0))
    assert(!fr.contains(1L) && !fr.contains(2L),
      s"empty docs minted phantom frames: ${fr.toSeq}")
    assert(fr.count(_ == 3L) > 0)
  }

  test("pipe7 multimodal curation: every planted copy collapses onto an earlier doc, canonicals survive") {
    val out = PipelineQueries.pipe7MultimodalCurate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
    val byId = out.map(t => t._1 -> (t._2, t._3)).toMap
    assert(out.length == byId.size, "universe ids not unique")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), org.apache.spark.sql.functions.length(col("text")).as("len"))
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong))
    // every re-encoded image copy is an image_dup of exactly its base
    docs.filter(_._1 % 10 == 0).foreach { case (b, _) =>
      assert(byId(b + PipelineQueries.M6VariantOffset) == (("image_dup", b)),
        s"image copy of $b: ${byId(b + PipelineQueries.M6VariantOffset)}")
    }
    // every trimmed video copy is a video_dup of SOME earlier document
    docs.filter(d => d._1 % 10 == 0 &&
        d._2 > PipelineQueries.M8Chunk + PipelineQueries.M8Trim).foreach { case (b, _) =>
      val (v, m) = byId(b + PipelineQueries.Pipe7VideoOffset)
      assert(v == "video_dup" && m >= 0 && m < b + PipelineQueries.Pipe7VideoOffset,
        s"video copy of $b: ($v, $m)")
    }
    // a dup's target is always earlier and itself present in the universe;
    // canonicals carry no target
    out.foreach { case (id, verdict, dupOf) =>
      if (verdict == "canonical") assert(dupOf == -1L, s"$id canonical with target")
      else assert(dupOf >= 0 && dupOf < id && byId.contains(dupOf),
        s"$id -> $dupOf not an earlier universe doc")
    }
    // curation keeps the overwhelming majority: only copies and the few
    // shared-prefix corpus pairs drop
    val dropped = out.count(_._2 != "canonical")
    assert(dropped >= docs.count(_._1 % 10 == 0), "planted copies not dropped")
    assert(dropped * 4 < out.length, s"curation dropped too much: $dropped of ${out.length}")
  }

  test("sim3 IVF with nprobe=2 recovers most of sim1's exact top-3") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = pairs(PipelineQueries.sim1CosineTopk(spark, sf))
    val ivf = pairs(PipelineQueries.sim3IvfAnn(spark, sf))
    assert(exact.nonEmpty)
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall below floor")
  }

  test("sim3's dials: recall is monotone in nProbe, and nProbe=nCells recovers sim1 exactly") {
    // probe lists are nested prefixes, so candidate sets are nested and
    // recall can only rise with nProbe; at nProbe = nCells every cell is
    // probed and the index degenerates to the exact scan — the structural
    // guarantee that makes the dial safe to turn at 10⁹ vectors.
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = pairs(PipelineQueries.sim1CosineTopk(spark, sf))
    val recalls = Seq(1, 2, 4).map { np =>
      (exact & pairs(PipelineQueries.sim3IvfAnn(spark, sf, 8, np))).size.toDouble / exact.size
    }
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall not monotone in nProbe: $recalls")
    val full = PipelineQueries.sim3IvfAnn(spark, sf, 8, 8).collect().map(_.toSeq).toSeq
    val ref = PipelineQueries.sim1CosineTopk(spark, sf).collect().map(_.toSeq).toSeq
    assert(full == ref, "probing every cell must equal the exact baseline row-for-row")
  }

  test("sim9 reports the recall sim3 actually achieves, monotone in nProbe, 1e6 at full probe") {
    // sim9 is the MEASURED artifact behind sim3's structural claims: its
    // per-query ppm must equal an independent set-intersection replay, rise
    // with nProbe, and read exactly 1e6 everywhere once every cell is probed.
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = pairs(PipelineQueries.sim3IvfAnn(spark, sf, 8, 8)) // full probe ≡ guarded exact
    val ivf = pairs(PipelineQueries.sim3IvfAnn(spark, sf, 8, 2))
    val reported = PipelineQueries.sim9RecallEval(spark, sf, 8, 2).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("n_hit")).toMap
    assert(reported.nonEmpty)
    for ((q, ex) <- exact) {
      val replay = (ex & ivf.getOrElse(q, Set.empty)).size.toLong
      assert(reported(q) == replay, s"query $q: reported ${reported(q)} hits, replay $replay")
    }
    val mean = Seq(1, 2, 4, 8).map { np =>
      PipelineQueries.sim9RecallEval(spark, sf, 8, np).collect()
        .map(_.getAs[Long]("recall_ppm")).sum
    }
    assert(mean.zip(mean.tail).forall { case (a, b) => a <= b },
      s"summed recall_ppm not monotone in nProbe: $mean")
    val full = PipelineQueries.sim9RecallEval(spark, sf, 8, 8).collect()
    assert(full.forall(_.getAs[Long]("recall_ppm") == 1000000L),
      "full probe must report recall 1e6 for every query")
  }

  test("x33 answers from the positional index exactly what a text scan answers, at any block") {
    // The index is lossless: answering the phrase from (term, block,
    // positions) rows must equal counting the bigram in the raw text,
    // doc-for-doc — and the block dial is layout-only (x23's invariance).
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" ").toSeq)
    val counts = scala.collection.mutable.Map.empty[String, Long]
    for ((_, w) <- docs; i <- 0 until w.length - 1)
      counts(w(i) + " " + w(i + 1)) = counts.getOrElse(w(i) + " " + w(i + 1), 0L) + 1
    val phrase = counts.toSeq.minBy { case (bg, c) => (-c, bg) }._1
    val Seq(w0, w1) = phrase.split(" ", 2).toSeq
    val expected = docs.flatMap { case (id, w) =>
      val n = (0 until w.length - 1).count(i => w(i) == w0 && w(i + 1) == w1)
      if (n > 0) Some((id, phrase, n.toLong)) else None
    }.sortBy(_._1).toSeq
    for (block <- Seq(1L, 7L, 256L, 1000000L)) {
      val got = PipelineQueries.x33PhraseSearch(spark, sf, block).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      assert(got == expected, s"block=$block: index answer diverged from the text scan")
    }
  }

  test("x30 Good-Turing table matches a BigInt replay; rows prefix-nest in the cap") {
    // The table must equal an independent driver replay of the definition
    // (counts → spectrum → c*, masses), and Katz's cutoff semantics mean a
    // deeper table only APPENDS classes — rows 0..cap identical across caps.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0).split(" ").toSeq)
    val counts = scala.collection.mutable.Map.empty[String, Long]
    for (w <- docs if w.length >= 2; i <- 0 until w.length - 1)
      counts(w(i) + " " + w(i + 1)) = counts.getOrElse(w(i) + " " + w(i + 1), 0L) + 1
    val nTotal = BigInt(counts.values.sum)
    val spec = counts.values.groupBy(identity).view.mapValues(v => BigInt(v.size)).toMap
    val ppm = BigInt(1000000)
    val expected = (0 to 10).map { c =>
      val nc = spec.getOrElse(c.toLong, BigInt(0))
      val nc1 = spec.getOrElse(c + 1L, BigInt(0))
      val cstar = if (c == 0 || nc == 0) BigInt(0) else (c + 1) * nc1 * ppm / nc
      (c.toLong, nc.toLong, cstar.toLong,
        (c * nc * ppm / nTotal).toLong, ((c + 1) * nc1 * ppm / nTotal).toLong)
    }
    val got = PipelineQueries.x30GoodTuring(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected, "x30 diverged from the BigInt replay of the definition")
    // unseen mass: the c=0 smoothed row must carry exactly the hapax share
    assert(got.head._5 == (spec.getOrElse(1L, BigInt(0)) * ppm / nTotal).toLong)
    val deep = PipelineQueries.x30GoodTuring(spark, sf, 15).collect().map(_.toSeq).toSeq
    assert(deep.take(11) == PipelineQueries.x30GoodTuring(spark, sf, 10)
      .collect().map(_.toSeq).toSeq, "table rows must prefix-nest in the cap")
  }

  test("x34 keywords match a brute-force replay; hotK is result-invariant") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty).toSeq)
    val tf = docs.flatMap { case (id, ws) =>
      ws.groupBy(identity).map { case (w, o) => (w, id, o.size.toLong) } }
    val df = tf.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size.toLong).toMap
    val expected = tf.groupBy(_._2).toSeq.flatMap { case (id, rows) =>
      rows.map { case (w, _, c) => (w, c, df(w), c * 1000000L / df(w)) }
        .sortBy { case (w, _, _, s) => (-s, w) }.take(3).zipWithIndex
        .map { case ((w, c, d, s), i) => (id, i + 1L, w, c, d, s) }
    }.sortBy(r => (r._1, r._2))
    val got = PipelineQueries.x34Keywords(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected, "x34 diverged from the brute-force TF-IDF replay")
    // the hot-head split is structural, never semantic (x12's pin)
    for (k <- Seq(0, 1, 64))
      assert(PipelineQueries.x34Keywords(spark, sf, k).collect()
        .map(_.toSeq).toSeq == got.map(t => Seq(t._1, t._2, t._3, t._4, t._5, t._6)),
        s"hotK=$k changed the result")
  }

  test("pipe5 finds a phrase straddling the stride boundary only because chunks overlap") {
    import spark.implicits._
    // "a b" is the hottest bigram; one occurrence sits at tokens (31, 32) —
    // the disjoint-grid boundary for chunk=32. Disjoint chunking (stride =
    // chunk) splits it; the x25 overlap (stride 24) keeps it findable.
    val filler = (0 until 64).map(i => s"f$i").toArray
    filler(31) = "a"; filler(32) = "b"
    val docs = Seq(
      (0L, filler.mkString(" ")),
      (1L, "a b a b a b"),
      (2L, "a b c d")).toDF("doc_id", "text")
    def occOf(stride: Int, doc: Long): Long =
      PipelineQueries.pipe5Core(docs, 32, stride, 10).collect()
        .filter(_.getAs[Long]("doc_id") == doc)
        .map(_.getAs[Long]("n_occ")).sum
    assert(PipelineQueries.pipe5Core(docs, 32, 24, 10).collect()
      .forall(_.getAs[String]("phrase") == "a b"))
    assert(occOf(32, 0L) == 0L, "disjoint grid should split the boundary occurrence")
    assert(occOf(24, 0L) == 1L, "the overlap must recover the straddling occurrence")
    // the packed chunk key refuses to alias: > 4096 chunks raises in-plan
    val long = Seq((0L, (0 to 4100).map(_ => "a b").mkString(" "))).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      PipelineQueries.pipe5Core(long, 4, 1, 5).collect()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("packing range"))
  }

  test("w8 latency quantiles match a sorted-multiset replay and rise with q") {
    // The histogram method must equal element ⌊(n−1)q/100⌋ of the sorted
    // second-granular latencies, replayed directly from the funnel output.
    val lats = PipelineQueries.w4Funnel(spark, sf).collect()
      .filter(_.getAs[Int]("stage") == 3)
      .map(r => (r.getAs[Long]("purchase_us") - r.getAs[Long]("view_us")) / 1000000L)
      .sorted
    assert(lats.nonEmpty, "fixture has no converted users")
    val got = PipelineQueries.w8ConversionLatency(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val expected = Seq(0L, 25L, 50L, 75L, 100L).map { q =>
      (q, lats.length.toLong, lats(((lats.length - 1) * q / 100).toInt))
    }
    assert(got == expected, s"histogram quantiles diverged from the sorted replay")
    assert(got.map(_._3).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
  }

  test("d12 reports the recall d2 actually achieves; hits rise as bands loosen") {
    // Replay: true neighbors from exact set arithmetic over the spec's own
    // shingling, hits by intersecting with d2's pair set.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
      .filter(_._2.length >= 3)
      .map { case (id, w) =>
        id -> (0 until w.length - 2).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet }
      .toMap
    val truePairs = for {
      (p, sp) <- docs.toSeq if p < 50
      (o, so) <- docs.toSeq if o != p
      if 2 * (sp & so).size >= (sp | so).size
    } yield (p, o)
    val d2pairs = PipelineQueries.d2MinhashLsh(spark, sf).collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0)))).toSet
    val expected = docs.keys.filter(_ < 50).toSeq.sorted.map { p =>
      val t = truePairs.filter(_._1 == p).map(_._2).toSet
      val h = (t & d2pairs.filter(_._1 == p).map(_._2)).size.toLong
      (p, t.size.toLong, h,
        if (t.isEmpty) null else java.lang.Long.valueOf(h * 1000000L / t.size))
    }
    val got = PipelineQueries.d12LshRecallEval(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else java.lang.Long.valueOf(r.getLong(3)))).toSeq
    assert(got == expected, "d12 diverged from the exact replay")
    // banding theory: more, narrower bands can only ADD candidate pairs
    // (a shared k-perm run implies shared sub-runs), so hits are monotone
    val hitSums = Seq(1, 2, 4, 8).map { b =>
      PipelineQueries.d12LshRecallEval(spark, sf, 8, b, 50L).collect()
        .map(_.getAs[Long]("n_hit")).sum
    }
    assert(hitSums.zip(hitSums.tail).forall { case (a, b) => a <= b },
      s"hits not monotone as bands loosen: $hitSums")
  }

  test("x35 vocabulary growth matches a replay; the last checkpoint is the full corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty).toSeq)
    val maxId = docs.map(_._1).max
    val expected = (1 to 10).map { k =>
      val cutoff = maxId * k / 10
      val in = docs.filter(_._1 <= cutoff)
      (k.toLong, cutoff, in.map(_._2.size.toLong).sum,
        in.flatMap(_._2).distinct.size.toLong)
    }
    val got = PipelineQueries.x35VocabGrowth(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected, "x35 diverged from the prefix replay")
    assert(got.map(_._4).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)),
      "type counts must be monotone along the prefix")
    assert(got.last._4 == docs.flatMap(_._2).distinct.size.toLong,
      "final checkpoint must equal the full-corpus vocabulary")
  }

  test("k16 bloom index never false-negatives; absent probes are truly absent") {
    val pairs = PipelineQueries.k16Pairs(spark, sf, 64L, 20).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Boolean]("present"),
        r.getAs[Boolean]("maybe"), r.getAs[Boolean]("actual")))
    assert(pairs.nonEmpty)
    // the lossless half of the contract: actual ⇒ maybe, pairwise
    assert(pairs.forall { case (_, _, maybe, actual) => !actual || maybe },
      "a bloom skipped a file that actually holds the digest")
    // present probes hit at least their own file; salted probes hit none
    val byProbe = pairs.groupBy(p => (p._1, p._2))
    assert(byProbe.collect { case ((_, true), ps) => ps.count(_._4) }.forall(_ >= 1))
    assert(byProbe.collect { case ((_, false), ps) => ps.count(_._4) }.forall(_ == 0))
    // and the registered aggregate agrees with the pair-level counts
    val aggRows = PipelineQueries.k16BloomSkip(spark, sf).collect()
    aggRows.foreach { r =>
      val ps = byProbe((r.getLong(0), r.getBoolean(1)))
      assert(r.getAs[Long]("n_files_maybe") == ps.count(_._3).toLong)
      assert(r.getAs[Long]("n_files_true") == ps.count(_._4).toLong)
    }
  }

  test("k16 bloom-pruned lookup reads only maybe-files and equals the naive filter exactly") {
    import org.apache.spark.sql.functions.{col, expr}
    // the same digest derivation k16's index is built over
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(text),1,15),16,10) as bigint)").as("hk"))
    val rows = docs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val present = rows.filter(_._1 < 20).map(_._2)
    // salted absent digests, k16Pairs' derivation
    val absent = spark.range(1).selectExpr(present.map(hk =>
        s"cast(conv(substring(md5(concat('$hk', ':absent')),1,15),16,10) as bigint)"): _*)
      .collect().head.toSeq.map(_.asInstanceOf[Long])
    for (probes <- Seq(present.toSeq, absent, present.toSeq ++ absent)) {
      val naive = rows.filter(r => probes.contains(r._2)).toSet
      val pruned = PipelineQueries.bloomPrunedLookup(docs, probes, 64L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pruned == naive, s"pruned lookup diverged from the naive filter ($probes)")
    }
    // pruning must BITE: the 20 present probes live in file 0 alone, so the
    // maybe-list is file 0 plus at most a few false-positive files — never
    // the whole corpus
    val nFiles = rows.map(_._1 / 64).distinct.length
    val maybe = PipelineQueries.bloomMaybeFiles(docs, present.toSeq, 64L)
    assert(maybe.contains(0L), "the probes' own file was pruned — lossy!")
    assert(maybe.length < nFiles,
      s"pruning never skipped a file (${maybe.length} of $nFiles read)")
  }

  test("k16 persisted bloom index: pruned lookup ≡ naive filter after appends, never rebuilt at query time") {
    import org.apache.spark.sql.functions.{col, expr}
    val all = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(text),1,15),16,10) as bigint)").as("hk"))
    val maxId = all.agg(org.apache.spark.sql.functions.max("doc_id")).head().getLong(0)
    // ingest-time split: the initial corpus, then TWO appends — one landing
    // in fresh file_ids, one landing INSIDE an existing file_id (the
    // multi-row-per-file union case the incremental contract promises)
    val initial = all.filter(col("doc_id") <= maxId - 70)
    val intoExisting = all.filter(col("doc_id") > maxId - 70 && col("doc_id") <= maxId - 64)
    val freshFiles = all.filter(col("doc_id") > maxId - 64)
    val idxPath = java.nio.file.Files.createTempDirectory("bloomidx").toString + "/idx.parquet"
    PipelineQueries.buildBloomIndex(initial, 64L, idxPath)
    PipelineQueries.appendBloomIndex(intoExisting, 64L, idxPath)
    PipelineQueries.appendBloomIndex(freshFiles, 64L, idxPath)
    val rows = all.collect().map(r => (r.getLong(0), r.getLong(1)))
    // probes from every ingest generation, plus salted absent ones
    val present = rows.filter(_._1 < 10).map(_._2) ++
      rows.filter(_._1 > maxId - 70).take(10).map(_._2)
    val absent = spark.range(1).selectExpr(present.take(10).map(hk =>
        s"cast(conv(substring(md5(concat('$hk', ':absent')),1,15),16,10) as bigint)"): _*)
      .collect().head.toSeq.map(_.asInstanceOf[Long])
    for (probes <- Seq(present.toSeq, absent, present.toSeq ++ absent)) {
      val naive = rows.filter(r => probes.contains(r._2)).toSet
      val pruned = PipelineQueries.bloomPrunedLookupIndexed(all, idxPath, probes, 64L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pruned == naive, s"persisted-index lookup diverged after append")
    }
    // pruning still bites through the persisted index
    val nFiles = rows.map(_._1 / 64).distinct.length
    val maybe = PipelineQueries.bloomMaybeFilesFromIndex(spark, idxPath,
      rows.filter(_._1 < 10).map(_._2).toSeq)
    assert(maybe.contains(0L) && maybe.length < nFiles,
      s"persisted-index pruning lossy or toothless (${maybe.length} of $nFiles)")
    // and the appended-into file answers maybe via the UNION of its rows
    val lateProbe = rows.filter(_._1 > maxId - 70).take(1).map(_._2).toSeq
    val lateFile = rows.filter(_._1 > maxId - 70).head._1 / 64
    assert(PipelineQueries.bloomMaybeFilesFromIndex(spark, idxPath, lateProbe)
      .contains(lateFile), "append row's membership lost — union across rows broken")
  }

  test("x36 greedy decode matches a driver replay step-for-step and prefix-nests") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0).split(" ").toSeq)
    val uni = docs.flatten.filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val model = docs.filter(_.size >= 2)
      .flatMap(w => (0 until w.length - 1).map(i => (w(i), w(i + 1))))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val seed = uni.toSeq.minBy { case (w, c) => (-c, w) }._1
    val expected = scala.collection.mutable.ArrayBuffer((0L, seed, uni(seed)))
    var cur = seed
    var broke = false
    for (k <- 1 to 8 if !broke) {
      val succ = model.collect { case ((a, b), c) if a == cur => (b, c) }
      if (succ.isEmpty) broke = true
      else {
        val (b, c) = succ.toSeq.minBy { case (b, c) => (-c, b) }
        expected += ((k.toLong, b, c)); cur = b
      }
    }
    val got = PipelineQueries.x36GreedyDecode(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected.toSeq, "decode trajectory diverged from the replay")
    val short = PipelineQueries.x36GreedyDecode(spark, sf, 4).collect().map(_.toSeq).toSeq
    assert(short == got.map(t => Seq(t._1, t._2, t._3)).take(short.length) &&
      short.length <= 5, "a shorter decode must be a prefix of the longer one")
  }

  test("sim10 MIPS ranking is reproduced by the norm-augmentation cosine reduction") {
    // Bachrach et al.: append sqrt(M²−|x|²) to corpus vectors and 0 to the
    // query — all corpus norms become M, so cosine order ≡ inner-product
    // order. Proving it here is what licenses reusing sim2/sim3/sim6 as
    // MIPS scale paths.
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      .sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val m2 = vecs.map { case (_, v) => dot(v, v) }.max
    val got = PipelineQueries.sim10MipsTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(got.nonEmpty)
    for ((q, qv) <- vecs if q < 10) {
      val aug = vecs.map { case (id, v) =>
        // augmented cosine ∝ dot(q, x): |phi(x)| = M for every corpus row
        (id, dot(qv, v) / math.sqrt(m2))
      }.filter(_._1 != q)
      val expect = aug.sortBy { case (id, c) => (-c, id) }.take(3).map(_._1).toSeq
      assert(got(q) == expect, s"query $q: MIPS ${got(q)} != augmented-cos $expect")
    }
  }

  test("x37 mixture application matches the per-doc replication law; corpus materializes it") {
    def md5Lane(s0: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s0.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % 1000000L
    }
    val weights = PipelineQueries.x13MixWeights(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("weight_ppm")).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val copies = docs.map { case (id, l, src) =>
      val w = weights((l, src))
      (id, l, src, w / 1000000L + (if (md5Lane(s"mix:$id") < w % 1000000L) 1L else 0L))
    }
    val expected = copies.groupBy(c => (c._2, c._3)).toSeq.map { case ((l, src), cs) =>
      (l, src, cs.length.toLong, cs.map(_._4).sum, weights((l, src)),
        1000000L * cs.map(_._4).sum / cs.length)
    }.sortBy(t => (t._1, t._2))
    val got = PipelineQueries.x37ApplyMixture(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected, "x37 diverged from the replication-law replay")
    // the resampled corpus materializes exactly those copy counts
    val w = PipelineQueries.x13MixWeights(spark, sf)
      .select("lang", "source", "weight_ppm")
    val mat = PipelineQueries.applyMixture(
        spark.read.parquet(s"$sf/documents.parquet"), w)
      .collect().map(_.getLong(0)).groupBy(identity).view.mapValues(_.size.toLong).toMap
    copies.foreach { case (id, _, _, n) =>
      assert(mat.getOrElse(id, 0L) == n, s"doc $id materialized ${mat.getOrElse(id, 0L)} != $n")
    }
  }

  test("pipe6 manifest totals equal copies × per-doc token counts") {
    def md5Lane(s0: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s0.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % 1000000L
    }
    val weights = PipelineQueries.x13MixWeights(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("weight_ppm")).toMap
    val toks = PipelineQueries.x19bEncodeOnly(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    var expTokens = 0L
    var expDocs = 0L
    docs.foreach { case (id, l, src) =>
      val w = weights((l, src))
      val n = w / 1000000L + (if (md5Lane(s"mix:$id") < w % 1000000L) 1L else 0L)
      toks.get(id).foreach { t0 => expTokens += n * t0; expDocs += n }
    }
    val manifest = PipelineQueries.pipe6MixtureExport(spark, sf).collect()
    assert(manifest.nonEmpty)
    assert(manifest.map(_.getAs[Long]("n_tokens")).sum == expTokens,
      "manifest token total diverged from copies × per-doc counts")
    assert(manifest.map(_.getAs[Long]("n_docs")).sum == expDocs,
      "manifest doc total diverged from the resampled corpus size")
  }

  test("w8 handles crafted latency sets: known quantiles, and n=1 degenerates flat") {
    import spark.implicits._
    import java.sql.Timestamp
    def writeEvents(rows: Seq[(Long, Long, String, Long)]): String = {
      val dir = java.nio.file.Files.createTempDirectory("w8events").toString
      rows.map { case (eid, uid, et, sec) =>
        (eid, new Timestamp(sec * 1000L), uid, et, 1.0)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    // three converts with view→purchase latencies 5 s, 100 s, 3600 s
    var eid = 0L
    def funnel(uid: Long, start: Long, lat: Long) = Seq(
      { eid += 1; (eid, uid, "view", start) },
      { eid += 1; (eid, uid, "click", start + 1) },
      { eid += 1; (eid, uid, "purchase", start + lat) })
    val dir3 = writeEvents(
      funnel(1, 1000, 5) ++ funnel(2, 2000, 100) ++ funnel(3, 3000, 3600) ++
        Seq({ eid += 1; (eid, 9L, "view", 50L) })) // non-convert: ignored
    val got3 = PipelineQueries.w8ConversionLatency(spark, dir3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // sorted latencies [5, 100, 3600]; idx = (n-1)q/100 = [0,0,1,1,2]
    assert(got3 == Seq((0L, 3L, 5L), (25L, 3L, 5L), (50L, 3L, 100L),
      (75L, 3L, 100L), (100L, 3L, 3600L)), s"crafted quantiles wrong: $got3")
    // a single convert: every quantile reads the one latency
    val dir1 = writeEvents(funnel(7, 100, 42))
    val got1 = PipelineQueries.w8ConversionLatency(spark, dir1).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(got1 == Seq(0L, 25L, 50L, 75L, 100L).map((_, 42L)))
  }

  test("sim2's nPlanes dial: prefix-nested planes make recall monotone non-increasing") {
    // bucket n+1 refines bucket n (the extra plane splits, never re-mixes),
    // so candidate sets shrink as planes are added and recall@3 vs the
    // exact baseline can only fall — the structural guarantee that lets
    // production raise nPlanes for 10⁹ vectors and buy recall back with
    // multiprobe instead of re-tuning blindly.
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = pairs(PipelineQueries.sim1CosineTopk(spark, sf))
    val recalls = Seq(2, 4, 8).map { np =>
      (exact & pairs(PipelineQueries.sim2LshAnn(spark, sf, np))).size.toDouble / exact.size
    }
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a >= b },
      s"recall rose when planes were added — planes are not nested: $recalls")
  }

  test("sim2b's radius dial: recall monotone non-decreasing, full radius equals sim1") {
    // probe sets are nested in radius, so candidates only grow; at radius =
    // nPlanes every bucket is probed and the index degenerates to the exact
    // scan — the two ends of the recall/cost dial, both structural.
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = pairs(PipelineQueries.sim1CosineTopk(spark, sf))
    val recalls = Seq(0, 1, 2).map { rad =>
      (exact & pairs(PipelineQueries.sim2bMultiprobe(spark, sf, 4, rad))).size.toDouble / exact.size
    }
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall fell as the probe radius grew: $recalls")
    val full = PipelineQueries.sim2bMultiprobe(spark, sf, 4, 4).collect().map(_.toSeq).toSeq
    val ref = PipelineQueries.sim1CosineTopk(spark, sf).collect().map(_.toSeq).toSeq
    assert(full == ref, "probing every bucket must equal the exact baseline row-for-row")
  }

  test("sim2b multiprobe recall is at least sim2's single-bucket recall") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = pairs(PipelineQueries.sim1CosineTopk(spark, sf))
    val single = pairs(PipelineQueries.sim2LshAnn(spark, sf))
    val multi = pairs(PipelineQueries.sim2bMultiprobe(spark, sf))
    assert(exact.nonEmpty)
    val rSingle = (exact & single).size.toDouble / exact.size
    val rMulti = (exact & multi).size.toDouble / exact.size
    assert(rMulti >= rSingle,
      s"multiprobe recall $rMulti fell below single-probe $rSingle")
    // every single-probe candidate set is a subset of the multiprobe one,
    // so any rank-k result it finds the multiprobe variant also considers
    assert(multi.nonEmpty)
  }

  test("scale-branch twins d6b/g2b equal their adaptive base entries row-for-row") {
    // The registered contract behind the b-twins: forcing the branch a
    // 100 TB corpus takes (distributed label propagation / keyed wedge
    // joins) changes the PLAN, never the rows. The library paths are
    // pinned equivalent elsewhere; this pins the REGISTERED entries
    // end-to-end on the corpus, including the shared oracle SQL.
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq)
    assert(rowsOf(PipelineQueries.d6bDupClustersDist(spark, sf)) ==
      rowsOf(PipelineQueries.d6DupClusters(spark, sf)))
    assert(rowsOf(PipelineQueries.g2bTrianglesKeyed(spark, sf)) ==
      rowsOf(PipelineQueries.g2Triangles(spark, sf)))
    assert(PipelineQueries.oracles("d6b_dup_clusters_dist") ==
      PipelineQueries.oracles("d6_dup_clusters"))
    assert(PipelineQueries.oracles("g2b_triangles_keyed") ==
      PipelineQueries.oracles("g2_triangles"))
  }

  test("d4b: prefix path over the Heaps view matches a driver-side brute force; planted pairs recovered") {
    // d4b's registered contract: the PPJoin prefix branch over the
    // Heaps-vocabulary view equals exact all-pairs Jaccard over the SAME
    // view (prefix filtering is exact), and every planted truncated copy
    // pairs with its source at J ≈ 0.8 > 0.6. The brute force here is an
    // independent JVM set computation, not Spark.
    val view = PipelineQueries.heapsViewDocs(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"), r.getAs[String]("text")))
    def grams(t: String): Set[String] =
      (0 to t.length - 4).map(i => t.substring(i, i + 4)).toSet
    val gs = view.filter(_._3.length >= 4).map { case (id, lang, t) => (id, lang, grams(t)) }
    val expected = (for {
      a <- gs; b <- gs
      if a._2 == b._2 && a._1 < b._1
      inter = (a._3 & b._3).size.toLong
      uni = (a._3 | b._3).size.toLong
      if inter * 5 >= uni * 3
    } yield (a._1, b._1, a._2, 1000000L * inter / uni)).toSet
    val got = PipelineQueries.d4bJaccardPrefixPath(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[String]("lang"), r.getAs[Long]("jaccard_ppm"))).toSet
    assert(got == expected)
    // planted copies carry -(source+1): a pair (copy, source) sorts copy
    // first (negative < positive), so detect a == -(b + 1)
    val planted = got.filter { case (a, b, _, _) => a == -(b + 1L) }
    assert(planted.nonEmpty, "no planted truncated pair recovered")
    assert(planted.forall(_._4 >= 600000))
    // the planted family: every 101st doc must find its copy
    val sources = view.map(_._1).filter(id => id >= 0 && id % 101 == 0)
    assert(planted.size == sources.length,
      s"planted ${planted.size} of ${sources.length} recovered")
  }

  test("d6 clusters are consistent: every doc labeled, edges intra-cluster, id = min member") {
    val rows = PipelineQueries.d6DupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size"))).toMap
    val nDocs = graft.Tables.t(spark, sf, "documents").count()
    assert(rows.size.toLong == nDocs, "every document gets exactly one cluster row")
    // cluster_id is the min member and sizes agree with the partition
    val byCluster = rows.groupBy(_._2._1)
    byCluster.foreach { case (cid, members) =>
      assert(members.keys.min == cid, s"cluster $cid id is not its min member")
      assert(members.values.forall(_._2 == members.size.toLong))
    }
    // both edge families land intra-cluster (exact dups share md5; d3b pairs)
    val d1 = PipelineQueries.d1ExactDedup(spark, sf).collect()
    d1.foreach { r =>
      assert(rows(r.getAs[Long]("doc_id"))._1 == rows(r.getAs[Long]("canonical_id"))._1)
    }
    PipelineQueries.d3bSimhashPairs(spark, sf).collect().foreach { r =>
      assert(rows(r.getAs[Long]("doc_a"))._1 == rows(r.getAs[Long]("doc_b"))._1)
    }
  }

  test("x7 BM25 score is zero exactly when no query term occurs, else positive") {
    PipelineQueries.x7Bm25(spark, sf).collect().foreach { r =>
      val hits = Seq("tf_spark", "tf_stream", "tf_data").map(r.getAs[Long]).sum
      val score = r.getAs[Long]("bm25_ppm")
      assert(score >= 0)
      assert((score == 0) == (hits == 0),
        s"doc ${r.getAs[Long]("doc_id")}: hits=$hits score=$score")
    }
  }

  test("salted band join equals the plain join's pair set under forced skew") {
    import spark.implicits._
    // one engineered mega-band ("hot": 20 docs) among several small ones
    val rows = (1L to 60L).map { i =>
      (i, if (i % 3 == 0) "hot" else s"b${i % 7}")
    }
    val bands = rows.toDF("doc_id", "bk")
    val expected = rows.groupBy(_._2).values.flatMap { grp =>
      val ids = grp.map(_._1)
      for (x <- ids; y <- ids if x < y) yield (x, y)
    }.toSet
    // threshold 5 forces the hot band (and some cold bands' siblings) through
    // the salted path with a tiny salt space to exercise collisions
    val got = PipelineQueries.bandCandidates(bands, saltThreshold = 5, r = 4)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(got == expected)
    // and the no-skew path agrees too
    val plain = PipelineQueries.bandCandidates(bands, saltThreshold = 1000)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(plain == expected)
  }

  test("d6 distributed label propagation matches expected components on a multi-round graph") {
    // the at-scale path never runs on testdata (small edge lists take the
    // union-find branch), so exercise it directly: an 8-node chain needs
    // several propagation rounds (diameter 7), plus a triangle and an
    // isolated node
    import spark.implicits._
    val chain = (1L to 7L).map(i => (i, i + 1))
    val tri = Seq((10L, 11L), (11L, 12L), (10L, 12L))
    val und = (chain ++ tri).toDF("a", "b")
    val edges = und.union(und.select(col("b").as("a"), col("a").as("b")))
    val nodes = ((1L to 8L) ++ Seq(10L, 11L, 12L, 20L)).toDF("doc_id")
      .withColumn("canon", col("doc_id")) // identity seed: worst-case start
    val got = PipelineQueries.propagateLabels(nodes, edges)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("label")).toMap
    val expected = ((1L to 8L).map(_ -> 1L) ++
      Seq(10L, 11L, 12L).map(_ -> 10L) :+ (20L -> 20L)).toMap
    assert(got == expected)
  }

  test("d6 label propagation converges in O(log diameter): a 1500-node chain beats the 64-round cap") {
    // The adversarial shape for min-label propagation: one long path.
    // Diameter-bounded propagation would need 1499 rounds and trip the
    // require at 64 — this test FAILS on the jump-free formulation. With
    // the per-round pointer jump (label(v) ← label(label(v))), chain depth
    // halves each round, so ~⌈log₂ 1500⌉ + ε rounds suffice and every node
    // lands on the global min.
    import spark.implicits._
    val n = 1500L
    val und = (0L until n - 1).map(i => (i, i + 1)).toDF("a", "b")
    val edges = und.union(und.select(col("b").as("a"), col("a").as("b")))
    val nodes = (0L until n).toDF("doc_id").withColumn("canon", col("doc_id"))
    val labels = PipelineQueries.propagateLabels(nodes, edges)
    val got = labels.collect()
    assert(got.length == n)
    assert(got.forall(_.getAs[Long]("label") == 0L))
    // REGRESSION PIN for the round-9 stats-squaring pathology:
    // Dataset.localCheckpoint inherits the checkpointed plan's estimated
    // statistics, and a loop checkpointing its own SELF-join squares the
    // BigInt sizeInBytes per round — after ~20 rounds the driver burned
    // 38 s/round in BigInteger multiplication (jobs all <60 ms). The
    // typed-RDD rewrap keeps stats CONSTANT; if the returned frame's
    // sizeInBytes ever carries hundreds of bits again, the squaring is
    // back even though results stay correct and every job stays fast.
    val bits = labels.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    assert(bits < 128,
      s"propagation result carries a $bits-bit size estimate — the " +
        "self-join checkpoint stats-squaring has regressed")
  }

  test("d4's bitmap and PPJoin-prefix paths produce identical pairs") {
    // the prefix branch never engages on testdata (vocabulary under the
    // gate), so force it and compare against the adaptive (bitmap) result
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("jaccard_ppm"))).toSet
    val adaptive = pairs(PipelineQueries.d4NgramJaccard(spark, sf))
    val prefix = pairs(PipelineQueries.d4Impl(spark, sf, forcePrefixPath = true))
    assert(prefix == adaptive)
  }

  test("d4c banded prefilter is SOUND (⊆ d4b's complete pair set) and recovers the planted near-dups") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("jaccard_ppm"))).toSet
    val complete = pairs(PipelineQueries.d4bJaccardPrefixPath(spark, sf))
    val banded = pairs(PipelineQueries.d4cJaccardBanded(spark, sf))
    // soundness: banding only narrows candidates; the verify is identical,
    // so every banded pair must appear in the complete set with the same ppm
    assert(banded.subsetOf(complete),
      s"unsound pairs: ${banded.diff(complete).take(3)}")
    // recall on the HIGH-similarity planted pairs (Jaccard ≈ 0.8 → band
    // collision w.p. ≈ 0.98 per pair, deterministic given the md5
    // arithmetic): the planted copies live at negative ids
    val planted = complete.filter(p => p._1 < 0 || p._2 < 0)
    val found = planted.intersect(banded)
    assert(planted.nonEmpty, "view produced no planted pairs to measure")
    assert(found.size * 10 >= planted.size * 8,
      s"planted-pair recall ${found.size}/${planted.size} below 0.8")
  }

  test("d4c over-budget stop-grams: distributed probe guards before any collect; degrade keeps the hottest grams and stays exactly-verified") {
    import spark.implicits._
    // Adversarial corpus: a large vocabulary shared by EVERY doc, so the
    // df > 64 stop-gram set (~1200 grams) dwarfs a tiny broadcast budget.
    // Docs come in planted near-dup pairs (2i, 2i+1) sharing a unique
    // block; unrelated pairs sit at J ≈ 0.25, planted at J ≈ 0.9.
    val common = (0 until 200).map(i => f"w$i%04d").mkString(" ")
    // per-family unique blocks are seeded-RANDOM strings: 4-grams from a
    // 36-char alphabet (~1.7M-point space) are family-distinct in
    // practice, unlike patterned words whose digit grams alias across
    // families and pull unrelated pairs over the threshold
    def rndStr(seed: Long, n: Int): String = {
      val r = new scala.util.Random(seed)
      val ab = "abcdefghijklmnopqrstuvwxyz0123456789"
      (0 until n).map(_ => ab(r.nextInt(ab.length))).mkString
    }
    val docs = (0L until 100L).map { id =>
      val fam = id / 2
      val tail = if (id % 2 == 1) " " + rndStr(1000 + id, 120) else ""
      (id, "en", common + " " + rndStr(fam, 1500) + tail)
    }.toDF("doc_id", "lang", "text")
    def grams(t: String): Set[String] =
      (0 to t.length - 4).map(i => t.substring(i, i + 4)).toSet
    val gsets = docs.collect().map(r => r.getLong(0) -> grams(r.getString(2))).toMap
    val truth = (for {
      a <- 0L until 100L; b <- (a + 1) until 100L
      ga = gsets(a); gb = gsets(b)
      inter = ga.intersect(gb).size.toLong
      uni = ga.size + gb.size - inter
      if inter * 5 >= uni * 3
    } yield (a, b, 1000000L * inter / uni)).toSet
    assert(truth.size == 50, s"corpus design broke: ${truth.size} true pairs")
    def pairs(budget: Int): Set[(Long, Long, Long)] =
      PipelineQueries.d4cCore(spark, docs, stopGramBudget = budget).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Long]("jaccard_ppm"))).toSet
    val degraded = pairs(10)
    // exactness survives the degrade: every emitted pair is in the
    // brute-force truth set WITH the exact ppm (the verify is unchanged)
    assert(degraded.subsetOf(truth),
      s"degrade emitted unverified pairs: ${degraded.diff(truth).take(3)}")
    // and the recall delta vs the un-degraded run is measured, not guessed
    val full = pairs(PipelineQueries.D4cStopGramBudget)
    assert(full.subsetOf(truth))
    info(s"d4c recall: degraded ${degraded.size}/${truth.size}, " +
      s"full ${full.size}/${truth.size} (budget 10 vs default)")
    // the degrade must still be a useful operator, not a stub: it keeps
    // the majority of the true pairs on this corpus
    assert(degraded.size * 2 >= truth.size,
      s"degraded recall collapsed: ${degraded.size}/${truth.size}")
  }

  test("d6's union-find and label-propagation paths agree on random graphs") {
    import spark.implicits._
    val docIds = graft.Tables.t(spark, sf, "documents")
      .select("doc_id").as[Long].collect()
    val rnd = new scala.util.Random(7) // fixed seed: deterministic spec
    for (_ <- 1 to 3) {
      val raw = Seq.fill(150)(
        (docIds(rnd.nextInt(docIds.length)), docIds(rnd.nextInt(docIds.length))))
        .filter(p => p._1 != p._2)
      val und = raw.toDF("a", "b")
      val edges = und.union(und.select(col("b").as("a"), col("a").as("b"))).distinct()
      val nodes = docIds.toSeq.toDF("doc_id").withColumn("canon", col("doc_id"))
      def toMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("label")).toMap
      val uf = toMap(PipelineQueries.driverUnionFind(spark, sf, edges))
      val lp = toMap(PipelineQueries.propagateLabels(nodes, edges))
      assert(uf == lp)
    }
  }

  test("d6's driver and distributed branches agree: the adaptive entry equals the forced-distributed twin") {
    // d6's directed edges are at most twice (exact-dup edges ≤ docs, plus
    // simhash pairs); under the threshold the adaptive entry takes the
    // driver union-find branch, while d6b forces the distributed
    // label-propagation branch on the same edges. Same fixpoint.
    val maxEdges = 2 * (graft.Tables.t(spark, sf, "documents").count() +
      PipelineQueries.d3bSimhashPairs(spark, sf).count())
    assert(maxEdges <= PipelineQueries.D6DriverEdgeThreshold,
      s"$maxEdges edges could exceed the threshold: d6 might not take the driver branch")
    def run(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val driver = run(PipelineQueries.d6DupClusters(spark, sf))
    assert(driver.nonEmpty)
    assert(run(PipelineQueries.d6bDupClustersDist(spark, sf)) == driver,
      "distributed branch diverged from the driver branch")
  }

  test("a8s HLL estimate lands within 5% of the exact distinct count") {
    PipelineQueries.a8sApproxDistinct(spark, sf).collect().foreach { r =>
      val approx = r.getAs[Long]("approx_users").toDouble
      val exact = r.getAs[Long]("exact_users").toDouble
      assert(exact > 0)
      assert(math.abs(approx - exact) / exact <= 0.05,
        s"${r.getAs[String]("event_type")}: approx=$approx exact=$exact")
    }
  }

  test("a9s GK quantile estimates realize their target rank within 2%") {
    // An approx quantile v for target rank p is acceptable iff p falls inside
    // [rank(<v), rank(<=v)] widened by the sketch's guaranteed error band.
    val byType = graft.Tables.t(spark, sf, "events")
      .select("event_type", "value").collect()
      .groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(_.getDouble(1)) }
    PipelineQueries.a9sApproxQuantiles(spark, sf).collect().foreach { r =>
      val xs = byType(r.getAs[String]("event_type"))
      val p = r.getAs[Double]("p")
      val v = r.getAs[Double]("approx_value")
      val n = xs.length.toDouble
      val lo = xs.count(_ < v) / n
      val hi = xs.count(_ <= v) / n
      assert(lo - 0.02 <= p && p <= hi + 0.02,
        s"${r.getAs[String]("event_type")} p=$p v=$v rank=[$lo,$hi]")
    }
  }

  test("a10s CMS estimates respect the sketch's one-sided error bound") {
    val n = graft.Tables.t(spark, sf, "events").count()
    val rows = PipelineQueries.a10sCmsFreq(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      val exact = r.getAs[Long]("n_exact")
      val est = r.getAs[Long]("n_cms")
      // CMS never under-counts; over-counts by ≤ ε·N w.h.p. (ε = 0.001,
      // +1 slack for the unlikely tail at tiny N)
      assert(est >= exact, s"user ${r.getAs[Long]("user_id")}: $est < $exact")
      assert(est <= exact + math.max(1L, (0.001 * n).toLong * 2),
        s"user ${r.getAs[Long]("user_id")}: $est way above $exact")
    }
  }

  test("x9 vocab ids are dense, frequency-ordered, and tokens unique") {
    val rows = PipelineQueries.x9Vocab(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(rows.nonEmpty && rows.length <= 1000)
    assert(rows.map(_._3).toSeq == (1 to rows.length))
    assert(rows.map(_._1).distinct.length == rows.length)
    val ns = rows.map(_._2)
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
  }

  test("m3 decode→feature→ANN top-1 matches a driver-side brute force") {
    import graft.multimodal.Multimodal
    val blobs = graft.Tables.t(spark, sf, "documents")
      .withColumn("blob", col("text").cast(org.apache.spark.sql.types.BinaryType))
      .select("doc_id", "blob")
    // brute force over the ppm features computed by an INDEPENDENT local
    // decode (SqlCodec + the pooling loop re-run on the driver), exact
    // integer dots, cosine rounded at 6 like the query contract
    val feats = blobs.collect().map { r =>
      val im = Multimodal.SqlCodec.decodeImage(r.getLong(0), r.getAs[Array[Byte]](1))
      val f = new Array[Long](16)
      for (gy <- 0 until 4; gx <- 0 until 4) {
        val y0 = gy * im.height / 4; val y1 = (gy + 1) * im.height / 4
        val x0 = gx * im.width / 4; val x1 = (gx + 1) * im.width / 4
        var sum = 0L; var cnt = 0L
        for (y <- y0 until y1; x <- x0 until x1; c <- 0 until im.channels) {
          sum += im.pixels((y * im.width + x) * im.channels + c) & 0xff
          cnt += 1
        }
        f(gy * 4 + gx) = if (cnt == 0) 0L else sum * 1000000L / cnt
      }
      (im.doc_id, f)
    }
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    def cos(a: Array[Long], b: Array[Long]): Double =
      BigDecimal(dot(a, b).toDouble / (math.sqrt(dot(a, a).toDouble) * math.sqrt(dot(b, b).toDouble)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val live = feats.filter(f => dot(f._2, f._2) > 0)
    val expected = live.filter(_._1 < 10).map { case (qid, qv) =>
      val best = live.filter(_._1 != qid)
        .map { case (nid, nv) => (nid, cos(qv, nv)) }
        .minBy { case (nid, c) => (-c, nid) }
      (qid, best._1, best._2)
    }.sortBy(_._1).toSeq
    val got = PipelineQueries.m3FeatureAnn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected)
  }

  test("d7 contamination matches a driver-side brute force over raw grams") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def md5hex(t: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def split(t: String): String =
      if (java.lang.Long.parseLong(md5hex(t).take(8), 16) % 100 < 95) "train" else "eval"
    def grams(t: String): Set[String] = {
      val w = t.split(" ", -1)
      if (w.length < 4) Set.empty
      else (0 to w.length - 4).map(i => w.slice(i, i + 4).mkString(" ")).toSet
    }
    // brute force joins on the raw gram text — a cross-engine md5-prefix
    // collision in the query's 16-hex join key would surface here
    val ev = docs.filter(d => split(d._2) == "eval").flatMap(d => grams(d._2)).toSet
    val expected = docs.filter(d => split(d._2) == "train")
      .map(d => d._1 -> grams(d._2).count(ev.contains).toLong)
      .filter(_._2 > 0).toMap
    val got = PipelineQueries.d7Contamination(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    assert(expected.nonEmpty, "fixture has no cross-split overlap — test is vacuous")
  }

  test("d7's gramLen dial: flagged docs at n+1 nest inside n; counts match brute force at n=3") {
    // a shared (n+1)-gram contains two shared n-grams, so raising the gram
    // length can only shrink the flagged set — the structural guarantee
    // that makes gramLen the selectivity dial. The n=3 run is re-pinned
    // against an independent brute force (the n=4 default already is).
    def flagged(n: Int): Map[Long, Long] =
      PipelineQueries.d7Contamination(spark, sf, n).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val f3 = flagged(3); val f4 = flagged(4); val f5 = flagged(5)
    assert(f4.keySet.subsetOf(f3.keySet) && f5.keySet.subsetOf(f4.keySet),
      s"flagged sets not nested: |f3|=${f3.size} |f4|=${f4.size} |f5|=${f5.size}")
    assert(f3.nonEmpty, "no overlap at n=3 — dial test is vacuous")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def md5hex(t: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def split(t: String): String =
      if (java.lang.Long.parseLong(md5hex(t).take(8), 16) % 100 < 95) "train" else "eval"
    def grams(t: String): Set[String] = {
      val w = t.split(" ", -1)
      if (w.length < 3) Set.empty
      else (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" ")).toSet
    }
    val ev = docs.filter(d => split(d._2) == "eval").flatMap(d => grams(d._2)).toSet
    val expected = docs.filter(d => split(d._2) == "train")
      .map(d => d._1 -> grams(d._2).count(ev.contains).toLong)
      .filter(_._2 > 0).toMap
    assert(f3 == expected)
  }

  test("d10 incremental dedup: increment-only output, exact dominates, corpus-only matches") {
    val out = PipelineQueries.d10IncrementalDedup(spark, sf).collect()
    assert(out.nonEmpty)
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { r =>
      val id = r.getLong(0); val verdict = r.getString(1)
      assert(id % 4 == 0, s"$id is not an increment doc")
      assert(Set("exact_dup", "near_dup", "novel")(verdict), verdict)
      if (verdict == "novel") assert(r.isNullAt(2) && r.isNullAt(3))
      else {
        val m = r.getLong(2)
        assert(m % 4 != 0, s"match $m must be a corpus doc, never increment-vs-increment")
        if (verdict == "exact_dup") {
          assert(texts(id) == texts(m), s"$id exact-matched $m with different text")
          assert(r.getLong(3) == 1000000L)
        } else assert(r.getLong(3) >= 500000L, "near match below the Jaccard threshold")
      }
    }
  }

  test("d10 tiers on a planted fixture: exact beats near, near needs the threshold") {
    // the shipped testdata has no exact duplicates and few cross-split
    // near-dups, so both tiers are pinned on a purpose-built corpus:
    // doc 4 (increment) == docs 1 and 5 (corpus) verbatim → exact_dup with
    // the LOWEST corpus id; doc 8 is one word off corpus doc 2 → near_dup;
    // doc 12 shares nothing → novel
    import spark.implicits._
    // disjoint vocabularies per tier: the near pair must not also tie with
    // the exact-dup text at equal Jaccard
    val base = (1 to 30).map(i => s"a$i").mkString(" ")
    val near = (1 to 29).map(i => s"w$i").mkString(" ") + " zz"
    val dir = java.nio.file.Files.createTempDirectory("d10-fix").toString
    Seq(
      1L -> base, 5L -> base, 2L -> near.replace("zz", "yy"),
      3L -> "completely different text here entirely",
      4L -> base, 8L -> near, 12L -> "nothing shared with any corpus doc at all")
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = PipelineQueries.d10IncrementalDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(got(4L)._1 == "exact_dup" && got(4L)._2 == 1L && got(4L)._3 == 1000000L,
      s"doc 4: ${got(4L)}")
    assert(got(8L)._1 == "near_dup" && got(8L)._2 == 2L && got(8L)._3 >= 500000L,
      s"doc 8: ${got(8L)}")
    assert(got(12L) == (("novel", -1L, -1L)), s"doc 12: ${got(12L)}")
    assert(got.size == 2 + 1, "exactly the three increment docs appear")
  }

  test("d10 matches a driver-side brute force on a randomized corpus") {
    // independent reimplementation of BOTH tiers (md5 minhash bands
    // included — banding recall is part of the contract, a high-Jaccard
    // pair sharing no band is correctly absent), run against 120 random
    // docs over a tiny vocabulary so near-dups and exact dups both occur
    import spark.implicits._
    val rnd = new scala.util.Random(20260813L)
    val vocab = Vector("red", "blue", "fox", "dog", "run", "eat", "sky", "sea")
    def doc(): String = Seq.fill(8 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val buf = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    (1L to 120L).foreach { id =>
      // every 10th doc verbatim-copies an earlier one (exact dups) and
      // every 7th mutates one word of a LONG earlier doc (near dups, high
      // shingle overlap) — both land on each side of the id%4 split
      val t =
        if (id % 10 == 0) buf(rnd.nextInt(buf.size))._2
        else if (id % 7 == 0) {
          val base = buf.maxBy(_._2.length)._2.split(" ")
          base.updated(rnd.nextInt(base.length), "mut" + id).mkString(" ")
        } else doc()
      buf += id -> t
    }
    val texts = buf.toSeq
    val docs = texts.toDF("doc_id", "text")

    def md5hex(t: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def shingles(t: String): Seq[String] = {
      val w = t.split(" ", -1)
      if (w.length < 3) Nil
      else (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").distinct
    }
    def bands(sh: Seq[String]): Set[String] = {
      if (sh.isEmpty) return Set.empty
      val mins = Array.fill(8)("ffff")
      sh.foreach { g =>
        val h = md5hex(g)
        (0 until 8).foreach { p =>
          val sub = h.substring(4 * p, 4 * p + 4)
          if (sub < mins(p)) mins(p) = sub
        }
      }
      Seq((0, 1), (2, 3), (4, 5), (6, 7)).map { case (a, b) => md5hex(mins(a) + mins(b)) }.toSet
    }
    val sh = texts.map { case (id, t) => id -> shingles(t) }.toMap
    val bd = texts.map { case (id, t) => id -> bands(sh(id)) }.toMap
    val inc = texts.filter(_._1 % 4 == 0)
    val corp = texts.filter(_._1 % 4 != 0)
    val expected = inc.map { case (id, t) =>
      val exact = corp.filter(c => md5hex(c._2) == md5hex(t)).map(_._1).sorted.headOption
      lazy val nearCands = corp.filter(c => bd(id).intersect(bd(c._1)).nonEmpty)
        .flatMap { case (m, _) =>
          val inter = sh(id).toSet.intersect(sh(m).toSet).size.toLong
          val uni = sh(id).toSet.union(sh(m).toSet).size.toLong
          if (uni > 0 && inter * 2 >= uni) Some((1000000L * inter / uni, m)) else None
        }
      val best = nearCands.sortBy { case (jp, m) => (-jp, m) }.headOption
      (id,
        if (exact.isDefined) ("exact_dup", exact.get, 1000000L)
        else best.map { case (jp, m) => ("near_dup", m, jp) }.getOrElse(("novel", -1L, -1L)))
    }.toMap
    val got = PipelineQueries.incrementalDedup(
        docs.filter(col("doc_id") % 4 === 0), docs.filter(col("doc_id") % 4 =!= 0))
      .collect().map(r => r.getLong(0) -> ((r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, e) => assert(got(id) == e, s"doc $id: got ${got(id)}, want $e") }
    assert(expected.values.exists(_._1 == "near_dup"), "fixture produced no near dup — vacuous")
  }

  test("d10's asymmetric hot-band salting preserves the exact verdict set") {
    // 12 corpus docs share every band (identical long text) so any
    // threshold below 12 forces the salted branch; verdicts must be
    // byte-identical to the unsalted run
    import spark.implicits._
    val hot = (1 to 25).map(i => s"h$i").mkString(" ")
    val corpus = ((1L to 12L).map(i => (i * 2 + 1) -> hot) :+ (99L -> "totally unrelated corpus text here"))
      .toDF("doc_id", "text")
    val increment = Seq(4L -> ((1 to 24).map(i => s"h$i").mkString(" ") + " hx"),
      8L -> "nothing in common at all").toDF("doc_id", "text")
    def run(th: Long) = PipelineQueries.incrementalDedup(increment, corpus, th)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    val salted = run(2L)     // hot branch: 12-doc bands exceed threshold
    val plain = run(1000L)   // cold branch only
    assert(salted == plain, s"salted=$salted plain=$plain")
    assert(salted.exists(_._2 == "near_dup"), "fixture produced no near dup — vacuous")
  }

  test("x10 repetition matches a driver-side brute force") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.flatMap { case (id, t) =>
      val w = t.split(" ", -1)
      if (w.length < 2) None else {
        val bg = (0 until w.length - 1).map(i => w(i) + " " + w(i + 1))
        val counts = bg.groupBy(identity).map { case (_, v) => v.size.toLong }
        val nDup = counts.filter(_ > 1).sum
        Some((id, bg.size.toLong, nDup, 1000000L * nDup / bg.size))
      }
    }.sortBy(_._1).toSeq
    val got = PipelineQueries.x10Repetition(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(expected.exists(_._3 > 0) && expected.exists(t => t._4 < 1000000L),
      "fixture lacks score variance — test is vacuous")
  }

  test("sim4 k-means matches a driver-side Lloyd's run and reduces inertia") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(round(cast(x as double) * 1048576) as bigint) + 2097152) as v")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    def nearest(v: Array[Long], cents: Seq[(Long, Array[Long])]): (Long, Long) =
      cents.map { case (cid, cv) =>
        (v.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
      }.minBy { case (d, cid) => (d, cid) } match { case (d, cid) => (cid, d) }
    var cents = vecs.filter(_._1 < 8).sortBy(_._1).toSeq
    val inertia = Seq.newBuilder[Long]
    for (_ <- 0 until 2) {
      val asg = vecs.map { case (id, v) => (id, v, nearest(v, cents)) }
      inertia += asg.map(_._3._2).sum
      cents = asg.groupBy(_._3._1).map { case (cid, rows) =>
        val n = rows.length
        (cid, Array.tabulate(rows.head._2.length)(j => rows.map(_._2(j)).sum / n))
      }.toSeq.sortBy(_._1)
    }
    val expected = vecs.map { case (id, v) =>
      val (cid, d) = nearest(v, cents); (id, cid, d)
    }.sortBy(_._1).toSeq
    inertia += expected.map(_._3).sum
    val got = PipelineQueries.sim4KmeansCodebook(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    val Seq(i0, _, i2) = inertia.result()
    assert(i2 < i0, s"Lloyd's did not reduce inertia: $i0 -> $i2")
  }

  test("x11 packing equals a sequential prefix sum despite multi-partition execution") {
    // the two-phase prefix sum must agree with the obvious driver-side scan
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "cast(size(split(text, ' ')) as long) as n")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var cum = 0L
    val expected = docs.map { case (id, n) =>
      val before = cum; cum += n; (id, n, before / 2048L, before % 2048L)
    }.toSeq
    val got = PipelineQueries.x11Pack(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    // the fixture genuinely exercises the partition-boundary handoff
    assert(spark.sessionState.conf.numShufflePartitions > 1)
    assert(expected.last._3 > 0, "corpus fits one pack — boundary logic untested")
  }

  test("x12 LM score matches a driver-side brute force") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def bigrams(t: String): Seq[String] = {
      val w = t.split(" ", -1)
      if (w.length < 2) Seq.empty
      else (0 until w.length - 1).map(i => w(i) + " " + w(i + 1))
    }
    val model = docs.flatMap(d => bigrams(d._2))
      .groupBy(identity).map { case (bg, v) => (bg, v.size.toLong) }
    val expected = docs.flatMap { case (id, t) =>
      val bg = bigrams(t)
      if (bg.isEmpty) None else {
        val cSum = bg.map(model).sum
        Some((id, bg.size.toLong, cSum, cSum / bg.size))
      }
    }.sortBy(_._1).toSeq
    val got = PipelineQueries.x12LmScore(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    // the statistic discriminates: scores must not be all-equal
    assert(expected.map(_._4).distinct.size > 1)
  }

  test("x19b encodes with the PINNED artifact, matching an independent greedy-merge replay") {
    // independent reference: per word, apply the 10 pinned merges via the
    // same greedy leftmost non-overlapping semantics, implemented directly
    // on symbol vectors (no string replace) — a different mechanism than
    // the engine's compiled replace chain
    def encode(word: String): Int = {
      var sy = word.map(_.toString).toVector
      for ((_, a, b, m, _) <- PipelineQueries.X19Merges) {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < sy.length) {
          if (i + 1 < sy.length && sy(i) == a && sy(i + 1) == b) { out += m; i += 2 }
          else { out += sy(i); i += 1 }
        }
        sy = out.result()
      }
      sy.length
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.flatMap { case (id, t) =>
      val ws = t.split(" ", -1).filter(_.matches("[a-z]+"))
      if (ws.isEmpty) None else Some((id, ws.map(w => encode(w).toLong).sum))
    }.sortBy(_._1).toSeq
    val got = PipelineQueries.x19bEncodeOnly(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected)
    // the artifact must actually merge something on this corpus, or the
    // encode-only entry is indistinguishable from character counting
    val chars = docs.flatMap { case (id, t) =>
      val ws = t.split(" ", -1).filter(_.matches("[a-z]+"))
      if (ws.isEmpty) None else Some(ws.map(_.length.toLong).sum)
    }.sum
    assert(expected.map(_._2).sum < chars, "pinned merges never fired")
  }

  test("d2's band-shape dial: results nest as bands coarsen and as perms shrink; default = (8,4)") {
    def pairs(numPerms: Int, bands: Int): Set[(Long, Long, Long)] =
      PipelineQueries.d2MinhashLsh(spark, sf, numPerms, bands).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the registered entry is exactly the (8,4) shape — the oracle contract
    val default = PipelineQueries.d2MinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(default == pairs(8, 4) && default.nonEmpty)
    // at fixed perms, a coarser band is a superset run of a finer band's
    // minima, so its collisions imply the finer's: results nest 1 ⊆ 2 ⊆ 4 ⊆ 8
    val Seq(b1, b2, b4, b8) = Seq(1, 2, 4, 8).map(pairs(8, _))
    assert(b1.subsetOf(b2) && b2.subsetOf(b4) && b4.subsetOf(b8),
      s"band nesting violated: |b1|=${b1.size} |b2|=${b2.size} |b4|=${b4.size} |b8|=${b8.size}")
    // recall must actually move somewhere across the dial, or the pin is vacuous
    assert(b1.size < b8.size, "dial has no effect on this fixture")
    // at fixed rows-per-band, fewer perms = a PREFIX of the larger shape's
    // bands (the sim2 prefix-nesting discipline): (4,2) ⊆ (8,4)
    assert(pairs(4, 2).subsetOf(pairs(8, 4)), "prefix-perm nesting violated")
    // shapes that don't divide are rejected loudly
    intercept[IllegalArgumentException](PipelineQueries.d2MinhashLsh(spark, sf, 8, 3))
  }

  test("x12's hotK skew dial is result-invariant: 0 (no split) ≡ small ≡ larger-than-vocab") {
    // hot ∪ cold must be EXACTLY the original join for every split point —
    // hotK only moves occurrences between the broadcast and shuffled paths
    val base = PipelineQueries.x12LmScore(spark, sf, hotK = 0).collect().toSeq
    assert(base.nonEmpty)
    for (k <- Seq(1, 64, 1000000))
      assert(PipelineQueries.x12LmScore(spark, sf, hotK = k).collect().toSeq == base,
        s"hotK=$k changed results")
  }

  test("sim5/sim6 PQ dials: subK = corpus size degenerates ADC to exact L2, for any m") {
    // with one centroid per corpus vector, every seed subvector is its own
    // distance-0 centroid — an assignment Lloyd rounds cannot move — so PQ
    // codes reproduce subvectors exactly and ADC ≡ exact fixed-point L2
    // (sim3's "nProbe = nCells ≡ sim1" discipline applied to quantization)
    val vecs = graft.Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), expr(
        "transform(embedding, x -> cast(round(cast(x as double) * 1048576) as bigint) + 2097152)"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val n = vecs.length
    def fx(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(j => (a(j) - b(j)) * (a(j) - b(j))).sum
    val byId = vecs.toMap
    val exactTop3 = vecs.filter(_._1 < 10).flatMap { case (qid, qv) =>
      vecs.filter(_._1 != qid).map { case (id, v) => (fx(qv, v), id) }
        .sorted.take(3).zipWithIndex
        .map { case ((d, id), i) => (qid, id, i + 1, d) }
    }.sortBy(r => (r._1, r._3)).toSeq
    for (m <- Seq(2, 4, 8)) {
      val got = PipelineQueries.sim5PqAnn(spark, sf, m, n).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSeq
      assert(got == exactTop3, s"sim5 m=$m subK=$n is not the exact top-3")
    }
    for (m <- Seq(4, 8)) {
      // sim6 still PRUNES by coarse cell (nprobe's dial) but must SCORE
      // exactly: every returned adc_dist equals the true fixed-point L2
      val got = PipelineQueries.sim6IvfPq(spark, sf, m, n).collect()
      assert(got.nonEmpty)
      got.foreach { r =>
        val (qid, nid, d) = (r.getLong(0), r.getLong(1), r.getLong(3))
        assert(d == fx(byId(qid), byId(nid)),
          s"sim6 m=$m subK=$n: adc_dist $d != exact for ($qid,$nid)")
      }
    }
    // the registered entries are exactly the (4, 8) dial position
    assert(PipelineQueries.sim5PqAnn(spark, sf).collect().map(_.toSeq).toSeq ==
      PipelineQueries.sim5PqAnn(spark, sf, 4, 8).collect().map(_.toSeq).toSeq)
    assert(PipelineQueries.sim6IvfPq(spark, sf).collect().map(_.toSeq).toSeq ==
      PipelineQueries.sim6IvfPq(spark, sf, 4, 8).collect().map(_.toSeq).toSeq)
    intercept[IllegalArgumentException](PipelineQueries.sim5PqAnn(spark, sf, 3, 8))
  }

  test("sim5 PQ: complete ranked top-3 per query, ADC-ordered, with nontrivial recall") {
    val rows = PipelineQueries.sim5PqAnn(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 10, s"expected 10 queries, got ${byQ.size}")
    byQ.values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rnk")).sorted.sameElements(1 to 3))
      val ds = rs.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Long]("adc_dist"))
      assert(ds.sameElements(ds.sorted), "adc_dist not monotone in rank")
      rs.foreach(r => assert(r.getAs[Long]("neighbor_id") != r.getAs[Long]("query_id")))
    }
    // the quantized index must beat random guessing against the exact
    // baseline even on near-uniform embeddings (PQ's worst case)
    val exact = PipelineQueries.sim1CosineTopk(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val got = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    info(s"sim5 recall@3 vs sim1: $recall")
    assert(recall >= 0.1, s"PQ recall $recall indistinguishable from chance")
  }

  test("sim6 IVFPQ: ranked probed-cell top-3, and pruning costs recall vs unpruned PQ") {
    val rows = PipelineQueries.sim6IvfPq(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 10)
    byQ.values.foreach { rs =>
      assert(rs.length <= 3 && rs.nonEmpty)
      assert(rs.map(_.getAs[Int]("rnk")).sorted.sameElements(1 to rs.length))
      val ds = rs.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Long]("adc_dist"))
      assert(ds.sameElements(ds.sorted))
      rs.foreach(r => assert(r.getAs[Long]("neighbor_id") != r.getAs[Long]("query_id")))
    }
    def pairs(rws: Array[org.apache.spark.sql.Row]) =
      rws.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = pairs(PipelineQueries.sim1CosineTopk(spark, sf).collect())
    val recall = (exact & pairs(rows)).size.toDouble / exact.size
    // the composed index's residual codebooks must pay for the pruning:
    // recall stays within one pair of UNPRUNED sim5's (SCALING.md's claim)
    val pqRecall = (exact & pairs(PipelineQueries.sim5PqAnn(spark, sf).collect())).size.toDouble / exact.size
    info(s"sim6 recall@3 vs sim1: $recall (sim5 unpruned: $pqRecall)")
    assert(recall >= pqRecall - 1.0 / exact.size,
      s"IVFPQ recall $recall fell more than one pair below unpruned PQ's $pqRecall")
  }

  test("d8 span dedup matches a driver-side brute force") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val spans = docs.map { case (id, t) =>
      val w = t.split(" ", -1)
      val sp = if (w.length < 8) Set.empty[String]
        else (0 to w.length - 8).map(i => w.slice(i, i + 8).mkString(" ")).toSet
      (id, sp)
    }.filter(_._2.nonEmpty)
    val docFreq = spans.flatMap(_._2).groupBy(identity).map { case (s2, v) => (s2, v.size) }
    val expected = spans.map { case (id, sp) =>
      val shared = sp.count(docFreq(_) > 1).toLong
      (id, sp.size.toLong, shared, 1000000L * shared / sp.size)
    }.sortBy(_._1).toSeq
    val got = PipelineQueries.d8SpanDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(expected.exists(_._3 > 0), "no cross-document span — fixture vacuous")
    assert(expected.exists(t => t._3 < t._2), "every span shared — fixture vacuous")
  }

  test("w4 funnel matches a driver-side greedy scan and stage times are ordered") {
    val evs = graft.Tables.t(spark, sf, "events")
      .selectExpr("user_id", "unix_micros(ts) as us", "event_type")
      .filter("event_type in ('view','click','purchase')")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val expected = evs.groupBy(_._1).map { case (uid, rows) =>
      var stage = 0
      var t1, t2, t3 = Option.empty[Long]
      rows.sortBy(e => (e._2, e._3)).foreach { case (_, us, typ) =>
        if (stage == 0 && typ == "view") { stage = 1; t1 = Some(us) }
        else if (stage == 1 && typ == "click" && us > t1.get) { stage = 2; t2 = Some(us) }
        else if (stage == 2 && typ == "purchase" && us > t2.get) { stage = 3; t3 = Some(us) }
      }
      (uid, stage, t1, t2, t3)
    }.toSeq.sortBy(_._1)
    val got = PipelineQueries.w4Funnel(spark, sf).collect().map { r =>
      def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
      (r.getLong(0), r.getInt(1), opt(2), opt(3), opt(4))
    }.toSeq
    assert(got == expected)
    got.foreach { case (_, stage, t1, t2, t3) =>
      if (stage >= 2) assert(t1.get < t2.get)
      if (stage == 3) assert(t2.get < t3.get)
    }
    // events are dense at this SF, so every user converting is expected; the
    // discriminating check is the brute-force equality above plus full
    // conversion actually exercising all three transitions
    assert(got.exists(_._2 == 3), "no user converts — transitions untested")
  }

  test("x13 mixing weights: shares sum to ~1e6 and the 4x cap binds") {
    val rows = PipelineQueries.x13MixWeights(spark, sf).collect()
    val shareSum = rows.map(_.getAs[Long]("share_ppm")).sum
    // floors: the sum loses at most 1 ppm per slice
    assert(shareSum <= 1000000L && shareSum > 1000000L - rows.length)
    rows.foreach { r =>
      val w = r.getAs[Long]("weight_ppm")
      assert(w >= 0L && w <= 4000000L)
      assert(r.getAs[Long]("n_tokens") > 0L)
    }
    // a uniform-target weight below the cap must exist (else the cap test is vacuous)
    assert(rows.exists(_.getAs[Long]("weight_ppm") < 4000000L))
  }

  test("d9 semantic dedup drops the less-central member of every flagged pair") {
    val asg = PipelineQueries.sim4KmeansCodebook(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap // id -> (cell, dist)
    val pairs = PipelineQueries.d9SemDedup(spark, sf).collect()
    assert(pairs.nonEmpty, "no semantic near-dups flagged — fixture vacuous")
    pairs.foreach { r =>
      val (a, b) = (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))
      val drop = r.getAs[Long]("drop_id")
      assert(a < b)
      assert(r.getAs[Double]("cos") >= 0.30)
      assert(asg(a)._1 == asg(b)._1 && asg(a)._1 == r.getAs[Long]("cell"),
        "pair crosses clusters")
      val keep = if (drop == a) b else a
      assert(Set(a, b)(drop))
      assert(asg(drop)._2 > asg(keep)._2 ||
        (asg(drop)._2 == asg(keep)._2 && drop > keep),
        s"drop rule violated for ($a,$b)")
    }
  }

  test("scaled-dial twins: the √n dial is the footer-derived formula, and both twins stay sound") {
    // the dial the oracle replays as GREATEST(8, CEIL(SQRT(COUNT(*))))
    val n = graft.Tables.rowCount(spark, s"$sf/embeddings.parquet")
    val expect = math.max(8L, math.ceil(math.sqrt(n.toDouble)).toLong).toInt
    assert(PipelineQueries.scaledCellCount(spark, sf) == expect)
    assert(expect > 8, s"fixture vacuous: √$n dial must actually exceed the fixed dial")
    // d9b soundness is dial-independent (threshold + same-cell + drop rule)
    val asg = PipelineQueries.sim4KmeansCodebook(spark, sf, expect).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    PipelineQueries.d9bSemDedupScaled(spark, sf).collect().foreach { r =>
      val (a, b) = (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))
      assert(r.getAs[Double]("cos") >= 0.30 && asg(a)._1 == asg(b)._1)
    }
    // sim7b: every query reports ≤3 ranked neighbors from its probed cells
    val rows = PipelineQueries.sim7bIncrementalAnnScaled(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("rnk")).sorted.toSeq == (1 to rs.length))
      assert(rs.length <= 3)
    }
  }

  test("d5b: pruned NN never beats exact, and the n^¼ probe dial holds its measured recall") {
    // Pruned-recall contract: d5b's best-in-probed-cells cosine can never
    // EXCEED d5's exact best (the probed candidate set is a subset of the
    // corpus). Recall on THIS corpus is the measured artifact (sim9/d12
    // discipline): the synthetic embeddings are diffuse (no pair above
    // cos 0.5 at this sf), so arbitrary-NN recall is the IVF worst case —
    // measured 0.52 at sf0.001 / 0.50 at sf0.01 with nProbe = ⌈n^¼⌉
    // (up from 0.31 at nProbe=2). Floor pinned under the measurement;
    // the operator's real contract (near-DUP recovery) is the next test.
    val exact = PipelineQueries.d5EmbeddingNn(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos")).toMap
    val pruned = PipelineQueries.d5bEmbeddingNnScaled(spark, sf).collect()
    assert(pruned.nonEmpty)
    assert(pruned.map(_.getAs[Long]("vec_id")).distinct.length == pruned.length)
    var hits = 0
    pruned.foreach { r =>
      val (id, cos) = (r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))
      assert(cos <= exact(id) + 1e-9, s"pruned cos $cos beats exact ${exact(id)} for $id")
      if (cos >= exact(id) - 1e-9) hits += 1
    }
    assert(hits * 100 >= pruned.length * 45,
      s"recall ${hits.toDouble / pruned.length} below the measured 0.45 floor")
  }

  test("d5b planted near-dups: a perturbed copy of every corpus vector finds its source") {
    // The contract that matters at 100 TB: d5's JOB is near-duplicate
    // detection, and a true near-dup (cos ≈ 1) lands in (or next to) its
    // source's home cell, so the pruned probe recovers it even though
    // arbitrary-NN recall on diffuse vectors is ~0.5. Perturb every corpus
    // vector by a tiny deterministic epsilon and probe the index: the
    // source must come back as the top-1 neighbor at cos ≥ 0.999 for at
    // least 95% of vectors (boundary-cell assignments may flip for the
    // rest — that misses only vectors with no close neighbor at all).
    import spark.implicits._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) AS v")
      .selectExpr("vec_id", "v",
        "sqrt(aggregate(v, 0.0d, (a, x) -> a + x * x)) AS nrm")
      .filter("nrm > 0").as[(Long, Array[Double], Double)]
    val n = vecs.count()
    val nCells = PipelineQueries.scaledCellCount(spark, sf)
    val nProbe = PipelineQueries.scaledProbeCount(spark, sf)
    val index = PipelineQueries.prepareVectorIndex(vecs, nCells)
    val planted = vecs.map { case (id, v, _) =>
      val p = v.zipWithIndex.map { case (x, i) => x * (1.0 + 1e-4 * ((id + i) % 3 - 1)) }
      val pn = math.sqrt(p.map(x => x * x).sum)
      (id + 1000000L, p, pn)
    }
    val probed = PipelineQueries.sim7Probe(planted, index, nProbe).collect()
    val top1 = probed.filter(_.getAs[Int]("rnk") == 1)
      .map(r => r.getAs[Long]("query_id") -> ((r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos")))).toMap
    val good = top1.count { case (qid, (nn, cos)) => nn == qid - 1000000L && cos >= 0.999 }
    assert(good * 100 >= n * 95,
      s"planted near-dup recall $good/$n below 0.95 — the probe misses true duplicates")
  }

  test("d9's k knob: higher k shrinks cells, and any k yields a sound dedup") {
    // SCALING.md's production dial made code: at 10⁹ vectors you raise k to
    // hold cell size (and so within-cell pair work) constant. Soundness is
    // k-independent — every emitted pair must really clear the cosine
    // threshold and drop its less-central member — while cell occupancy
    // must actually respond to the dial.
    def cellSizes(k: Int): Map[Long, Int] =
      PipelineQueries.sim4KmeansCodebook(spark, sf, k).collect()
        .groupBy(_.getLong(1)).map { case (c, rs) => c -> rs.length }
    val max8 = cellSizes(8).values.max
    val max32 = cellSizes(32).values.max
    assert(max32 < max8, s"k=32 max cell $max32 !< k=8 max cell $max8")
    val asg = PipelineQueries.sim4KmeansCodebook(spark, sf, 32).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val pairs = PipelineQueries.d9SemDedup(spark, sf, 32).collect()
    pairs.foreach { r =>
      val (a, b) = (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))
      assert(r.getAs[Double]("cos") >= 0.30)
      assert(asg(a)._1 == asg(b)._1, "pair crosses clusters")
      val drop = r.getAs[Long]("drop_id")
      val keep = if (drop == a) b else a
      assert(asg(drop)._2 > asg(keep)._2 ||
        (asg(drop)._2 == asg(keep)._2 && drop > keep))
    }
  }

  test("x14 tokenization round-trips through the x9 vocabulary") {
    val vocab = PipelineQueries.x9Vocab(spark, sf).collect()
      .map(r => r.getAs[Int]("vocab_id") -> r.getAs[String]("tok")).toMap
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = PipelineQueries.x14Tokenize(spark, sf).collect()
    assert(rows.length == texts.size)
    val inVocab = vocab.values.toSet
    rows.foreach { r =>
      val ids = r.getAs[String]("ids_csv").split(",", -1).map(_.toInt)
      val toks = texts(r.getAs[Long]("doc_id")).split(" ", -1)
      assert(ids.length == toks.length && ids.length == r.getAs[Long]("n_tokens"))
      assert(ids.count(_ == 0) == r.getAs[Long]("n_oov"))
      ids.zip(toks).foreach { case (id, tok) =>
        if (id == 0) assert(!inVocab(tok), s"in-vocab token '$tok' encoded as OOV")
        else assert(vocab(id) == tok, s"id $id decoded wrong")
      }
    }
    assert(rows.nonEmpty)
  }

  test("x16 shard shuffle: dense per-shard positions, full coverage, real permutation") {
    val rows = PipelineQueries.x16ShardShuffle(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shard"), r.getAs[Long]("pos")))
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.length == n && rows.map(_._1).distinct.length == n)
    // registered entry derives the shard count from the corpus row count
    val nShards = math.max(1L, n / PipelineQueries.X16RowsPerShard)
    assert(nShards > 1, s"fixture too small for a multi-shard check ($n docs)")
    assert(rows.forall(r => r._2 >= 0 && r._2 < nShards))
    assert(rows.map(_._2).distinct.length > 1, "all docs landed in one shard")
    rows.groupBy(_._2).values.foreach { sh =>
      assert(sh.map(_._3).sorted.sameElements(0L until sh.length), "positions not dense")
    }
    // the seeded permutation must not degenerate to doc_id order
    val inOrder = rows.sortBy(_._1).map(r => (r._2, r._3))
    assert(inOrder.sliding(2).exists { case Array(a, b) => a._1 == b._1 && a._2 > b._2; case _ => false },
      "shuffle preserved doc_id order — permutation vacuous")
  }

  test("g1 pagerank matches a driver-side fixed-point iteration") {
    val pairs = graft.Tables.t(spark, sf, "orders")
      .join(graft.Tables.t(spark, sf, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .selectExpr("concat('c', o_custkey) AS c", "concat('s', l_suppkey) AS s")
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
    val edges = pairs.map { case (c, p) => (c, p) } ++ pairs.map { case (c, p) => (p, c) }
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    var rank = deg.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 4) {
      val contrib = edges.groupBy(_._2).view.mapValues(
        _.map { case (src, _) => rank(src) / deg(src) }.sum).toMap
      rank = contrib.map { case (n, c) => n -> (150000L + 850000L * c / 1000000L) }
    }
    val expected = rank.toSeq.sortBy { case (n, r) => (-r, n) }.take(50)
    val got = PipelineQueries.g1Pagerank(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expected)
    // damping floor: no node can fall below the teleport mass
    assert(got.forall(_._2 >= 150000L))
  }

  test("x17 novelty: shard 0 is all-novel, novel counts partition the gram universe") {
    val rows = PipelineQueries.x17Novelty(spark, sf).collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_novel"), r.getAs[Long]("novel_ppm")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == (0L until rows.length))
    // the first crawl increment has no predecessor: everything it holds is new
    assert(rows.head._3 == rows.head._2 && rows.head._4 == 1000000L)
    rows.foreach { case (_, total, novel, ppm) =>
      assert(novel <= total && ppm == novel * 1000000L / total)
    }
    // each distinct gram is novel in exactly one shard (its first), so the
    // novel counts partition the global gram universe
    import org.apache.spark.sql.functions.{col, explode}
    val universe = graft.Tables.t(spark, sf, "documents")
      .withColumn("w", org.apache.spark.sql.functions.split(col("text"), " "))
      .filter(org.apache.spark.sql.functions.size(col("w")) >= 3)
      .selectExpr("explode(array_distinct(transform(sequence(0, size(w)-3), " +
        "i -> concat_ws(' ', w[i], w[i+1], w[i+2])))) AS g")
      .select("g").distinct().count()
    assert(rows.map(_._3).sum == universe)
  }

  test("x15 profile: key column is unique, nothing is null, bounds bracket values") {
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    val byCol = PipelineQueries.x15Profile(spark, sf).collect()
      .map(r => r.getAs[String]("column_name") -> r).toMap
    assert(byCol.keySet == Set("doc_id", "lang", "n_chars", "source", "text"))
    byCol.values.foreach { r =>
      assert(r.getAs[Long]("n_nonnull") == n, "unexpected nulls")
      assert(r.getAs[Long]("n_empty") == 0L)
      assert(r.getAs[String]("min_str") <= r.getAs[String]("max_str"))
    }
    assert(byCol("doc_id").getAs[Long]("n_distinct") == n, "doc_id not unique")
    assert(byCol("lang").getAs[Long]("n_distinct") < 20, "lang cardinality implausible")
  }

  test("pipe1 curation covers every document once and populates the verdict classes") {
    val rows = PipelineQueries.pipe1Curate(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("verdict")))
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.length == nDocs, "a verdict per document, exactly")
    assert(rows.map(_._1).distinct.length == rows.length)
    val byVerdict = rows.groupBy(_._2).view.mapValues(_.length).toMap
    // exact_dup is legitimately empty at this SF (the corpus has no
    // duplicate texts below sf0.1); every other class must be exercised
    val expectedClasses =
      Set("holdout", "contaminated", "boilerplate", "non_en", "low_quality", "keep")
    expectedClasses.foreach { c =>
      assert(byVerdict.getOrElse(c, 0) > 0, s"verdict class '$c' unexercised: $byVerdict")
    }
    assert(byVerdict.keySet.subsetOf(expectedClasses + "exact_dup"))
    // holdout is exactly the eval split: 5%-ish by the md5 rule
    val nEval = byVerdict("holdout")
    assert(nEval > 0 && nEval < nDocs / 10, s"holdout size $nEval implausible")
  }

  test("d1 exact dedup marks only non-canonical copies as dups") {
    val rows = PipelineQueries.d1ExactDedup(spark, sf).collect()
    rows.foreach { r =>
      val dup = r.getAs[Int]("is_dup")
      val self = r.getAs[Long]("doc_id") == r.getAs[Long]("canonical_id")
      assert(dup == (if (self) 0 else 1))
      assert(r.getAs[Long]("canonical_id") <= r.getAs[Long]("doc_id"))
    }
  }

  /** First 15 md5 hex chars of `t` as a 60-bit long — the shared cross-engine
    * digest (x12/x17/x20/x21's bucket key).
    */
  private def md5Prefix60(t: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  test("x20 classifier scores match a driver-side brute force and discriminate") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.flatMap { case (id, t) =>
      val w = t.split(" ", -1)
      if (w.isEmpty) None else {
        val sum = w.map(tk =>
          PipelineQueries.X20Weights((md5Prefix60(tk) % PipelineQueries.X20Buckets).toInt)).sum
        val score = sum / w.length
        Some((id, w.length.toLong, score, if (score >= 500000L) 1 else 0))
      }
    }.sortBy(_._1).toSeq
    val got = PipelineQueries.x20QualityClassifier(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(got == expected)
    // the statistic discriminates: scores vary across documents
    assert(expected.map(_._3).distinct.size > 1)
  }

  test("x21 importance weights match a driver-side brute force; corpus mean sits near parity") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val D = PipelineQueries.X21Buckets
    def bucket(tk: String): Int = (md5Prefix60(tk) % D).toInt
    val all = docs.flatMap { case (_, lang, t) =>
      t.split(" ", -1).map(tk => (bucket(tk), lang == "en"))
    }
    val cr = all.groupBy(_._1).map { case (b, v) => (b, v.length.toLong) }
    val ct = all.filter(_._2).groupBy(_._1).map { case (b, v) => (b, v.length.toLong) }
    val nr = all.length.toLong
    val nt = all.count(_._2).toLong
    def ratio(b: Int): Long = {
      val r1 = ((ct.getOrElse(b, 0L) + 1L) * 1000000L) / (cr.getOrElse(b, 0L) + 1L)
      val scale = ((nr + D) * 1000000L) / (nt + D)
      (r1 * scale) / 1000000L
    }
    val expected = docs.flatMap { case (id, _, t) =>
      val w = t.split(" ", -1)
      if (w.isEmpty) None else {
        val wsum = w.map(tk => ratio(bucket(tk))).sum
        Some((id, w.length.toLong, wsum / w.length))
      }
    }.sortBy(_._1).toSeq
    val got = PipelineQueries.x21ImportanceWeights(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // add-one smoothing and integer truncation pull the token-weighted mean
    // ratio below exact parity (1e6 ppm) but it must stay the same order —
    // the importance weights are a reweighting, not a rescaling
    val mean = expected.map(_._3).sum / expected.length
    assert(mean > 200000L && mean < 2000000L, s"corpus mean weight $mean implausible")
  }

  test("x22 source cap matches a driver-side brute force; kept sets nest as the cap rises") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def md5hex(t: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def brute(cap: Int): Seq[(Long, String, Long, Long)] =
      docs.groupBy(_._2).toSeq.flatMap { case (src, grp) =>
        val ranked = grp.sortBy(d => (md5hex(d._3), d._1)).zipWithIndex
        ranked.filter(_._2 < cap).map { case ((id, s0, _), i) =>
          (id, s0, i + 1L, grp.length.toLong)
        }
      }.sortBy(_._1)
    def run(cap: Int): Seq[(Long, String, Long, Long)] =
      PipelineQueries.x22SourceCap(spark, sf, cap).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    // the dial must BIND at this sf (sources hold ~5 docs at sf0.001)
    val c2 = run(2)
    assert(c2 == brute(2))
    assert(c2.size < docs.length, "cap=2 did not truncate any source — vacuous")
    // kept sets nest: every cap=2 survivor survives cap=4, with the same rank
    val c4 = run(4)
    assert(c2.map(r => (r._1, r._3)).toSet.subsetOf(c4.map(r => (r._1, r._3)).toSet))
    // a cap beyond every source size keeps the whole corpus
    assert(run(1000).size == docs.length)
  }

  test("sim7 incremental ANN: recall monotone in nProbe; probing every cell is exact") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as v")
      .selectExpr("vec_id", "v", "sqrt(aggregate(v, 0D, (acc, x) -> acc + x * x)) as nrm")
      .filter("nrm > 0")
      .as[(Long, Array[Double], Double)]
    val inc = vecs.filter(col("vec_id") % 4 === 0)
    val idxVecs = vecs.filter(col("vec_id") % 4 =!= 0)
    val index = PipelineQueries.prepareVectorIndex(idxVecs, 8)
    def pairs(np: Int) = PipelineQueries.sim7Probe(inc, index, np).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    // exact ground truth: full scan of the index side per increment vector
    def cos(a: (Long, Array[Double], Double), b: (Long, Array[Double], Double)): Double = {
      var d = 0.0; var k = 0
      while (k < a._2.length) { d += a._2(k) * b._2(k); k += 1 }
      math.rint(d / (a._3 * b._3) * 1e6) / 1e6
    }
    val incL = inc.collect(); val idxL = idxVecs.collect()
    val exact = incL.flatMap { q =>
      idxL.map(c => (q._1, c._1, cos(q, c))).sortBy { case (_, n, c) => (-c, n) }
        .take(3).map { case (qid, n, _) => (qid, n) }
    }.toSet
    // probe lists are nested prefixes of the same sorted cell ranking, so
    // candidate sets nest and recall can only rise with nProbe; at
    // nProbe = nCells every cell is probed and the nightly probe degenerates
    // to the exact scan — the structural guarantee that makes the dial safe
    val recalls = Seq(1, 2, 8).map(np => (exact & pairs(np)).size.toDouble / exact.size)
    assert(recalls == recalls.sorted, s"recall not monotone in nProbe: $recalls")
    assert(recalls.last == 1.0 && pairs(8) == exact,
      "nProbe = nCells must recover the exact top-3")
    // and the registered split binds the same contract
    assert(PipelineQueries.sim7IncrementalAnn(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet == pairs(2))
  }

  test("pipe2 indexes exactly the docs surviving dedup → classifier → quota") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def md5hex(t: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // gate 1: d1 canonicals
    val canon = docs.groupBy(d => md5hex(d._3)).values.map(_.minBy(_._1)._1).toSet
    // gate 2: x20 keep
    val keep = docs.filter { case (id, _, t) =>
      canon(id) && {
        val w = t.split(" ", -1)
        w.nonEmpty &&
          w.map(tk => PipelineQueries.X20Weights(
            (md5Prefix60(tk) % PipelineQueries.X20Buckets).toInt)).sum / w.length >= 500000L
      }
    }
    // gate 3: x22 quota among survivors
    val survivors = keep.groupBy(_._2).values.flatMap(
      _.sortBy(d => (md5hex(d._3), d._1)).take(20).map(_._1)).toSet
    // decode the indexed doc set back out of the postings
    val B = PipelineQueries.X23Block
    val indexed = PipelineQueries.pipe2IndexBuild(spark, sf).collect().flatMap { r =>
      val block = r.getLong(1)
      r.getString(3).split(",").map(e => block * B + e.split(":")(0).toLong)
    }.toSet
    assert(indexed == survivors)
    // the composition must actually gate: the index holds fewer docs than
    // the corpus (at sf0.001 the classifier alone rejects a visible slice)
    assert(survivors.size < docs.length,
      s"no gate bound: ${survivors.size} of ${docs.length} docs indexed")
  }

  test("sim7's nCells dial: more cells shrink the max cell; exactness holds at any shape") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as v")
      .selectExpr("vec_id", "v", "sqrt(aggregate(v, 0D, (acc, x) -> acc + x * x)) as nrm")
      .filter("nrm > 0")
      .as[(Long, Array[Double], Double)]
    val idxVecs = vecs.filter(col("vec_id") % 4 =!= 0)
    val inc = vecs.filter(col("vec_id") % 4 === 0)
    def maxCell(nCells: Int): Long =
      PipelineQueries.prepareVectorIndex(idxVecs, nCells).assigned
        .groupBy("cell").count().agg(org.apache.spark.sql.functions.max("count"))
        .first().getLong(0)
    // the 100 TB cure for cell growth: nCells ∝ √n — more cells must
    // actually shrink the biggest cell on this corpus, or the dial is fake
    assert(maxCell(16) < maxCell(4),
      s"16 cells (max ${maxCell(16)}) did not shrink the 4-cell max ${maxCell(4)}")
    // and the nProbe = nCells degeneration to the exact scan holds at a
    // NON-default shape too — the dial is safe to turn, not just to own
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = pairs(PipelineQueries.sim7Probe(inc,
      PipelineQueries.prepareVectorIndex(idxVecs, 8), nProbe = 8))
    val at16 = pairs(PipelineQueries.sim7Probe(inc,
      PipelineQueries.prepareVectorIndex(idxVecs, 16), nProbe = 16))
    assert(at16 == exact, "full probe at 16 cells diverged from full probe at 8")
  }

  test("x23 inverted index matches a driver-side brute force; rows are block-bounded") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val B = PipelineQueries.X23Block
    val expected = docs.flatMap { case (id, t) =>
      t.split(" ", -1).filter(_.nonEmpty).groupBy(identity).map {
        case (term, occ) => (term, id, occ.length.toLong)
      }
    }.groupBy { case (term, id, _) => (term, id / B) }.toSeq.map {
      case ((term, block), grp) =>
        val sorted = grp.sortBy(_._2)
        (term, block, sorted.length.toLong,
          sorted.map { case (_, id, tf) => s"${id % B}:$tf" }.mkString(","))
    }.sortBy(r => (r._1, r._2))
    val got = PipelineQueries.x23InvertedIndex(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(got == expected)
    // the structural row-width bound: no posting row spans more than a block
    assert(got.forall(_._3 <= B), "a posting row exceeded the block span")
    // hot terms split across blocks rather than widening one row
    assert(got.groupBy(_._1).exists(_._2.size > 1) || docs.length <= B,
      "no term occupies multiple blocks — block split unexercised")
    // block dial invariance: any block size decodes to the identical
    // (term, doc, tf) multiset — the dial picks row width, never content
    def decode(rows: Seq[(String, Long, Long, String)], b: Long) =
      rows.flatMap { case (term, blk, _, ps) =>
        ps.split(",").map { e =>
          val Array(rel, tf) = e.split(":"); (term, blk * b + rel.toLong, tf.toLong)
        }
      }.toSet
    val tiny = PipelineQueries.x23InvertedIndex(spark, sf, 16L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(tiny.forall(_._3 <= 16L))
    assert(decode(tiny, 16L) == decode(got, B), "block dial changed the decoded postings")
  }

  test("x24 drift report matches a driver-side brute force and detects the en shift") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val D = PipelineQueries.X24Buckets
    val toks = docs.flatMap { case (lang, t) =>
      t.split(" ", -1).map(tk => ((md5Prefix60(tk) % D).toInt, lang == "en"))
    }
    val ca = toks.filter(_._2).groupBy(_._1).map { case (b, v) => (b, v.length.toLong) }
    val cb = toks.filter(!_._2).groupBy(_._1).map { case (b, v) => (b, v.length.toLong) }
    val (na, nb) = (toks.count(_._2).toLong, toks.count(!_._2).toLong)
    val expected = (ca.keySet ++ cb.keySet).toSeq.sorted.map { b =>
      val (a0, b0) = (ca.getOrElse(b, 0L), cb.getOrElse(b, 0L))
      val (pa, pb) = (a0 * 1000000L / na, b0 * 1000000L / nb)
      (b.toLong, a0, b0, pa, pb, math.abs(pa - pb))
    }
    val got = PipelineQueries.x24DriftReport(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected)
    // TV = half the contribution sum, a true distance in [0, 1e6] ppm; the
    // en-vs-rest token mixes genuinely differ, so drift must register
    val tv = got.map(_._6).sum / 2
    assert(tv > 0 && tv <= 1000000L, s"TV distance $tv ppm out of range")
  }

  test("g2 closed forms: a clique counts C(n-1,2) per node; a star has no triangles") {
    import spark.implicits._
    // one shared group of 10 nodes → K10: every node sits in C(9,2) = 36
    // triangles — exercises the (degree, id) orientation on all-equal
    // degrees, where only the id tiebreak orders the edges
    val clique = (1L to 10L).map(p => (1L, p)).toDF("ok", "pk")
    val k10 = PipelineQueries.trianglesOfMemberships(clique).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(k10.toSeq.sorted == (1L to 10L).map(p => (p, 36L)))
    // a star (hub in every 2-node group, leaves pairwise disjoint) is
    // triangle-free: the wedge set is huge, the closure empty
    val star = (1L to 20L).flatMap(l => Seq((l, 0L), (l, l + 100L))).toDF("ok", "pk")
    assert(PipelineQueries.trianglesOfMemberships(star).count() == 0L)
    // the scale path (keyed wedge joins, engaged past G2BroadcastEdges)
    // produces the identical counts on clique, star, AND the real corpus
    assert(PipelineQueries.trianglesOfMemberships(clique, forceJoinPath = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted ==
      (1L to 10L).map(p => (p, 36L)))
    assert(PipelineQueries.trianglesOfMemberships(star, forceJoinPath = true).count() == 0L)
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val broadcastPath = PipelineQueries.trianglesOfMemberships(li).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val joinPath = PipelineQueries.trianglesOfMemberships(li, forceJoinPath = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(broadcastPath == joinPath && broadcastPath.nonEmpty,
      "the two triangle closure paths diverged on the real corpus")
  }

  test("x22 two-phase pre-cut equals the naive window under a forced mega-source") {
    import spark.implicits._
    // one hot source with 2000 docs over 8 input partitions + two small
    // ones: the per-(source, pid) pre-cut must keep the global top-cap
    val docs = ((1L to 2000L).map(i => (i, "hot", s"doc $i body")) ++
      (3000L to 3004L).map(i => (i, "cold_a", s"text $i")) ++
      (4000L to 4002L).map(i => (i, "cold_b", s"blob $i")))
      .toDF("doc_id", "source", "text").repartition(8)
    def md5hex(t: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val cap = 7
    val expected = docs.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .groupBy(_._2).toSeq.flatMap { case (src, grp) =>
        grp.sortBy(d => (md5hex(d._3), d._1)).take(cap).zipWithIndex
          .map { case ((id, s0, _), i) => (id, s0, i + 1L, grp.length.toLong) }
      }.sortBy(_._1)
    val got = PipelineQueries.sourceCapOf(docs, cap).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(got.count(_._2 == "hot") == cap, "mega-source not truncated to the cap")
  }

  test("g2 triangle counts match a driver-side brute force; total is divisible by 3") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val edges = li.groupBy(_._1).values.flatMap { grp =>
      val ps = grp.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.toSet
    val adj = edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (n, v) => (n, v.map(_._2).toSet) }
    val perNode = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((u, v) <- edges; w <- adj(u) & adj(v) if u < v && v < w) {
      perNode(u) += 1; perNode(v) += 1; perNode(w) += 1
    }
    val expected = perNode.toSeq.sortBy(_._1)
    val got = PipelineQueries.g2Triangles(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected)
    val total = got.map(_._2).sum
    assert(total > 0 && total % 3 == 0, s"summed per-node counts $total not 3×triangles")
  }

  test("d11 span removal matches brute force, keeps one copy of everything, and is a fixed point") {
    val b = 8
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    def blocks(t: String): Seq[String] =
      t.split(" ", -1).grouped(b).map(_.mkString(" ")).toSeq
    // brute force: first (doc, idx) occurrence of each block content wins
    val first = scala.collection.mutable.Map.empty[String, (Long, Int)]
    for ((id, t) <- docs; (blk, i) <- blocks(t).zipWithIndex)
      if (!first.contains(blk)) first(blk) = (id, i)
    val expected = docs.map { case (id, t) =>
      val bs = blocks(t)
      val kept = bs.zipWithIndex.filter { case (blk, i) => first(blk) == (id, i) }
      (id, bs.size.toLong, kept.size.toLong, kept.map(_._1).mkString(" "))
    }.toSeq
    val got = PipelineQueries.d11SpanRemoval(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(got == expected)
    // removal actually fired, and no content vanished: every distinct block
    // of the input survives exactly once in the cleaned corpus
    assert(got.exists(r => r._3 < r._2), "no duplicated block removed — fixture degenerate")
    val cleanedBlocks = got.flatMap(r => if (r._4.isEmpty) Nil else blocks(r._4))
    assert(cleanedBlocks.size == cleanedBlocks.distinct.size,
      "cleaned corpus still contains a duplicated block")
    // fixed point + losslessness in one check: the cleaned corpus holds
    // exactly the input's distinct block contents, once each — so a second
    // removal pass can never find another cross-document duplicate
    assert(cleanedBlocks.toSet == docs.flatMap(d => blocks(d._2)).toSet,
      "block content lost or invented by removal")
  }

  test("x26 normalization recovers canonical text, is idempotent, and exposes every variant pair") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def norm(t: String): String =
      t.toLowerCase.replaceAll("[^a-z0-9 ]", " ").replaceAll(" +", " ").trim
    def dirty(id: Long, t: String): String = (id % 3) match {
      case 0 => t.toUpperCase + " !!"
      case 1 => t.replace(" ", "  ") + " ?"
      case _ => " " + t + "."
    }
    // corpus-independence of the contract: every dirt class alters even the
    // hostile shapes (empty / single-token text), so the variant pair can
    // never collide raw
    for (t <- Seq("", "a"); id <- 0L to 2L)
      assert(dirty(id, t) != t, s"dirt class ${id % 3} is a no-op on ${t.length}-token text")
    // the rule recovers the canonical form from every dirt class, and a
    // second application changes nothing (idempotence)
    for ((id, t) <- docs) {
      assert(norm(dirty(id, t)) == norm(t), s"doc $id: dirt class not recovered")
      assert(norm(norm(dirty(id, t))) == norm(dirty(id, t)), s"doc $id: not idempotent")
    }
    val got = PipelineQueries.x26Normalize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getInt(5)))
    assert(got.length == docs.length * 2)
    // every variant row is a raw singleton whose normalized hash collides
    // with its canonical sibling — the dupe class normalization exposes
    got.foreach { case (id, variant, changed, rawDf, normDf, exposed) =>
      assert(normDf >= 2, s"doc $id variant $variant: pair not normalized together")
      assert(exposed == 1, s"doc $id variant $variant: collision not exposed")
      if (variant == 1) assert(changed == 1, s"doc $id: dirty variant reported unchanged")
    }
  }

  test("x25 chunking matches brute force and reconstructs every document exactly") {
    val (c, st) = (PipelineQueries.X25Chunk, PipelineQueries.X25Stride)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    def chunksOf(t: String, ch: Int, s0: Int): Seq[(Long, Long, Seq[String])] = {
      val w = t.split(" ", -1).toSeq
      val n = ((math.max(w.length - ch, 0) + s0 - 1) / s0) + 1
      (0 until n).map(i => (i.toLong, (i * s0).toLong, w.slice(i * s0, i * s0 + ch)))
    }
    val expected = docs.flatMap { case (id, t) =>
      chunksOf(t, c, st).map { case (i, s0, toks) =>
        (id, i, s0, toks.length.toLong, toks.mkString(" "))
      }
    }.toSeq
    val got = PipelineQueries.x25ChunkOverlap(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSeq
    assert(got == expected)
    // the overlap is real (some doc yields >1 chunk) and reconstruction is
    // exact: chunk 0 ++ drop(c - st) of each later chunk == the document
    assert(got.groupBy(_._1).values.exists(_.size > 1), "no document chunked — fixture degenerate")
    for ((id, t) <- docs) {
      val w = t.split(" ", -1).toSeq
      val ch = got.filter(_._1 == id).sortBy(_._2).map(_._5.split(" ", -1).toSeq)
      val rebuilt = ch.head ++ ch.tail.flatMap(_.drop(c - st))
      assert(rebuilt == w, s"doc $id reconstruction differs")
    }
    // dial nesting: stride == chunk degenerates to d11's disjoint grid
    val disjoint = PipelineQueries.x25ChunkOverlap(spark, sf, c, c).collect()
    val nBlocks = docs.map(d => (d._2.split(" ", -1).length - 1) / c + 1).sum
    assert(disjoint.length == nBlocks, "stride==chunk is not the disjoint block grid")
  }

  test("pipe3 export manifest equals the driver-replayed stage composition") {
    // stage 1 replay: the registered tokenizer op itself
    val enc = PipelineQueries.x19bEncodeOnly(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val nShards = math.max(1L, enc.size / 16L)
    // stage 2 replay: x16's seeded-hash shard + order key, recomputed
    // independently with MessageDigest
    def md5hex(s0: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s0.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val keyed = enc.map { case (id, nt) =>
      val k = md5hex(s"epoch-0:$id")
      (java.lang.Long.parseLong(k.substring(0, 8), 16) % nShards, k, id, nt)
    }
    // stage 3 replay: per-shard pack in key order
    val expected = keyed.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (shard, rows) =>
        var cum = 0L
        val packed = rows.sortBy(_._2).zipWithIndex.map { case ((_, _, _, nt), pos) =>
          val seq = cum / 2048L; cum += nt; (seq, pos.toLong, nt)
        }
        packed.groupBy(_._1).toSeq.sortBy(_._1).map { case (seq, g) =>
          (shard, seq, g.size.toLong, g.map(_._3).sum,
            g.map(_._2).min, g.map(_._2).max)
        }
    }
    val got = PipelineQueries.pipe3Export(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected)
    // every doc is shorter than the budget here, so each shard's manifest
    // must start at seq 0 and be gap-free; multiple shards and sequences
    // prove the composition is non-degenerate
    assert(enc.forall(_._2 < 2048L))
    got.groupBy(_._1).foreach { case (sh, rows) =>
      val seqs = rows.map(_._2).sorted
      assert(seqs == (0L until seqs.size.toLong), s"shard $sh manifest has gaps")
    }
    assert(got.map(_._1).distinct.size > 1, "single shard — fixture degenerate")
  }

  test("sim8 range search matches brute force; results nest as tau rises") {
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val norms = embs.map { case (id, v) => id -> math.sqrt(v.map(x => x * x).sum) }.toMap
    def brutePairs(tau: Double) = (for {
      (qi, qv) <- embs if qi < 10
      (ci, cv) <- embs if ci != qi
      cos = BigDecimal(qv.indices.map(i => qv(i) * cv(i)).sum / (norms(qi) * norms(ci)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if cos >= tau
    } yield (qi, ci)).toSet
    def run(tauPpm: Long) = PipelineQueries.sim8RangeSearch(spark, sf, tauPpm)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val at300 = run(300000L)
    assert(at300 == brutePairs(0.3))
    assert(at300.nonEmpty, "no pairs at the default tau — fixture degenerate")
    // threshold nesting: raising tau only removes pairs
    val at200 = run(200000L)
    assert(at300.subsetOf(at200) && at200 != at300)
    assert(run(350000L).subsetOf(at300))
    // tau = -1 degenerates to every (query, neighbor) pair
    assert(run(-1000000L).size == 10 * (embs.length - 1))
  }

  test("x32 contrastive pairs match a driver brute force on every role") {
    import graft.functions.Hashing
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    val norms = embs.map { case (id, v, _) => id -> math.sqrt(v.map(x => x * x).sum) }.toMap
    def cos(a: (Long, Array[Double], Int), b: (Long, Array[Double], Int)): Double =
      BigDecimal(a._2.indices.map(i => a._2(i) * b._2(i)).sum / (norms(a._1) * norms(b._1)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = embs.filter(_._1 < 10).sortBy(_._1).flatMap { qv =>
      val cands = embs.filter(_._1 != qv._1)
      val sames = cands.filter(_._3 == qv._3)
      val diffs = cands.filter(_._3 != qv._3)
      def best(cs: Seq[(Long, Array[Double], Int)]) =
        cs.map(c => (c._1, cos(qv, c))).minBy { case (id, c0) => (-c0, id) }
      val rand = diffs.map(c => (c._1, cos(qv, c),
        Hashing.md5Lane60(s"x32:${qv._1}:${c._1}"))).minBy(t => (t._3, t._1))
      val (pid, pcos) = best(sames.toSeq)
      val (hid, hcos) = best(diffs.toSeq)
      Seq((qv._1, "hard_negative", hid, hcos), (qv._1, "positive", pid, pcos),
        (qv._1, "random_negative", rand._1, rand._2))
    }.toSeq
    val got = PipelineQueries.x32ContrastivePairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == expected)
    // the mined pairs are a genuine contrastive batch: every query has all
    // three roles and the positive is at least as close as the hard negative
    val byQ = got.groupBy(_._1)
    assert(byQ.size == 10 && byQ.values.forall(_.size == 3))
    byQ.values.foreach { rs =>
      val m = rs.map(r => r._2 -> r._4).toMap
      assert(m("positive") >= m("hard_negative") - 1.0,
        "degenerate fixture") // sanity only; exact values pinned above
    }
  }

  test("x31 span corruption is lossless, matches brute force, and masks nest in the rate") {
    import graft.functions.Hashing
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    def brute(block: Int, ratePpm: Long) = docs.map { case (id, text) =>
      val w = text.split(" ", -1)
      val nb = (w.length - 1) / block + 1
      var k = 0; var nm = 0L
      val cp = Seq.newBuilder[String]; val tg = Seq.newBuilder[String]
      for (b <- 0 until nb) {
        val bt = w.slice(b * block, (b + 1) * block)
        if (Hashing.md5Lane60(s"$id:$b") % 1000000L < ratePpm) {
          cp += s"<extra_id_$k>"; tg += s"<extra_id_$k> ${bt.mkString(" ")}"
          k += 1; nm += bt.length
        } else cp += bt.mkString(" ")
      }
      (id, w.length.toLong, nm, cp.result().mkString(" "), tg.result().mkString(" "))
    }
    def run(block: Int, ratePpm: Long) =
      PipelineQueries.x31SpanCorrupt(spark, sf, block, ratePpm).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getString(4))).toSeq
    val got = run(4, 150000L)
    assert(got == brute(4, 150000L))
    // the objective pair is LOSSLESS: splicing targets back reproduces the doc
    val sentinel = "^<extra_id_\\d+>$".r
    for (((id, text), (gid, _, _, corrupted, targets)) <- docs.zip(got)) {
      assert(id == gid)
      val spans = scala.collection.mutable.Map.empty[String, Vector[String]]
      var cur: String = null
      targets.split(" ", -1).foreach { tk =>
        if (sentinel.findFirstIn(tk).isDefined) { cur = tk; spans(cur) = Vector() }
        else if (cur != null) spans(cur) :+= tk
      }
      val rebuilt = corrupted.split(" ", -1).toIndexedSeq.flatMap { tk =>
        if (sentinel.findFirstIn(tk).isDefined) spans(tk) else Vector(tk)
      }
      assert(rebuilt == text.split(" ", -1).toIndexedSeq, s"doc $id splice differs")
    }
    // the draw is real: some docs masked, some untouched, global rate sane
    val masked = got.map(_._3).sum; val total = got.map(_._2).sum
    assert(got.exists(_._3 > 0) && got.exists(_._3 == 0))
    assert(masked * 1000000L / total > 50000L && masked * 1000000L / total < 400000L,
      s"global mask rate ${masked * 1000000L / total} ppm implausible")
    // coupled-sampling rate nesting: a lower rate masks a SUBSET of blocks
    def maskedSet(rows: Seq[(Long, Long, Long, String, String)]) =
      rows.flatMap(r => "<extra_id_\\d+>".r.findAllIn(r._4).map(s0 => (r._1, s0)).toSeq).toSet
    val lo = run(4, 50000L); val hi = run(4, 400000L)
    assert(lo.map(_._3).sum < got.map(_._3).sum && got.map(_._3).sum < hi.map(_._3).sum)
    lo.zip(got).foreach { case (l, g) => assert(l._3 <= g._3) }
    got.zip(hi).foreach { case (g, h) => assert(g._3 <= h._3) }
  }

  test("x29 gram spectrum matches a driver brute force; buckets nest under the cap dial") {
    def md5lane(s0: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s0.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 15), 16)
    val counts = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0)).toSeq
      .flatMap { t0 =>
        val w = t0.split(" ", -1)
        if (w.length < 2) Seq.empty
        else (0 until w.length - 1).map(i => md5lane(w(i) + " " + w(i + 1)))
      }
      .groupBy(identity).view.mapValues(_.size.toLong).values.toSeq
    def bruteSpec(cap: Int) = counts.groupBy(c => math.min(c, cap + 1L)).toSeq
      .sortBy(_._1).map { case (cb, cs) => (cb, cs.size.toLong, cs.sum) }
    def run(cap: Int) = PipelineQueries.x29GramSpectrum(spark, sf, cap).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val got = run(16)
    assert(got == bruteSpec(16))
    // spectrum identity: occurrences across buckets total the corpus grams
    assert(got.map(_._3).sum == counts.sum)
    // singletons exist (Good-Turing's N1 is the interesting row)
    assert(got.exists(r => r._1 == 1L && r._2 > 0), "no singleton bucket")
    // cap nesting: a smaller cap only folds the tail
    val small = run(3)
    assert(small.filter(_._1 <= 3L) == got.filter(_._1 <= 3L))
    assert(small.filter(_._1 == 4L).map(_._3).sum ==
      got.filter(_._1 >= 4L).map(_._3).sum)
  }

  test("pipe4 manifest accounts for exactly pipe1's keep set and nothing else") {
    val keepIds = PipelineQueries.pipe1Curate(spark, sf).collect()
      .filter(_.getString(1) == "keep").map(_.getLong(0)).toSet
    val enc = PipelineQueries.x19bEncodeOnly(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = PipelineQueries.pipe4CurateExport(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got.nonEmpty)
    // the manifest's doc and token totals are exactly the keep set's
    assert(got.map(_._3).sum == keepIds.count(enc.contains).toLong)
    assert(got.map(_._4).sum == keepIds.toSeq.flatMap(enc.get).sum)
    // the gate is real: curation rejected documents, so the lifecycle
    // manifest is smaller than the whole-corpus export
    val all = PipelineQueries.pipe3Export(spark, sf).collect()
      .map(r => r.getLong(3)).sum
    assert(got.map(_._4).sum < all, "pipe1 rejected nothing — gate untested")
  }

  test("x27 batch-perceptron trajectory matches an independent driver replay") {
    // Independent reference: explicit loops over MessageDigest-hashed
    // count vectors — no shared code with the engine's array-expression
    // formulation beyond the md5 definition itself.
    def bucket(tk: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tk.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(d.substring(0, 15), 16) % 64L).toInt
    }
    val feats: Seq[(Long, Array[Long])] =
      spark.read.parquet(s"$sf/documents.parquet")
        .select("text", "lang").collect().toSeq.map { r =>
          val x = Array.fill(65)(0L)
          r.getAs[String]("text").split(" ", -1).foreach(tk => x(bucket(tk)) += 1L)
          x(64) = 1L
          (if (r.getAs[String]("lang") == "en") 1L else -1L, x)
        }
    val w = Array.fill(65)(0L)
    val exp = Seq.newBuilder[(Int, Int, Long, Long)]
    for (r <- 1 to 8) {
      val mis = feats.filter { case (y, x) =>
        var d = 0L; var i = 0
        while (i < 65) { d += x(i) * w(i); i += 1 }
        y * d <= 0L
      }
      mis.foreach { case (y, x) =>
        for (b <- 0 until 65) w(b) += y * x(b)
      }
      for (b <- 0 until 65) exp += ((r, b, w(b), mis.size.toLong))
    }
    val expected = exp.result()
    val got = PipelineQueries.x27TrainClassifier(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    // at w=0 every margin is 0, so round 1 misclassifies the whole corpus…
    assert(expected.head._4 == feats.size.toLong)
    // …and training must do better than that by the final round
    assert(expected.last._4 < expected.head._4, "training learned nothing")
  }

  test("x28 OOV audit matches a driver-side brute force; n_oov shrinks as vocab grows") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val freq = docs.flatMap(_._2.split(" ", -1)).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
    def brute(vocabSize: Int): Seq[(String, Long, Long, Long, Long, Long, String, Long)] = {
      val vocab = freq.sortBy { case (tok, n) => (-n, tok) }.take(vocabSize)
        .map(_._1).toSet
      docs.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, ds) =>
        val toks = ds.flatMap(_._2.split(" ", -1))
        val oov = toks.filterNot(vocab.contains)
        val tyc = oov.groupBy(identity).view.mapValues(_.size.toLong).toSeq
        val (topTok, topN) =
          if (tyc.isEmpty) (null: String, 0L)
          else tyc.minBy { case (tok, n) => (-n, tok) }
        (src, ds.size.toLong, toks.size.toLong, oov.size.toLong,
          if (toks.isEmpty) 0L else oov.size.toLong * 1000000L / toks.size,
          tyc.size.toLong, topTok, topN)
      }
    }
    def run(vocabSize: Int) =
      PipelineQueries.x28OovAudit(spark, sf, vocabSize).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getString(6), r.getLong(7))).toSeq
    // small vocab: OOV must be non-degenerate at this sf
    val small = run(8)
    assert(small == brute(8))
    assert(small.exists(_._4 > 0), "no OOV at vocabSize=8 — audit untested")
    // registered default: the full x9 artifact
    assert(run(1000) == brute(1000))
    // dial monotonicity: the prefix-nested vocab only ever covers MORE
    val bySmall = small.map(r => r._1 -> r._4).toMap
    run(20).foreach { r =>
      assert(r._4 <= bySmall(r._1), s"n_oov grew with vocab size for ${r._1}")
    }
  }

  test("x27 rounds dial: a shorter run is a prefix of a longer one") {
    val full = PipelineQueries.x27TrainClassifier(spark, sf, 8).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val short = PipelineQueries.x27TrainClassifier(spark, sf, 3).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(short == full.filter(_._1 <= 3))
  }
}
