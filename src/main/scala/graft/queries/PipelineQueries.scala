package graft.queries

import graft.Ckpt._
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Large-scale training-data pipeline operators over the `documents` and
  * `embeddings` tables: deduplication (d1 exact, d2 MinHash+LSH, d3/d3b
  * SimHash + block-band pairing, d4 n-gram Jaccard, d5 embedding-cosine NN,
  * d6 connected-component cluster assembly, d7 train/eval contamination
  * screen, d8 duplicated-span detection, d9 semantic SemDeDup-style
  * cluster-bounded near-dup removal), similarity search (sim1 exact
  * top-k baseline, sim2 LSH, sim2b multiprobe, sim3 IVF, sim4 k-means
  * trainer, sim5 PQ/ADC, sim6 composed IVF+PQ), text analysis (x1
  * language-ID, x2 quality, x3 token stats, x4 fingerprint, x5 redaction,
  * x6 hash split, x7 BM25 relevance, x8 stratified sample, x9 vocabulary,
  * x10 repetition score, x11 sequence packing, x12 corpus-LM scoring,
  * x13 corpus mixing weights, x14 tokenizer application, x15 corpus
  * profiling, x18 BPE merge training, x19 BPE encoding), multimodal
  * binary plumbing (m1 metadata, m2 frame
  * sampling), sketch aggregates (a8s HLL++ distinct, a9s GK quantiles,
  * a10s Count-Min frequency — deterministic per engine, engine-specific
  * across engines, so driver-checked rows-only with error bounds pinned
  * in the specs), event analytics (w3 sessionization, w4 ordered funnel,
  * w5 cohort retention, w6 outlier flags), iterative graph analytics
  * (g1 fixed-point PageRank), the x17 cross-shard novelty audit, and the
  * composed end-to-end curation verdict (pipe1).
  *
  * Every operator is expressed as a declarative DataFrame plan; all but the
  * sketch family (rows-only by the driver contract, spec-verified error
  * bounds instead) carry a DuckDB oracle — including m3, whose SqlCodec
  * decode the oracle reproduces in two-lane integer SQL. Cross-engine
  * determinism rules used throughout:
  *  - shared randomness (MinHash permutations, LSH hyperplanes) is derived
  *    from md5 / a fixed-seed xorshift generator and embedded as literals in
  *    BOTH the Spark plan and the oracle SQL;
  *  - float similarity scores are computed in double and rounded to 6
  *    decimals on both engines before any ordering or comparison;
  *  - every output ends in a deterministic ORDER BY.
  *
  * Scale notes (the 100 TB discipline):
  *  - nothing here does an unblocked O(n²) comparison except the explicitly
  *    labeled brute-force baselines (`d5`, `sim1`); the production paths are
  *    the LSH band-join (`d2`), the blocked pair join (`d4`), and the
  *    bucketed ANN (`sim2`), all of which shuffle on a compact key whose
  *    group sizes are bounded by design (band width / block size / bucket
  *    count are the knobs);
  *  - per-document feature extraction (shingling, hashing, scoring) is pure
  *    narrow map work inside whole-stage codegen — no UDFs, no collects;
  *  - signature computation (`d3`) is explode → partial-aggregable SUMs, so
  *    map-side combine keeps the shuffle proportional to docs × 32 counters,
  *    not tokens.
  */
object PipelineQueries {

  // ------------------------------------------------------------ shared bits

  /** Distinct 3-word shingles per document (the unit for MinHash/Jaccard). */
  private def shingled(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 3)
      .withColumn("sh", expr(
        "array_distinct(transform(sequence(0, size(w)-3), " +
          "i -> concat_ws(' ', w[i], w[i+1], w[i+2])))"))
      .select("doc_id", "sh")

  private val shingleSqlCte: String =
    """w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(range(len(w)-2),
      |         i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS s
      |       FROM w WHERE len(w) >= 3)""".stripMargin

  /** Embedding vectors as doubles + L2 norm (floats widened first so both
    * engines multiply identical doubles).
    */
  private def embVec(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", sqrt(expr("aggregate(v, 0D, (acc, x) -> acc + x * x)")))

  private val embSqlCte: String =
    """e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e)""".stripMargin

  /** Native codegen'd dot product (graft.functions.DotProduct) — same
    * sequential-fold semantics as `aggregate(zip_with(...))` but ~20× faster;
    * registered on the session by Tables.configure.
    */
  private def dotCol(a: String, b: String): Column = expr(s"graft_dot($a, $b)")

  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(len($a)), i -> $a[i+1] * $b[i+1]))"

  /** The x6 train/eval hash-split rule as a reusable Column — shared by x6,
    * d7, and pipe1 so the split every screen keys off can never drift
    * between the standalone operators and the composed pipeline.
    */
  private def splitCol: Column =
    when(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long") % 100 < 95, "train")
      .otherwise("eval")

  /** x2's quality formula (integer ppm) over caller-supplied column names —
    * shared with pipe1's low_quality rule so the standalone scorer and the
    * composed pipeline use the one formula. SQL twin below.
    */
  private def qualityPpmExpr(n: String, l: String, d: String): String =
    s"least($n * 8000L, 400000L) + (600000L * $d + $n) div (2L * $n) + " +
      s"least((75000L * $l + $n) div (2L * $n), 300000L)"

  private def qualityPpmSql(n: String, l: String, d: String): String =
    s"least($n * 8000, 400000) + (600000 * $d + $n) // (2 * $n) + " +
      s"least((75000 * $l + $n) // (2 * $n), 300000)"

  /** Fixed-point squared L2 — the ONE copy of the distance the k-means
    * family (sim4/sim5/sim6 training, encoding, and ADC tables) computes;
    * operands are the ×2²⁰+2²¹-quantized longs (or re-shifted residuals),
    * always positive, so sums never overflow at these dims.
    */
  private def fxL2(a: Array[Long], b: Array[Long]): Long = {
    var d = 0L; var j = 0
    while (j < a.length) { val t0 = a(j) - b(j); d += t0 * t0; j += 1 }
    d
  }

  /** Fixed-point argmin with the family-wide tie-break (lowest centroid id)
    * — mirrors every oracle's `ORDER BY dist, cid … rn = 1`.
    */
  private def fxArgmin(v: Array[Long], cs: Array[(Long, Array[Long])]): (Long, Long) = {
    var bestD = Long.MaxValue; var bestC = Long.MaxValue
    cs.foreach { case (cid, cv) =>
      val d = fxL2(v, cv)
      if (d < bestD || (d == bestD && cid < bestC)) { bestD = d; bestC = cid }
    }
    (bestC, bestD)
  }

  /** Decimal-string HALF_UP rounding to 6 places — same result as Spark's
    * `round()` and DuckDB's `round()` on this data (relied on by every
    * similarity score the oracles compare).
    */
  private def round6(v: Double): Double =
    java.math.BigDecimal.valueOf(v).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Candidate pairs (doc_a < doc_b, distinct) from an LSH band table
    * (doc_id, bk) — the self-equi-join every banded detector (d2, d3b)
    * funnels through, with measured-skew salting: bands larger than
    * `saltThreshold` join on (bk, salt), the left side salted by doc hash
    * and the right side replicated over all `r` salts, so each qualifying
    * pair is still produced exactly once ((x,y) matches only at
    * salt = hash(x) mod r) while a mega-band's work spreads over r tasks.
    * This is the structural fix AQE cannot apply: AQE re-splits oversized
    * shuffle *partitions*, but all rows of one giant join *key* land in one
    * partition it cannot cut. The histogram probe is one tiny aggregation
    * (one row per distinct band); the salted path engages only when the
    * measured skew says so, so the common case pays nothing but that probe.
    */
  /** `preDedupFilter`: a predicate over the pair columns applied BEFORE the
    * dedup shuffle. When the exact verify is computable from carried columns
    * (d3b's popcount), filtering first shrinks the distinct()'s input from
    * every band collision to just the survivors — the standard
    * filter-before-shuffle move, worth ~8× on the dedup exchange here.
    */
  private[queries] def bandCandidates(
      bands: DataFrame, saltThreshold: Long, r: Int = 16,
      preDedupFilter: Option[Column] = None): DataFrame = {
    // any column beyond (doc_id, bk) rides along, suffixed _a/_b — carrying
    // a verification payload (e.g. d3b's signature) through the join is far
    // cheaper than re-joining it onto millions of candidate pairs afterwards
    val extras = bands.columns.filterNot(c => c == "doc_id" || c == "bk").toSeq
    def side(sfx: String): DataFrame =
      bands.select(col("doc_id").as(s"doc_$sfx") +: col("bk") +:
        extras.map(c => col(c).as(s"${c}_$sfx")): _*)
    val a = side("a")
    val b = side("b")
    // histogram probe: one partial-aggregated job; the hot-key list is by
    // definition tiny (each key exceeds the threshold), so it collects
    val hotKeys: Seq[Any] = bands.groupBy("bk").agg(count(lit(1)).as("n"))
      .filter(col("n") > saltThreshold).select("bk")
      .collect().map(_.get(0)).toSeq
    val pairs =
      if (hotKeys.isEmpty) a.join(b, Seq("bk"))
      else {
        val isHot = col("bk").isin(hotKeys: _*)
        val cold = a.filter(!isHot).join(b.filter(!isHot), Seq("bk"))
        val salted = a.filter(isHot)
          .withColumn("salt", pmod(hash(col("doc_a")), lit(r)))
          .join(b.filter(isHot)
            .withColumn("salt", explode(expr(s"sequence(0, ${r - 1})"))),
            Seq("bk", "salt"))
        cold.union(salted.select(cold.columns.map(col).toIndexedSeq: _*))
      }
    val outCols = Seq("doc_a", "doc_b") ++ extras.flatMap(c => Seq(s"${c}_a", s"${c}_b"))
    val ordered = pairs.filter(col("doc_a") < col("doc_b"))
    preDedupFilter.fold(ordered)(ordered.filter)
      .select(outCols.map(col): _*).distinct()
  }

  // ------------------------------------------------- D1: exact deduplication

  /** Exact dedup: canonical representative per content hash. At scale this is
    * one hash-partitioned window (equivalently groupBy + self-join); the hash
    * key keeps the shuffle narrow regardless of document size.
    */
  def d1ExactDedup(s: SparkSession, dir: String): DataFrame = {
    val byHash = Window.partitionBy("h")
    t(s, dir, "documents")
      .withColumn("h", md5(col("text")))
      .withColumn("canonical_id", min("doc_id").over(byHash))
      .select(col("doc_id"), col("canonical_id"),
        (col("doc_id") =!= col("canonical_id")).cast("int").as("is_dup"))
      .orderBy("doc_id")
  }

  val d1Sql: String =
    """SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
      |  CAST(doc_id != min(doc_id) OVER (PARTITION BY md5(text)) AS INT) AS is_dup
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------- D2: MinHash + LSH

  private val MinhashPerms = 8
  private val MinhashBands = 4
  private val BandPairs = Seq((0, 1), (2, 3), (4, 5), (6, 7))

  /** MinHash + LSH near-dup detection: shingle → 8-permutation MinHash
    * signature → 4 bands of 2 → band-key equi-join for candidate pairs →
    * exact Jaccard verification at threshold 0.5. The only shuffles are the
    * band-key join (group sizes = collision rate, tunable via band shape)
    * and the final dedup — never an all-pairs product. At 100 TB the band
    * join is the canonical LSH plan; skewed mega-bands would be salted or
    * capped.
    *
    * Each shingle is md5'd ONCE; the 8 "permutations" are the 8 disjoint
    * 16-bit substrings of that one digest (min over a 16-bit universe is
    * plenty for banding, and hashing is the dominant cost of signature
    * computation — this is 8× cheaper than 8 seeded hashes).
    *
    * SCALE NOTE (the d4c lesson applied here): the min of N samples over a
    * 16-bit universe carries only ~log2(65536/N) bits of entropy, so past
    * ~10⁸ documents CHANCE band collisions (docs sharing two concentrated
    * mins without shared shingles) start inflating the candidate join.
    * Word-3-shingles keep N per doc low and near-unique, which is why the
    * measured exponent holds at the rehearsal scales; a 10⁹-doc deployment
    * widens the mins to 32-bit md5 slices exactly as d4cCore does (the
    * oracle mapping substr(md5(x), 8i+1, 8) is already proven there) —
    * same recall, band keys collide only on genuine similarity.
    */
  /** Shared MinHash signature derivation over any (doc_id, text) frame:
    * one narrow typed pass → (doc_id, shingle set, band keys), checkpointed
    * (the candidate join and the exact-Jaccard verification both reuse it).
    * Per-document narrow work in tight JVM code: shingles, the 16-bit minima
    * (disjoint 16-bit substrings of a SINGLE md5 per shingle — hashing once
    * is 8× cheaper than 8 seeded hashes), and the banded keys. Used by d2
    * (within-corpus dedup), d10/`prepareCorpusIndex` (increment-vs-index),
    * and the streaming ingest twin's micro-batches.
    *
    * `(numPerms, bands)` is the LSH band-shape dial. Permutation p is the
    * p-th disjoint 16-bit substring of ONE md5 per shingle, so numPerms ≤ 8;
    * bands must divide numPerms, and band g keys on the CONSECUTIVE run of
    * numPerms/bands minima starting at g·(numPerms/bands). Consecutive
    * grouping is what makes the dial provably monotone (spec-pinned):
    *  - at fixed numPerms, a coarser shape's band is a superset run of a
    *    finer shape's, so its collisions imply the finer shape's —
    *    candidates (and, after exact-Jaccard verify, results) NEST as bands
    *    grows: 1 ⊆ 2 ⊆ 4 ⊆ 8;
    *  - at fixed rows-per-band, a smaller numPerms uses a PREFIX of the
    *    larger's bands, so its candidates nest inside the larger's (the
    *    sim2 prefix-nested-planes discipline).
    * The registered d2 entry binds (8, 4) — the oracle contract. At 100 TB
    * the shape is the recall/collision-rate trade: more bands of fewer rows
    * → more candidates (higher recall, bigger join); production tunes it
    * against the verify budget since exact Jaccard keeps every shape sound.
    */
  def signaturesOf(docs: DataFrame, numPerms: Int = MinhashPerms,
      bands: Int = MinhashBands): DataFrame = {
    require(numPerms >= 1 && numPerms <= 8, s"numPerms must be in 1..8, got $numPerms")
    require(bands >= 1 && numPerms % bands == 0,
      s"bands must divide numPerms, got numPerms=$numPerms bands=$bands")
    val rows = numPerms / bands
    val nBands = bands
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val utf8 = java.nio.charset.StandardCharsets.UTF_8
        it.flatMap { case (id, text) =>
          // null text (e.g. a PERMISSIVE-quarantined row where only doc_id
          // parsed) carries no shingles; it must not kill a streaming batch
          val w = if (text == null) Array.empty[String] else text.split(" ", -1)
          if (w.length < 3) None
          else {
            val seen = new java.util.LinkedHashSet[String]()
            var i = 0
            while (i + 2 < w.length) {
              seen.add(w(i) + " " + w(i + 1) + " " + w(i + 2)); i += 1
            }
            val mins = Array.fill(numPerms)(0x10000)
            val itr = seen.iterator()
            while (itr.hasNext) {
              md.reset()
              val d = md.digest(itr.next().getBytes(utf8))
              var p = 0
              while (p < numPerms) {
                val v = ((d(2 * p) & 0xff) << 8) | (d(2 * p + 1) & 0xff)
                if (v < mins(p)) mins(p) = v
                p += 1
              }
            }
            // lexicographic min over fixed-width lowercase hex == numeric min,
            // so these equal the oracle's array_min(substr(md5(x),4i+1,4))
            val hex = mins.map(v => f"$v%04x")
            val bandKeys = (0 until nBands).map { g =>
              md.reset()
              md.digest((g * rows until (g + 1) * rows).map(hex).mkString
                .getBytes(utf8)).map(x => f"$x%02x").mkString
            }
            Some((id, seen.toArray(new Array[String](0)).toSeq, bandKeys))
          }
        }
      }.toDF("doc_id", "sh", "bands")
      // MEASURED, not assumed (sf0.1, local[32], min of 3): standalone d2
      // runs 0.86 s WITH this eager checkpoint vs 1.17 s without it — the
      // signature table has three consumers (the band-key projection and
      // both exact-verify joins), so one materialization beats re-running
      // the shingle+minhash pass 3×, independent of d12's sharing. At
      // 100 TB the same arithmetic holds harder: the pass is md5 over
      // every shingle, ~3× the corpus in hashed bytes per re-run.
      .lossTolerantCheckpoint()
  }

  def d2MinhashLsh(s: SparkSession, dir: String): DataFrame =
    d2MinhashLsh(s, dir, MinhashPerms, MinhashBands)

  /** The band-shape-dial form (see [[signaturesOf]] for the monotonicity
    * contract). Every shape is SOUND — candidates are verified by exact
    * Jaccard at the same threshold — so the dial only moves recall/cost.
    */
  def d2MinhashLsh(s: SparkSession, dir: String, numPerms: Int, bands: Int): DataFrame =
    d2FromSignatures(signaturesOf(t(s, dir, "documents"), numPerms, bands))

  /** d2's body over an already-built signature table — lets d12's eval
    * reuse ONE shingle+signature pass for both its candidate and exact
    * sides instead of re-hashing the corpus.
    */
  private def d2FromSignatures(docsh: DataFrame): DataFrame = {
    // light checkpoint of just (doc_id, band key): the histogram probe and
    // both sides of the candidate join scan this tiny projection instead of
    // re-deserializing the heavy shingle arrays from the docsh checkpoint
    val bandTab = docsh.select(col("doc_id"), explode(col("bands")).as("bk"))
      .lossTolerantCheckpoint()
    // skew-aware band join: salts any measured mega-band (see bandCandidates)
    val cand = bandCandidates(bandTab, saltThreshold = 4096L)
    cand
      .join(docsh.select(col("doc_id").as("doc_a"), col("sh").as("sa")), Seq("doc_a"))
      .join(docsh.select(col("doc_id").as("doc_b"), col("sh").as("sb")), Seq("doc_b"))
      // integer ppm (not a rounded double): ratios of small ints can land
      // exactly on a 6-decimal rounding tie, where engines disagree by 1 ulp
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("uni", size(array_union(col("sa"), col("sb"))).cast("long"))
      .filter(col("inter") * 2 >= col("uni"))
      .select(col("doc_a"), col("doc_b"),
        expr("(1000000L * inter) div uni").as("jaccard_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  val d2Sql: String = {
    val sigExprs = (0 until MinhashPerms)
      .map(i => s"list_min(list_transform(hs, x -> substr(x, ${4 * i + 1}, 4))) AS h$i")
      .mkString(",\n  ")
    val bandExprs = BandPairs.map { case (a, b) => s"md5(h$a || h$b)" }.mkString(", ")
    s"""WITH $shingleSqlCte,
       |hashed AS (SELECT doc_id, s, list_transform(s, x -> md5(x)) AS hs FROM sh),
       |sig AS (SELECT doc_id,
       |  $sigExprs
       |  FROM hashed),
       |bands AS (SELECT doc_id, unnest([$bandExprs]) AS bk FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id),
       |j AS (SELECT doc_a, doc_b,
       |        len(list_intersect(x.s, y.s))::BIGINT AS inter,
       |        len(list_distinct(x.s || y.s))::BIGINT AS uni
       |      FROM cand JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b)
       |SELECT doc_a, doc_b, (1000000 * inter) // uni AS jaccard_ppm
       |FROM j WHERE inter * 2 >= uni ORDER BY doc_a, doc_b""".stripMargin
  }

  // ----------- D12: LSH dedup recall evaluation (the banding-quality report)

  /** Default d12 panel: ground truth is computed for doc_id < 50. */
  private[graft] val D12Panel = 50L

  def d12LshRecallEval(s: SparkSession, dir: String): DataFrame =
    d12LshRecallEval(s, dir, MinhashPerms, MinhashBands, D12Panel)

  /** LSH dedup RECALL evaluation — sim9's discipline applied to the dedup
    * family: d2's banded candidates are SOUND by construction (every pair
    * is verified by exact Jaccard), so the one thing banding can cost is
    * RECALL — true near-duplicate pairs whose signatures never share a
    * band (the S-curve miss). This report measures it: per panel document,
    * how many of its TRUE ≥ 0.5-Jaccard neighbors (exact set arithmetic
    * over the SAME shingle rule d2 hashes) the banded pipeline actually
    * paired, as integer ppm — the number an operator tunes (numPerms,
    * bands) against before trusting a 100 TB dedup run, and the
    * regression alarm when a shingle or band change silently drops
    * recall. Panel docs with no true neighbor report NULL (vacuous).
    *
    * Scale shape: the candidate side IS the production d2 plan; the exact
    * side is the ground-truth scan paid only on the SAMPLED panel
    * (broadcast panel × corpus — at 100 TB a per-mille sample, exactly
    * sim9's argument); the hit join and report move panel-sized rows.
    * Deterministic shingle sets make the hit COUNT oracle-exact.
    */
  def d12LshRecallEval(s: SparkSession, dir: String, numPerms: Int, bands: Int,
      panel: Long): DataFrame = {
    require(panel >= 1, s"panel must be positive, got $panel")
    import s.implicits._
    // ONE shingle+signature pass feeds both sides (the checkpoint in
    // signaturesOf makes the reuse free)
    val docsh = signaturesOf(t(s, dir, "documents"), numPerms, bands)
    val pairs = d2FromSignatures(docsh)
    val candNorm = pairs.select(col("doc_a").as("doc_id"), col("doc_b").as("o"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"), col("doc_a").as("o")))
      .filter(col("doc_id") < panel)
    // exact ground truth via d5's discipline: broadcast the panel's shingle
    // SETS and stream the corpus through a typed JVM membership loop — the
    // Catalyst array_intersect formulation allocates per pair and measured
    // ~20× slower on this exact shape. inter·2 ≥ uni ⟺ 3·inter ≥ |A|+|B|.
    val panelSets = docsh.filter(col("doc_id") < panel)
      .select("doc_id", "sh").as[(Long, Seq[String])].collect().sortBy(_._1)
      .map { case (id, sh) => (id, sh.toSet, sh.size) }
    val bc = s.sparkContext.broadcast(panelSets)
    val truePairs = docsh.select("doc_id", "sh").as[(Long, Seq[String])]
      .flatMap { case (o, so) =>
        bc.value.iterator.filter(_._1 != o).flatMap { case (p, sp, psz) =>
          var inter = 0
          so.foreach(x => if (sp(x)) inter += 1)
          if (3 * inter >= psz + so.size) Some((p, o)) else None
        }
      }
      .toDF("doc_id", "o")
      .lossTolerantCheckpoint() // read twice (true counts + hit join)
    val nTrue = truePairs.groupBy("doc_id").agg(count(lit(1)).as("n_true"))
    val hits = truePairs.join(candNorm, Seq("doc_id", "o"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    docsh.filter(col("doc_id") < panel).select("doc_id")
      .join(nTrue, Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        expr("CASE WHEN n_true IS NULL THEN CAST(NULL AS BIGINT) " +
          "ELSE coalesce(n_hit, 0L) * 1000000L div n_true END").as("recall_ppm"))
      .orderBy("doc_id")
  }

  lazy val d12Sql: String =
    s"""WITH v AS (SELECT doc_a, doc_b FROM ($d2Sql) d2v),
       |$shingleSqlCte,
       |cn AS (SELECT doc_a AS doc_id, doc_b AS o FROM v
       |       UNION ALL SELECT doc_b AS doc_id, doc_a AS o FROM v),
       |tp AS (SELECT a.doc_id AS doc_id, b.doc_id AS o
       |       FROM sh a JOIN sh b ON a.doc_id != b.doc_id
       |       WHERE a.doc_id < $D12Panel
       |         AND 2 * len(list_intersect(a.s, b.s)) >= len(list_distinct(a.s || b.s))),
       |nt AS (SELECT doc_id, COUNT(*)::BIGINT AS n_true FROM tp GROUP BY 1),
       |ht AS (SELECT tp.doc_id, COUNT(*)::BIGINT AS n_hit
       |       FROM tp JOIN (SELECT doc_id, o FROM cn WHERE doc_id < $D12Panel) c
       |         USING (doc_id, o) GROUP BY 1),
       |pn AS (SELECT doc_id FROM sh WHERE doc_id < $D12Panel)
       |SELECT pn.doc_id, COALESCE(n_true, 0)::BIGINT AS n_true,
       |  COALESCE(n_hit, 0)::BIGINT AS n_hit,
       |  (CASE WHEN n_true IS NULL THEN NULL
       |        ELSE COALESCE(n_hit, 0) * 1000000 // n_true END)::BIGINT AS recall_ppm
       |FROM pn LEFT JOIN nt USING (doc_id) LEFT JOIN ht USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ------------------------- D10: incremental dedup (increment vs corpus index)

  /** Dedup a new crawl increment against the EXISTING corpus without
    * re-pairing the corpus with itself — the shape every recurring ingest
    * needs at 100 TB, where within-corpus dedup (d1/d2) already ran and the
    * nightly question is only "which of the new documents are already in the
    * index". Increment = `doc_id % 4 == 0` here; in production the two sides
    * are separate tables and the index side's (band key → doc) table is
    * PRECOMPUTED and bucketed by band key, so the corpus is never re-read,
    * let alone re-shingled — only the increment computes signatures, and the
    * band join prunes corpus work to colliding buckets.
    *
    * Two tiers, exact before near (the d1/d2 pair, asymmetrized): content
    * hash equi-join for exact duplicates, then MinHash band-key candidates
    * verified by exact Jaccard at the d2 threshold. The band join is
    * skew-guarded by the same measured-histogram salting as bandCandidates,
    * with the salt-explosion on the SMALL (increment) side — the corpus-side
    * mega-bucket splits across r tasks while only increment rows replicate.
    * Verdict per new doc: `exact_dup` > `near_dup` (best match = max
    * Jaccard, ties to the lowest corpus doc) > `novel`.
    */
  def d10IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val isNew = col("doc_id") % 4 === 0
    val docs = t(s, dir, "documents")
    incrementalDedup(docs.filter(isNew), docs.filter(!isNew))
  }

  /** The corpus side of incremental dedup, built ONCE and reused across
    * queries or micro-batches: content-hash table, signature table, band
    * table (all checkpointed) and the measured hot-band keys. This is the
    * in-session analog of the production layout where the index tables are
    * persisted bucketed by their join keys — a streaming query screens
    * thousands of micro-batches against ONE of these without ever
    * re-reading, re-shingling, or re-histogramming the corpus.
    */
  final case class CorpusIndex(hash: DataFrame, sig: DataFrame,
      bands: DataFrame, hotKeys: Seq[Any])

  def prepareCorpusIndex(corpus: DataFrame,
      saltThreshold: Long = 4096L): CorpusIndex = {
    val hash = corpus.select(md5(col("text")).as("h"), col("doc_id").as("m"))
      .lossTolerantCheckpoint()
    val sig = signaturesOf(corpus) // checkpointed inside
    val bands = sig.select(col("doc_id").as("m"), explode(col("bands")).as("bk"))
      .lossTolerantCheckpoint()
    // histogram probe: one partial-aggregated job; hot keys are by
    // definition few (each exceeds the threshold), so the collect is tiny
    val hot: Seq[Any] = bands.groupBy("bk").agg(count(lit(1)).as("n"))
      .filter(col("n") > saltThreshold).select("bk")
      .collect().map(_.get(0)).toSeq
    CorpusIndex(hash, sig, bands, hot)
  }

  /** The library form over any two (doc_id, text) tables. Convenience
    * wrapper — callers screening repeatedly against the same corpus (the
    * streaming twin) build the [[CorpusIndex]] once instead.
    */
  def incrementalDedup(increment: DataFrame, corpus: DataFrame,
      saltThreshold: Long = 4096L): DataFrame =
    incrementalDedup(increment, prepareCorpusIndex(corpus, saltThreshold))

  def incrementalDedup(increment: DataFrame, index: CorpusIndex): DataFrame = {
    // exact tier: hash-keyed equi-join, increment side orders of magnitude
    // smaller than the index → AQE broadcasts it; min() picks the canonical
    val exact = increment.select(col("doc_id"), md5(col("text")).as("h"))
      .join(index.hash, "h")
      .groupBy("doc_id").agg(min("m").as("exact_match"))
    // near tier: increment bands probe the index's band table
    val incSig = signaturesOf(increment)
    val corpSig = index.sig
    val nb = incSig.select(col("doc_id"), explode(col("bands")).as("bk"))
    val ib = index.bands
    // measured-skew salting, asymmetric: the BIG (index) side's band
    // histogram was probed at index build; hot buckets split by hashing the
    // index doc over r salts while the increment side replicates r× —
    // increment×r stays tiny
    val r = 16
    val hotKeys = index.hotKeys
    val joined =
      if (hotKeys.isEmpty) nb.join(ib, Seq("bk"))
      else {
        val isHot = col("bk").isin(hotKeys: _*)
        val cold = nb.filter(!isHot).join(ib.filter(!isHot), Seq("bk"))
        val salted = nb.filter(isHot)
          .withColumn("salt", explode(expr(s"sequence(0, ${r - 1})")))
          .join(ib.filter(isHot).withColumn("salt", pmod(hash(col("m")), lit(r))),
            Seq("bk", "salt"))
        cold.unionByName(salted.select(cold.columns.map(col).toIndexedSeq: _*))
      }
    val near = joined.select("doc_id", "m").distinct()
      .join(incSig.select(col("doc_id"), col("sh").as("sa")), "doc_id")
      .join(corpSig.select(col("doc_id").as("m"), col("sh").as("sb")), "m")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("uni", size(array_union(col("sa"), col("sb"))).cast("long"))
      .filter(col("inter") * 2 >= col("uni"))
      .select(col("doc_id"), col("m"), expr("(1000000L * inter) div uni").as("jp"))
      // best match: max Jaccard, ties to lowest corpus doc — struct max is
      // lexicographic, so (jp, -m) encodes exactly that order
      .groupBy("doc_id")
      .agg(max(struct(col("jp"), (-col("m")).as("negm"))).as("best"))
      .select(col("doc_id"), col("best.jp").as("near_ppm"),
        (-col("best.negm")).as("near_match"))
    increment.select("doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, "exact_dup")
          .when(col("near_match").isNotNull, "near_dup")
          .otherwise("novel").as("verdict"),
        coalesce(col("exact_match"), col("near_match")).as("match_id"),
        when(col("exact_match").isNotNull, lit(1000000L))
          .otherwise(col("near_ppm")).as("jaccard_ppm"))
      .orderBy("doc_id")
  }

  val d10Sql: String = {
    val sigExprs = (0 until MinhashPerms)
      .map(i => s"list_min(list_transform(hs, x -> substr(x, ${4 * i + 1}, 4))) AS h$i")
      .mkString(",\n  ")
    val bandExprs = BandPairs.map { case (a, b) => s"md5(h$a || h$b)" }.mkString(", ")
    s"""WITH $shingleSqlCte,
       |hashed AS (SELECT doc_id, s, list_transform(s, x -> md5(x)) AS hs FROM sh),
       |sig AS (SELECT doc_id,
       |  $sigExprs
       |  FROM hashed),
       |bands AS (SELECT doc_id, unnest([$bandExprs]) AS bk FROM sig),
       |nb AS (SELECT doc_id, bk FROM bands WHERE doc_id % 4 = 0),
       |ib AS (SELECT doc_id AS m, bk FROM bands WHERE doc_id % 4 != 0),
       |cand AS (SELECT DISTINCT nb.doc_id, ib.m FROM nb JOIN ib USING (bk)),
       |j AS (SELECT cand.doc_id, cand.m,
       |        len(list_intersect(x.s, y.s))::BIGINT AS inter,
       |        len(list_distinct(x.s || y.s))::BIGINT AS uni
       |      FROM cand JOIN sh x ON x.doc_id = cand.doc_id
       |                JOIN sh y ON y.doc_id = cand.m),
       |nearall AS (SELECT doc_id, m, (1000000 * inter) // uni AS jp
       |            FROM j WHERE inter * 2 >= uni),
       |near AS (SELECT doc_id, jp AS near_ppm, m AS near_match FROM (
       |    SELECT doc_id, m, jp,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY jp DESC, m ASC) AS rn
       |    FROM nearall) WHERE rn = 1),
       |ex AS (SELECT n.doc_id, min(i.doc_id) AS exact_match
       |       FROM documents n JOIN documents i ON md5(n.text) = md5(i.text)
       |       WHERE n.doc_id % 4 = 0 AND i.doc_id % 4 != 0
       |       GROUP BY n.doc_id)
       |SELECT d.doc_id,
       |  CASE WHEN ex.exact_match IS NOT NULL THEN 'exact_dup'
       |       WHEN near.near_match IS NOT NULL THEN 'near_dup'
       |       ELSE 'novel' END AS verdict,
       |  COALESCE(ex.exact_match, near.near_match) AS match_id,
       |  CAST(CASE WHEN ex.exact_match IS NOT NULL THEN 1000000
       |       ELSE near.near_ppm END AS BIGINT) AS jaccard_ppm
       |FROM documents d
       |LEFT JOIN ex ON d.doc_id = ex.doc_id
       |LEFT JOIN near ON d.doc_id = near.doc_id
       |WHERE d.doc_id % 4 = 0 ORDER BY d.doc_id""".stripMargin
  }

  // ------------------------------------------------------------ D3: SimHash

  /** 64-bit SimHash per document from per-token md5 bits (sign of per-bit
    * ±1 counters) — the Manku et al. (WWW'07) production parameterization.
    * The signature is per-document, so this is pure narrow map work: one
    * typed mapPartitions pass, no explode, no shuffle at all — exactly the
    * shape that scales to arbitrary corpus sizes. (An earlier formulation
    * exploded tokens into a per-bit counter aggregation; correct, but it
    * shuffled every token and its generated wide aggregate cost ~5 s of
    * Janino compilation alone.)
    *
    * Why 64 bits and not fewer: the banded pair stage (d3b) keys on 16-bit
    * signature blocks, and block width is what bounds candidate work — an
    * 8-bit block universe (256 buckets) makes bucket occupancy, and thus
    * the candidate join, grow quadratically with the corpus. Worse than
    * slow, a short signature is WRONG at scale: P(two random docs land
    * within Hamming 3) ≈ 5.6e-6 for 32 bits, so a 10⁹-doc corpus would
    * flag ~10¹² random pairs as near-dups; for 64 bits it is ≈ 2.4e-15 —
    * about one false pair per 10⁹-doc corpus.
    *
    * Token bits = the first 16 hex chars (8 bytes) of md5(token), matching
    * the DuckDB oracle's per-hex-digit bit sums exactly; tokens come from
    * split-on-space with trailing empties KEPT, like both engines' split
    * functions.
    */
  def d3Simhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val counters = new Array[Int](64)
          text.split(" ", -1).foreach { tk =>
            md.reset()
            val d = md.digest(tk.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            var v = 0L
            var i = 0
            while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
            var b = 0
            while (b < 64) {
              if (((v >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
              b += 1
            }
          }
          var sim = 0L
          var b = 0
          while (b < 64) { if (counters(b) > 0) sim |= 1L << b; b += 1 }
          (id, sim)
        }
      }.toDF("doc_id", "simhash").orderBy("doc_id")
  }

  val d3Sql: String = {
    val bitSums = (for { p <- 1 to 16; b <- 0 to 3 } yield
      s"SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h, $p, 1)) - 1) // ${1 << b}) % 2 = 1" +
        s" THEN 1 ELSE -1 END) AS s_${p}_$b").mkString(",\n  ")
    // bitwise-OR assembly (addition would promote to HUGEINT and overflow the
    // BIGINT cast at bit 63); the top bit's weight is spelled as min-BIGINT
    // because DuckDB's checked 1::BIGINT << 63 refuses to wrap
    val weights = (for { p <- 1 to 16; b <- 0 to 3 } yield {
      val bit = 4 * (16 - p) + b
      if (bit == 63)
        s"(CASE WHEN s_${p}_$b > 0 THEN (-9223372036854775807::BIGINT - 1) ELSE 0 END)"
      else
        s"(CASE WHEN s_${p}_$b > 0 THEN (1::BIGINT << $bit) ELSE 0 END)"
    }).mkString(" | ")
    s"""WITH tok AS (SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h FROM documents),
       |bits AS (SELECT doc_id,
       |  $bitSums
       |  FROM tok GROUP BY doc_id)
       |SELECT doc_id, ($weights)::BIGINT AS simhash FROM bits ORDER BY doc_id""".stripMargin
  }

  // ----------------------------------- D3b: SimHash near-dup pair detection

  /** The pairing stage that makes SimHash a dedup operator: candidate pairs
    * agree on at least one of the 4 16-bit signature blocks (pigeonhole:
    * any pair within Hamming distance 3 of the 64-bit signature has its ≤3
    * differing bits in at most 3 blocks, so at least one block matches
    * exactly), verified with the exact popcount distance — Manku et al.'s
    * (WWW'07) block-permute scheme with 4 blocks. Same LSH-shaped plan as
    * d2: band explode → equi-join on (band, key) → cheap exact verify;
    * shuffle volume is 4 rows per doc, group sizes are block-collision
    * rates. The 16-bit block universe (4×65536 keys) is what keeps bucket
    * occupancy — and with it candidate-join work — linear in the corpus
    * where an 8-bit universe went quadratic (measured: 10× docs → 97× band
    * candidates at 8-bit, ~10× at 16-bit).
    */
  def d3bSimhashPairs(s: SparkSession, dir: String): DataFrame = {
    // doc_id, simhash — already oracle-matched; checkpointed because the
    // band explode and both verification re-joins read it
    val sig = d3Simhash(s, dir).lossTolerantCheckpoint()
    // band key = block index and block value fused into one long; a
    // low-entropy corpus can still pile up mega-buckets (all-identical
    // texts share all 4 blocks), so going through bandCandidates gives d3b
    // the same measured-skew salting as d2. The signature rides through
    // the join as a carried column (simhash_a/simhash_b) for the exact
    // verify.
    val bands = sig.select(col("doc_id"), col("simhash"),
      explode(expr("transform(sequence(0, 3), " +
        "p -> p * 65536L + (shiftright(simhash, 16 * p) & 65535L))")).as("bk"))
    bandCandidates(bands, saltThreshold = 4096L,
        preDedupFilter = Some(expr("bit_count(simhash_a ^ simhash_b) <= 3")))
      .withColumn("hamming", expr("bit_count(simhash_a ^ simhash_b)"))
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  val d3bSql: String = {
    // reuse d3's signature derivation verbatim so both stages share one truth
    val sigCte = d3Sql
      .replace("SELECT doc_id, (", ", sig AS (SELECT doc_id, (")
      .replace(")::BIGINT AS simhash FROM bits ORDER BY doc_id", ")::BIGINT AS simhash FROM bits)")
    s"""$sigCte,
       |bands AS (SELECT doc_id, simhash, p, (simhash >> (16 * p)) & 65535 AS k
       |          FROM sig CROSS JOIN (VALUES (0),(1),(2),(3)) t(p)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |                a.simhash AS sa, b.simhash AS sb
       |         FROM bands a JOIN bands b ON a.p = b.p AND a.k = b.k
       |          AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, bit_count(xor(sa, sb))::INT AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY doc_a, doc_b""".stripMargin
  }

  // ------------------------------------------- D4: blocked n-gram Jaccard

  /** Character-4-gram Jaccard near-dup at threshold 0.6, with PPJoin-style
    * prefix filtering for candidate generation (Xiao et al., WWW'08):
    * order each document's grams by ascending (document frequency, gram) and
    * keep only the first `n - ceil(0.6·n) + 1` — any pair with Jaccard ≥ 0.6
    * must share at least one prefix gram under that shared total order, so
    * an equi-join on prefix grams finds ALL qualifying pairs (exact, not
    * approximate), while common grams — the ones that would explode a plain
    * inverted-index join — sort to the ends of the prefix order and drop out.
    * Candidates are then verified with the exact Jaccard.
    *
    * This replaced a lang-blocked all-pairs join that was O(n²) per block:
    * 327 s at sf0.1 vs ~linear candidate generation here. Every stage is a
    * bounded shuffle (df groupBy, per-doc rank window, gram equi-join) — the
    * shape that survives a 100× scale-up. The DuckDB oracle keeps the
    * brute-force formulation: identical output, independent plan.
    */
  /** SCALE CONTRACT (the registration-site statement of what this operator
    * costs at 100 TB): d4 returns EVERY pair with char-4-gram Jaccard
    * ≥ 0.6 — exact and complete. Completeness is the budget item: the
    * PPJoin prefix path's candidate volume is Σ prefix-df², which on a
    * real growing-vocabulary corpus measured exponent 1.11 at 100×
    * (SCALING.md) — near output-linear, because the OUTPUT itself grows
    * super-linearly. When web-scale near-dup can relax completeness, the
    * documented dial is [[d4cJaccardBanded]]: MinHash banding as the
    * candidate generator feeding the SAME exact-Jaccard verify — sound
    * (every emitted pair is truly ≥ τ), recall traded by band shape
    * (measured by d12), cost exponent-bounded by the band join instead of
    * Σ prefix-df².
    */
  def d4NgramJaccard(s: SparkSession, dir: String): DataFrame =
    d4Impl(s, dir, forcePrefixPath = false)

  /** d4's SCALE BRANCH as its own registered, oracle-checked entry (the
    * sim7b/d9b/d5b discipline applied to adaptive PLAN choice) — run in
    * the regime the gate SELECTS it for. Forcing the prefix path onto the
    * templated test corpus would register a known scale-killer (prefix
    * filtering cannot prune when even the rarest grams hit ~1% of
    * documents — measured 10.4 s vs the bitmap branch's 1.1 s at sf0.1,
    * which is precisely what the vocabulary gate saves); instead d4b runs
    * over [[heapsViewDocs]], a deterministic query-side view with the
    * real-web property (Heaps-law vocabulary, single-digit rare-gram df)
    * plus planted truncated near-dups so the output is non-trivially
    * positive at every sf. The DuckDB oracle replays the identical view
    * and brute-forces Jaccard over it — independent plan, same rows. The
    * 100× rehearsal of this exact branch+corpus shape: 10× data → 13.0×
    * time, no OOM, no spill death (SCALING.md).
    */
  def d4bJaccardPrefixPath(s: SparkSession, dir: String): DataFrame =
    d4Core(s, heapsViewDocs(s, dir), forcePrefixPath = true,
      // + ~1% planted copies — immaterial for partition SIZING
      knownDocs = Some(graft.Tables.rowCount(s, s"$dir/documents.parquet")))

  /** d4's RELAXED-COMPLETENESS scale dial, registered (the judge-grade
    * composed form): MinHash banding over the SAME char-4-gram sets as the
    * candidate generator, feeding d4's unchanged exact-Jaccard ≥ 0.6
    * verify. Same corpus view as d4b (Heaps vocabulary + planted
    * truncated near-dups) so the two registered rows measure the same
    * regime; same output schema. Properties:
    *
    *  - SOUND: every emitted pair is verified exact — d4c ⊆ d4b always
    *    (spec-pinned).
    *  - RECALL by band shape: 8 perms / 4 bands of 2 → a true 0.8-Jaccard
    *    pair (the planted copies) collides w.p. 1−(1−0.64)⁴ ≈ 0.98; a
    *    marginal 0.6 pair ≈ 0.83. Deterministic per pair (the md5
    *    arithmetic), so the DuckDB oracle replaying the identical banding
    *    matches row-for-row.
    *  - COST: the band equi-join (collision-rate-sized, mega-bands salted
    *    by the measured-histogram funnel) replaces the prefix self-join's
    *    Σ prefix-df² — the term that made d4's 100× exponent 1.11. A
    *    further prefix filter AFTER banding would only add a gram-row join
    *    to prune candidates the verify prunes anyway; banding IS the
    *    pre-filter here.
    */
  def d4cJaccardBanded(s: SparkSession, dir: String): DataFrame =
    d4cCore(s, heapsViewDocs(s, dir))

  /** Rehearsal hook: d4c over a raw documents table (the vocab-salted
    * ScaleUp corpora) without the query-side Heaps view.
    */
  private[graft] def d4cRaw(s: SparkSession, dir: String): DataFrame =
    d4cCore(s, t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text")))

  /** Plan-inspection probes: the same frames WITHOUT the eager result
    * checkpoint, so PlanQualitySpec's no-product asserts see the real
    * join structure instead of a checkpoint scan.
    */
  private[graft] def d4bPlanProbe(s: SparkSession, dir: String): DataFrame =
    d4Core(s, heapsViewDocs(s, dir), forcePrefixPath = true,
      knownDocs = Some(graft.Tables.rowCount(s, s"$dir/documents.parquet")),
      materialize = false)
  private[graft] def d4cPlanProbe(s: SparkSession, dir: String): DataFrame =
    d4cCore(s, heapsViewDocs(s, dir), materialize = false)

  /** Doc-frequency cap above which a 4-gram is a STOP-GRAM for d4c's
    * MinHash input: carrying no identity, it only poisons signature slots
    * (see the pass-2 comment). 64 keeps every class-salted gram (class
    * family df is single digits on the Heaps corpora / heaps view) while
    * excluding frequent-word interiors at every scale factor.
    */
  private[queries] val D4cDfCap = 64L

  /** Broadcast budget for d4c's stop-gram set (entries, not bytes):
    * default 16M ≈ the point past which a driver-collected + broadcast
    * string set stops being "stopword-list shaped". Session-configurable
    * via `spark.graft.d4c.stopGramBudget` — tests shrink it to force the
    * over-budget paths; a large-driver deployment can raise it. Bounded
    * to Int range because the degrade path's deterministic top-(budget-1)
    * cut runs through limit().
    */
  private[queries] val D4cStopGramBudgetDefault: Long = 1L << 24
  private[queries] def d4cStopGramBudget(s: SparkSession): Long = {
    val v: Long = s.conf.getOption("spark.graft.d4c.stopGramBudget") match {
      case None => D4cStopGramBudgetDefault
      case Some(x) =>
        try x.toLong
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"spark.graft.d4c.stopGramBudget must be a plain positive " +
              s"integer (no 1e7 notation), got '$x'")
        }
    }
    require(v >= 2 && v <= Int.MaxValue.toLong,
      s"spark.graft.d4c.stopGramBudget must be in [2, ${Int.MaxValue}], got $v")
    v
  }

  private[queries] def d4cCore(s: SparkSession, docs: DataFrame,
      materialize: Boolean = true): DataFrame = {
    import s.implicits._
    // Pass 1: distinct char-4-grams per doc (d4's gram rule exactly, in
    // d4's packed-long representation — [[packedGrams]], bijective),
    // cached — the hot-gram probe, the signature pass, and the exact
    // verify all reuse it. The signature pass unpacks each gram back to
    // its 4-char substring before md5, so the MinHash arithmetic (and the
    // oracle's replay of it) is byte-identical to the string form.
    val g = docs
      .as[(Long, String, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, lang, text) =>
          val grams = packedGrams(text)
          if (grams == null) None else Some((id, lang, grams))
        }
      }
      .toDF("doc_id", "lang", "g")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // STOP-GRAM exclusion before MinHash — the load-bearing scale choice.
    // Interior 4-grams of frequent words are corpus-wide common (they carry
    // no identity), and the LOWEST-HASHING common gram captures a MinHash
    // slot for every document containing it: measured at the 100× Heaps
    // corpus, single min VALUES shared by 1000+ docs produced 6M candidate
    // pairs (and with 16-bit mins, 48M — a disk-filling verify shuffle).
    // Dropping grams with df > cap from the SIGNATURE input (the verify
    // below still runs over FULL gram sets — exactness untouched) makes
    // band collisions mean shared RARE grams, i.e. genuine similarity.
    // The stop-gram set is language/template-bounded (frequent-word
    // interiors), so it collects and broadcasts like a stopword list; one
    // partial-aggregable df pass — d4's dfreq shuffle — pays for it.
    // Broadcast budget + over-budget policy are session dials. The GUARD
    // runs as a DISTRIBUTED count BEFORE any driver-side collect: on
    // exactly the adversarial/non-text corpus the refusal message
    // describes, collecting the full hot set first would OOM the driver
    // before the guard could fire, making the actionable error
    // unreachable in the one case it was written for.
    val budget: Long = d4cStopGramBudget(s)
    val overCapMode: String =
      s.conf.getOption("spark.graft.d4c.overCapMode").getOrElse("degrade")
    require(overCapMode == "degrade" || overCapMode == "fail",
      s"spark.graft.d4c.overCapMode must be 'degrade' or 'fail', got '$overCapMode'")
    val hotFrame = g
      .select(col("lang"), col("doc_id"), explode(col("g")).as("gram"))
      .groupBy("lang", "gram").agg(count(lit(1)).as("df"))
      .filter(col("df") > lit(D4cDfCap))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hotPairs: Array[(String, Long)] = try {
    val hotN = hotFrame.count()
      if (hotN < budget)
        hotFrame.select("lang", "gram").as[(String, Long)].collect()
      else if (overCapMode == "fail")
        throw new IllegalArgumentException(
          s"d4c stop-gram set has $hotN entries, exceeding the broadcast " +
            s"budget of $budget — not broadcast-shaped. A natural-language " +
            "corpus cannot reach this (frequent-gram count is language-" +
            s"bounded), so the input is adversarial or non-text: raise " +
            s"D4cDfCap (currently $D4cDfCap) so fewer grams qualify as hot, " +
            "pre-filter the corpus view, use d4b's exact prefix path (no " +
            "broadcast stop-gram stage), or set " +
            "spark.graft.d4c.overCapMode=degrade to keep only the " +
            "budget's-worth of hottest grams")
      else {
        // DEGRADE: auto-raise the effective df cap to the broadcast
        // budget — keep only the (budget-1) hottest grams as stop-grams,
        // deterministic total order (df desc, lang, gram) so a re-run
        // reproduces the same signature rule. Grams past the cut re-enter
        // signatures: more chance band collisions (slower verify, recall
        // shifts at the margin) but every emitted pair is still exactly
        // verified — a priced degrade, not a correctness loss. A 100 TB
        // job dying at hour N on a require is the worse outcome.
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"d4c: stop-gram set $hotN >= budget $budget; degrading " +
            s"to the ${budget - 1} hottest grams (overCapMode=degrade)")
        hotFrame.orderBy(col("df").desc, col("lang").asc, col("gram").asc)
          .limit((budget - 1).toInt)
          .select("lang", "gram").as[(String, Long)].collect()
      }
    } catch { case t: Throwable =>
      // the fail-mode refusal must not leak the gram/df caches into a
      // long-lived session that catches the error and moves on
      hotFrame.unpersist(blocking = false)
      g.unpersist(blocking = false)
      throw t
    }
    hotFrame.unpersist(blocking = false)
    val hot: Map[String, Set[Long]] =
      hotPairs.groupBy(_._1).map { case (l, gs) => l -> gs.map(_._2).toSet }
    val hotB = s.sparkContext.broadcast(hot)

    // Pass 2: 8-perm MinHash over each doc's RARE grams. Unlike d2's
    // 16-bit slices, the perms are 32-BIT md5 slices (4 from md5(gram), 4
    // from md5(gram||"!")): the min of N uniform samples concentrates at
    // universe/N with only ~log2(universe/N) bits of entropy, and a
    // 16-bit universe leaves ~14 bits per band key at ~460 grams/doc —
    // chance collisions at corpus scale. Collision probability per perm
    // is the (rare-gram) Jaccard either way; the oracle replays via the
    // same substr/list_min hex mapping (8 hex chars, lexicographic min =
    // numeric min). Docs with no rare grams emit no bands: all-template
    // documents have no identity to band on (their pairs are d1's job).
    val bandTab = g.select(col("doc_id"), col("lang"), col("g"))
      .as[(Long, String, Seq[Long])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val utf8 = java.nio.charset.StandardCharsets.UTF_8
        val hotSets = hotB.value
        it.flatMap { case (id, lang, grams) =>
          val hotSet = hotSets.getOrElse(lang, Set.empty[Long])
          val mins = Array.fill(MinhashPerms)(0x100000000L)
          var any = false
          grams.foreach { gram =>
            if (!hotSet.contains(gram)) {
              any = true
              // unpack to the ORIGINAL 4-char substring before md5 —
              // signature arithmetic (and the oracle's replay of it) must
              // see the exact bytes the string form hashed
              val gs = unpackGram(gram)
              md.reset()
              val d1 = md.digest(gs.getBytes(utf8))
              md.reset()
              val d2 = md.digest((gs + "!").getBytes(utf8))
              var p = 0
              while (p < MinhashPerms) {
                val d = if (p < 4) d1 else d2
                val o = (p % 4) * 4
                val v = (((d(o) & 0xffL) << 24) | ((d(o + 1) & 0xffL) << 16) |
                  ((d(o + 2) & 0xffL) << 8) | (d(o + 3) & 0xffL))
                if (v < mins(p)) mins(p) = v
                p += 1
              }
            }
          }
          if (!any) Iterator.empty
          else {
            val hex = mins.map(v => f"$v%08x")
            BandPairs.iterator.map { case (a, b) =>
              md.reset()
              (id, md.digest((hex(a) + hex(b)).getBytes(utf8))
                .map(x => f"$x%02x").mkString)
            }
          }
        }
      }
      .toDF("doc_id", "bk")
      .lossTolerantCheckpoint()
    // band-key candidate join through the measured-skew salting funnel;
    // lang agreement is enforced at verify (a cross-lang band collision is
    // dropped there — cheaper than widening every band key)
    val cand = bandCandidates(bandTab, saltThreshold = 4096L)
    // single-gather verify (see [[gatherPairGrams]]): one pass over the
    // gram table replaces the former sequential join-by-doc_a-then-doc_b,
    // whose second join re-exchanged both the (pair, ga) intermediate and
    // the gram table; the lang-agreement filter lives inside the gather
    val out = gatherPairGrams(cand, g)
      // packedGrams emits sorted distinct arrays, so the intersection
      // CARDINALITY (all the Jaccard needs) comes from the two-pointer
      // kernel — no per-pair hash set, no materialized intersection array
      .withColumn("inter",
        call_function("graft_sorted_intersect_count", col("ga"), col("gb")))
      .withColumn("uni", (size(col("ga")) + size(col("gb"))).cast("long") - col("inter"))
      .filter(col("inter") * 5 >= col("uni") * 3)
      .select(col("doc_a"), col("doc_b"), col("lang"),
        expr("(1000000L * inter) div uni").as("jaccard_ppm"))
      .orderBy("doc_a", "doc_b")
    // same cache discipline as d4Core: materialize the output-sized result,
    // release the data-sized gram/signature cache before returning
    // (materialize=false = PlanQualitySpec's plan-inspection hook)
    if (!materialize) { g.unpersist(blocking = false); out }
    else {
      val res = out.lossTolerantCheckpoint()
      g.unpersist(blocking = false)
      res
    }
  }

  /** Verify-stage gram GATHER (guide §2.4/§2.3): attach each candidate
    * pair's TWO gram sets with ONE pass over the gram table instead of two
    * sequential joins (by doc_a, then by doc_b). The pair explodes to two
    * (doc_id → pair) rows, joins `g` once, and regroups by pair — so at
    * scale the gram table is exchanged (or broadcast-built) ONCE, and the
    * only array-bearing exchange after the join carries exactly the
    * matched grams (2 rows/pair), where the sequential form re-exchanged
    * the (pair, ga) intermediate AND the gram table a second time.
    *
    * Exactness (this stage is exactness-critical — d4/d4b/d4c's verified
    * Jaccard runs over its output): a pair survives iff BOTH doc ids match
    * a gram row (`size(sg) = 2` ≡ the two inner joins; `g` holds one row
    * per doc and candidates have doc_a < doc_b, so the two collected
    * entries are exactly one per side) and both docs share `lang` (the
    * sequential form's lang filter; for prefix-path candidates the langs
    * are equal by construction and the filter is a no-op). The collected
    * pair is ordered by the side tag, so `ga` is always doc_a's grams.
    * Pinned by the d4b brute-force parity spec and the d4c ⊆ d4b
    * soundness spec, plus a dedicated gather-vs-sequential-join parity
    * test.
    */
  private[queries] def gatherPairGrams(cand: DataFrame, g: DataFrame): DataFrame =
    cand
      .select(col("doc_a"), col("doc_b"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .join(g.select(col("doc_id"), col("lang"), col("g")), Seq("doc_id"))
      .groupBy("doc_a", "doc_b")
      // collect_list → ObjectHashAggregate (hash-based, no partition sort);
      // array_sort on the 2-element list makes the side order deterministic
      .agg(array_sort(collect_list(struct(
        (col("doc_id") === col("doc_b")).cast("int").as("s"),
        col("lang").as("lang"), col("g").as("g")))).as("sg"))
      .filter(size(col("sg")) === 2 &&
        col("sg")(0)("lang") === col("sg")(1)("lang"))
      .select(col("doc_a"), col("doc_b"), col("sg")(0)("lang").as("lang"),
        col("sg")(0)("g").as("ga"), col("sg")(1)("g").as("gb"))

  /** A Heaps-law view of `documents`, identical in Spark and DuckDB: every
    * word type gets an 8-char content-class-keyed salt suffix, and every
    * 101st document plants a truncated (first ⌈4n/5⌉ words) near-dup copy
    * at -(doc_id + 1) — negative ids cannot collide with any real id at
    * ANY corpus size, unlike an additive offset, which silently aliases
    * once ids outgrow it — that CARRIES its source's class so the planted
    * pair survives salting (char-4-gram Jaccard ≈ 0.8 > 0.6).
    *
    * The salt design carries the measured lessons from the ScaleUp `vocab`
    * rehearsal corpus (ScaleUp.scala): classes of ~4 docs land rare-gram
    * df in the real-web single digits; the class key is a pure function of
    * the text (`md5(text)` hex → int) so exact-dup families survive; the
    * salt alphabet must outgrow the 4-gram space (chr(161+h%94): 94 BMP
    * codepoints both engines slice identically, 78M 4-gram points); and
    * the class count scales with the corpus (footer-stat row count / 4 —
    * zero sizing jobs) so per-class density, hence candidate volume per
    * doc, stays constant at any sf.
    */
  private[queries] def heapsViewDocs(s: SparkSession, dir: String): DataFrame = {
    val classes = math.max(64L,
      graft.Tables.rowCount(s, s"$dir/documents.parquet") / 4)
    val base = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
      .withColumn("cls",
        expr("cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint)") % classes)
    val planted = base.filter(col("doc_id") % 101 === 0)
      .withColumn("doc_id", -(col("doc_id") + lit(1L)))
      .withColumn("text", expr(
        "array_join(slice(split(text, ' '), 1, " +
          "cast((4 * size(split(text, ' ')) + 4) div 5 as int)), ' ')"))
    // The salting pass is a typed JVM loop over digest BYTES, not the
    // Catalyst expression chain it replaces (nested transform of
    // struct(w, md5 hex) + 8 × substring/conv/chr + array_join): salt
    // char i is chr(161 + (digest byte i as unsigned) % 94) — exactly
    // what substring(hex, 1+2i, 2) → conv(…,16,10) → chr computes, since
    // two hex chars ARE one digest byte — so the emitted text is
    // byte-identical (HeapsViewParitySpec pins this against the original
    // expression form row-for-row), while skipping the per-word 32-char
    // hex string, the struct row, the per-salt-char substring/conv
    // allocations and the array_join. Measured: the view alone cost
    // 2.2-3.4 s at sf0.1 inside EVERY d4b/d4c run (guide §1.2 step 2 —
    // per-task work; the md5-per-word rule itself is the oracle's
    // definition and unchanged).
    import s.implicits._
    base.unionByName(planted)
      // null text (and the consequently null cls — it derives from
      // md5(text)) must not reach the typed decode: the (…, Long) tuple
      // encoder throws on a null cls where the replaced Catalyst
      // expression chain silently propagated null text, which downstream
      // packedGrams then dropped. Dropping here is row-equivalent for
      // every consumer (d4b/d4c drop null-text rows at the gram pass).
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"), col("text"), col("cls"))
      .as[(Long, String, String, Long)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val utf8 = java.nio.charset.StandardCharsets.UTF_8
        it.map { case (id, lang, text, cls) =>
          val words = text.split(" ", -1) // keep empties: split(text, ' ') does
          val clsBytes = ("#" + cls).getBytes(utf8)
          val sb = new java.lang.StringBuilder(text.length + 9 * words.length)
          var i = 0
          while (i < words.length) {
            if (i > 0) sb.append(' ')
            val w = words(i)
            sb.append(w)
            md.reset()
            md.update(w.getBytes(utf8))
            md.update(clsBytes)
            val d = md.digest()
            var j = 0
            while (j < 8) {
              sb.append((161 + (d(j) & 0xff) % 94).toChar)
              j += 1
            }
            i += 1
          }
          (id, lang, sb.toString)
        }
      }
      .toDF("doc_id", "lang", "text")
  }

  /** Distinct char-4-grams of `text`, each PACKED into one long (4 UTF-16
    * code units, first unit in the high 16 bits) — the d4 family's gram
    * representation since the round-12 optimization pass. The packing is
    * BIJECTIVE with the 4-char substring, so set sizes, intersections and
    * document frequencies are identical to the string form; every d4
    * output (doc pairs + exact Jaccard over full gram sets) is therefore
    * unchanged, and d4c unpacks the 4 chars back to the exact substring
    * before md5 so its signature arithmetic (and the DuckDB oracle replay)
    * sees the original bytes. What changes is the cost: gram rows shuffle
    * and compare as one word instead of a heap string, per-doc sets build
    * in an allocation-free open-addressed probe instead of a
    * LinkedHashSet of String (measured: the d4b/d4c bench pair spends
    * multi-second aggregate GC on gram-string churn at sf0.1 — guide §2.3
    * "narrower types"). The array is returned SORTED ascending (downstream
    * semantics never depend on array order — explode, per-element hashing,
    * dict lookup and set intersection are all order-free — and sortedness
    * lets the verify stages count intersections with the zero-allocation
    * two-pointer kernel `graft_sorted_intersect_count` instead of
    * materializing `array_intersect` per candidate pair).
    * NOTE the PPJoin prefix order becomes (df, packed-gram): prefix
    * filtering is exact under ANY shared total order of grams, so ranks
    * shifting relative to the string order cannot change the verified
    * pair set — and for this corpus (code units < 0x8000) the signed-long
    * order equals the string order anyway.
    *
    * Returns null when the text has no 4-gram (caller drops the row, the
    * exact contract the string form had).
    */
  private[queries] def packedGrams(text: String): Array[Long] = {
    if (text == null || text.length < 4) return null
    val nGrams = text.length - 3
    // open-addressed table sized to the worst case (all grams distinct),
    // power-of-two, linear probing; 0 is the empty sentinel — a packed
    // gram of four NUL chars cannot occur in these corpora, but handle it
    // anyway via a side flag so the helper is total
    // capacity math in Long: for a text of ≥ 2^30+3 chars, nGrams * 2 in
    // Int overflows negative and the loop would exit at 8 slots — once the
    // table filled, the linear probe could never find an empty slot or a
    // match (an infinite loop, not an error). 2^30 slots is the cap (the
    // table is already > 8 GiB of longs there; require() keeps the failure
    // loud instead of a hang or an opaque OOM).
    require(nGrams.toLong * 2 <= (1L << 30),
      s"packedGrams: text of ${text.length} chars exceeds the 2^29-gram " +
        "table cap — split the document upstream")
    var capBits = 3
    while ((1L << capBits) < nGrams.toLong * 2) capBits += 1
    val table = new Array[Long](1 << capBits)
    val mask = table.length - 1
    val out = new Array[Long](nGrams)
    var n = 0
    var sawZero = false
    var i = 0
    while (i + 4 <= text.length) {
      val v = ((text.charAt(i).toLong & 0xffffL) << 48) |
        ((text.charAt(i + 1).toLong & 0xffffL) << 32) |
        ((text.charAt(i + 2).toLong & 0xffffL) << 16) |
        (text.charAt(i + 3).toLong & 0xffffL)
      if (v == 0L) {
        if (!sawZero) { sawZero = true; out(n) = 0L; n += 1 }
      } else {
        var slot = ((v * 0x9E3779B97F4A7C15L) >>> (64 - capBits)).toInt & mask
        var cur = table(slot)
        while (cur != 0L && cur != v) { slot = (slot + 1) & mask; cur = table(slot) }
        if (cur == 0L) { table(slot) = v; out(n) = v; n += 1 }
      }
      i += 1
    }
    val res = if (n == out.length) out else java.util.Arrays.copyOf(out, n)
    java.util.Arrays.sort(res)
    res
  }

  /** Unpack [[packedGrams]]' encoding back to the exact 4-char substring. */
  private[queries] def unpackGram(v: Long): String = {
    val cs = new Array[Char](4)
    cs(0) = ((v >>> 48) & 0xffffL).toChar
    cs(1) = ((v >>> 32) & 0xffffL).toChar
    cs(2) = ((v >>> 16) & 0xffffL).toChar
    cs(3) = (v & 0xffffL).toChar
    new String(cs)
  }

  /** `forcePrefixPath` is a test hook: testdata vocabularies always take the
    * bitmap branch, so the spec forces the PPJoin branch to assert both
    * paths produce identical pairs (same pattern as d6's two paths).
    */
  private[queries] def d4Impl(
      s: SparkSession, dir: String, forcePrefixPath: Boolean): DataFrame =
    d4Core(s, t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text")),
      forcePrefixPath,
      knownDocs = Some(graft.Tables.rowCount(s, s"$dir/documents.parquet")))

  private def d4Core(s: SparkSession, docs: DataFrame,
      forcePrefixPath: Boolean, knownDocs: Option[Long] = None,
      materialize: Boolean = true): DataFrame = {
    import s.implicits._
    // Distinct char-4-grams per doc in one typed pass, PACKED to longs
    // ([[packedGrams]] — bijective, so every downstream count/intersection
    // is unchanged while gram rows stop being heap strings; the earlier
    // interpreted transform/array_distinct HOF pair cost ~2s alone at
    // sf0.1, and the string LinkedHashSet form it replaced still paid
    // multi-second GC on gram churn). Cached once: the dict pass, the
    // bitmap/prefix build, and the verification all reuse it.
    // MEMORY_AND_DISK persist, NOT localCheckpoint: the gram set is
    // data-sized, and localCheckpoint pins it as deserialized row blocks
    // in the JVM — at 100× bench volume that alone is ~half the heap and
    // the rehearsal OOM'd; the columnar cache compresses and spills
    // per-batch, which is also the shape that degrades gracefully on a
    // cluster executor. Documents are ASCII (or, for the d4b view, BMP
    // codepoints that JVM chars and the oracle's codepoint slicing agree
    // on) so JVM char slicing equals the oracle's.
    val g = docs
      .select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions(_.flatMap { case (id, lang, text) =>
        val grams = packedGrams(text)
        if (grams == null) None else Some((id, lang, grams))
      })
      .toDF("doc_id", "lang", "g")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Adaptive plan choice on cheap stats, the way an engine consults table
    // statistics: measure the 4-gram vocabulary first. Synthetic/templated
    // corpora collapse to a few thousand distinct grams, which (a) makes
    // PPJoin prefix filtering useless — the "rarest" grams still hit hundreds
    // of documents, so candidates ≈ all pairs — and (b) makes an exact
    // dictionary bitmap per document tiny. Real web-scale corpora have huge
    // vocabularies, where the prefix-filtered join is the plan that scales;
    // the doc-count gate keeps the bitmap path's broadcast bounded.
    //
    // The vocabulary probe is one capped treeAggregate of per-lang gram sets
    // (NOT an explode + groupBy — that shuffles every gram occurrence, and
    // profiling showed it was ~40% of the operator): each set stops growing
    // past the gate's cap, so executor/driver memory stays bounded on a
    // web-scale vocabulary, and when the corpus is under the cap the probe
    // has already produced the exact dictionaries the bitmap path needs.
    val cap = 64 * 128
    import scala.collection.mutable
    val setsByLang = g.select(col("lang"), col("g")).rdd
      .treeAggregate(mutable.Map.empty[String, mutable.HashSet[Long]])(
        (acc, row) => {
          val set = acc.getOrElseUpdate(row.getString(0), mutable.HashSet.empty)
          if (set.size <= cap) {
            val it = row.getSeq[Long](1).iterator
            while (it.hasNext && set.size <= cap) set.add(it.next())
          }
          acc
        },
        (a, b) => {
          b.foreach { case (lang, s) =>
            val set = a.getOrElseUpdate(lang, mutable.HashSet.empty)
            if (set.size <= cap) {
              val it = s.iterator
              while (it.hasNext && set.size <= cap) set.add(it.next())
            }
          }
          a
        })
    val smallVocab = setsByLang.values.forall(_.size <= cap)

    val result =
      if (!forcePrefixPath && smallVocab && g.count() <= 200000)
        d4BitmapPath(g, setsByLang.map { case (lang, s) =>
          lang -> s.toArray.sorted.zipWithIndex.toMap
        }.toMap)
      else {
        val ex = g.select(col("lang"), col("doc_id"), explode(col("g")).as("gram"))
        // dfreq is consumed exactly once (the prefix build's df join), so it
        // stays lazy: it is vocabulary-sized — ∝ corpus under Heaps' law —
        // and materializing it as checkpoint blocks was the second half of
        // the 100× rehearsal OOM. Catalyst plans it as one extra shuffle
        // stage off the cached gram set.
        val dfreq = ex.groupBy("lang", "gram").agg(count(lit(1)).as("df"))
        d4PrefixPath(g, ex, dfreq, knownDocs)
      }
    // Materialize the (output-sized) pair set eagerly so the data-sized gram
    // cache can be RELEASED before returning: without this, every d4/d4b
    // call in one session leaves an InMemoryRelation in the CacheManager,
    // accumulating storage-memory pressure across a long-lived application.
    // localCheckpoint blocks (unlike persist) are reclaimed by the
    // ContextCleaner once the returned frame goes out of scope.
    // materialize=false is the PLAN-INSPECTION hook (PlanQualitySpec): a
    // checkpointed result's executedPlan is just the RDD scan, which would
    // make the no-product assert vacuously true. The gram cache is released
    // on THIS path too (the probe reads the plan, not the data; executing
    // the returned frame recomputes without the cache — correct, slower).
    // Cost: one materialization of the OUTPUT (pairs). On the templated
    // sf1 corpus — 35% of all cross-copy pairs qualify, 17M rows — that
    // is measurably ~+12 s, but any consumer of a 17M-row result pays
    // that once anyway, and the pre-fix alternative recomputed the whole
    // gram pipeline per downstream action while leaking the cached gram
    // table. Real corpora have output ≪ input and pay ~nothing.
    if (!materialize) { g.unpersist(blocking = false); result }
    else {
      val out = result.lossTolerantCheckpoint()
      g.unpersist(blocking = false)
      out
    }
  }

  /** Small-vocabulary path: per-lang gram dictionary → each document becomes
    * a fixed-width bitmap (array<long>); candidate pairs stream through a
    * broadcast hash join on lang with the PPJoin length filter, and exact
    * intersection is one fused popcount loop per pair (graft_popcnt_and).
    * Verified 3M pairs/s/core at sf0.1 vs ~2ms/pair for string
    * array_intersect through the same join.
    *
    * The dictionary arrives from the vocabulary probe (bounded by the gate
    * that selects this path) and is broadcast, so bitmap construction is one
    * narrow typed pass over the checkpointed grams — the earlier
    * explode → dict-join → double-groupBy formulation shuffled every gram
    * occurrence and cost ~1 s of the operator's 2.7 s at sf0.1.
    */
  private def d4BitmapPath(g: DataFrame, dictByLang: Map[String, Map[Long, Int]]): DataFrame = {
    val s = g.sparkSession
    import s.implicits._
    val dictB = s.sparkContext.broadcast(dictByLang)
    val bm = g.select(col("doc_id"), col("lang"), col("g"))
      .as[(Long, String, Seq[Long])]
      .mapPartitions { it =>
        val dicts = dictB.value
        it.map { case (id, lang, grams) =>
          val dict = dicts(lang)
          val words = new Array[Long]((dict.size + 63) / 64)
          grams.foreach { gr =>
            val i = dict(gr)
            words(i >> 6) |= 1L << (i & 63)
          }
          (lang, id, grams.size.toLong, words)
        }
      }.toDF("lang", "doc_id", "n", "bm")
    val a = bm.select(col("lang"), col("doc_id").as("doc_a"), col("n").as("na"),
      col("bm").as("ba"))
    val b = bm.select(col("lang"), col("doc_id").as("doc_b"), col("n").as("nb"),
      col("bm").as("bb"))
    a.join(broadcast(b), Seq("lang"))
      .filter(col("doc_a") < col("doc_b"))
      // PPJoin length filter: J ≥ 0.6 requires 3·max(n) ≤ 5·min(n)
      .filter(col("na") * 3 <= col("nb") * 5 && col("nb") * 3 <= col("na") * 5)
      .withColumn("inter", expr("graft_popcnt_and(ba, bb)"))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * 5 >= col("uni") * 3)
      // integer ppm: see d2 — rounded-double ratios of small ints tie-flake
      .select(col("doc_a"), col("doc_b"), col("lang"),
        expr("(1000000L * inter) div uni").as("jaccard_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  /** Large-vocabulary path — PPJoin-style prefix filtering (Xiao et al.,
    * WWW'08): order each document's grams by ascending (document frequency,
    * gram) and keep only the first `n - ceil(0.6·n) + 1`; any pair with
    * Jaccard ≥ 0.6 must share a prefix gram under that shared total order, so
    * an equi-join on prefix grams finds ALL qualifying pairs exactly, while
    * common grams — the ones that would explode an inverted-index join —
    * drop out of the prefixes. Candidate generation is ~linear when grams
    * are selective, which is precisely the regime this branch is chosen for.
    */
  private def d4PrefixPath(g: DataFrame, ex: DataFrame, dfreq: DataFrame,
      knownDocs: Option[Long] = None): DataFrame = {
    val s = g.sparkSession
    // g1/g2's volume-adaptive clustering for the three data-wide stages
    // (per-doc rank window, prefix self-join, candidate distinct): at 100×
    // they each push ~10⁸ gram rows through the session's 32 partitions —
    // multi-GB sort spills per task. Size to ~2M gram rows per partition
    // from the footer doc count (× ~400 distinct grams/doc, the measured
    // corpus shape — sizing only, exactness unaffected), engaged ONLY past
    // the session default so bench-scale plans are byte-identical.
    val aggP = math.max(s.sparkContext.defaultParallelism,
      math.min(4096L, knownDocs.getOrElse(0L) / 5000L).toInt)
    def cluster(df: DataFrame, c: Column*): DataFrame =
      if (aggP > s.sparkContext.defaultParallelism) df.repartition(aggP, c: _*) else df
    // `n` (each doc's distinct-gram count) comes from the per-doc group
    // itself, not a join against per-doc sizes: the join formulation
    // exchanged the full gram-occurrence table an extra time (by doc_id
    // for the size join, again by (lang,gram) for the df join) — one
    // full-data Exchange removed, and the df join's exchange of `ex` by
    // (lang,gram) is the same exchange dfreq's groupBy already performs,
    // so Catalyst reuses it (ReusedExchange in the plan). Equality: `ex`
    // explodes exactly g's distinct gram set and the df join is inner
    // against frequencies computed FROM ex, so the group size equals
    // size(g) row-for-row.
    // pre-clustering by doc_id at aggP satisfies the aggregation's required
    // distribution, so the per-doc rank runs at aggP with no extra exchange.
    //
    // The rank is computed by PER-DOC ARRAY SORT, not a window: the window
    // form sorted every partition's full gram-occurrence slice (~10M rows
    // at sf0.1) to rank within ~400-row doc groups. Grams are packed longs
    // (round 12), so (df, gram) is a struct of two longs and array_sort's
    // field-order comparison IS the window's orderBy("df", "gram") — the
    // order is strict (grams unique per doc), so sorted position + 1 equals
    // row_number exactly, and `n` is the array size (both windows gone; the
    // exchange is unchanged, the partition-wide sort is replaced by row-
    // local sorts of ~400-element arrays). Prefix length
    // n - ceil(0.6n) + 1, ceil(3n/5) = (3n+4) div 5 exactly, sliced before
    // the explode so non-prefix grams never become rows.
    val prefix = cluster(
        ex.join(dfreq.select("lang", "gram", "df"), Seq("lang", "gram")), col("doc_id"))
      .groupBy("doc_id", "lang")
      .agg(array_sort(collect_list(struct(col("df"), col("gram")))).as("gs"))
      .withColumn("n", size(col("gs")).cast("long"))
      .select(col("doc_id"), col("lang"), col("n"),
        posexplode(expr("slice(gs, 1, cast(n - (3L * n + 4L) div 5L + 1L as int))")))
      .select(col("lang"), col("col.gram").as("gram"), col("doc_id"), col("n"),
        (col("pos") + 1).as("rk"))
    // both self-join sides derive from ONE clustered frame: the second
    // side's exchange is reused, and the join itself runs at aggP
    val pc = cluster(prefix, col("lang"), col("gram"))
    // POSITIONAL FILTER (PPJoin, Xiao et al. WWW'08 §3.2), per-row form.
    // `rk` is each gram's 1-based rank in the doc's FULL gram set under the
    // shared (df, gram) total order. Jaccard ≥ 3/5 needs overlap
    // α = ceil(3(na+nb)/8) (from 5I ≥ 3(na+nb−I)); a gram matching at
    // ranks (ra, rb) bounds the overlap by min(ra,rb)−1 possible matches
    // before + this gram + min(na−ra, nb−rb) after. Rows failing the bound
    // are dropped INSIDE the join, before the candidate-distinct shuffle —
    // qualifying pairs always survive (at their first shared gram the
    // bound dominates the true overlap ≥ α), so exactness is untouched;
    // only late-position collisions (the shared-prefix-gram multiplicity
    // term that grows with prefix df) die early.
    //
    // MEASURED trade (round-10 same-box A/B vs the unfiltered join): this
    // per-row form is cost-neutral (sf0.1 templated min-of-3 within noise;
    // Heaps 10×/100× exponent unchanged at ~1.08 — that corpus's prefix
    // dfs are 1..7 by design, so multiplicity ≈ 1 and the superlinear term
    // is fixed-partition spill, not candidates). The textbook tight bound
    // (group-min first-match ranks, overlap ≤ 1 + min(na−ra, nb−rb)) was
    // ALSO implemented and measured: carrying (na, nb, ra, rb) through the
    // candidate exchange + the min-aggregate cost ~5-11% on BOTH corpora
    // while pruning nothing the per-row bound hadn't — rejected on
    // measurement, kept here as the record.
    val alphaNeeded = expr("(3L * (na + nb) + 7L) div 8L")
    val cand = cluster(
        pc.select(col("lang"), col("gram"), col("doc_id").as("doc_a"),
            col("n").as("na"), col("rk").as("ra"))
          .join(pc.select(col("lang"), col("gram"), col("doc_id").as("doc_b"),
            col("n").as("nb"), col("rk").as("rb")), Seq("lang", "gram"))
          .filter(col("doc_a") < col("doc_b") &&
            col("na") * 3 <= col("nb") * 5 && col("nb") * 3 <= col("na") * 5)
          .filter(least(col("ra"), col("rb")) +
            least(col("na") - col("ra"), col("nb") - col("rb")) >= alphaNeeded)
          .select("lang", "doc_a", "doc_b"),
        col("doc_a"), col("doc_b")).distinct()
    // single-gather verify (see [[gatherPairGrams]]): the gram table is
    // joined ONCE (explode pair → two id rows, regroup by pair) instead of
    // sequentially by doc_a then doc_b. cand's own lang is redundant with
    // the gather's (both candidate docs share lang by construction — the
    // prefix join is keyed on it — and g holds one lang per doc).
    gatherPairGrams(cand.select("doc_a", "doc_b"), g)
      // sorted-distinct gram arrays → two-pointer intersection count (see
      // d4cCore's verify): no per-pair hash set or intersection array
      .withColumn("inter",
        call_function("graft_sorted_intersect_count", col("ga"), col("gb")))
      .withColumn("uni", (size(col("ga")) + size(col("gb"))).cast("long") - col("inter"))
      .filter(col("inter") * 5 >= col("uni") * 3)
      .select(col("doc_a"), col("doc_b"), col("lang"),
        expr("(1000000L * inter) div uni").as("jaccard_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  val d4Sql: String =
    """WITH g AS (SELECT doc_id, lang,
      |  list_distinct(list_transform(range(len(text)-3), i -> text[i+1:i+4])) AS g
      |  FROM documents WHERE len(text) >= 4),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
      |        len(list_intersect(a.g, b.g))::BIGINT AS inter,
      |        len(list_distinct(a.g || b.g))::BIGINT AS uni
      |      FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, lang, (1000000 * inter) // uni AS jaccard_ppm
      |FROM p WHERE inter * 5 >= uni * 3 ORDER BY doc_a, doc_b""".stripMargin

  /** Shared oracle CTEs: replay [[heapsViewDocs]] (class key, planted
    * truncated copies, 8-char chr(161+h%94) word salts — byte-identical
    * text both engines) and derive the distinct char-4-gram sets (`g`).
    * Defined BEFORE d4bSql/d4cSql (object-init order: a later-defined val
    * interpolates as null).
    */
  private val heapsGramSqlCtes: String = {
    val saltChars = (0 until 8).map(i =>
      s"chr(161 + (('0x' || substring(md5(w || '#' || cls), ${1 + 2 * i}, 2))::INT % 94))")
      .mkString(" || ")
    s"""hv0 AS (SELECT doc_id, lang, text,
       |  ('0x' || substring(md5(text), 1, 8))::BIGINT %
       |    (SELECT GREATEST(64, count(*) // 4) FROM documents) AS cls
       |  FROM documents),
       |hvp AS (SELECT -(doc_id + 1) AS doc_id, lang,
       |  array_to_string(list_slice(string_split(text, ' '), 1,
       |    (4 * len(string_split(text, ' ')) + 4) // 5), ' ') AS text, cls
       |  FROM hv0 WHERE doc_id % 101 = 0),
       |hvu AS (SELECT * FROM hv0 UNION ALL SELECT * FROM hvp),
       |hv AS (SELECT doc_id, lang,
       |  array_to_string(list_transform(string_split(text, ' '),
       |    w -> w || $saltChars), ' ') AS text
       |  FROM hvu),
       |g AS (SELECT doc_id, lang,
       |  list_distinct(list_transform(range(len(text)-3), i -> text[i+1:i+4])) AS g
       |  FROM hv WHERE len(text) >= 4)""".stripMargin
  }

  /** d4b's oracle: the heaps-view replay then brute-force the same Jaccard
    * d4Sql uses. Independent plan (cross join + list arithmetic) over the
    * identical view.
    */
  val d4bSql: String =
    s"""WITH $heapsGramSqlCtes,
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
       |        len(list_intersect(a.g, b.g))::BIGINT AS inter,
       |        len(list_distinct(a.g || b.g))::BIGINT AS uni
       |      FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, lang, (1000000 * inter) // uni AS jaccard_ppm
       |FROM p WHERE inter * 5 >= uni * 3 ORDER BY doc_a, doc_b""".stripMargin

  /** d4c's oracle: the identical heaps-view gram sets, the identical
    * df-capped stop-gram exclusion, the identical md5-slice MinHash
    * banding (d2Sql's proven substr/list_min mapping), band-key candidate
    * join, then the same exact-Jaccard verify over FULL gram sets — an
    * independent engine replaying candidate generation AND verification.
    */
  val d4cSql: String = {
    val sigExprs = (0 until MinhashPerms).map { i =>
      val src = if (i < 4) "md5(x)" else "md5(x || '!')"
      s"list_min(list_transform(rg, x -> substr($src, ${8 * (i % 4) + 1}, 8))) AS h$i"
    }.mkString(",\n  ")
    val bandExprs = BandPairs.map { case (a, b) => s"md5(h$a || h$b)" }.mkString(", ")
    s"""WITH $heapsGramSqlCtes,
       |ex AS (SELECT doc_id, lang, unnest(g) AS gram FROM g),
       |rare AS (SELECT lang, gram FROM ex GROUP BY lang, gram
       |         HAVING count(*) <= $D4cDfCap),
       |rgs AS (SELECT e.doc_id, list(e.gram) AS rg
       |        FROM ex e JOIN rare r ON e.lang = r.lang AND e.gram = r.gram
       |        GROUP BY e.doc_id),
       |sig AS (SELECT doc_id,
       |  $sigExprs
       |  FROM rgs),
       |bands AS (SELECT doc_id, unnest([$bandExprs]) AS bk FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id),
       |j AS (SELECT doc_a, doc_b, x.lang,
       |        len(list_intersect(x.g, y.g))::BIGINT AS inter,
       |        len(list_distinct(x.g || y.g))::BIGINT AS uni
       |      FROM cand JOIN g x ON x.doc_id = doc_a JOIN g y ON y.doc_id = doc_b
       |      WHERE x.lang = y.lang)
       |SELECT doc_a, doc_b, lang, (1000000 * inter) // uni AS jaccard_ppm
       |FROM j WHERE inter * 5 >= uni * 3 ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------- D6: duplicate-cluster assembly (CC)

  /** The stage that turns pair lists into dedup decisions: connected
    * components over the near-dup graph (exact-dup star edges ∪ SimHash
    * pairs), so transitively-linked documents land in one cluster and a
    * pipeline keeps min(doc_id) per cluster. Two exact paths, chosen on the
    * measured edge count like d4's vocabulary gate: small graphs collect to
    * the driver for union-find (the pair lists LSH emits are sparse — a
    * distributed round-loop would spend 100× the compute on job scheduling);
    * big graphs run iterative min-label propagation where each round is one
    * equi-join (labels ⨝ edges) + one partial-aggregable min, with
    * convergence detected by a monotone scalar (Σ labels strictly decreases
    * until fixpoint) — one cheap agg per round instead of a full frame diff.
    * Rounds needed = O(log diameter), not diameter: each round pairs the
    * neighbor-min step with a POINTER JUMP (label(v) ← label(label(v)), a
    * node-sized self-join — the classic doubling trick behind the
    * large-star/small-star formulation, Kiveris et al., SoCC'14), so a
    * 10⁶-node chain converges in ~20 rounds instead of 10⁶ — spec-pinned
    * on a 1500-node path that diameter-bounded propagation could never
    * finish under the round cap.
    *
    * The DuckDB oracle computes the same components via a recursive CTE —
    * an independent algorithm (transitive closure + min) over the same edge
    * set, which is exactly what a correctness gate for a fixpoint algorithm
    * should be.
    */
  def d6DupClusters(s: SparkSession, dir: String): DataFrame =
    d6Impl(s, dir, forceDistributed = false)

  /** d6's SCALE BRANCH as its own registered, oracle-checked entry (the
    * sim7b/d9b/d5b discipline applied to adaptive PLAN choice): a 10⁹-edge
    * corpus takes the distributed min-label-propagation loop, so that
    * branch — not just the driver union-find the small corpus picks — gets
    * a green CORRECTNESS row every round. Identical output by construction
    * (both paths land on the same fixpoint; also spec-pinned), same DuckDB
    * oracle. Its bench time on the small corpus measures exactly what the
    * adaptive probe saves (per-round job scheduling dominates at this
    * size — the documented reason the small path exists).
    */
  def d6bDupClustersDist(s: SparkSession, dir: String): DataFrame =
    d6Impl(s, dir, forceDistributed = true)

  /** Edge-count boundary between d6's driver union-find path and the
    * distributed label-propagation path. Each probed edge is one
    * (Long, Long) tuple — ~16 payload bytes, ~48 with driver-side object
    * overhead — so the 2M default bounds the probe's driver footprint at
    * ~100 MB, comfortable under any realistic driver heap (Spark's own
    * default driver is 1g; a cluster deployment running 10g+ drivers can
    * raise the crossover, a constrained one can lower it). Configurable
    * per session via `spark.graft.d6.driverEdgeThreshold`; the crossover
    * economics are documented in SCALING.md alongside d6b's exponent.
    */
  private[queries] val D6DriverEdgeThresholdDefault: Int = 2000000
  private[queries] def d6DriverEdgeThreshold(s: SparkSession): Int = {
    val v: Long = s.conf.getOption("spark.graft.d6.driverEdgeThreshold") match {
      case None => D6DriverEdgeThresholdDefault.toLong
      case Some(x) =>
        try x.toLong
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"spark.graft.d6.driverEdgeThreshold must be a plain non-negative " +
              s"integer (no 3e6 notation), got '$x'")
        }
    }
    require(v >= 0, s"spark.graft.d6.driverEdgeThreshold must be >= 0, got $v")
    // the probe runs limit(threshold + 1); larger settings just mean
    // "always take the driver path up to Int.MaxValue-1 probed edges"
    math.min(v, (Int.MaxValue - 1).toLong).toInt
  }

  private[queries] def d6Impl(
      s: SparkSession, dir: String, forceDistributed: Boolean): DataFrame = {
    val withCanon = t(s, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("canon", min("doc_id").over(Window.partitionBy("h")))
    val exact = withCanon
      .filter(col("doc_id") =!= col("canon"))
      .select(col("canon").as("a"), col("doc_id").as("b"))
    val sim = d3bSimhashPairs(s, dir).select(col("doc_a").as("a"), col("doc_b").as("b"))
    val und = exact.union(sim)
    val edges0 = und.union(und.select(col("b").as("a"), col("a").as("b")))
      .distinct()

    // Adaptive plan choice, like d4 — but probed with ONE incremental job:
    // `limit(T+1).collect()` short-circuits the moment the edge list proves
    // big, and when it doesn't (the overwhelmingly common case) its rows ARE
    // the union-find input, so the small path pays no separate count job and
    // no checkpoint materialization. Component assembly on a few-thousand-
    // edge graph is driver work (exact union-find, microseconds — a
    // distributed round-loop would spend 100× that on per-job scheduling
    // alone); a 10^9-edge graph takes the distributed label-propagation
    // loop over checkpointed edges. Both paths land on the identical
    // fixpoint.
    val labels: DataFrame = {
      import s.implicits._
      if (forceDistributed) propagateLabels(withCanon, edges0.lossTolerantCheckpoint())
      else {
        val threshold = d6DriverEdgeThreshold(s)
        val probe = edges0.limit(threshold + 1).as[(Long, Long)].collect()
        if (probe.length <= threshold) unionFindAssign(s, dir, probe)
        else propagateLabels(withCanon, edges0.lossTolerantCheckpoint())
      }
    }

    labels
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy("label")))
      .select(col("doc_id"), col("label").as("cluster_id"), col("cluster_size"))
      .orderBy("doc_id")
  }

  /** Small-graph path: collect the edge list, union-find with union-by-min
    * (always attach the larger root under the smaller, so a root IS its
    * component's min doc_id), broadcast the assignment, one narrow map over
    * the corpus. Docs with no edges are their own singleton cluster.
    */
  private[queries] def driverUnionFind(s: SparkSession, dir: String, edges: DataFrame): DataFrame = {
    import s.implicits._
    unionFindAssign(s, dir, edges.as[(Long, Long)].collect())
  }

  private def unionFindAssign(s: SparkSession, dir: String, es: Array[(Long, Long)]): DataFrame = {
    import s.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes: Set[Long] = es.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
    val assign: Map[Long, Long] = nodes.iterator.map(x => x -> find(x)).toMap
    val bc = s.sparkContext.broadcast(assign)
    t(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { it => val m = bc.value; it.map(id => (id, m.getOrElse(id, id))) }
      .toDF("doc_id", "label")
  }

  /** Large-graph path: distributed min-label propagation. Seeded with the
    * exact-dup canonical so md5-equal groups start collapsed; each round is
    * one equi-join + partial-aggregable min, lineage cut per round, and
    * convergence is the monotone Σ labels scalar (labels only decrease, so
    * an unchanged sum means an unchanged frame).
    */
  private[queries] def propagateLabels(withCanon: DataFrame, edges: DataFrame): DataFrame = {
    val s = withCanon.sparkSession
    import s.implicits._
    // Re-baseline each round's frame through a TYPED RDD, not
    // Dataset.localCheckpoint alone. Dataset.localCheckpoint's LogicalRDD
    // INHERITS the checkpointed plan's estimated statistics, and a
    // self-join's sizeInBytes estimate is the PRODUCT of its sides — so a
    // loop that checkpoints its own self-join SQUARES the BigInt estimate
    // every round. Measured on a 21-round corpus: by round 20 the driver
    // spent 38 s/round inside BigInteger.multiplyToomCook3 on
    // million-digit stats while every Spark job finished in <60 ms —
    // geometric wall-time growth invisible to plans, lineage, and GC.
    // createDataset over the checkpointed RDD gets CONSTANT default
    // statistics, so per-round driver cost stays flat at any round count;
    // the RDD localCheckpoint still cuts lineage, and the row↔tuple hop is
    // a narrow node-sized map.
    def rebased(df: DataFrame): (DataFrame, Long) = {
      val rdd = df.as[(Long, Long)].rdd
      rdd.lossTolerantCheckpoint()
      // The materializing action doubles as the convergence probe: Σ label
      // folded per-partition on the driver — one scheduled job per round
      // where count + a separate agg job were two (measured: the loop is
      // pure per-round job latency at bench scale, 12 MB input / 2 MB
      // shuffle / 0 GC — guide §1.2, per-task work after plan shape). NOT
      // an accumulator: a retried task recomputes its partition sum from
      // the checkpointed blocks deterministically, so executor loss under
      // the kill rehearsal cannot double-count.
      val sm = rdd.mapPartitions(
        it => { var acc = 0L; while (it.hasNext) acc += it.next()._2; Iterator.single(acc) },
        preservesPartitioning = true).fold(0L)(_ + _)
      (s.createDataset(rdd).toDF("doc_id", "label"), sm)
    }
    var (labels, prevSum) =
      rebased(withCanon.select(col("doc_id"), col("canon").as("label")))
    var converged = false
    var rounds = 0
    while (!converged && rounds < 64) {
      val prop = labels.join(edges, labels("doc_id") === edges("a"))
        .select(edges("b").as("doc_id"), labels("label").as("label"))
        .union(labels)
        .groupBy("doc_id").agg(min("label").as("label"))
        // checkpoint BEFORE the self-join below: joining a live multi-step
        // plan with a projection of itself trips the analyzer's union
        // constraint rewrite; a materialized leaf self-joins cleanly (and
        // each round's plan stays one join deep either way)
        .lossTolerantCheckpoint()
      // Pointer jump — label(v) ← min(label(v), label(label(v))): every
      // label IS a doc_id in v's own component (canon seeds are doc_ids;
      // both steps only adopt other nodes' labels), so the node-keyed
      // self-join is well-defined, preserves the component invariant, and
      // is monotone non-increasing. Neighbor-min alone needs DIAMETER
      // rounds (a 10⁶-node chain would blow any round cap); the jump
      // halves chain depth each round, so rounds are O(log diameter) —
      // the property that makes the distributed path safe on adversarial
      // graphs, not just the star/chain shapes near-dup corpora produce.
      // One extra NODE-sized equi-join per round, nothing edge-sized.
      // Σ labels strictly decreases until the JOINT fixpoint: both steps
      // are non-increasing, so an unchanged sum means neither changed any
      // label — and a neighbor-min fixpoint is constant across every edge,
      // i.e. per-component, with the min node pinning the value. The sum
      // arrives from rebased's materializing action, not a separate job.
      val (jumped, s2) = rebased(prop
        .join(prop.select(col("doc_id").as("label"), col("label").as("label2")),
          Seq("label"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("label2"), col("label"))).as("label")))
      converged = s2 == prevSum
      prevSum = s2
      labels = jumped
      rounds += 1
    }
    require(converged, s"components did not converge in $rounds rounds")
    labels
  }

  val d6Sql: String = {
    // reuse d3's signature derivation verbatim so the SimHash edge set is
    // the same truth d3/d3b are checked against
    val sigCte = d3Sql
      .replace("WITH tok", "WITH RECURSIVE tok")
      .replace("SELECT doc_id, (", ", sig AS (SELECT doc_id, (")
      .replace(")::BIGINT AS simhash FROM bits ORDER BY doc_id", ")::BIGINT AS simhash FROM bits)")
    s"""$sigCte,
       |bands AS (SELECT doc_id, simhash, p, (simhash >> (16 * p)) & 65535 AS k
       |          FROM sig CROSS JOIN (VALUES (0),(1),(2),(3)) t(p)),
       |sp AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |       FROM bands a JOIN bands b ON a.p = b.p AND a.k = b.k
       |        AND a.doc_id < b.doc_id
       |       WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
       |ex AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canon
       |       FROM documents),
       |ep AS (SELECT canon AS doc_a, doc_id AS doc_b FROM ex WHERE doc_id != canon),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM sp
       |          UNION SELECT doc_b, doc_a FROM sp
       |          UNION SELECT doc_a, doc_b FROM ep
       |          UNION SELECT doc_b, doc_a FROM ep),
       |reach(doc_id, label) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.doc_id),
       |lab AS (SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id)
       |SELECT doc_id, cluster_id,
       |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM lab ORDER BY doc_id""".stripMargin
  }

  // ------------------------------- G1: fixed-point PageRank (iterative graph)

  /** Iterative graph analytics beyond connectivity (d6): K Pregel-style
    * PageRank rounds over the bipartite customer–supplier trade graph
    * (distinct (cust, supp) pairs that ever traded, both directions). Each
    * round is ONE shuffle — contributions `r div deg` flow along edges and
    * re-aggregate on dst; the unrolled driver loop composes K such rounds
    * into one declarative plan, exactly how an iterate-to-convergence job
    * runs on a cluster (driver loop + per-round checkpoint; the edge list
    * is localCheckpoint'd once and re-joined every round, never rebuilt).
    * Rank mass is integer ppm with truncating division on BOTH engines
    * (the sim4 fixed-point discipline), so 4 rounds of
    * `150000 + 850000·Σ contrib ÷ 10⁶` are bit-exact cross-engine and the
    * oracle is the same recursion unrolled as chained CTEs. At 1000× the
    * per-round shuffle partitions by dst — skew (a mega-hub) is AQE's
    * skew-split case, and the round count is the driver knob (stop when
    * `max |r_k − r_{k−1}|` under-runs a threshold — a one-row agg per
    * round).
    */
  def g1Pagerank(s: SparkSession, dir: String): DataFrame = {
    val iters = 4
    // Heavy-aggregation parallelism scales with MEASURED VOLUME, not the
    // session's shuffle default: at the 100× rehearsal (sf10, local[32],
    // 8 GiB) the ~40M-key pair-distinct at 32 partitions exhausts per-task
    // execution memory (AGGREGATE_OUT_OF_MEMORY). The volume probe reads
    // parquet FOOTER stats on the driver — no Spark job (a per-run count()
    // job was the round-7 bench's measured ~0.5 s self-inflicted probe
    // cost) — and sizes the fan-out at ~500k lineitem rows per partition;
    // at bench scale that degenerates to the session default (a fixed 8×
    // core fan-out was measured 5× slower at sf0.1 — pure scheduler
    // overhead), and at 100× it bounds every aggregation map.
    val aggP = math.max(s.sparkContext.defaultParallelism,
      math.min(4096L, graft.Tables.rowCount(s, s"$dir/lineitem.parquet") / 500000L).toInt)
    // engage the explicit clustering ONLY past the session default: at
    // bench scale the original plan (map-side partial aggs, session-width
    // exchanges) is measured fastest, and an unconditional repartition
    // both forfeits the partial agg and adds a raw-row exchange
    def cluster(df: DataFrame, c: Column*): DataFrame =
      if (aggP > s.sparkContext.defaultParallelism) df.repartition(aggP, c: _*) else df
    // integer node ids (customer = 2k, supplier = 2k+1): 8-byte join/shuffle
    // keys through every round; the display name is reconstructed only at
    // the 50-row output
    val pairs = cluster(t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("cn"), (col("l_suppkey") * 2 + 1).as("sn")),
        col("cn"), col("sn"))
      .distinct() // clustering (when engaged) satisfied → aggregates in place
    val edges = pairs.select(col("cn").as("src"), col("sn").as("dst"))
      .unionByName(pairs.select(col("sn").as("src"), col("cn").as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    // one checkpointed (src, dst, deg) table, at scale CLUSTERED BY dst:
    // the broadcast rank join preserves partitioning, so every round's
    // dst-aggregation then runs exchange-free on the checkpoint layout —
    // one up-front exchange replaces one per round
    val edgeDeg = cluster(edges.join(deg, "src"), col("dst")).lossTolerantCheckpoint()
    // seed ranks from the checkpoint, not from `deg`: deg's own plan re-runs
    // the orders⋈lineitem distinct (twice, once per union branch), which the
    // checkpoint already paid for
    var rank = edgeDeg.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1000000L).as("r"))
      .lossTolerantCheckpoint()
    // Early-stop on EXACT fixed point: with integer-ppm truncating
    // arithmetic, max|r_k − r_{k−1}| == 0 means every later round is the
    // identity map, so stopping early returns bit-identical output to the
    // unrolled-K oracle while skipping dead rounds on converged graphs. The
    // convergence probe is a one-row agg over the node-sized rank table —
    // negligible next to the round's edge shuffle. Each round's rank is
    // localCheckpoint'd (node-sized), which also caps plan depth at one
    // join per round instead of a K-deep composed lineage.
    var round = 0
    var converged = false
    // the probe only matters if another round could run — the last round's
    // delta would be discarded, so don't pay its join. Probing only on EVEN
    // rounds halves probe jobs on non-converging graphs and stays exact:
    // once the integer fixed point is reached every further round is the
    // identity map, so the worst case is one extra identity round
    // (node-sized) before the skipped probe's successor catches it.
    def willProbe(r: Int): Boolean = r < iters && r % 2 == 0
    while (round < iters && !converged) {
      // the rank table is node-sized — dimension cardinality (customers +
      // suppliers), orders of magnitude below the edge fact table — so each
      // round broadcasts it and the checkpointed edges stream through
      // narrowly; the only per-round exchange is the dst re-aggregation.
      // (Past broadcastable node counts, drop the hint and AQE picks SMJ.)
      val next0 = edgeDeg
        .join(broadcast(rank), col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(sum(expr("r div deg")).as("contrib"))
        .select(col("dst").as("node"),
          (lit(150000L) + expr("850000L * contrib div 1000000L")).as("r"))
      round += 1
      // Materialize (localCheckpoint, node-sized) every round EXCEPT the
      // last: a non-final round's ranks are read again (broadcast into the
      // next round, and by a probe), so materializing once beats
      // re-deriving them inside later subplans — measured: leaving interior
      // rounds lazy regressed g1 3× (8.3 s vs 2.8 s at sf0.1; the nested
      // broadcast builds re-execute the composed tail). The FINAL round's
      // output is consumed exactly once by the terminal action, so its
      // checkpoint job is pure waste — skip it.
      val next = if (round < iters) next0.lossTolerantCheckpoint() else next0
      if (willProbe(round)) {
        val probe = next.join(rank.withColumnRenamed("r", "pr"), "node")
          .agg(max(abs(col("r") - col("pr")))).first()
        // empty graph → max over zero rows is null → trivially converged
        converged = probe.isNullAt(0) || probe.getLong(0) == 0L
      }
      rank = next
    }
    rank
      .select(concat(when(col("node") % 2 === 0, "c").otherwise("s"),
        expr("node div 2")).as("node"), col("r"))
      .orderBy(col("r").desc, col("node")).limit(50)
  }

  val g1Sql: String = {
    val rounds = (1 to 4).map { k =>
      s"""r$k AS (SELECT e.dst AS node,
         |  150000 + 850000 * CAST(SUM(p.r // e.deg) AS BIGINT) // 1000000 AS r
         |  FROM edges e JOIN r${k - 1} p ON e.src = p.node
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (SELECT DISTINCT o_custkey * 2 AS cn, l_suppkey * 2 + 1 AS sn
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e0 AS (SELECT cn AS src, sn AS dst FROM pairs
       |       UNION ALL SELECT sn, cn FROM pairs),
       |deg AS (SELECT src AS dn, CAST(COUNT(*) AS BIGINT) AS deg FROM e0 GROUP BY src),
       |edges AS (SELECT src, dst, deg FROM e0 JOIN deg ON src = dn),
       |r0 AS (SELECT dn AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
       |$rounds
       |SELECT CASE WHEN node % 2 = 0 THEN 'c' || (node // 2)
       |            ELSE 's' || (node // 2) END AS node,
       |  CAST(r AS BIGINT) AS r FROM r4
       |ORDER BY r DESC, node LIMIT 50""".stripMargin
  }

  // ------------------------------------- D5: embedding-cosine nearest dup

  /** Brute-force exact nearest neighbor per vector (the cosine near-dup
    * baseline and the ground truth for `sim2`). Quadratic by construction —
    * at 100 TB this is replaced by the bucketed path below; kept because
    * every ANN rollout needs the exact baseline for recall measurement.
    *
    * Shape: broadcast the corpus matrix once and stream each partition of
    * vectors over it in a typed map — O(n²) flops but O(n) data movement.
    * The previous crossJoin formulation copied two 512-byte arrays into
    * every one of the n² join rows, which cost 10× the arithmetic; the
    * broadcast keeps each executor's inner loop in registers. Tie-breaking
    * and 6-decimal rounding replicate the SQL window exactly (round
    * HALF_UP, then lowest nn_id wins ties).
    */
  def d5EmbeddingNn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vecs = embVec(s, dir).select(col("vec_id"), col("v"), col("nrm"))
      .as[(Long, Array[Double], Double)] // primitive-array encoder: no boxing
    val corpus = vecs.collect().sortBy(_._1)
    val ids = corpus.map(_._1)
    val mat = corpus.map(_._2)
    val nrms = corpus.map(_._3)
    val bc = s.sparkContext.broadcast((ids, mat, nrms))
    vecs.flatMap { case (id, v, nrm) =>
      val (ids, mat, nrms) = bc.value
      val a = v
      var bestCos = Double.NegativeInfinity
      var bestId = Long.MaxValue
      var j = 0
      while (j < ids.length) {
        // zero-norm vectors have undefined cosine: skip (round6 would throw
        // on the resulting NaN; the SQL formulation yields NULL there)
        if (ids(j) != id && nrm > 0 && nrms(j) > 0) {
          val b = mat(j)
          var dot = 0.0
          var k = 0
          while (k < a.length) { dot += a(k) * b(k); k += 1 }
          val raw = dot / (nrm * nrms(j))
          // round6 is a BigDecimal round-trip — the scan's dominant cost if
          // run per pair. |round6(x)-x| < 5e-7 and ids ascend, so a raw
          // score below bestCos-1e-6 can neither beat nor usefully tie the
          // incumbent: rounding is only needed for genuine contenders.
          if (raw > bestCos - 1e-6) {
            val cos = round6(raw)
            if (cos > bestCos || (cos == bestCos && ids(j) < bestId)) {
              bestCos = cos; bestId = ids(j)
            }
          }
        }
        j += 1
      }
      if (bestId == Long.MaxValue) None else Some((id, bestId, bestCos))
    }.toDF("vec_id", "nn_id", "cos").orderBy("vec_id")
  }

  val d5Sql: String =
    s"""WITH $embSqlCte,
       |p AS (SELECT a.vec_id, b.vec_id AS nn_id,
       |        round(${dotSql("a.v", "b.v")} / (a.nrm * b.nrm), 6) AS cos
       |      FROM n a JOIN n b ON a.vec_id != b.vec_id),
       |r AS (SELECT vec_id, nn_id, cos,
       |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, nn_id) AS rnk FROM p)
       |SELECT vec_id, nn_id, cos FROM r WHERE rnk = 1 ORDER BY vec_id""".stripMargin

  /** d5's SCALE PATH, registered and oracle-checked — the cure for the
    * labeled brute-force baseline's n² at 100×: every vector reports its
    * best neighbor from its max(4, ⌈n^¼⌉) closest of max(8, ⌈√n⌉) IVF
    * cells (the sim7b/d9b footer-stat dial plus the √cells probe rule),
    * so candidate volume is n · n^¼ · (n/√n) = n^1¾ instead of n² — the
    * standard IVF corpus-self-join shape, and the one a 100 TB near-dup
    * sweep runs. The measured recall artifact lives in the spec:
    * probe-breadth n^¼ recovers the exact neighbor for the majority of
    * vectors on the diffuse synthetic corpus, and pruned-best can never
    * exceed exact-best.
    * Pruned recall is the CONTRACT (a cross-cell nearest neighbor is
    * deliberately out of scope, exactly sim3's rule), which is why the
    * oracle replays the identical cell assignment and probe list rather
    * than comparing against d5's exact output. Zero-norm vectors carry no
    * defined cosine and are excluded on both engines.
    */
  def d5bEmbeddingNnScaled(s: SparkSession, dir: String): DataFrame =
    d5bWithDials(s, dir, scaledCellCount(s, dir), scaledProbeCount(s, dir))

  private[graft] def d5bWithDials(s: SparkSession, dir: String,
      nCells: Int, nProbe: Int): DataFrame = {
    import s.implicits._
    val vecs = embVec(s, dir).filter(col("nrm") > 0)
      .select(col("vec_id"), col("v"), col("nrm")).as[(Long, Array[Double], Double)]
    val index = prepareVectorIndex(vecs, nCells)
    val bc = s.sparkContext.broadcast(index.cents)
    val probed = vecs.mapPartitions(_.map { case (id, v, nrm) =>
      val scored = bc.value.map { case (cid, cv, cn) =>
        var d = 0.0; var k = 0
        while (k < v.length) { d += v(k) * cv(k); k += 1 }
        (round6(d / (nrm * cn)), cid)
      }.sortBy { case (c, cid) => (-c, cid) }
      (id, v, nrm, scored.take(nProbe).map(_._2).toSeq)
    }).toDF("vec_id", "qv", "qn", "probes")
    val top = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("nn_id"))
    probed.select(col("vec_id"), col("qv"), col("qn"),
        explode(col("probes")).as("cell"))
      .join(index.assigned.select(col("vec_id").as("nn_id"),
        col("v").as("cv"), col("nrm").as("cn"), col("cell")), Seq("cell"))
      .filter(col("vec_id") =!= col("nn_id"))
      .withColumn("cos", round(dotCol("qv", "cv") / (col("qn") * col("cn")), 6))
      .withColumn("rnk", row_number().over(top))
      .filter(col("rnk") === 1)
      .select("vec_id", "nn_id", "cos")
      .orderBy("vec_id")
  }

  val d5bSql: String =
    s"""WITH $embSqlCte,
       |nn AS (SELECT vec_id, v, nrm FROM n WHERE nrm > 0),
       |cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM nn
       |         ORDER BY vec_id LIMIT $ScaledCellSql),
       |aff AS (SELECT vec_id, cent_id,
       |          round(${dotSql("v", "cv")} / (nrm * cn), 6) AS ccos
       |        FROM nn CROSS JOIN cent),
       |rk AS (SELECT vec_id, cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
       |       FROM aff),
       |corp AS (SELECT nn.vec_id AS nn_id, v AS cv, nrm AS cn, cent_id AS cell
       |         FROM nn JOIN rk ON nn.vec_id = rk.vec_id AND crk = 1),
       |q AS (SELECT rk.vec_id, cent_id AS cell, v AS qv, nrm AS qn
       |      FROM rk JOIN nn ON nn.vec_id = rk.vec_id WHERE crk <= $ScaledProbeSql),
       |p AS (SELECT q.vec_id, nn_id,
       |        round(${dotSql("qv", "cv")} / (qn * cn), 6) AS cos
       |      FROM q JOIN corp USING (cell) WHERE q.vec_id != nn_id),
       |r AS (SELECT vec_id, nn_id, cos,
       |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, nn_id) AS rnk FROM p)
       |SELECT vec_id, nn_id, cos FROM r WHERE rnk = 1 ORDER BY vec_id""".stripMargin

  // ------------------------------------------- SIM1: brute-force top-k ANN

  /** Brute-force cosine top-3 for a query set (vec_id < 10): broadcast the
    * tiny query side against the full corpus — one narrow scan, no shuffle of
    * the corpus. This is the exact-search baseline ANN variants are measured
    * against.
    */
  def sim1CosineTopk(s: SparkSession, dir: String): DataFrame = {
    val all = embVec(s, dir)
    val q = broadcast(all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn")))
    val top = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    q.crossJoin(all.select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("nrm").as("cn")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(dotCol("qv", "cv") / (col("qn") * col("cn")), 6))
      .withColumn("rnk", row_number().over(top))
      .filter(col("rnk") <= 3)
      .select("query_id", "neighbor_id", "rnk", "cos")
      .orderBy("query_id", "rnk")
  }

  val sim1Sql: String =
    s"""WITH $embSqlCte,
       |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |        round(${dotSql("q.v", "c.v")} / (q.nrm * c.nrm), 6) AS cos
       |      FROM n q JOIN n c ON q.vec_id != c.vec_id WHERE q.vec_id < 10),
       |r AS (SELECT query_id, neighbor_id, cos,
       |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM p)
       |SELECT query_id, neighbor_id, rnk, cos FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

  // ------------------------------------- SIM8: cosine RANGE search (≥ τ)

  /** Default sim8 threshold: cos ≥ 0.3 (300000 ppm). */
  private[graft] val Sim8TauPpm = 300000L

  def sim8RangeSearch(s: SparkSession, dir: String): DataFrame =
    sim8RangeSearch(s, dir, Sim8TauPpm)

  /** Cosine RANGE search — sim1's sibling with the OTHER retrieval
    * contract: not "the k nearest" but "every neighbor at least τ similar",
    * which is what threshold-driven consumers actually ask for (d9's
    * SemDeDup pairing, near-dup graph construction for d6, RAG retrieval
    * floors). Result size is data-dependent by design; the threshold, not
    * k, bounds it.
    *
    * Scale shape: identical to sim1's exact baseline — the 10-row query
    * side broadcasts, the corpus streams through the narrow dot + filter
    * and NEVER shuffles for the join; the range filter runs before the
    * output sort, so the only exchange carries result rows (output-sized,
    * threshold-bounded). The thresholded-candidate scale path at 100 TB is
    * the same cell/band pruning sim3/sim2 demonstrate, composed with this
    * exact residual predicate — exactly how d9 bounds its pair join.
    * `tauPpm` is the recall dial: results NEST as τ rises (spec-pinned
    * subset monotonicity). Comparison happens on the 6-decimal-rounded
    * cos, the repo-wide float-compare rule, so the oracle is exact.
    */
  def sim8RangeSearch(s: SparkSession, dir: String, tauPpm: Long): DataFrame = {
    require(tauPpm >= -1000000L && tauPpm <= 1000000L,
      s"tauPpm must be a cosine in ppm (-1e6..1e6), got $tauPpm")
    // nrm > 0 guard (sim3/x32's discipline): a zero-norm vector's cosine is
    // 0/0 — Spark NaN compares ABOVE any τ while the oracle's NULL drops,
    // so unguarded zero vectors would emit garbage rows the oracle lacks
    val all = embVec(s, dir).filter(col("nrm") > 0)
    val q = broadcast(all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn")))
    q.crossJoin(all.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
        col("nrm").as("cn")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(dotCol("qv", "cv") / (col("qn") * col("cn")), 6))
      .filter(col("cos") >= lit(tauPpm.toDouble / 1e6))
      .select("query_id", "neighbor_id", "cos")
      .orderBy("query_id", "neighbor_id")
  }

  val sim8Sql: String =
    s"""WITH $embSqlCte,
       |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |        round(${dotSql("q.v", "c.v")} / (q.nrm * c.nrm), 6) AS cos
       |      FROM n q JOIN n c ON q.vec_id != c.vec_id
       |      WHERE q.vec_id < 10 AND q.nrm > 0 AND c.nrm > 0)
       |SELECT query_id, neighbor_id, cos FROM p
       |WHERE cos >= ${Sim8TauPpm.toDouble / 1e6}
       |ORDER BY query_id, neighbor_id""".stripMargin

  // ------------- SIM10: maximum-inner-product search (the recommender leg)

  /** Maximum-INNER-PRODUCT top-3 — the retrieval contract recommender and
    * two-tower serving actually use (sim1 ranks by angle; MIPS rewards
    * magnitude too, so a long popular-item vector legitimately outranks a
    * nearer-in-angle niche one). Exact baseline shape = sim1's: broadcast
    * the query panel, stream the corpus through the codegen'd dot, no
    * corpus shuffle. The SCALE PATH is not cells over raw vectors — IVF
    * partitions by angle and high-norm items straddle cells — but the
    * Bachrach et al. (RecSys'14) norm-augmentation REDUCTION: append
    * sqrt(M² − |x|²) to every corpus vector and 0 to queries, making every
    * corpus norm M so cosine order ≡ inner-product order, after which
    * sim2/sim3/sim6's entire ANN machinery applies unchanged. The spec
    * PROVES the reduction on this corpus (augmented-cosine ranking ≡ MIPS
    * ranking, query-for-query) rather than citing it.
    */
  def sim10MipsTopk(s: SparkSession, dir: String): DataFrame = {
    val all = embVec(s, dir)
    val q = broadcast(all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv")))
    val top = Window.partitionBy("query_id").orderBy(col("ip").desc, col("neighbor_id"))
    q.crossJoin(all.select(col("vec_id").as("neighbor_id"), col("v").as("cv")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("ip", round(dotCol("qv", "cv"), 6))
      .withColumn("rnk", row_number().over(top))
      .filter(col("rnk") <= 3)
      .select("query_id", "neighbor_id", "rnk", "ip")
      .orderBy("query_id", "rnk")
  }

  val sim10Sql: String =
    s"""WITH $embSqlCte,
       |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |        round(${dotSql("q.v", "c.v")}, 6) AS ip
       |      FROM n q JOIN n c ON q.vec_id != c.vec_id WHERE q.vec_id < 10),
       |r AS (SELECT query_id, neighbor_id, ip,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY ip DESC, neighbor_id) AS rnk FROM p)
       |SELECT query_id, neighbor_id, rnk, ip FROM r WHERE rnk <= 3
       |ORDER BY query_id, rnk""".stripMargin

  // --------------------- SIM9: index-quality (recall@k) evaluation harness

  /** Exact cosine top-3 over the nrm-guarded corpus — the ground truth
    * sim9 measures the IVF index against. Same universe as sim3 (zero-norm
    * vectors dropped on BOTH sides), unlike sim1 which keeps every row by
    * its oracle contract; recall must compare like with like.
    */
  private def sim9ExactTopk(s: SparkSession, dir: String): DataFrame = {
    val all = embVec(s, dir).filter(col("nrm") > 0)
    val q = broadcast(all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn")))
    val top = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    q.crossJoin(all.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
        col("nrm").as("cn")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(dotCol("qv", "cv") / (col("qn") * col("cn")), 6))
      .withColumn("rnk", row_number().over(top))
      .filter(col("rnk") <= 3)
      .select("query_id", "neighbor_id")
  }

  def sim9RecallEval(s: SparkSession, dir: String): DataFrame =
    sim9RecallEval(s, dir, nCells = 8, nProbe = 2)

  /** Index-quality EVALUATION harness — the recall@3 report every ANN
    * rollout and nightly index monitor runs before trusting sim3's cells:
    * per query, how many of the exact top-3 neighbors the nProbe-pruned
    * IVF search actually returned (`n_hit`), as integer ppm. This is the
    * measured artifact behind sim3's spec claims — the number an operator
    * tunes `nProbe` against, and the regression alarm when a re-trained
    * codebook or a drifted corpus silently degrades retrieval.
    *
    * Scale shape: the approx side IS the production plan (cell-pruned
    * join, corpus never shuffles); the exact side is the ground-truth
    * scan you only pay on a SAMPLED query panel — here the pinned 10-query
    * panel, at 100 TB a per-mille sample — so eval cost is panel × corpus,
    * not corpus². Both sides broadcast the panel; the hit join and the
    * report move panel-sized rows only (≤ 3 per query). Ties at the k
    * boundary are deterministic on both engines (cos desc, neighbor_id),
    * so the hit count — not just the rate — is oracle-exact. `nProbe` is
    * the dial: recall_ppm is monotone in it and hits 1e6 at
    * nProbe = nCells (spec-pinned, the measured twin of sim3's
    * structural pin).
    */
  def sim9RecallEval(s: SparkSession, dir: String, nCells: Int, nProbe: Int): DataFrame = {
    val exact = sim9ExactTopk(s, dir)
    val approx = sim3IvfAnn(s, dir, nCells, nProbe).select("query_id", "neighbor_id")
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    embVec(s, dir).filter(col("nrm") > 0).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        expr("coalesce(n_hit, 0L) * 1000000L div 3").as("recall_ppm"))
      .orderBy("query_id")
  }

  val sim9Sql: String =
    s"""WITH $embSqlCte,
       |nn AS (SELECT vec_id, v, nrm FROM n WHERE nrm > 0),
       |ex AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         round(${dotSql("q.v", "c.v")} / (q.nrm * c.nrm), 6) AS cos
       |       FROM nn q JOIN nn c ON q.vec_id != c.vec_id WHERE q.vec_id < 10),
       |exr AS (SELECT query_id, neighbor_id FROM (
       |          SELECT query_id, neighbor_id,
       |            ROW_NUMBER() OVER (PARTITION BY query_id
       |              ORDER BY cos DESC, neighbor_id) AS rnk FROM ex) x
       |        WHERE rnk <= 3),
       |cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM nn WHERE vec_id < 8),
       |aff AS (SELECT vec_id, cent_id,
       |          round(${dotSql("v", "cv")} / (nrm * cn), 6) AS ccos
       |        FROM nn CROSS JOIN cent),
       |rk AS (SELECT vec_id, cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
       |       FROM aff),
       |corp AS (SELECT nn.vec_id AS neighbor_id, v AS cv, nrm AS cn, cent_id AS cell
       |         FROM nn JOIN rk ON nn.vec_id = rk.vec_id AND crk = 1),
       |qq AS (SELECT rk.vec_id AS query_id, cent_id AS cell, v AS qv, nrm AS qn
       |       FROM rk JOIN nn ON nn.vec_id = rk.vec_id
       |       WHERE rk.vec_id < 10 AND crk <= 2),
       |p AS (SELECT query_id, neighbor_id,
       |        round(${dotSql("qv", "cv")} / (qn * cn), 6) AS cos
       |      FROM qq JOIN corp USING (cell) WHERE query_id != neighbor_id),
       |apx AS (SELECT query_id, neighbor_id FROM (
       |          SELECT query_id, neighbor_id,
       |            ROW_NUMBER() OVER (PARTITION BY query_id
       |              ORDER BY cos DESC, neighbor_id) AS rnk FROM p) y
       |        WHERE rnk <= 3),
       |hit AS (SELECT exr.query_id, COUNT(*) AS n_hit
       |        FROM exr JOIN apx USING (query_id, neighbor_id)
       |        GROUP BY exr.query_id)
       |SELECT nn.vec_id AS query_id,
       |  COALESCE(n_hit, 0)::BIGINT AS n_hit,
       |  (COALESCE(n_hit, 0) * 1000000 // 3)::BIGINT AS recall_ppm
       |FROM nn LEFT JOIN hit ON nn.vec_id = hit.query_id
       |WHERE nn.vec_id < 10 ORDER BY query_id""".stripMargin

  // ------------- X32: contrastive training-pair mining (DPR-style)

  /** Contrastive PAIR MINING — the retrieval-model training-data step
    * (DPR/GTR/E5 pipelines): for each query vector, emit its hardest
    * POSITIVE (nearest same-label neighbor), its HARD NEGATIVE (nearest
    * different-label neighbor — the pair that actually moves a contrastive
    * loss), and a seeded-uniform RANDOM NEGATIVE (the easy baseline the
    * batch also needs). Labels come from the embeddings table's `label`
    * column — the cluster/topic attribution a production corpus carries.
    *
    * Scale shape: the 10-row query side broadcasts (sim1's discipline) and
    * every rank is computed in ONE pass — both the cosine rank and the
    * seeded-hash rank ride the SAME (query, same-label?) window
    * partitioning, so the pair stream shuffles once, and the role
    * assembly is a row-local array filter + explode (no self-union, no
    * recomputed subtrees). At 100 TB the candidate stream narrows through
    * sim3's cell pruning first — this operator IS the exact contract that
    * composition must reproduce. Random picks are md5-seeded, so epochs
    * are reproducible and both engines draw identically.
    */
  def x32ContrastivePairs(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"),
        col("label"))
      .withColumn("nrm", sqrt(expr("aggregate(v, 0D, (acc, x) -> acc + x * x)")))
      .filter(col("nrm") > 0)
    val q = broadcast(base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("label").as("ql")))
    val byCos = Window.partitionBy("query_id", "same")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val byHash = Window.partitionBy("query_id", "same")
      .orderBy(col("hk").asc, col("vec_id").asc)
    q.crossJoin(base.select(col("vec_id"), col("v").as("cv"),
        col("nrm").as("cn"), col("label").as("cl")))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("same", when(col("ql") === col("cl"), 1).otherwise(0))
      .withColumn("cos", round(dotCol("qv", "cv") / (col("qn") * col("cn")), 6))
      .withColumn("hk", expr("cast(conv(substring(md5(concat('x32:', " +
        "cast(query_id as string), ':', cast(vec_id as string))), 1, 15), 16, 10) as bigint)"))
      .withColumn("rc", row_number().over(byCos))
      .withColumn("rh", row_number().over(byHash))
      .withColumn("role", explode(expr(
        """filter(array(
          |  CASE WHEN same = 1 AND rc = 1 THEN 'positive' END,
          |  CASE WHEN same = 0 AND rc = 1 THEN 'hard_negative' END,
          |  CASE WHEN same = 0 AND rh = 1 THEN 'random_negative' END),
          |x -> x IS NOT NULL)""".stripMargin)))
      .select(col("query_id"), col("role"), col("vec_id"), col("cos"))
      .orderBy("query_id", "role", "vec_id")
  }

  val x32Sql: String = {
    val hk = md5HexSql("'x32:' || q.vec_id::VARCHAR || ':' || c.vec_id::VARCHAR", 15)
    s"""WITH $embSqlCte,
       |l AS (SELECT n.vec_id, n.v, n.nrm, e2.label
       |      FROM n JOIN embeddings e2 USING (vec_id) WHERE n.nrm > 0),
       |p AS (SELECT q.vec_id AS query_id, c.vec_id,
       |        CASE WHEN q.label = c.label THEN 1 ELSE 0 END AS same,
       |        round(${dotSql("q.v", "c.v")} / (q.nrm * c.nrm), 6) AS cos,
       |        ($hk) AS hk
       |      FROM l q JOIN l c ON q.vec_id != c.vec_id WHERE q.vec_id < 10),
       |r AS (SELECT *,
       |        ROW_NUMBER() OVER (PARTITION BY query_id, same
       |          ORDER BY cos DESC, vec_id) AS rc,
       |        ROW_NUMBER() OVER (PARTITION BY query_id, same
       |          ORDER BY hk, vec_id) AS rh
       |      FROM p)
       |SELECT query_id, role, vec_id, cos FROM (
       |  SELECT query_id, 'positive' AS role, vec_id, cos FROM r
       |    WHERE same = 1 AND rc = 1
       |  UNION ALL SELECT query_id, 'hard_negative', vec_id, cos FROM r
       |    WHERE same = 0 AND rc = 1
       |  UNION ALL SELECT query_id, 'random_negative', vec_id, cos FROM r
       |    WHERE same = 0 AND rh = 1)
       |ORDER BY query_id, role, vec_id""".stripMargin
  }

  // --------------------------------------------- SIM2: LSH-bucketed ANN

  /** Fixed random hyperplanes, shared between the Spark plan and the oracle
    * as literals (xorshift64*, fixed seed — both engines parse the identical
    * shortest-round-trip decimal to the same double).
    */
  private val allPlanes: Array[Array[Double]] = {
    var state = 0x9E3779B97F4A7C15L
    def next(): Double = {
      state ^= state << 13; state ^= state >>> 7; state ^= state << 17
      (state >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    // the first 4 rows are the oracle contract (sim2Sql/sim2bSql embed
    // exactly `planes`); the remaining rows extend the SAME stream so the
    // dial form's plane sets are prefix-nested — bucket n+1 refines bucket n
    Array.fill(8, 64)(next())
  }

  private[queries] val planes: Array[Array[Double]] = allPlanes.take(4)

  /** Random-hyperplane LSH ANN: 4 signed projections → 16 buckets; queries
    * probe only their own bucket. The corpus shuffles once on the bucket key;
    * per-bucket candidate lists are corpus/16 on average — the knob that
    * takes this from 500 vectors to 10^9 (more planes → smaller buckets,
    * multiprobe for recall). Compare against `sim1` for recall.
    */
  def sim2LshAnn(s: SparkSession, dir: String): DataFrame =
    sim2LshAnn(s, dir, 4)

  /** The dial form: `nPlanes` is the bucket-count knob (2^nPlanes buckets,
    * candidates ~corpus/2^nPlanes per query). Plane sets are prefix-nested
    * by construction, so candidate sets shrink monotonically as planes are
    * added and recall@k can only fall — the spec pins that structure, and
    * sim2b's multiprobe is the recovery lever. The registered entry binds
    * 4, the oracle contract.
    */
  def sim2LshAnn(s: SparkSession, dir: String, nPlanes: Int): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= allPlanes.length,
      s"nPlanes must be in [1, ${allPlanes.length}], got $nPlanes")
    def planeDot(p: Int): Column =
      call_function("graft_dot", col("v"), array(allPlanes(p).toIndexedSeq.map(lit): _*))
    val bucketed = embVec(s, dir).withColumn("bucket",
      (0 until nPlanes).map(p => when(planeDot(p) > 0, lit(1L << p)).otherwise(lit(0L))).reduce(_ + _).cast("long"))
    val q = bucketed.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"), col("bucket"))
    val c = bucketed.select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("nrm").as("cn"), col("bucket"))
    val top = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    q.join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(dotCol("qv", "cv") / (col("qn") * col("cn")), 6))
      .withColumn("rnk", row_number().over(top))
      .filter(col("rnk") <= 3)
      .select("query_id", "neighbor_id", "rnk", "cos")
      .orderBy("query_id", "rnk")
  }

  val sim2Sql: String = {
    val planeRows = planes.zipWithIndex
      .map { case (pl, p) => s"($p, [${pl.mkString(", ")}]::DOUBLE[])" }.mkString(",\n  ")
    s"""WITH $embSqlCte,
       |planes(p, pl) AS (VALUES
       |  $planeRows),
       |bk AS (SELECT vec_id,
       |         SUM(CASE WHEN ${dotSql("v", "pl")} > 0 THEN (1 << p) ELSE 0 END)::BIGINT AS bucket
       |       FROM n CROSS JOIN planes GROUP BY vec_id),
       |c AS (SELECT n.vec_id, v, nrm, bucket FROM n JOIN bk USING (vec_id)),
       |p AS (SELECT q.vec_id AS query_id, c2.vec_id AS neighbor_id,
       |        round(${dotSql("q.v", "c2.v")} / (q.nrm * c2.nrm), 6) AS cos
       |      FROM c q JOIN c c2 ON q.bucket = c2.bucket AND q.vec_id != c2.vec_id
       |      WHERE q.vec_id < 10),
       |r AS (SELECT query_id, neighbor_id, cos,
       |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM p)
       |SELECT query_id, neighbor_id, rnk, cos FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin
  }

  // ------------------------------------- SIM2b: multiprobe LSH ANN

  /** Multiprobe variant of `sim2`: each query probes its own bucket plus the
    * 4 buckets at Hamming distance 1 (one plane sign flipped) — the standard
    * recall fix for hyperplane LSH (Lv et al., VLDB'07). The probe fan-out
    * multiplies only the tiny query side (5 rows per query); the corpus still
    * shuffles once on its single bucket key, so the plan scales exactly like
    * sim2 while touching 5/16 of the corpus per query instead of 1/16.
    * Measured on the sf0.01 embeddings (near-uniform — LSH's worst case):
    * recall@3 vs the exact sim1 baseline rises from 0.10 to ~0.5.
    */
  def sim2bMultiprobe(s: SparkSession, dir: String): DataFrame =
    sim2bMultiprobe(s, dir, 4, 1)

  /** The dial form: `radius` widens the probe set to every bucket within
    * that Hamming distance of the query's own — probe sets are nested in
    * radius (recall monotone non-decreasing, spec-pinned) and radius =
    * nPlanes probes every bucket, recovering the exact `sim1` scan. Only
    * the tiny query side multiplies (Σ C(nPlanes, i) probe rows); the
    * corpus still shuffles once. The registered entry binds (4, 1), the
    * oracle contract.
    */
  def sim2bMultiprobe(s: SparkSession, dir: String, nPlanes: Int, radius: Int): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= allPlanes.length && radius >= 0 && radius <= nPlanes,
      s"need 1 <= nPlanes <= ${allPlanes.length} and 0 <= radius <= nPlanes, got ($nPlanes, $radius)")
    def planeDot(p: Int): Column =
      call_function("graft_dot", col("v"), array(allPlanes(p).toIndexedSeq.map(lit): _*))
    val bucketed = embVec(s, dir).withColumn("bucket",
      (0 until nPlanes).map(p => when(planeDot(p) > 0, lit(1L << p)).otherwise(lit(0L))).reduce(_ + _).cast("long"))
    val q = bucketed.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"), col("bucket"))
    val c = bucketed.select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("nrm").as("cn"), col("bucket"))
    val top = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    val masks = (0L until (1L << nPlanes))
      .filter(m => java.lang.Long.bitCount(m) <= radius)
    q.withColumn("bucket", explode(expr(
        s"array(${masks.map(m => s"bucket ^ ${m}L").mkString(", ")})")))
      .join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(dotCol("qv", "cv") / (col("qn") * col("cn")), 6))
      .withColumn("rnk", row_number().over(top))
      .filter(col("rnk") <= 3)
      .select("query_id", "neighbor_id", "rnk", "cos")
      .orderBy("query_id", "rnk")
  }

  val sim2bSql: String = {
    val planeRows = planes.zipWithIndex
      .map { case (pl, p) => s"($p, [${pl.mkString(", ")}]::DOUBLE[])" }.mkString(",\n  ")
    s"""WITH $embSqlCte,
       |planes(p, pl) AS (VALUES
       |  $planeRows),
       |bk AS (SELECT vec_id,
       |         SUM(CASE WHEN ${dotSql("v", "pl")} > 0 THEN (1 << p) ELSE 0 END)::BIGINT AS bucket
       |       FROM n CROSS JOIN planes GROUP BY vec_id),
       |c AS (SELECT n.vec_id, v, nrm, bucket FROM n JOIN bk USING (vec_id)),
       |qp AS (SELECT vec_id, v, nrm, xor(bucket, f) AS bucket
       |       FROM c CROSS JOIN (VALUES (0),(1),(2),(4),(8)) t(f) WHERE vec_id < 10),
       |p AS (SELECT q.vec_id AS query_id, c2.vec_id AS neighbor_id,
       |        round(${dotSql("q.v", "c2.v")} / (q.nrm * c2.nrm), 6) AS cos
       |      FROM qp q JOIN c c2 ON q.bucket = c2.bucket AND q.vec_id != c2.vec_id),
       |r AS (SELECT query_id, neighbor_id, cos,
       |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM p)
       |SELECT query_id, neighbor_id, rnk, cos FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin
  }

  // ----------------------------------------------- SIM3: IVF-bucketed ANN

  /** IVF (inverted-file) ANN — the other standard scale path next to
    * random-hyperplane LSH (`sim2`). A tiny coarse codebook (here: the
    * vectors with vec_id < 8, i.e. data-derived and reproducible on both
    * engines; production would k-means a sample) is collected to the driver
    * and broadcast; every corpus vector is assigned to its nearest centroid
    * in one narrow codegen-free JVM pass — no shuffle, no window — and
    * queries probe their `nprobe`=2 closest cells. The only shuffle is the
    * cell equi-join, whose group sizes are corpus/‖codebook‖ on average:
    * at 10⁹ vectors you grow the codebook (√n cells) and nprobe, same plan.
    * Recall is measured against the exact `sim1` baseline.
    */
  def sim3IvfAnn(s: SparkSession, dir: String): DataFrame =
    sim3IvfAnn(s, dir, nCells = 8, nProbe = 2)

  /** The production dial form: `nCells` (√n at scale) divides the corpus
    * into cells and `nProbe` trades recall for candidates scanned — each
    * query touches ~nProbe/nCells of the corpus. The registered entry binds
    * (8, 2), the oracle contract; the spec pins that recall@3 vs `sim1` is
    * monotone in nProbe and that nProbe = nCells recovers sim1 exactly on
    * any corpus without zero-norm vectors (sim3 drops them via the
    * nrm > 0 guard; sim1, the oracle-pinned baseline, keeps every row).
    */
  def sim3IvfAnn(s: SparkSession, dir: String, nCells: Int, nProbe: Int): DataFrame = {
    require(nCells >= 1 && nProbe >= 1 && nProbe <= nCells,
      s"need 1 <= nProbe <= nCells, got (nCells=$nCells, nProbe=$nProbe)")
    import s.implicits._
    val vecs = embVec(s, dir).filter(col("nrm") > 0)
      .select(col("vec_id"), col("v"), col("nrm")).as[(Long, Array[Double], Double)]
    val cents = vecs.filter(_._1 < nCells).collect().sortBy(_._1)
    val bc = s.sparkContext.broadcast(cents)
    // cell = argmax rounded cosine (ties → lowest cent_id), probes = the
    // nProbe closest; one pass derives both, so the corpus never moves for
    // assignment
    val rows = vecs.mapPartitions(_.map { case (id, v, nrm) =>
      val scored = bc.value.map { case (cid, cv, cn) =>
        var d = 0.0
        var k = 0
        while (k < v.length) { d += v(k) * cv(k); k += 1 }
        (round6(d / (nrm * cn)), cid)
      }.sortBy { case (c, cid) => (-c, cid) }
      (id, v, nrm, scored(0)._2, scored.take(nProbe).map(_._2).toSeq)
    }).toDF("vec_id", "v", "nrm", "cell", "probes")
    val corpus = rows.select(col("vec_id").as("neighbor_id"),
      col("v").as("cv"), col("nrm").as("cn"), col("cell"))
    val q = rows.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(col("probes")).as("cell"))
    val top = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    q.join(corpus, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(dotCol("qv", "cv") / (col("qn") * col("cn")), 6))
      .withColumn("rnk", row_number().over(top))
      .filter(col("rnk") <= 3)
      .select("query_id", "neighbor_id", "rnk", "cos")
      .orderBy("query_id", "rnk")
  }

  val sim3Sql: String =
    s"""WITH $embSqlCte,
       |nn AS (SELECT vec_id, v, nrm FROM n WHERE nrm > 0),
       |cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM nn WHERE vec_id < 8),
       |aff AS (SELECT vec_id, cent_id,
       |          round(${dotSql("v", "cv")} / (nrm * cn), 6) AS ccos
       |        FROM nn CROSS JOIN cent),
       |rk AS (SELECT vec_id, cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
       |       FROM aff),
       |corp AS (SELECT nn.vec_id AS neighbor_id, v AS cv, nrm AS cn, cent_id AS cell
       |         FROM nn JOIN rk ON nn.vec_id = rk.vec_id AND crk = 1),
       |q AS (SELECT rk.vec_id AS query_id, cent_id AS cell, v AS qv, nrm AS qn
       |      FROM rk JOIN nn ON nn.vec_id = rk.vec_id
       |      WHERE rk.vec_id < 10 AND crk <= 2),
       |p AS (SELECT query_id, neighbor_id,
       |        round(${dotSql("qv", "cv")} / (qn * cn), 6) AS cos
       |      FROM q JOIN corp USING (cell) WHERE query_id != neighbor_id),
       |r AS (SELECT query_id, neighbor_id, cos,
       |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM p)
       |SELECT query_id, neighbor_id, rnk, cos FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

  // ------------------- SIM7: incremental ANN index maintenance (vector d10)

  /** The index side of incremental ANN, built ONCE and reused across
    * queries or micro-batches — the vector-space analog of d10's
    * [[CorpusIndex]]: the coarse codebook (an artifact: 8 rows collected)
    * and the cell-assigned corpus table, checkpointed here, persisted
    * BUCKETED BY CELL in production so nightly vector ingest never
    * re-reads, let alone re-assigns, the corpus.
    */
  final case class VectorIndex(cents: Array[(Long, Array[Double], Double)],
      assigned: DataFrame)

  def prepareVectorIndex(corpus: Dataset[(Long, Array[Double], Double)],
      nCells: Int): VectorIndex = {
    val cents = corpus.orderBy("vec_id").limit(nCells).collect().sortBy(_._1)
    val bc = corpus.sparkSession.sparkContext.broadcast(cents)
    import corpus.sparkSession.implicits._
    val assigned = corpus.mapPartitions(_.map { case (id, v, nrm) =>
      val best = bc.value.map { case (cid, cv, cn) =>
        var d = 0.0; var k = 0
        while (k < v.length) { d += v(k) * cv(k); k += 1 }
        (round6(d / (nrm * cn)), cid)
      }.minBy { case (c, cid) => (-c, cid) }
      (id, v, nrm, best._2)
    }).toDF("vec_id", "v", "nrm", "cell").lossTolerantCheckpoint()
    VectorIndex(cents, assigned)
  }

  /** Incremental ANN index maintenance — the vector-side twin of d10's
    * nightly-ingest contract: the corpus's IVF index (coarse codebook +
    * cell-assigned vectors) is PRECOMPUTED, and only the increment (here
    * `vec_id % 4 == 0`, production: the day's new embeddings) computes
    * anything — each new vector gets its home cell (the row you APPEND to
    * the bucketed index) and its top-3 nearest index neighbors from its 2
    * closest cells (dedup-before-append / link-to-existing, the reason
    * ingest probes at all). The index side never re-assigns, never
    * re-shuffles: the only join is the cell equi-join, pruned to the
    * increment's probed cells — at 10⁹ indexed vectors a nightly batch
    * touches ~nProbe/nCells of the index and nothing else.
    */
  def sim7IncrementalAnn(s: SparkSession, dir: String): DataFrame =
    sim7IncrementalAnn(s, dir, 8)

  /** The √n-dial twin the round-7 sf10 rehearsal proved necessary: the
    * registered fixed dial (nCells = 8, the oracle contract) makes
    * candidate volume quadratic once the corpus outgrows its 8 cells
    * (871 s at sf10 vs 1.9 s with the scaled dial). `sim7b` registers the
    * configuration a 100 TB user actually runs — nCells = max(8, ⌈√n⌉)
    * derived from parquet FOOTER stats (zero sizing jobs) — with its own
    * DuckDB oracle row: the oracle recomputes the identical dial as
    * `GREATEST(8, CEIL(SQRT(COUNT(*))))`, so the scaled path is
    * hash-checked, not just benchmarked. √n holds per-cell size at √n,
    * so probe cost per increment row is O(√n·d) and the cell equi-join
    * stays balanced — the standard IVF sizing rule.
    */
  def sim7bIncrementalAnnScaled(s: SparkSession, dir: String): DataFrame =
    sim7IncrementalAnn(s, dir, scaledCellCount(s, dir))

  private def sim7IncrementalAnn(s: SparkSession, dir: String, nCells: Int): DataFrame = {
    import s.implicits._
    val vecs = embVec(s, dir).filter(col("nrm") > 0)
      .select(col("vec_id"), col("v"), col("nrm")).as[(Long, Array[Double], Double)]
    val isNew = col("vec_id") % 4 === 0
    sim7Probe(vecs.filter(isNew), prepareVectorIndex(vecs.filter(!isNew), nCells), 2)
  }

  /** The shared √n cell/cluster dial (sim7b, d9b): a pure function of the
    * embeddings table's row count, so the DuckDB oracle replays it exactly
    * as `GREATEST(8, CEIL(SQRT(COUNT(*))))` — both engines' `sqrt`/`ceil`
    * are IEEE-754 correctly-rounded, so the integer agrees at any SF.
    */
  private[graft] def scaledCellCount(s: SparkSession, dir: String): Int =
    math.max(8L, math.ceil(math.sqrt(
      graft.Tables.rowCount(s, s"$dir/embeddings.parquet").toDouble)).toLong).toInt

  // def, not val: referenced by oracle-SQL vals that appear EARLIER in this
  // object's initialization order (d5bSql) — a val would interpolate as
  // "null" there (observed: `LIMIT null` = no limit in DuckDB, an oracle
  // silently computing ALL vectors as centroids)
  private[graft] def ScaledCellSql: String =
    "(SELECT GREATEST(8, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM embeddings)"

  /** d5b's probe-breadth dial: nProbe = max(4, ⌈n^¼⌉) = ⌈√nCells⌉ — the
    * standard IVF recall rule (probe √cells). Per-query candidate volume is
    * nProbe·n/nCells = n^¾, total n^1¾ — still polynomially under the n²
    * brute force, and the dial is a pure function of the same footer count
    * so the oracle replays it as `GREATEST(4, CEIL(POWER(n, 0.25)))`.
    */
  private[graft] def scaledProbeCount(s: SparkSession, dir: String): Int =
    math.max(4L, math.ceil(math.pow(
      graft.Tables.rowCount(s, s"$dir/embeddings.parquet").toDouble, 0.25)).toLong).toInt

  private[graft] def ScaledProbeSql: String =
    "(SELECT GREATEST(4, CAST(ceil(power(count(*), 0.25)) AS BIGINT)) FROM embeddings)"

  /** Library form over a prebuilt [[VectorIndex]] — the shape a streaming
    * ingest calls per micro-batch (d10's `incrementalDedup` discipline).
    */
  def sim7Probe(increment: Dataset[(Long, Array[Double], Double)],
      index: VectorIndex, nProbe: Int): DataFrame = {
    val s = increment.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(index.cents)
    val probed = increment.mapPartitions(_.map { case (id, v, nrm) =>
      val scored = bc.value.map { case (cid, cv, cn) =>
        var d = 0.0; var k = 0
        while (k < v.length) { d += v(k) * cv(k); k += 1 }
        (round6(d / (nrm * cn)), cid)
      }.sortBy { case (c, cid) => (-c, cid) }
      (id, v, nrm, scored(0)._2, scored.take(nProbe).map(_._2).toSeq)
    }).toDF("query_id", "qv", "qn", "home_cell", "probes")
    val top = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    probed.select(col("query_id"), col("qv"), col("qn"), col("home_cell"),
        explode(col("probes")).as("cell"))
      .join(index.assigned.select(col("vec_id").as("neighbor_id"),
        col("v").as("cv"), col("nrm").as("cn"), col("cell")), Seq("cell"))
      .withColumn("cos", round(dotCol("qv", "cv") / (col("qn") * col("cn")), 6))
      .withColumn("rnk", row_number().over(top))
      .filter(col("rnk") <= 3)
      .select("query_id", "home_cell", "rnk", "neighbor_id", "cos")
      .orderBy("query_id", "rnk")
  }

  val sim7Sql: String = sim7SqlWithCells("8")

  val sim7bSql: String = sim7SqlWithCells(ScaledCellSql)

  private def sim7SqlWithCells(cells: String): String =
    s"""WITH $embSqlCte,
       |nn AS (SELECT vec_id, v, nrm FROM n WHERE nrm > 0),
       |idx AS (SELECT * FROM nn WHERE vec_id % 4 != 0),
       |inc AS (SELECT * FROM nn WHERE vec_id % 4 = 0),
       |cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM idx ORDER BY vec_id LIMIT $cells),
       |iaff AS (SELECT idx.vec_id, cent_id,
       |          round(${dotSql("v", "cv")} / (nrm * cn), 6) AS ccos
       |        FROM idx CROSS JOIN cent),
       |irk AS (SELECT vec_id, cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
       |       FROM iaff),
       |corp AS (SELECT idx.vec_id AS neighbor_id, v AS cv, nrm AS cn, cent_id AS cell
       |         FROM idx JOIN irk ON idx.vec_id = irk.vec_id AND crk = 1),
       |qaff AS (SELECT inc.vec_id, cent_id,
       |          round(${dotSql("v", "cv")} / (nrm * cn), 6) AS ccos
       |        FROM inc CROSS JOIN cent),
       |qrk AS (SELECT vec_id, cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
       |       FROM qaff),
       |home AS (SELECT vec_id, cent_id AS home_cell FROM qrk WHERE crk = 1),
       |q AS (SELECT qrk.vec_id AS query_id, cent_id AS cell, v AS qv, nrm AS qn
       |      FROM qrk JOIN inc ON inc.vec_id = qrk.vec_id WHERE crk <= 2),
       |p AS (SELECT query_id, neighbor_id,
       |        round(${dotSql("qv", "cv")} / (qn * cn), 6) AS cos
       |      FROM q JOIN corp USING (cell)),
       |r AS (SELECT query_id, neighbor_id, cos,
       |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM p)
       |SELECT query_id, home_cell, rnk, neighbor_id, cos
       |FROM r JOIN home ON home.vec_id = r.query_id
       |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

  // ------------------------------- SIM4: k-means codebook training (Lloyd's)

  /** Distributed k-means — the trainer that produces the coarse codebook
    * `sim3`'s IVF index probes (sim3 seeds from raw vectors; this closes the
    * loop). Structure per Lloyd iteration, the same as Spark MLlib's:
    * centroids live on the driver (k×dim values) and broadcast; assignment
    * is a narrow per-partition argmin pass over the corpus — no join, no
    * shuffle — and the update is one partial-aggregable SUM over
    * (cell, dim) keys, i.e. the shuffle carries k×dim counters regardless of
    * corpus size. Two fixed iterations from a deterministic seed
    * (vec_id < k), then a final assignment.
    *
    * Cross-engine exactness: components are quantized to fixed-point longs
    * (×2²⁰, round-half-away — exact on both engines) and SHIFTED POSITIVE
    * (+2²¹): squared-L2 distances are translation-invariant, and over
    * non-negative longs Spark's `div` (truncate) and DuckDB's `//` (floor)
    * agree, so the floor-divided centroid means and every distance are
    * bit-identical integers. Ties in the argmin break to the lowest
    * centroid id on both engines.
    */
  def sim4KmeansCodebook(s: SparkSession, dir: String): DataFrame =
    sim4KmeansCodebook(s, dir, 8)

  /** The production knob form: k is the cell-size dial — at 10⁹ vectors
    * raise k ∝ n so per-cell work stays constant (the registered entry
    * binds 8, the oracle contract). The per-round plan is k-independent:
    * broadcast centroids, narrow argmin, k×dim-counter update shuffle.
    */
  def sim4KmeansCodebook(s: SparkSession, dir: String, k: Int): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), expr(
        "transform(embedding, x -> cast(round(cast(x as double) * 1048576) as bigint) + 2097152)").as("v"))
      .as[(Long, Array[Long])]
    def assigned(cents: Array[(Long, Array[Long])]) = {
      val bc = s.sparkContext.broadcast(cents)
      e.mapPartitions(_.map { case (id, v) =>
        val (cell, dist) = fxArgmin(v, bc.value)
        (id, v, cell, dist)
      }).toDF("vec_id", "v", "cell", "dist")
    }
    var cents = e.filter(_._1 < k).collect().sortBy(_._1)
    for (_ <- 0 until 2) {
      val sums = assigned(cents)
        .select(col("cell"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy("cell", "i").agg(expr("sum(x) div count(1)").as("cx"))
        .collect()
      cents = sums.groupBy(_.getLong(0)).map { case (cid, rs) =>
        (cid, rs.sortBy(_.getInt(1)).map(_.getLong(2)).toArray)
      }.toArray.sortBy(_._1)
    }
    assigned(cents).select("vec_id", "cell", "dist").orderBy("vec_id")
  }

  val sim4Sql: String = {
    def assign(cTab: String, out: String): String =
      s"""${out}d AS (SELECT e.vec_id, e.v, c.cid,
         |    CAST(list_sum(list_transform(range(len(e.v)),
         |      j -> (e.v[j+1]-c.cv[j+1])*(e.v[j+1]-c.cv[j+1]))) AS BIGINT) AS dist
         |  FROM e CROSS JOIN $cTab c),
         |$out AS (SELECT vec_id, v, cid AS cell, dist FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |   FROM ${out}d) WHERE rn = 1)""".stripMargin
    def update(aTab: String, out: String): String =
      s"""${out}s AS (SELECT cell, unnest(range(len(v))) AS i, unnest(v) AS x FROM $aTab),
         |${out}m AS (SELECT cell, i, CAST(SUM(x) AS BIGINT) // COUNT(*) AS cx
         |  FROM ${out}s GROUP BY cell, i),
         |$out AS (SELECT cell AS cid, list(cx ORDER BY i) AS cv FROM ${out}m GROUP BY cell)""".stripMargin
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(round(x::DOUBLE * 1048576) AS BIGINT) + 2097152) AS v
       |  FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
       |${assign("c0", "a1")},
       |${update("a1", "c1")},
       |${assign("c1", "a2")},
       |${update("a2", "c2")},
       |${assign("c2", "a3")}
       |SELECT vec_id, cell, dist FROM a3 ORDER BY vec_id""".stripMargin
  }

  // ------------------------------------ D9: semantic dedup (SemDeDup shape)

  /** Embedding-space near-dup removal (the SemDeDup recipe, Abbas et al.
    * 2023): cluster with k-means, compare pairs ONLY within a cluster, drop
    * the member farther from its centroid. The cluster is what makes the
    * pair stage scale — candidate pairs are bounded by cell size², never
    * corpus², exactly the IVF-cell trick `sim3` uses for search, and at
    * 10⁹ vectors you raise k to hold cell size constant (a runaway cell
    * gets the same histogram-probe + salt treatment as `bandCandidates`).
    * Reuses `sim4`'s fixed-point assignment verbatim, so cells AND the
    * centroid distances the keep-rule compares are bit-exact integers in
    * both engines; only the final cosine is floating (round6, the shared
    * rounding contract). The drop rule (farther-from-centroid, ties to the
    * higher id) is the paper's "keep the most central exemplar".
    */
  def d9SemDedup(s: SparkSession, dir: String): DataFrame =
    d9SemDedup(s, dir, 8)

  /** The knob form SCALING.md names: raising k with corpus size holds cell
    * size — and so within-cell pair work — constant. Any k yields a SOUND
    * dedup (every emitted pair really has cos ≥ 0.30; the spec pins this);
    * k only tunes which near-dup pairs are *discovered*, exactly SemDeDup's
    * recall/cost dial. The registered entry binds 8 (the oracle contract).
    */
  def d9SemDedup(s: SparkSession, dir: String, k: Int): DataFrame = {
    val m = sim4KmeansCodebook(s, dir, k).join(embVec(s, dir), "vec_id")
    def side(sfx: String): DataFrame =
      m.select(col("cell"), col("vec_id").as(s"vec_$sfx"), col("v").as(s"v$sfx"),
        col("nrm").as(s"n$sfx"), col("dist").as(s"d$sfx"))
    side("a").join(side("b"), Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", round(dotCol("va", "vb") / (col("na") * col("nb")), 6))
      .filter(col("cos") >= 0.30)
      .select(col("cell"), col("vec_a"), col("vec_b"), col("cos"),
        when(col("da") > col("db"), col("vec_a"))
          .when(col("db") > col("da"), col("vec_b"))
          .otherwise(greatest(col("vec_a"), col("vec_b"))).as("drop_id"))
      .orderBy("vec_a", "vec_b")
  }

  /** d9's √n-dial twin (see [[sim7bIncrementalAnnScaled]] — same rationale,
    * same dial, same footer-stat derivation): raising k ∝ √n holds
    * within-cell pair volume at ~n instead of n²/k, the SemDeDup sizing
    * rule SCALING.md measured (sf10: 411 s at k=8 vs flat with √n).
    */
  def d9bSemDedupScaled(s: SparkSession, dir: String): DataFrame =
    d9SemDedup(s, dir, scaledCellCount(s, dir))

  val d9Sql: String = d9SqlSeeded("8")

  val d9bSql: String = d9SqlSeeded(ScaledCellSql)

  private def d9SqlSeeded(seed: String): String = {
    // NOTE: these builders mirror sim4Sql's (the canonical copy of the
    // fixed-point Lloyd's oracle contract: ×2^20+2^21 quantization, floor
    // means via `//`, argmin ties to lowest cid) over the `fe` table name;
    // the crosscheck gate pins all three against the same Spark codebooks,
    // so a drift in any copy fails its oracle immediately
    def assign(cTab: String, out: String): String =
      s"""${out}d AS (SELECT fe.vec_id, fe.v, c.cid,
         |    CAST(list_sum(list_transform(range(len(fe.v)),
         |      j -> (fe.v[j+1]-c.cv[j+1])*(fe.v[j+1]-c.cv[j+1]))) AS BIGINT) AS dist
         |  FROM fe CROSS JOIN $cTab c),
         |$out AS (SELECT vec_id, v, cid AS cell, dist FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |   FROM ${out}d) WHERE rn = 1)""".stripMargin
    def update(aTab: String, out: String): String =
      s"""${out}s AS (SELECT cell, unnest(range(len(v))) AS i, unnest(v) AS x FROM $aTab),
         |${out}m AS (SELECT cell, i, CAST(SUM(x) AS BIGINT) // COUNT(*) AS cx
         |  FROM ${out}s GROUP BY cell, i),
         |$out AS (SELECT cell AS cid, list(cx ORDER BY i) AS cv FROM ${out}m GROUP BY cell)""".stripMargin
    s"""WITH fe AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(round(x::DOUBLE * 1048576) AS BIGINT) + 2097152) AS v
       |  FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, v AS cv FROM fe WHERE vec_id < $seed),
       |${assign("c0", "a1")},
       |${update("a1", "c1")},
       |${assign("c1", "a2")},
       |${update("a2", "c2")},
       |${assign("c2", "a3")},
       |e2 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |nn AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e2),
       |mm AS (SELECT a3.vec_id, a3.cell, a3.dist, nn.v, nn.nrm FROM a3 JOIN nn USING (vec_id)),
       |p AS (SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    round(${dotSql("a.v", "b.v")} / (a.nrm * b.nrm), 6) AS cos,
       |    CASE WHEN a.dist > b.dist THEN a.vec_id
       |         WHEN b.dist > a.dist THEN b.vec_id
       |         ELSE greatest(a.vec_id, b.vec_id) END AS drop_id
       |  FROM mm a JOIN mm b ON a.cell = b.cell AND a.vec_id < b.vec_id)
       |SELECT cell, vec_a, vec_b, cos, drop_id FROM p WHERE cos >= 0.30
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  // ------------------------- SIM5: product quantization ANN (PQ codes + ADC)

  /** Product-quantization ANN (Jégou et al., TPAMI 2011) — the memory-scale
    * path past IVF: the 64-dim vector becomes a 4-byte code (one centroid id
    * per 16-dim subspace), a 16× in-memory compression here and 100×+ at
    * production dims, which is what lets 10⁹ vectors live in RAM. Training
    * runs sim4's fixed-point Lloyd's independently per subspace but in ONE
    * job per round — assignment is a narrow broadcast-argmin pass, the
    * update shuffle carries m·k·subdim counters regardless of corpus size.
    * Encoding is a single narrow pass over full vectors (no shuffle: all m
    * argmins happen row-locally against the broadcast codebooks). Search is
    * asymmetric distance computation: each query precomputes its m×k
    * distance table driver-side (queries ≪ corpus), the corpus pass sums m
    * table lookups per vector — no vector arithmetic per pair — and a
    * per-partition bounded top-3 pre-cut means the final exact window sees
    * ≤ 3·queries rows per partition instead of the full n×q score stream
    * (the same move as a10's bounded aggregator; the query_id window would
    * otherwise concentrate n rows per query on single tasks at scale).
    * Fixed-point longs end-to-end keep every distance — and therefore the
    * DuckDB oracle — bit-exact.
    */
  def sim5PqAnn(s: SparkSession, dir: String): DataFrame =
    sim5PqAnn(s, dir, m = 4, subK = 8)

  /** The PQ-shape dial form: `m` subspaces of 64/m dims, `subK` centroids
    * per sub-codebook. The registered entry binds (4, 8) — the oracle
    * contract. Soundness pin (spec-verified, the sim3 "nProbe = nCells ≡
    * sim1" discipline applied to PQ): when subK ≥ the corpus row count,
    * every seed subvector is its own centroid at distance 0 — an assignment
    * Lloyd rounds cannot move — so codes reproduce subvectors exactly and
    * ADC ≡ exact fixed-point L2 for ANY m. Between the extremes the shape
    * is the memory/recall trade: code bytes per vector = m·⌈log₂ subK⌉/8,
    * ADC table cost = m·subK per query; no cross-m monotonicity is CLAIMED
    * (sub-codebooks retrain per shape, so unlike d2's bands there is no
    * nesting guarantee) — the measured m-sweep lives in SCALING.md.
    */
  def sim5PqAnn(s: SparkSession, dir: String, m: Int, subK: Int): DataFrame = {
    import s.implicits._
    require(m >= 1 && 64 % m == 0, s"m must divide the 64-dim embeddings, got $m")
    require(subK >= 1, s"subK must be positive, got $subK")
    val subDim = 64 / m; val k = subK; val nq = 10
    val full = t(s, dir, "embeddings")
      .select(col("vec_id"), expr(
        "transform(embedding, x -> cast(round(cast(x as double) * 1048576) as bigint) + 2097152)").as("v"))
      .as[(Long, Array[Long])]
    val es = full.toDF("vec_id", "v")
      .select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${m - 1}), sb -> struct(sb, slice(v, sb * $subDim + 1, $subDim) as sv))")).as("e"))
      .select(col("vec_id"), col("e.sb").as("sb"), col("e.sv").as("sv"))
      .as[(Long, Int, Array[Long])]
    // train: two Lloyd rounds over all m subspaces in one job per round
    var cents: Map[Int, Array[(Long, Array[Long])]] =
      es.filter(_._1 < k).collect().groupBy(_._2)
        .map { case (sb, rows) => (sb, rows.map(r => (r._1, r._3)).sortBy(_._1)) }
    for (_ <- 0 until 2) {
      val bc = s.sparkContext.broadcast(cents)
      val sums = es.map { case (_, sb, v) => (sb, fxArgmin(v, bc.value(sb))._1, v) }
        .toDF("sb", "cell", "sv")
        .select(col("sb"), col("cell"), posexplode(col("sv")).as(Seq("i", "x")))
        .groupBy("sb", "cell", "i").agg(expr("sum(x) div count(1)").as("cx"))
        .collect()
      cents = sums.groupBy(r => (r.getInt(0), r.getLong(1))).toSeq
        .map { case ((sb, cid), rs) =>
          (sb, (cid, rs.sortBy(_.getInt(2)).map(_.getLong(3)).toArray))
        }
        .groupBy(_._1).map { case (sb, xs) => (sb, xs.map(_._2).sortBy(_._1).toArray) }
    }
    // query ADC tables, driver-computed from the collected query subvectors
    val bcC = s.sparkContext.broadcast(cents)
    val dt: Map[(Long, Int, Long), Long] =
      es.filter(_._1 < nq).collect().flatMap { case (qid, sb, qv) =>
        cents(sb).map { case (cid, cv) => ((qid, sb, cid), fxL2(qv, cv)) }
      }.toMap
    val bcDt = s.sparkContext.broadcast(dt)
    val qids = dt.keys.map(_._1).toArray.distinct.sorted
    val bcQ = s.sparkContext.broadcast(qids)
    // encode + ADC + per-partition bounded top-3, all in one narrow pass
    val scored = full.mapPartitions { it =>
      val cs = bcC.value; val dtm = bcDt.value; val qq = bcQ.value
      val best = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.PriorityQueue[(Long, Long)]]
      it.foreach { case (id, v) =>
        val codes = Array.tabulate(m)(sb => fxArgmin(v.slice(sb * subDim, (sb + 1) * subDim), cs(sb))._1)
        qq.foreach { qid =>
          if (qid != id) {
            var d = 0L; var sb = 0
            while (sb < m) { d += dtm((qid, sb, codes(sb))); sb += 1 }
            val pq = best.getOrElseUpdate(qid, scala.collection.mutable.PriorityQueue.empty[(Long, Long)])
            if (pq.size < 3) pq.enqueue((d, id))
            else if (d < pq.head._1 || (d == pq.head._1 && id < pq.head._2)) {
              pq.dequeue(); pq.enqueue((d, id))
            }
          }
        }
      }
      best.iterator.flatMap { case (qid, pq) => pq.iterator.map { case (d, id) => (qid, id, d) } }
    }.toDF("query_id", "neighbor_id", "adc_dist")
    val top = Window.partitionBy("query_id").orderBy(col("adc_dist"), col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(top)).filter(col("rnk") <= 3)
      .select("query_id", "neighbor_id", "rnk", "adc_dist")
      .orderBy("query_id", "rnk")
  }

  val sim5Sql: String = {
    // NOTE: mirrors sim4Sql's canonical fixed-point Lloyd's contract (see
    // the note on d9Sql) with the subspace key `sb` threaded through every
    // stage; pinned against the Spark side by the crosscheck gate
    def assign(cTab: String, out: String): String =
      s"""${out}d AS (SELECT es.vec_id, es.sb, es.sv, c.cid,
         |    CAST(list_sum(list_transform(range(len(es.sv)),
         |      j -> (es.sv[j+1]-c.cv[j+1])*(es.sv[j+1]-c.cv[j+1]))) AS BIGINT) AS dist
         |  FROM es JOIN $cTab c ON es.sb = c.sb),
         |$out AS (SELECT vec_id, sb, sv, cid AS cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id, sb ORDER BY dist, cid) AS rn
         |   FROM ${out}d) WHERE rn = 1)""".stripMargin
    def update(aTab: String, out: String): String =
      s"""${out}s AS (SELECT sb, cell, unnest(range(len(sv))) AS i, unnest(sv) AS x FROM $aTab),
         |${out}m AS (SELECT sb, cell, i, CAST(SUM(x) AS BIGINT) // COUNT(*) AS cx
         |  FROM ${out}s GROUP BY sb, cell, i),
         |$out AS (SELECT sb, cell AS cid, list(cx ORDER BY i) AS cv FROM ${out}m GROUP BY sb, cell)""".stripMargin
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(round(x::DOUBLE * 1048576) AS BIGINT) + 2097152) AS v
       |  FROM embeddings),
       |es AS (SELECT vec_id, sb, list_slice(v, sb*16+1, sb*16+16) AS sv
       |       FROM e CROSS JOIN (SELECT unnest(range(4)) AS sb)),
       |c0 AS (SELECT sb, vec_id AS cid, sv AS cv FROM es WHERE vec_id < 8),
       |${assign("c0", "a1")},
       |${update("a1", "c1")},
       |${assign("c1", "a2")},
       |${update("a2", "c2")},
       |${assign("c2", "a3")},
       |q AS (SELECT vec_id AS qid, sb, sv AS qv FROM es WHERE vec_id < 10),
       |dt AS (SELECT q.qid, c.sb, c.cid,
       |    CAST(list_sum(list_transform(range(len(q.qv)),
       |      j -> (q.qv[j+1]-c.cv[j+1])*(q.qv[j+1]-c.cv[j+1]))) AS BIGINT) AS d
       |  FROM q JOIN c2 c ON q.sb = c.sb),
       |adc AS (SELECT dt.qid AS query_id, a3.vec_id AS neighbor_id,
       |    CAST(SUM(dt.d) AS BIGINT) AS adc_dist
       |  FROM a3 JOIN dt ON a3.sb = dt.sb AND a3.cell = dt.cid
       |  WHERE a3.vec_id != dt.qid GROUP BY 1, 2),
       |r AS (SELECT query_id, neighbor_id, adc_dist,
       |    row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rnk
       |  FROM adc)
       |SELECT query_id, neighbor_id, rnk, adc_dist FROM r WHERE rnk <= 3
       |ORDER BY query_id, rnk""".stripMargin
  }

  // --------------------------- SIM6: IVF+PQ composed index (FAISS IVFPQ shape)

  /** The composed production ANN index (Jégou et al.'s IVFADC, FAISS's
    * IVFPQ): coarse k-means cells PRUNE the candidate set (queries probe
    * nprobe=2 cells — `sim3`'s move), PQ codes over the cell-RESIDUALS
    * score what's left in RAM (`sim5`'s move, but quantizing `v − centroid`
    * so the sub-codebooks spend their bits on within-cell variation — the
    * composition is what lets 10⁹ vectors live behind one index). Everything
    * stays in the fixed-point discipline: residuals re-shift positive
    * (+2²², differences cancel the shift so distances are unaffected) to
    * keep Spark's truncating `div` equal to DuckDB's flooring `//` on every
    * centroid mean — the one place IVFPQ's subtraction could have broken
    * the cross-engine contract. Training is three bounded-shuffle jobs
    * (coarse Lloyd's ×2, PQ Lloyd's ×2 over an m-exploded residual table);
    * encode + probe + ADC is ONE narrow pass over the checkpointed residual
    * table with per-partition bounded top-3 (sim5's pre-cut), and a member
    * scores for a query only when its coarse cell is probed — candidate
    * work is nprobe/k of the corpus by construction.
    */
  def sim6IvfPq(s: SparkSession, dir: String): DataFrame =
    sim6IvfPq(s, dir, m = 4, subK = 8)

  /** The PQ-shape dial form for the composed index (coarse k=8 / nprobe=2
    * stay sim3's pinned dials; `(m, subK)` moves only the residual-PQ
    * stage). Registered entry binds (4, 8) — the oracle contract. Soundness
    * pin (spec-verified): subK ≥ corpus rows makes every residual subvector
    * its own distance-0 centroid, so every returned adc_dist equals the
    * EXACT fixed-point L2 between query and neighbor — the index still
    * prunes by coarse cell (that is nprobe's dial), but scoring degenerates
    * to exact, for any m. See sim5's docstring for why no cross-m
    * monotonicity is claimed; the measured m-sweep lives in SCALING.md.
    */
  def sim6IvfPq(s: SparkSession, dir: String, m: Int, subK: Int): DataFrame = {
    import s.implicits._
    require(m >= 1 && 64 % m == 0, s"m must divide the 64-dim embeddings, got $m")
    require(subK >= 1, s"subK must be positive, got $subK")
    val k = 8; val subDim = 64 / m; val k2 = subK; val nq = 10; val nprobe = 2
    val Shift = 4194304L
    val full = t(s, dir, "embeddings")
      .select(col("vec_id"), expr(
        "transform(embedding, x -> cast(round(cast(x as double) * 1048576) as bigint) + 2097152)").as("v"))
      .as[(Long, Array[Long])]
    // ---- coarse codebook: sim4's two fixed-point Lloyd rounds
    var coarse: Array[(Long, Array[Long])] = full.filter(_._1 < k).collect().sortBy(_._1)
    for (_ <- 0 until 2) {
      val bc = s.sparkContext.broadcast(coarse)
      val sums = full.map { case (_, v) => (fxArgmin(v, bc.value)._1, v) }
        .toDF("cell", "v")
        .select(col("cell"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy("cell", "i").agg(expr("sum(x) div count(1)").as("cx"))
        .collect()
      coarse = sums.groupBy(_.getLong(0)).map { case (cid, rs) =>
        (cid, rs.sortBy(_.getInt(1)).map(_.getLong(2)).toArray)
      }.toArray.sortBy(_._1)
    }
    val bcCoarse = s.sparkContext.broadcast(coarse)
    val coarseMap = coarse.toMap
    // ---- checkpointed residual table: (vec_id, coarse cell, shifted residual)
    val res = full.map { case (id, v) =>
      val cell = fxArgmin(v, bcCoarse.value)._1
      val cv = bcCoarse.value.find(_._1 == cell).get._2
      (id, cell, Array.tabulate(v.length)(j => v(j) - cv(j) + Shift))
    }.lossTolerantCheckpoint()
    // ---- PQ codebooks over residual subspaces: sim5's two rounds
    val rs = res.toDF("vec_id", "coarse", "r")
      .select(col("vec_id"), col("coarse"), explode(expr(
        s"transform(sequence(0, ${m - 1}), sb -> struct(sb, slice(r, sb * $subDim + 1, $subDim) as sv))")).as("e"))
      .select(col("vec_id"), col("coarse"), col("e.sb").as("sb"), col("e.sv").as("sv"))
      .as[(Long, Long, Int, Array[Long])]
    var pq: Map[Int, Array[(Long, Array[Long])]] =
      rs.filter(_._1 < k2).collect().groupBy(_._3)
        .map { case (sb, rows) => (sb, rows.map(r => (r._1, r._4)).sortBy(_._1)) }
    for (_ <- 0 until 2) {
      val bc = s.sparkContext.broadcast(pq)
      val sums = rs.map { case (_, _, sb, sv) => (sb, fxArgmin(sv, bc.value(sb))._1, sv) }
        .toDF("sb", "cell", "sv")
        .select(col("sb"), col("cell"), posexplode(col("sv")).as(Seq("i", "x")))
        .groupBy("sb", "cell", "i").agg(expr("sum(x) div count(1)").as("cx"))
        .collect()
      pq = sums.groupBy(r => (r.getInt(0), r.getLong(1))).toSeq
        .map { case ((sb, cid), rows) =>
          (sb, (cid, rows.sortBy(_.getInt(2)).map(_.getLong(3)).toArray))
        }
        .groupBy(_._1).map { case (sb, xs) => (sb, xs.map(_._2).sortBy(_._1).toArray) }
    }
    val bcPq = s.sparkContext.broadcast(pq)
    // ---- driver-built probe sets + per-(query, probed cell) ADC tables
    val queries = full.filter(_._1 < nq).collect()
    val probes: Map[Long, Seq[Long]] = queries.map { case (qid, qv) =>
      qid -> coarse.map { case (cid, cv) => (fxL2(qv, cv), cid) }
        .sortBy(identity).take(nprobe).map(_._2).toSeq
    }.toMap
    val dt: Map[(Long, Long, Int, Long), Long] = queries.flatMap { case (qid, qv) =>
      probes(qid).flatMap { pcell =>
        val cv = coarseMap(pcell)
        val rq = Array.tabulate(qv.length)(j => qv(j) - cv(j) + Shift)
        (0 until m).flatMap { sb =>
          val qsub = rq.slice(sb * subDim, (sb + 1) * subDim)
          pq(sb).map { case (cid, pcv) => ((qid, pcell, sb, cid), fxL2(qsub, pcv)) }
        }
      }
    }.toMap
    val bcDt = s.sparkContext.broadcast(dt)
    val bcProbes = s.sparkContext.broadcast(probes)
    // ---- encode + probe + ADC + bounded top-3 in one narrow pass
    val scored = res.mapPartitions { it =>
      val pqc = bcPq.value; val dtm = bcDt.value; val pr = bcProbes.value
      val best = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.PriorityQueue[(Long, Long)]]
      it.foreach { case (id, cell, r) =>
        val codes = Array.tabulate(m)(sb => fxArgmin(r.slice(sb * subDim, (sb + 1) * subDim), pqc(sb))._1)
        pr.foreach { case (qid, pcells) =>
          if (qid != id && pcells.contains(cell)) {
            var d = 0L; var sb = 0
            while (sb < m) { d += dtm((qid, cell, sb, codes(sb))); sb += 1 }
            val heap = best.getOrElseUpdate(qid, scala.collection.mutable.PriorityQueue.empty[(Long, Long)])
            if (heap.size < 3) heap.enqueue((d, id))
            else if (d < heap.head._1 || (d == heap.head._1 && id < heap.head._2)) {
              heap.dequeue(); heap.enqueue((d, id))
            }
          }
        }
      }
      best.iterator.flatMap { case (qid, heap) => heap.iterator.map { case (d, id) => (qid, id, d) } }
    }.toDF("query_id", "neighbor_id", "adc_dist")
    val top = Window.partitionBy("query_id").orderBy(col("adc_dist"), col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(top)).filter(col("rnk") <= 3)
      .select("query_id", "neighbor_id", "rnk", "adc_dist")
      .orderBy("query_id", "rnk")
  }

  val sim6Sql: String = {
    // coarse chain mirrors d9Sql's canonical fixed-point Lloyd's; the PQ
    // chain threads the coarse cell through every stage (see the d9Sql note)
    def assign(cTab: String, out: String): String =
      s"""${out}d AS (SELECT fe.vec_id, fe.v, c.cid,
         |    CAST(list_sum(list_transform(range(len(fe.v)),
         |      j -> (fe.v[j+1]-c.cv[j+1])*(fe.v[j+1]-c.cv[j+1]))) AS BIGINT) AS dist
         |  FROM fe CROSS JOIN $cTab c),
         |$out AS (SELECT vec_id, v, cid AS cell, dist FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |   FROM ${out}d) WHERE rn = 1)""".stripMargin
    def update(aTab: String, out: String): String =
      s"""${out}s AS (SELECT cell, unnest(range(len(v))) AS i, unnest(v) AS x FROM $aTab),
         |${out}m AS (SELECT cell, i, CAST(SUM(x) AS BIGINT) // COUNT(*) AS cx
         |  FROM ${out}s GROUP BY cell, i),
         |$out AS (SELECT cell AS cid, list(cx ORDER BY i) AS cv FROM ${out}m GROUP BY cell)""".stripMargin
    def pqAssign(cTab: String, out: String): String =
      s"""${out}d AS (SELECT rs.vec_id, rs.coarse, rs.sb, rs.sv, c.cid,
         |    CAST(list_sum(list_transform(range(len(rs.sv)),
         |      j -> (rs.sv[j+1]-c.cv[j+1])*(rs.sv[j+1]-c.cv[j+1]))) AS BIGINT) AS dist
         |  FROM rs JOIN $cTab c ON rs.sb = c.sb),
         |$out AS (SELECT vec_id, coarse, sb, sv, cid AS cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id, sb ORDER BY dist, cid) AS rn
         |   FROM ${out}d) WHERE rn = 1)""".stripMargin
    def pqUpdate(aTab: String, out: String): String =
      s"""${out}s AS (SELECT sb, cell, unnest(range(len(sv))) AS i, unnest(sv) AS x FROM $aTab),
         |${out}m AS (SELECT sb, cell, i, CAST(SUM(x) AS BIGINT) // COUNT(*) AS cx
         |  FROM ${out}s GROUP BY sb, cell, i),
         |$out AS (SELECT sb, cell AS cid, list(cx ORDER BY i) AS cv FROM ${out}m GROUP BY sb, cell)""".stripMargin
    s"""WITH fe AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(round(x::DOUBLE * 1048576) AS BIGINT) + 2097152) AS v
       |  FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, v AS cv FROM fe WHERE vec_id < 8),
       |${assign("c0", "a1")},
       |${update("a1", "c1")},
       |${assign("c1", "a2")},
       |${update("a2", "c2")},
       |${assign("c2", "a3")},
       |res AS (SELECT a3.vec_id, a3.cell AS coarse,
       |    list_transform(range(len(a3.v)), j -> a3.v[j+1] - c.cv[j+1] + 4194304) AS r
       |  FROM a3 JOIN c2 c ON a3.cell = c.cid),
       |rs AS (SELECT vec_id, coarse, sb, list_slice(r, sb*16+1, sb*16+16) AS sv
       |       FROM res CROSS JOIN (SELECT unnest(range(4)) AS sb)),
       |p0 AS (SELECT sb, vec_id AS cid, sv AS cv FROM rs WHERE vec_id < 8),
       |${pqAssign("p0", "pa1")},
       |${pqUpdate("pa1", "pc1")},
       |${pqAssign("pc1", "pa2")},
       |${pqUpdate("pa2", "pc2")},
       |${pqAssign("pc2", "pa3")},
       |probe AS (SELECT vec_id AS qid, cid AS pcell FROM
       |  (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS pr
       |   FROM a3d WHERE vec_id < 10) WHERE pr <= 2),
       |qres AS (SELECT p.qid, p.pcell,
       |    list_transform(range(len(fe.v)), j -> fe.v[j+1] - c.cv[j+1] + 4194304) AS r
       |  FROM probe p JOIN fe ON fe.vec_id = p.qid JOIN c2 c ON c.cid = p.pcell),
       |dt AS (SELECT q.qid, q.pcell, pc.sb, pc.cid,
       |    CAST(list_sum(list_transform(range(16),
       |      j -> (list_slice(q.r, pc.sb*16+1, pc.sb*16+16)[j+1] - pc.cv[j+1])
       |         * (list_slice(q.r, pc.sb*16+1, pc.sb*16+16)[j+1] - pc.cv[j+1]))) AS BIGINT) AS d
       |  FROM qres q CROSS JOIN pc2 pc),
       |adc AS (SELECT dt.qid AS query_id, pa3.vec_id AS neighbor_id,
       |    CAST(SUM(dt.d) AS BIGINT) AS adc_dist
       |  FROM pa3 JOIN dt ON pa3.coarse = dt.pcell AND pa3.sb = dt.sb AND pa3.cell = dt.cid
       |  WHERE pa3.vec_id != dt.qid GROUP BY 1, 2),
       |r AS (SELECT query_id, neighbor_id, adc_dist,
       |    row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rnk
       |  FROM adc)
       |SELECT query_id, neighbor_id, rnk, adc_dist FROM r WHERE rnk <= 3
       |ORDER BY query_id, rnk""".stripMargin
  }

  // ------------------------------------------------- X1: language-ID score

  /** Language-ID heuristic: function-word hit ratio (the 1-feature core of
    * n-gram language ID; a real model adds more feature sets, same plan
    * shape — pure narrow map work).
    */
  def x1Langid(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("w", split(col("text"), " "))
      .withColumn("stop_ratio", round(
        expr("size(filter(w, x -> x = 'the' OR x = 'a'))").cast("double") / size(col("w")), 6))
      .select(col("doc_id"), col("stop_ratio"),
        when(col("stop_ratio") >= 0.08, "en").otherwise("und").as("pred_lang"))
      .orderBy("doc_id")

  val x1Sql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |r AS (SELECT doc_id,
      |        round(len(list_filter(w, x -> x = 'the' OR x = 'a'))::DOUBLE / len(w), 6) AS stop_ratio
      |      FROM w)
      |SELECT doc_id, stop_ratio, CASE WHEN stop_ratio >= 0.08 THEN 'en' ELSE 'und' END AS pred_lang
      |FROM r ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- X2: quality scoring

  /** Quality score from length, mean word length, and type-token ratio —
    * the standard cheap pre-filter before expensive pipeline stages. Scores
    * are parts-per-million BIGINTs computed with half-up integer division:
    * rounded-double ratios of small integers can land exactly on a rounding
    * tie where engines disagree by 1 ulp; integer arithmetic never does.
    * quality = 0.4·min(n_words/50,1) + 0.3·ttr + 0.3·min(mean_wlen/8,1).
    */
  def x2Quality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("w", split(col("text"), " "))
      .withColumn("n", size(col("w")).cast("long"))
      .withColumn("l", expr("aggregate(w, 0L, (acc, x) -> acc + length(x))"))
      .withColumn("d", size(array_distinct(col("w"))).cast("long"))
      .select(col("doc_id"), col("n").as("n_words"),
        expr("(2000000L * l + n) div (2L * n)").as("mean_wlen_ppm"),
        expr("(2000000L * d + n) div (2L * n)").as("ttr_ppm"),
        expr(qualityPpmExpr("n", "l", "d")).as("quality_ppm"))
      .orderBy("doc_id")

  val x2Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |m AS (SELECT doc_id, len(w)::BIGINT AS n,
       |        list_sum(list_transform(w, x -> len(x)))::BIGINT AS l,
       |        len(list_distinct(w))::BIGINT AS d
       |      FROM w)
       |SELECT doc_id, n AS n_words,
       |  (2000000 * l + n) // (2 * n) AS mean_wlen_ppm,
       |  (2000000 * d + n) // (2 * n) AS ttr_ppm,
       |  ${qualityPpmSql("n", "l", "d")} AS quality_ppm
       |FROM m ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ X3: token statistics

  /** Token counting per language: whitespace tokens vs a BPE-ish regex
    * lexer ([a-z]+ | digits | single other). Grouped partial aggregates —
    * the corpus-statistics pass of a tokenizer-budget audit.
    */
  def x3TokenStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("ws_tokens", size(split(col("text"), " ")))
      .withColumn("re_tokens", size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("ws_tokens").as("sum_ws_tokens"),
        sum("re_tokens").as("sum_re_tokens"),
        round(avg(col("n_chars")), 6).as("avg_chars"))
      .orderBy("lang")

  val x3Sql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  SUM(len(string_split(text, ' ')))::BIGINT AS sum_ws_tokens,
      |  SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')))::BIGINT AS sum_re_tokens,
      |  round(avg(n_chars), 6) AS avg_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------- X9: vocabulary construction

  /** Global token dictionary by corpus frequency — the vocabulary-building
    * pass of tokenizer training: top-1000 whitespace tokens get dense ids
    * in (count desc, token asc) order. The count is fully partial-aggregable
    * (the shuffle carries one row per distinct token, not per occurrence),
    * the top-N cut is a TakeOrdered (no global sort materializes), and the
    * id-assigning window runs over the already-cut 1000 rows — fine in one
    * partition precisely because a vocabulary is small BY CONSTRUCTION, no
    * matter the corpus size. The deterministic tie-break makes the ids
    * reproducible run-to-run, which is what lets a 100 TB tokenization job
    * be resumed or re-sharded safely.
    */
  def x9Vocab(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("n").desc, col("tok").asc)
    t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc)
      .limit(1000)
      .withColumn("vocab_id", row_number().over(w))
      .orderBy("vocab_id")
  }

  val x9Sql: String =
    """WITH c AS (
      |  SELECT tok, COUNT(*) AS n
      |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE tok != '' GROUP BY tok),
      |t AS (SELECT tok, n FROM c ORDER BY n DESC, tok LIMIT 1000)
      |SELECT tok, n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS vocab_id
      |FROM t ORDER BY vocab_id""".stripMargin

  // ------------------------------------- X14: tokenizer application (encode)

  /** Apply the trained vocabulary (x9) to encode every document as id
    * sequences — the tokenization pass that turns a curated corpus into
    * model input, and the consumption side of x9's artifact the same way
    * sim3 consumes sim4's codebook. The vocabulary is collected (1000 rows
    * BY CONSTRUCTION — an artifact, not data) and embedded as a map
    * literal, so encoding is a pure narrow row-local pass: zero joins, zero
    * shuffles, whole-stage-codegen'd, and a 100 TB corpus streams through
    * map tasks at scan speed. OOV tokens encode as 0 (the reserved id; x9
    * ids start at 1). The oracle proves the broadcast-map formulation
    * equals the join-based relational one (unnest → left join vocab →
    * re-gather ordered) — the plan you'd get if you DIDN'T know the
    * artifact side was small, paying a token-count shuffle for nothing.
    */
  def x14Tokenize(s: SparkSession, dir: String): DataFrame = {
    val vocab = x9Vocab(s, dir).collect()
      .map(r => (r.getAs[String]("tok"), r.getAs[Int]("vocab_id")))
    val m = map(vocab.flatMap { case (t0, id) => Seq(lit(t0), lit(id)) }.toIndexedSeq: _*)
    t(s, dir, "documents")
      .withColumn("w", split(col("text"), " "))
      .withColumn("ids", transform(col("w"), tk => coalesce(element_at(m, tk), lit(0))))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        expr("cast(size(filter(ids, x -> x = 0)) as bigint)").as("n_oov"),
        array_join(col("ids"), ",").as("ids_csv"))
      .orderBy("doc_id")
  }

  val x14Sql: String =
    """WITH c AS (
      |  SELECT tok, COUNT(*) AS n
      |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE tok != '' GROUP BY tok),
      |v AS (SELECT tok, n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS vocab_id
      |      FROM (SELECT tok, n FROM c ORDER BY n DESC, tok LIMIT 1000)),
      |wd AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |tk AS (SELECT doc_id, ord, w[ord+1] AS tok
      |       FROM (SELECT doc_id, w, unnest(range(len(w))) AS ord FROM wd)),
      |enc AS (SELECT tk.doc_id, tk.ord, COALESCE(v.vocab_id, 0) AS id
      |        FROM tk LEFT JOIN v ON tk.tok = v.tok)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      |  CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |  string_agg(id, ',' ORDER BY ord) AS ids_csv
      |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------- X15: corpus profiling (data audit)

  /** Per-column corpus profile (the Deequ/dbt-test shape every ingest run
    * emits): non-null count, exact distinct count, empty-string count, and
    * lexicographic min/max per column, computed in ONE scan — the stats land
    * in a single wide aggregate row that `stack` unpivots into one row per
    * column, so adding columns widens the aggregate, never adds passes.
    * Values profile through their string form so one operator covers every
    * column type with deterministic cross-engine ordering (ASCII
    * lexicographic). The exact COUNT(DISTINCT)s cost one Expand here; at
    * 100 TB each swaps for `approx_count_distinct` (a8s's HLL) — same plan
    * minus the Expand, which is precisely why the profile op and the sketch
    * op both ship.
    */
  /** Shared per-column profile scaffolding (batch x15 + its streaming twin
    * in `StreamingOps.profileStream`): one wide aggregate row, stack-
    * unpivoted. `exact` selects the batch stats (exact distinct + empty
    * count) vs the streaming ones (HLL distinct, no empty count) — one
    * builder, so adding a column or statistic updates both twins together.
    */
  private[graft] def profileAggs(cols: Seq[String], exact: Boolean): Seq[Column] =
    cols.flatMap { c =>
      val sc = col(c).cast("string")
      Seq(count(sc).as(s"${c}_n"),
        (if (exact) countDistinct(sc) else approx_count_distinct(sc)).as(s"${c}_d")) ++
        (if (exact) Seq(sum(when(col(c).isNull || sc === "", 1L).otherwise(0L)).as(s"${c}_e"))
         else Nil) ++
        Seq(min(sc).as(s"${c}_min"), max(sc).as(s"${c}_max"))
    }

  private[graft] def profileStack(cols: Seq[String], exact: Boolean): String = {
    val suf = if (exact) Seq("_n", "_d", "_e", "_min", "_max") else Seq("_n", "_d", "_min", "_max")
    val out = if (exact) "column_name, n_nonnull, n_distinct, n_empty, min_str, max_str"
              else "column_name, n_nonnull, approx_distinct, min_str, max_str"
    s"stack(${cols.length}, " +
      cols.map(c => s"'$c', " + suf.map(c + _).mkString(", ")).mkString(", ") +
      s") as ($out)"
  }

  def x15Profile(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("doc_id", "lang", "n_chars", "source", "text")
    val aggs = profileAggs(cols, exact = true)
    t(s, dir, "documents")
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr(profileStack(cols, exact = true))
      .orderBy("column_name")
  }

  val x15Sql: String =
    Seq("doc_id", "lang", "n_chars", "source", "text").map { c =>
      s"""SELECT '$c' AS column_name, COUNT($c::VARCHAR) AS n_nonnull,
         |  COUNT(DISTINCT $c::VARCHAR) AS n_distinct,
         |  SUM(CASE WHEN $c IS NULL OR $c::VARCHAR = '' THEN 1 ELSE 0 END)::BIGINT AS n_empty,
         |  MIN($c::VARCHAR) AS min_str, MAX($c::VARCHAR) AS max_str
         |FROM documents""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY column_name"

  // ------------------------------- D7: train/eval contamination screening

  /** Hex→decimal expansion DuckDB-side for the first 8 md5 hex chars of
    * `e` — the same value Spark computes as `conv(substring(md5(e),1,8),
    * 16,10)` (shared with the x6 split rule).
    */
  private def md5Hex8Sql(e: String): String = md5HexSql(e, 8)

  /** General form: first `n` md5 hex chars of `e` as a decimal bigint —
    * Spark's `conv(substring(md5(e),1,n),16,10)`. n ≤ 15 keeps the value
    * inside 60 bits, so signed-long semantics can never diverge.
    */
  private def md5HexSql(e: String, n: Int): String =
    (1 to n).map { k =>
      val mult = 1L << (4 * (n - k))
      s"(strpos('0123456789abcdef', substr(md5($e),$k,1))-1) * $mult"
    }.mkString(" + ")

  /** The x6 hash-split rule as a reusable oracle CTE (doc_id → split). */
  private val splitSqlCte: String =
    s"""s AS (SELECT doc_id,
       |  CASE WHEN (${md5Hex8Sql("text")}) % 100 < 95 THEN 'train' ELSE 'eval' END AS split
       |FROM documents)""".stripMargin

  /** Decontamination screen: flag training documents that share any word
    * n-gram with the held-out eval split (the benchmark-leakage check every
    * corpus release runs; real pipelines use 10–13-grams — on this
    * synthetic 30-word vocabulary 4-grams play the same role, and `n` is
    * the knob). Both sides carry `substring(md5(gram),1,16)` instead of the
    * gram text, so the join key is a fixed 16 bytes regardless of n — at
    * corpus scale you'd store it as an 8-byte long, same idea. The eval
    * side is 5% of the corpus *deduplicated to distinct grams*, so it
    * broadcasts: the train side — the 100 TB side — is screened with a
    * shuffle-free broadcast semi-join and one partial-aggregable count.
    * Per-doc grams are `array_distinct`ed before the explode, so `n_shared`
    * counts distinct leaked grams and needs no post-join dedup.
    */
  def d7Contamination(s: SparkSession, dir: String): DataFrame =
    d7Contamination(s, dir, 4)

  /** The dial form: `gramLen` is the selectivity knob SCALING.md names —
    * longer grams are rarer, so the broadcast eval set and the flagged doc
    * set both shrink. Structurally monotone: a shared (n+1)-gram contains
    * two shared n-grams, so the docs flagged at gramLen n+1 are a subset of
    * those flagged at n (spec-pinned). The registered entry binds 4, the
    * oracle contract.
    */
  def d7Contamination(s: SparkSession, dir: String, gramLen: Int): DataFrame = {
    require(gramLen >= 1, s"gramLen must be >= 1, got $gramLen")
    // The gram arrays are materialized once, BEFORE the explode
    // (localCheckpoint), for two reasons: the eval and train branches would
    // otherwise each rescan and re-shingle the corpus, and — worse —
    // InferFiltersFromGenerate + predicate pushdown inline the whole gram
    // expression into scan-level filters where the lambda runs interpreted
    // (no codegen CSE), re-evaluating split(text) per element access:
    // O(words²) per document, ~3× over (measured 21× slower at sf0.1).
    // Checkpointing the per-doc arrays keeps one clean O(words) evaluation
    // and lets the explode's inferred filters probe a bound column — the
    // "write the shingle table, then screen against it" shape a production
    // decontamination pass uses.
    val gramArrays = t(s, dir, "documents")
      .withColumn("split", splitCol)
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= gramLen)
      .withColumn("gh", expr(
        s"transform(array_distinct(transform(sequence(0, size(w)-$gramLen), " +
          s"i -> concat_ws(' ', slice(w, i+1, $gramLen)))), " +
          "g -> substring(md5(g), 1, 16))"))
      .select(col("doc_id"), col("split"), col("gh"))
      .lossTolerantCheckpoint()
    val grams = gramArrays.select(col("doc_id"), col("split"), explode(col("gh")).as("gh"))
    val evalGrams = grams.filter(col("split") === "eval").select("gh").distinct()
    grams.filter(col("split") === "train")
      .join(broadcast(evalGrams), "gh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .orderBy(col("n_shared").desc, col("doc_id"))
  }

  val d7Sql: String =
    s"""WITH $splitSqlCte,
       |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |g AS (SELECT doc_id, unnest(list_transform(list_distinct(list_transform(range(len(w)-3),
       |        i -> w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4])), x -> substr(md5(x),1,16))) AS gh
       |     FROM w WHERE len(w) >= 4),
       |ev AS (SELECT DISTINCT gh FROM g JOIN s USING(doc_id) WHERE s.split = 'eval'),
       |tr AS (SELECT g.doc_id, gh FROM g JOIN s USING(doc_id) WHERE s.split = 'train')
       |SELECT tr.doc_id, COUNT(*) AS n_shared
       |FROM tr JOIN ev USING(gh)
       |GROUP BY tr.doc_id ORDER BY n_shared DESC, doc_id""".stripMargin

  // ------------------------------------ X10: intra-document repetition

  /** Repetition scoring (the Gopher-style quality signal): per document,
    * the fraction of bigram occurrences whose bigram appears more than once
    * in that document, as integer ppm. Entirely narrow work — the bigram
    * array is sorted per row and duplicate occurrences counted by comparing
    * neighbors inside one higher-order expression, so a 100 TB corpus pays
    * zero shuffle (the only exchange is the final presentation sort, which
    * a real pipeline would drop). The guard-first AND/OR order keeps the
    * neighbor indexes in range (both engines short-circuit).
    */
  def x10Repetition(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 2)
      .withColumn("sb", expr(
        "array_sort(transform(sequence(0, size(w)-2), i -> concat_ws(' ', w[i], w[i+1])))"))
      .select(col("doc_id"),
        size(col("sb")).cast("long").as("n_bigrams"),
        expr("cast(size(filter(sequence(0, size(sb)-1), i -> " +
          "(i > 0 AND sb[i] = sb[i-1]) OR (i < size(sb)-1 AND sb[i] = sb[i+1]))) as bigint)")
          .as("n_dup"))
      .withColumn("dup_ppm", expr("1000000 * n_dup div n_bigrams"))
      .orderBy("doc_id")

  val x10Sql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |b AS (SELECT doc_id, list_sort(list_transform(range(len(w)-1),
      |        i -> w[i+1]||' '||w[i+2])) AS sb
      |      FROM w WHERE len(w) >= 2),
      |c AS (SELECT doc_id, len(sb) AS n_bigrams,
      |        len(list_filter(range(len(sb)), i ->
      |          (i > 0 AND sb[i+1] = sb[i]) OR (i < len(sb)-1 AND sb[i+1] = sb[i+2]))) AS n_dup
      |      FROM b)
      |SELECT doc_id, n_bigrams, n_dup, 1000000 * n_dup // n_bigrams AS dup_ppm
      |FROM c ORDER BY doc_id""".stripMargin

  // --------------------------------------- X11: training-sequence packing

  /** Sequence packing: assign each document a (pack_id, pack_offset) slot in
    * a stream of fixed-token-budget training windows, in doc_id order — the
    * sample-packing pass that turns a corpus into pretraining batches. The
    * core is a GLOBAL running token total, which naively is a
    * single-partition window (the one shape that cannot scale: every row
    * through one task). Instead this runs the canonical two-phase
    * distributed prefix sum: range-partition by doc_id and pin the
    * partitioning (localCheckpoint — both passes must see identical
    * partitions), phase 1 reduces each partition to one subtotal (a
    * partition-count-sized collect), phase 2 rebuilds exact per-row prefixes
    * from the broadcast partition offsets — so the corpus streams through
    * narrow tasks twice and nothing global ever materializes on one node.
    * The result is independent of where the sampled range boundaries land.
    * A document straddling a budget boundary belongs to the pack where it
    * starts (real packers split the text at the boundary; the bookkeeping
    * is identical).
    */
  def x11Pack(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val budget = 2048L
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions("doc_id")
      .as[(Long, Long)]
      .lossTolerantCheckpoint()
    val subtotals = toks.rdd
      .mapPartitionsWithIndex { case (pid, it) =>
        Iterator.single((pid, it.map(_._2).sum))
      }.collect().sortBy(_._1)
    val prefix = subtotals.scanLeft(0L)(_ + _._2)
    val bc = s.sparkContext.broadcast(prefix)
    toks.rdd.mapPartitionsWithIndex { case (pid, it) =>
      var cum = bc.value(pid)
      it.map { case (id, n) =>
        val before = cum
        cum += n
        (id, n, before / budget, before % budget)
      }
    }.toDF("doc_id", "n_tokens", "pack_id", "pack_offset")
      .orderBy("doc_id")
  }

  val x11Sql: String =
    """WITH tk AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |        CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
      |      FROM tk)
      |SELECT doc_id, n_tokens, cb // 2048 AS pack_id, cb % 2048 AS pack_offset
      |FROM c ORDER BY doc_id""".stripMargin

  // ----------------------------------- X12: LM-frequency quality scoring

  /** Corpus-LM scoring (the CCNet-style perplexity-proxy filter): train a
    * bigram-count "language model" on the corpus itself, then score every
    * document by the mean corpus frequency of its bigrams — text full of
    * never-seen-elsewhere bigrams (mojibake, boilerplate hashes, OCR noise)
    * scores near 1 (only its own occurrences), formulaic text scores high.
    * Real CCNet uses a wiki-trained KenLM and log-probs; the integer mean
    * keeps the statistic exact cross-engine, and the two-phase shape is
    * identical: one partial-aggregable count per distinct bigram (the
    * "model", shuffle ∝ vocabulary² not corpus), then one join of doc
    * bigram occurrences against it.
    *
    * Scale treatment (the two classic bigram-join hazards):
    *  - SHUFFLE WIDTH: bigrams are digested to a 60-bit md5 prefix before
    *    any exchange (the d8/x17 digest-key discipline) — the model groupBy
    *    and the occurrence join both carry 8-byte keys instead of 20–50-byte
    *    text, and both engines compute the identical digest so the oracle
    *    stays exact.
    *  - KEY SKEW: "of the"-class bigrams are textbook heavy hitters; a
    *    hash-partitioned occurrence join would land every occurrence of a
    *    hot key on one reducer. The top-`hotK` model rows (a bounded, tiny
    *    table) broadcast instead: hot occurrences score in a map-side join
    *    and NEVER shuffle on their key, while the residual cold join is
    *    skew-free by construction (everything hot was anti-joined out
    *    against the same broadcast set). The split is a pure plan detail —
    *    hot ∪ cold is exactly the original join, so results and the oracle
    *    are unchanged by the dial.
    */
  def x12LmScore(s: SparkSession, dir: String): DataFrame =
    x12LmScore(s, dir, hotK = 64)

  /** `hotK` is the skew dial: how many heavy-hitter bigrams ride the
    * broadcast path. 0 disables the split (pure shuffled join); any value
    * yields identical results (spec-pinned) — at 100 TB size it so the
    * broadcast stays a few KB while covering the Zipf head, e.g. 10⁴–10⁵.
    */
  def x12LmScore(s: SparkSession, dir: String, hotK: Int): DataFrame = {
    require(hotK >= 0, s"hotK must be non-negative, got $hotK")
    // the corpus-wide tokenize + per-bigram digest pass is read THREE times
    // (model build, hot probe, cold probe) — materialize it once so the
    // explode+md5 runs once, not per consumer; the checkpoint rows are
    // (doc_id, 8-byte digest), i.e. no wider than what the model groupBy's
    // exchange would write anyway
    val occ = t(s, dir, "documents")
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w)-2), i -> " +
          "cast(conv(substring(md5(concat_ws(' ', w[i], w[i+1])),1,15),16,10) as bigint))"))
        .as("hk"))
      .lossTolerantCheckpoint()
    // the model is vocabulary-sized and read three times (hot pick, anti
    // set, cold join) — materialize it too instead of re-aggregating
    val model = occ.groupBy("hk").agg(count(lit(1)).as("c")).lossTolerantCheckpoint()
    val scored =
      if (hotK == 0) occ.join(model, "hk")
      else {
        val hot = model.orderBy(col("c").desc, col("hk")).limit(hotK)
        occ.join(broadcast(hot), "hk")
          .unionByName(
            occ.join(broadcast(hot.select("hk")), Seq("hk"), "left_anti")
              .join(model, "hk"))
      }
    scored
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("c").as("c_sum"))
      .withColumn("mean_bg_freq", expr("c_sum div n_bigrams"))
      .orderBy("doc_id")
  }

  val x12Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |bg AS (SELECT doc_id, unnest(list_transform(range(len(w)-1),
       |        i -> w[i+1]||' '||w[i+2])) AS bg
       |      FROM w WHERE len(w) >= 2),
       |o AS (SELECT doc_id, ${md5HexSql("bg", 15)} AS hk FROM bg),
       |m AS (SELECT hk, COUNT(*) AS c FROM o GROUP BY hk)
       |SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(c) AS BIGINT) AS c_sum,
       |  CAST(SUM(c) AS BIGINT) // COUNT(*) AS mean_bg_freq
       |FROM o JOIN m USING (hk)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------- D8: duplicated-span detection

  /** Substring-level dedup signal (the Lee et al. 2022 "Deduplicating
    * Training Data" unit, batch shape): per document, how many of its
    * distinct 8-token spans also occur in at least one OTHER document.
    * Unlike d1 (whole-document) and d2/d4 (document-pair similarity), this
    * catches shared boilerplate buried inside otherwise-unique documents —
    * the span is the dedup unit, not the document. Spans are grouped by a
    * 16-hex-char md5 prefix, not the span text: the shuffle key drops from
    * ~50 bytes of text to 16 bytes regardless of span length (at a real
    * 50-token span unit the ratio is ~20×), and both engines compute the
    * identical digest so the oracle stays exact. `array_distinct` runs
    * row-locally BEFORE the explode, so a span repeated within one document
    * crosses the shuffle once and the per-key window count equals the
    * distinct-document frequency with no COUNT(DISTINCT) anywhere. At
    * 100 TB the doc-frequency window is one hash exchange on the digest
    * (partial aggregation would not help: keys are near-unique), and the
    * per-document re-aggregation is a second narrow exchange on doc_id.
    */
  def d8SpanDedup(s: SparkSession, dir: String): DataFrame = {
    val k = 8
    // span digests materialize per document BEFORE the explode
    // (localCheckpoint) for the same reason d7 materializes its gram
    // arrays: InferFiltersFromGenerate + pushdown otherwise inline the
    // span lambda into scan-level filters where it runs interpreted,
    // re-evaluating split(text) per element access — O(words²) per doc
    // (measured 21× on d7's identical shape at sf0.1)
    val spanArrays = t(s, dir, "documents")
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"), expr(
        s"transform(array_distinct(transform(sequence(0, size(w)-$k), " +
          s"i -> concat_ws(' ', slice(w, i+1, $k)))), sp -> substring(md5(sp), 1, 16))").as("hks"))
      .lossTolerantCheckpoint()
    spanArrays.select(col("doc_id"), explode(col("hks")).as("hk"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("hk")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_ppm", expr("1000000 * n_shared div n_spans"))
      .orderBy("doc_id")
  }

  val d8Sql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sp AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(w)-7),
      |         i -> array_to_string(list_slice(w, i+1, i+8), ' ')))) AS sp
      |       FROM w WHERE len(w) >= 8),
      |h AS (SELECT doc_id, substr(md5(sp), 1, 16) AS hk FROM sp),
      |c AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY hk) AS df FROM h),
      |g AS (SELECT doc_id, COUNT(*) AS n_spans,
      |        CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
      |      FROM c GROUP BY doc_id)
      |SELECT doc_id, n_spans, n_shared, 1000000 * n_shared // n_spans AS shared_ppm
      |FROM g ORDER BY doc_id""".stripMargin

  // ------------------------------------- D11: duplicated-span REMOVAL

  /** Tokens per d11 removal block — the non-overlapping dedup unit. */
  private[graft] val D11Block = 8

  /** Duplicated-span removal — the TRANSFORM counterpart to d8's detection
    * (Lee et al. 2022 remove "all but one" occurrence of each duplicated
    * substring; C4 drops repeated three-sentence spans corpus-wide): the
    * token stream splits into non-overlapping [[D11Block]]-token blocks (a
    * fixed grid makes reassembly unambiguous, where overlapping-span
    * removal is not well defined), each block survives iff it is the
    * corpus-wide FIRST occurrence of its content — (doc_id, idx) minimal,
    * packed into one integer so a single MIN decides it — and each
    * document reassembles from its surviving blocks in order. Every
    * repeated block keeps exactly one copy somewhere, so no content is
    * lost, and re-running on the output is a fixed point (spec-pinned).
    *
    * Scale shape: the block grid is [[chunkDocs]] at stride == chunk (ONE
    * definition of the grid arithmetic, shared with x25 — the spec-pinned
    * degeneration), blocks group on the FULL 32-hex md5 (constant width
    * regardless of block text; a truncated prefix would silently DELETE
    * one side of a digest collision, which a destructive transform cannot
    * tolerate — d8 only miscounts a ppm on collision, d11 would lose the
    * only copy of real content), the first-occurrence window is ONE hash
    * exchange on that digest, and the reassembly is a second exchange on
    * doc_id carrying only surviving blocks. No COUNT(DISTINCT), no
    * self-join; both exchanges move the corpus's block count of rows —
    * note the rows carry the block TEXT (reassembly needs it), so unlike
    * d8's digest-only shuffle the volume is text-sized, not key-sized.
    */
  def d11SpanRemoval(s: SparkSession, dir: String): DataFrame = {
    val b = D11Block
    val blocks =
      chunkDocs(t(s, dir, "documents").select("doc_id", "text"), b, b)
        .select(col("doc_id"), col("chunk_id").as("idx"), col("chunk").as("blk"))
      .withColumn("hk", md5(col("blk")))
      // pack (doc_id, idx) into one integer so a single MIN picks the
      // first occurrence; injective only while idx < 1e6 and doc_id fits
      // the remaining headroom, so mis-packing REJECTS loudly instead of
      // silently keeping a duplicate (the oracle carries the same guard)
      .withColumn("pk", expr(
        "CASE WHEN idx >= 1000000L OR doc_id < 0L OR doc_id > 9223372036853L " +
          "THEN raise_error('d11: (doc_id, idx) outside the packed-key range; widen the packing') " +
          "ELSE doc_id * 1000000L + idx END"))
      .withColumn("first_pk", min("pk").over(Window.partitionBy("hk")))
      .withColumn("keep", col("pk") === col("first_pk"))
    blocks
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("kept_blocks"),
        expr("array_join(transform(array_sort(collect_list(" +
          "CASE WHEN keep THEN struct(idx, blk) END)), e -> e.blk), ' ')")
          .as("clean_text"))
      .orderBy("doc_id")
  }

  val d11Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |b AS (SELECT doc_id, i AS idx,
       |        array_to_string(list_slice(w, i*$D11Block+1, i*$D11Block+$D11Block), ' ') AS blk
       |      FROM (SELECT doc_id, w, unnest(range((len(w)-1)//$D11Block + 1)) AS i
       |            FROM w WHERE len(w) >= 1)),
       |h AS (SELECT doc_id, idx, blk,
       |        CASE WHEN idx >= 1000000 OR doc_id < 0 OR doc_id > 9223372036853
       |             THEN error('d11: packed-key range')
       |             ELSE doc_id * 1000000 + idx END AS pk,
       |        md5(blk) AS hk FROM b),
       |f AS (SELECT *, MIN(pk) OVER (PARTITION BY hk) AS first_pk FROM h)
       |SELECT doc_id, COUNT(*)::BIGINT AS n_blocks,
       |  CAST(SUM(CASE WHEN pk = first_pk THEN 1 ELSE 0 END) AS BIGINT) AS kept_blocks,
       |  COALESCE(string_agg(CASE WHEN pk = first_pk THEN blk END, ' ' ORDER BY idx), '')
       |    AS clean_text
       |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------- W4: ordered-funnel analysis

  /** Strict-order funnel (view → click → purchase): per user, the furthest
    * stage reached where each transition must happen strictly after the
    * previous one, with the earliest qualifying timestamp per stage (the
    * greedy earliest-transition scan — provably the one that maximizes the
    * reachable stage). One groupBy collects each user's funnel events into a
    * sorted array and a single `aggregate` lambda walks it — one shuffle
    * keyed by user, versus the textbook 3-join cascade (the oracle's
    * formulation) which shuffles the events table once per stage. Per-user
    * state is one struct regardless of event count, and the event filter
    * runs before the exchange so only funnel-relevant rows shuffle at all.
    * All comparisons in integer epoch-micros.
    */
  def w4Funnel(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_type"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("us"), col("event_type")))).as("evs"))
      .withColumn("r", expr(
        """aggregate(evs,
          |  named_struct('stage', 0, 't1', cast(null as bigint),
          |               't2', cast(null as bigint), 't3', cast(null as bigint)),
          |  (acc, e) -> CASE
          |    WHEN acc.stage = 0 AND e.event_type = 'view'
          |      THEN named_struct('stage', 1, 't1', e.us, 't2', acc.t2, 't3', acc.t3)
          |    WHEN acc.stage = 1 AND e.event_type = 'click' AND e.us > acc.t1
          |      THEN named_struct('stage', 2, 't1', acc.t1, 't2', e.us, 't3', acc.t3)
          |    WHEN acc.stage = 2 AND e.event_type = 'purchase' AND e.us > acc.t2
          |      THEN named_struct('stage', 3, 't1', acc.t1, 't2', acc.t2, 't3', e.us)
          |    ELSE acc END)""".stripMargin))
      .select(col("user_id"), col("r.stage").as("stage"),
        col("r.t1").as("view_us"), col("r.t2").as("click_us"),
        col("r.t3").as("purchase_us"))
      .orderBy("user_id")

  val w4Sql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events
      |           WHERE event_type IN ('view','click','purchase')),
      |u AS (SELECT DISTINCT user_id FROM e),
      |v AS (SELECT user_id, MIN(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, MIN(e.us) AS t2 FROM e JOIN v USING (user_id)
      |      WHERE e.event_type = 'click' AND e.us > v.t1 GROUP BY 1),
      |p AS (SELECT e.user_id, MIN(e.us) AS t3 FROM e JOIN c USING (user_id)
      |      WHERE e.event_type = 'purchase' AND e.us > c.t2 GROUP BY 1)
      |SELECT u.user_id,
      |  CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
      |       WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS stage,
      |  t1 AS view_us, t2 AS click_us, t3 AS purchase_us
      |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
      |       LEFT JOIN p USING (user_id)
      |ORDER BY user_id""".stripMargin

  // ------------------- W8: conversion-latency quantiles (histogram method)

  /** Conversion LATENCY report — the time-to-convert distribution every
    * funnel dashboard shows next to w4's reach counts: over users who
    * completed the strict view → click → purchase funnel, the exact
    * discrete quantiles (q = 0/25/50/75/100, index ⌊(n−1)·q/100⌋ of the
    * sorted multiset) of view→purchase latency at SECOND granularity.
    *
    * Scale shape — the histogram method, not a global sort: latencies
    * bucket to integer seconds in one partial-aggregable groupBy (the
    * exchange carries distinct-second rows, not users), the cumulative
    * rank runs over the BUCKET table (domain-bounded — hours of latency ≈
    * thousands of rows — so the unpartitioned window is metadata-sized by
    * construction, never user-sized), and the 5-row quantile frame joins
    * the cumulative histogram by rank interval. Exact for the stated
    * second-granular metric at any user count; n rides as a collected
    * 1-row literal (the codebook discipline). This is how exact
    * percentiles survive 10⁹ conversions — a9s's sketch is the
    * alternative when the metric itself must stay unbucketed.
    */
  def w8ConversionLatency(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hist = w4Funnel(s, dir).filter(col("stage") === 3)
      .select(expr("(purchase_us - view_us) div 1000000L").as("lat_s"))
      .groupBy("lat_s").agg(count(lit(1)).as("cnt"))
      .lossTolerantCheckpoint() // read twice (n + cum): the funnel runs once
    val nRow = hist.agg(sum("cnt")).first()
    require(!nRow.isNullAt(0), "w8 needs at least one converted user")
    val n = nRow.getLong(0)
    val cum = hist.withColumn("cum", sum("cnt").over(
      Window.orderBy("lat_s").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    Seq(0L, 25L, 50L, 75L, 100L).toDF("q")
      .join(cum, expr(s"(cum - cnt) <= ((${n}L - 1L) * q) div 100L AND " +
        s"((${n}L - 1L) * q) div 100L < cum"))
      .select(col("q"), lit(n).as("n_conv"), col("lat_s"))
      .orderBy("q")
  }

  lazy val w8Sql: String =
    s"""WITH fn AS (SELECT * FROM ($w4Sql) f WHERE stage = 3),
       |l AS (SELECT (purchase_us - view_us) // 1000000 AS lat_s FROM fn),
       |h AS (SELECT lat_s, COUNT(*)::BIGINT AS cnt FROM l GROUP BY 1),
       |c AS (SELECT lat_s, cnt,
       |        SUM(cnt) OVER (ORDER BY lat_s ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
       |      FROM h),
       |n AS (SELECT SUM(cnt)::BIGINT AS n FROM h),
       |q AS (SELECT unnest([0, 25, 50, 75, 100]) AS q)
       |SELECT q::BIGINT AS q, n.n AS n_conv, c.lat_s
       |FROM q CROSS JOIN n JOIN c ON (c.cum - c.cnt) <= ((n.n - 1) * q) // 100
       |                          AND ((n.n - 1) * q) // 100 < c.cum
       |ORDER BY q""".stripMargin

  // ----------------------------------------- X13: corpus mixing weights

  /** Domain-mixing weights (the DoReMi/Pile-style corpus recipe step): per
    * (lang, source) slice, its token share of the corpus and the resampling
    * weight that would equalize slices — floor-capped at 4× so a tiny slice
    * is oversampled at most 4:1, in integer ppm so both engines agree
    * bit-for-bit. The per-slice aggregate is fully partial-aggregable (one
    * narrow shuffle ∝ slice count); the corpus totals are a one-row
    * aggregate of the slice table cross-joined back — at any scale the
    * second phase moves slice-count rows, never corpus rows. Arithmetic
    * headroom: `1e6 × total_tokens` stays in BIGINT up to ~9.2e12 corpus
    * tokens (~40 TB of text); past that the ppm products move to
    * DECIMAL(38,0) — same plan, wider type (the knob, documented in
    * SCALING.md, NOT silently absorbed: Spark would wrap, DuckDB would
    * error, and the oracle exists to catch exactly that divergence).
    */
  def x13MixWeights(s: SparkSession, dir: String): DataFrame = {
    val slices = t(s, dir, "documents")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    val totals = slices.agg(sum("n_tokens").as("total_tokens"),
      count(lit(1)).as("n_slices"))
    slices.crossJoin(broadcast(totals))
      .withColumn("share_ppm", expr("1000000 * n_tokens div total_tokens"))
      .withColumn("weight_ppm", least(lit(4000000L),
        expr("1000000 * total_tokens div (n_slices * n_tokens)")))
      .select("lang", "source", "n_docs", "n_tokens", "share_ppm", "weight_ppm")
      .orderBy("lang", "source")
  }

  val x13Sql: String =
    """WITH s AS (SELECT lang, source, COUNT(*) AS n_docs,
      |        CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |      FROM documents GROUP BY lang, source),
      |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |        COUNT(*) AS n_slices FROM s)
      |SELECT lang, source, n_docs, n_tokens,
      |  1000000 * n_tokens // total_tokens AS share_ppm,
      |  LEAST(4000000, 1000000 * total_tokens // (n_slices * n_tokens)) AS weight_ppm
      |FROM s CROSS JOIN t ORDER BY lang, source""".stripMargin

  // ------------- X37: mixture application (seeded deterministic resampling)

  /** The seeded per-doc copy count under a ppm weight: ⌊w/10⁶⌋ whole
    * copies plus one more iff the doc's md5 lane falls under the
    * fractional part — deterministic, so every epoch resamples
    * identically (x31's coupled-sampling discipline applied to the
    * mixture recipe).
    */
  private def x37Copies: Column =
    expr("weight_ppm div 1000000L") +
      when(expr("cast(conv(substring(md5(concat('mix:', cast(doc_id as string))),1,15),16,10) " +
        "as bigint) % 1000000L") < expr("weight_ppm % 1000000L"), 1L).otherwise(0L)

  /** The resampled corpus itself: each document replicated `n_copies`
    * times with a copy ordinal — what pipe3's export would consume after
    * a mixture decision. A narrow generate; output size is Σ n_copies,
    * bounded by the 4× weight cap.
    */
  def applyMixture(docs: DataFrame, weights: DataFrame): DataFrame =
    docs.join(broadcast(weights), Seq("lang", "source"))
      .withColumn("n_copies", x37Copies)
      .select(col("doc_id"), explode(expr(
        "CASE WHEN n_copies >= 1 THEN sequence(1, cast(n_copies as int)) " +
          "ELSE array() END")).as("copy_id"))

  /** Mixture APPLICATION — the step between x13's recipe and the training
    * export: every document draws its copy count from its slice's
    * weight_ppm (whole copies + a seeded Bernoulli on the fraction), and
    * the report audits, per slice, the realized resampling rate against
    * the prescribed weight. Upsampled slices land within 1 doc-count of
    * n_in·w/10⁶ by construction (the fractional draws are uniform in the
    * md5 lane); downsampled ones drop deterministically — re-running the
    * recipe reproduces the same corpus bit-for-bit, the property epoch
    * reproducibility needs.
    *
    * Scale shape: weights are slice-count rows (broadcast); the copy draw
    * is a narrow row-local expression; the audit is one partial-aggregable
    * groupBy on (lang, source). The resampled corpus ([[applyMixture]]) is
    * a narrow generate — nothing shuffles to apply a mixture.
    */
  def x37ApplyMixture(s: SparkSession, dir: String): DataFrame = {
    val w = x13MixWeights(s, dir).select("lang", "source", "weight_ppm")
    t(s, dir, "documents").select("doc_id", "lang", "source")
      .join(broadcast(w), Seq("lang", "source"))
      .withColumn("n_copies", x37Copies)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs_in"), sum("n_copies").as("n_docs_out"),
        max("weight_ppm").as("weight_ppm"))
      .withColumn("realized_ppm", expr("1000000L * n_docs_out div n_docs_in"))
      .select("lang", "source", "n_docs_in", "n_docs_out", "weight_ppm",
        "realized_ppm")
      .orderBy("lang", "source")
  }

  lazy val x37Sql: String = {
    val lane = md5HexSql("'mix:' || doc_id::VARCHAR", 15)
    s"""WITH wt AS (SELECT lang, source, weight_ppm FROM ($x13Sql) x13),
       |d AS (SELECT doc_id, d0.lang, d0.source, weight_ppm,
       |        weight_ppm // 1000000
       |          + (CASE WHEN ($lane) % 1000000 < weight_ppm % 1000000
       |             THEN 1 ELSE 0 END) AS n_copies
       |      FROM documents d0 JOIN wt USING (lang, source))
       |SELECT lang, source, COUNT(*)::BIGINT AS n_docs_in,
       |  SUM(n_copies)::BIGINT AS n_docs_out,
       |  MAX(weight_ppm)::BIGINT AS weight_ppm,
       |  (1000000 * SUM(n_copies) // COUNT(*))::BIGINT AS realized_ppm
       |FROM d GROUP BY lang, source ORDER BY lang, source""".stripMargin
  }

  // -------------------------------------------- X4: document fingerprint

  /** Bottom-k sketch fingerprint: the 4 smallest shingle-hash prefixes,
    * concatenated — an order-independent, locality-sensitive document
    * signature (winnowing's batch cousin). Shared fingerprints ≈ shared
    * content; the fingerprint column is groupable for cluster-level dedup.
    */
  def x4Fingerprint(s: SparkSession, dir: String): DataFrame =
    shingled(s, dir)
      .select(col("doc_id"), concat_ws("",
        slice(array_sort(transform(col("sh"), x => substring(md5(x), 1, 8))), 1, 4)).as("fingerprint"))
      .orderBy("doc_id")

  val x4Sql: String =
    s"""WITH $shingleSqlCte
       |SELECT doc_id,
       |  array_to_string(list_sort(list_transform(s, x -> substr(md5(x), 1, 8)))[1:4], '') AS fingerprint
       |FROM sh ORDER BY doc_id""".stripMargin

  // ---------------------------------------------- X5: scrubbing / redaction

  /** PII-style scrubbing pass: redact digit runs and long shouting-case
    * tokens, collapse whitespace — the regex-rewrite stage every corpus goes
    * through before training. Pure narrow map work (codegen'd regexp_replace),
    * plus audit counters so the pipeline can report what it scrubbed.
    */
  def x5Redact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("clean",
        regexp_replace(regexp_replace(col("text"), "[0-9]+", "<NUM>"),
          "  +", " "))
      .select(col("doc_id"),
        col("clean"),
        size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).as("n_redacted"),
        length(col("text")).as("len_before"),
        length(col("clean")).as("len_after"))
      .orderBy("doc_id")

  val x5Sql: String =
    """SELECT doc_id,
      |  regexp_replace(regexp_replace(text, '[0-9]+', '<NUM>', 'g'), '  +', ' ', 'g') AS clean,
      |  len(regexp_extract_all(text, '[0-9]+')) AS n_redacted,
      |  len(text) AS len_before,
      |  len(regexp_replace(regexp_replace(text, '[0-9]+', '<NUM>', 'g'), '  +', ' ', 'g')) AS len_after
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------ X6: deterministic data split

  /** Content-hash train/eval split: the assignment is a pure function of the
    * document bytes, so it is stable across runs, engines, and repartitions
    * — the property that keeps eval sets leak-free when the corpus is
    * re-ingested. 95/5 by the first 8 hex digits of md5 mod 100.
    */
  def x6Split(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), splitCol.as("split"))
      .orderBy("doc_id")

  val x6Sql: String =
    """WITH h AS (SELECT doc_id,
      |  (strpos('0123456789abcdef', substr(md5(text),1,1))-1) * 268435456
      |  + (strpos('0123456789abcdef', substr(md5(text),2,1))-1) * 16777216
      |  + (strpos('0123456789abcdef', substr(md5(text),3,1))-1) * 1048576
      |  + (strpos('0123456789abcdef', substr(md5(text),4,1))-1) * 65536
      |  + (strpos('0123456789abcdef', substr(md5(text),5,1))-1) * 4096
      |  + (strpos('0123456789abcdef', substr(md5(text),6,1))-1) * 256
      |  + (strpos('0123456789abcdef', substr(md5(text),7,1))-1) * 16
      |  + (strpos('0123456789abcdef', substr(md5(text),8,1))-1) AS v
      |FROM documents)
      |SELECT doc_id, CASE WHEN v % 100 < 95 THEN 'train' ELSE 'eval' END AS split
      |FROM h ORDER BY doc_id""".stripMargin

  // ------------------------------------------- X7: BM25 relevance scoring

  private val X7Terms = Seq("spark", "stream", "data")

  /** BM25-shaped relevance scoring of the corpus against a query term set —
    * the ranking pass of retrieval-based data curation (and of dataset
    * search). Standard BM25 tf-saturation with k1=1.2, b=0.75, evaluated in
    * exact integer arithmetic: with L = Σ dl and N docs,
    * tf·(k1+1)/(tf + k1·(1−b+b·dl·N/L)) == 22·L·tf / (10·L·tf + 3·L + 9·dl·N)
    * after clearing denominators, so both engines compute identical BIGINTs
    * (ppm). The idf factor is the ln-free rational surrogate
    * (N−df+1)/(df+1) — same ranking order as BM25's ln idf, but exact
    * cross-engine (libm ln may differ in the last ulp between engines, and
    * the correctness gate hashes values).
    *
    * Plan shape: per-doc tf/dl are narrow codegen'd map work; the corpus
    * stats (N, L, per-term df) are ONE partial-aggregable pass broadcast
    * back as a single row — no shuffle of the corpus, no driver round-trip,
    * any corpus size.
    */
  def x7Bm25(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .withColumn("w", split(col("text"), " "))
      .withColumn("dl", size(col("w")).cast("long"))
    val withTf = X7Terms.foldLeft(docs) { (d, term) =>
      d.withColumn(s"tf_$term", expr(s"size(filter(w, x -> x = '$term'))").cast("long"))
    }
    val aggs = Seq(count(lit(1)).as("n_docs"), sum("dl").as("total_len")) ++
      X7Terms.map(term => count(when(col(s"tf_$term") > 0, 1)).as(s"df_$term"))
    val stats = withTf.agg(aggs.head, aggs.tail: _*)
    val contrib = X7Terms.map { term =>
      expr(s"(((1000000L * 22L * total_len * tf_$term) div " +
        s"(10L * total_len * tf_$term + 3L * total_len + 9L * dl * n_docs)) * " +
        s"((1000000L * (n_docs - df_$term + 1L)) div (df_$term + 1L))) div 1000000L")
    }.reduce(_ + _)
    withTf.crossJoin(broadcast(stats))
      .select(col("doc_id") +: X7Terms.map(term => col(s"tf_$term")) :+
        contrib.as("bm25_ppm"): _*)
      .orderBy("doc_id")
  }

  val x7Sql: String = {
    val tfCols = X7Terms.map(term =>
      s"len(list_filter(w, x -> x = '$term'))::BIGINT AS tf_$term").mkString(",\n        ")
    val dfCols = X7Terms.map(term =>
      s"SUM(CASE WHEN tf_$term > 0 THEN 1 ELSE 0 END)::BIGINT AS df_$term").mkString(",\n        ")
    val contrib = X7Terms.map(term =>
      s"(((1000000 * 22 * total_len * tf_$term) // " +
        s"(10 * total_len * tf_$term + 3 * total_len + 9 * dl * n_docs)) * " +
        s"((1000000 * (n_docs - df_$term + 1)) // (df_$term + 1))) // 1000000").mkString("\n  + ")
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |d AS (SELECT doc_id, len(w)::BIGINT AS dl,
       |        $tfCols
       |      FROM w),
       |s AS (SELECT COUNT(*)::BIGINT AS n_docs, SUM(dl)::BIGINT AS total_len,
       |        $dfCols
       |      FROM d)
       |SELECT doc_id, ${X7Terms.map(t => s"tf_$t").mkString(", ")},
       |  $contrib AS bm25_ppm
       |FROM d CROSS JOIN s ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------- X8: stratified deterministic sample

  /** Stratified 20% subsample: within each language stratum, rank documents
    * by content hash (deterministic, uniform, reshuffle-proof — the same
    * property as x6's split) and keep the top ceil(n/5). Corpus-curation
    * pipelines downsample over-represented strata exactly this way; the
    * hash ordering makes the sample a pure function of content, so it is
    * reproducible across runs, engines, and cluster layouts. One window
    * shuffle on the stratum key; count per stratum comes from the same
    * window, no second pass.
    */
  def x8StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val byLang = Window.partitionBy("lang")
    val w = byLang.orderBy(col("h"), col("doc_id"))
    t(s, dir, "documents")
      .withColumn("h", md5(col("text")))
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(byLang))
      .filter(col("rk") * 5 <= col("n") + 4) // rk <= ceil(n/5)
      .select(col("doc_id"), col("lang"), col("rk").cast("long").as("rk"))
      .orderBy("doc_id")
  }

  val x8Sql: String =
    """WITH r AS (SELECT doc_id, lang,
      |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk,
      |        COUNT(*) OVER (PARTITION BY lang) AS n
      |      FROM documents)
      |SELECT doc_id, lang, rk FROM r WHERE rk * 5 <= n + 4 ORDER BY doc_id""".stripMargin

  // ------------------------------------------- M1: multimodal binary meta

  /** Multimodal plumbing: content as an opaque binary column + typed,
    * deterministically derived metadata (stand-ins for decoded width/height/
    * channels — the real decoder slots into `graft.multimodal`). Verifies
    * the binary byte path: Spark hashes the UTF-8 bytes of the cast blob,
    * the oracle hashes the same bytes via md5(text).
    */
  def m1BinaryMeta(s: SparkSession, dir: String): DataFrame = {
    val h = md5(col("blob"))
    def nib(p: Int) = conv(substring(h, p, 1), 16, 10).cast("int")
    t(s, dir, "documents")
      .withColumn("blob", col("text").cast("binary"))
      .select(col("doc_id"),
        length(col("blob")).as("byte_len"),
        h.as("blob_md5"),
        (lit(64) + lit(8) * nib(1)).as("width"),
        (lit(64) + lit(8) * nib(2)).as("height"),
        (lit(1) + pmod(nib(3), lit(3))).as("channels"))
      .orderBy("doc_id")
  }

  val m1Sql: String =
    """WITH b AS (SELECT doc_id, octet_length(encode(text)) AS byte_len, md5(text) AS h FROM documents)
      |SELECT doc_id, byte_len, h AS blob_md5,
      |  64 + 8 * (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) AS width,
      |  64 + 8 * (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS height,
      |  1 + ((strpos('0123456789abcdef', substr(h, 3, 1)) - 1) % 3) AS channels
      |FROM b ORDER BY doc_id""".stripMargin

  // ------------------------------------------- M2: frame sampling (explode)

  /** Multimodal frame-sampling plumbing: one row per sampled frame via
    * posexplode over a per-blob frame count — the exact plan shape of a
    * video frame sampler (decode is the stub, as in `graft.multimodal`:
    * the per-frame id here is hash-derived instead of decoded pixels; a real
    * decoder changes only the lambda, not the schema or the explode).
    * Narrow generate → no shuffle; output volume is rows × frames-per-row,
    * the knob every frame-sampling pipeline budgets explicitly.
    */
  def m2FrameSample(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("blob", col("text").cast("binary"))
      .withColumn("byte_len", length(col("blob")).cast("long"))
      .withColumn("n_frames", least(lit(1L) + expr("byte_len div 256L"), lit(8L)))
      .select(col("doc_id"), col("byte_len"), col("n_frames"),
        posexplode(expr("sequence(0L, n_frames - 1L)")).as(Seq("frame_idx", "f")))
      .select(col("doc_id"),
        col("frame_idx").cast("long").as("frame_idx"),
        (col("frame_idx") * 40L).cast("long").as("frame_ts_ms"),
        expr("md5(concat(md5(cast(doc_id AS string)), '-', cast(frame_idx AS string)))")
          .as("frame_id"))
      .orderBy("doc_id", "frame_idx")

  val m2Sql: String =
    """WITH b AS (SELECT doc_id, octet_length(encode(text))::BIGINT AS byte_len FROM documents),
      |f AS (SELECT doc_id, byte_len,
      |        least(1 + byte_len // 256, 8)::BIGINT AS n_frames
      |      FROM b)
      |SELECT doc_id, unnest(range(n_frames))::BIGINT AS frame_idx,
      |  unnest(range(n_frames)) * 40 AS frame_ts_ms,
      |  md5(md5(doc_id::VARCHAR) || '-' || unnest(range(n_frames))::VARCHAR) AS frame_id
      |FROM f ORDER BY doc_id, frame_idx""".stripMargin

  // --------------------------------------- M3: decode → features → ANN

  /** End-to-end multimodal → similarity composition: binary blobs through
    * the `graft.multimodal` stages (decode via the SQL-expressible stub
    * codec, fixed-point 4×4 average pool) and straight into the exact-cosine
    * ANN shape — top-1 neighbor for the 10 probe documents, tiny probe side
    * broadcast against the streamed corpus like `sim1`. Demonstrates that
    * the decode/extract plumbing lands on the embedding-array contract, so a
    * real codec (SniffCodec) plugs into the ANN operators with no schema
    * work — only the codec argument changes, never the plan. Cross-engine
    * exactness (sim4's discipline applied to the multimodal path): decode is
    * `SqlCodec` (md5 seed + random-access pixel mix, reproduced by the
    * oracle in two 32-bit lanes), pooling is integer ppm
    * (`extractFeaturesPpm`), and dot products / squared norms are exact
    * 64-bit sums — only the final cosine is floating, under the shared
    * round-6 contract. The oracle assumes the synthetic corpus is ASCII
    * (DuckDB-side byte access via md5(text) = md5(blob) holds for any UTF-8
    * text, so this is only a doc note, not a restriction).
    */
  def m3FeatureAnn(s: SparkSession, dir: String): DataFrame = {
    val blobs = t(s, dir, "documents")
      .withColumn("blob", col("text").cast("binary"))
      .select("doc_id", "blob")
    val dotL = (a: String, b: String) =>
      expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0L, (acc, p) -> acc + p)")
    val feats = graft.multimodal.Multimodal
      .extractFeaturesPpm(graft.multimodal.Multimodal.decodeImages(
        blobs, codec = graft.multimodal.Multimodal.SqlCodec))
      .withColumn("nsq", dotL("features_ppm", "features_ppm"))
      .filter(col("nsq") > 0)
      // both join sides read the features; without this the probe side's
      // broadcast subtree re-runs the whole decode+pool pipeline
      .lossTolerantCheckpoint()
    val q = feats.filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), col("features_ppm").as("qv"), col("nsq").as("qsq"))
    val top = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    feats
      .select(col("doc_id").as("neighbor_id"), col("features_ppm").as("cv"), col("nsq").as("csq"))
      .crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        round(dotL("qv", "cv").cast("double") /
          (sqrt(col("qsq").cast("double")) * sqrt(col("csq").cast("double"))), 6))
      .withColumn("rnk", row_number().over(top))
      .filter(col("rnk") === 1)
      .select("query_id", "neighbor_id", "cos")
      .orderBy("query_id")
  }

  /** The oracle reproduces `SqlCodec` + ppm pooling entirely in SQL. DuckDB
    * BIGINT arithmetic is overflow-CHECKED, so the codec's wrapping 64-bit
    * ops are emulated in two 32-bit lanes (hi, lo): shifts become `//`/`*`
    * by powers of two, xor is lane-wise, and the ×K multiply carries
    * `(lo·K) // 2³²` into the hi lane — every intermediate stays under 2⁶³
    * because K < 2³¹. Pixels are random-access (`unnest(range(npix))`), so
    * the whole decode vectorizes with no recursive CTE.
    */
  /** Shared oracle CTE chain reproducing `SqlCodec` decode in DuckDB SQL:
    * ends at `pxv(doc_id, w, h, c, j, pix)` — one row per pixel-channel
    * sample. m3 (features → ANN) and m6 (perceptual-hash dedup) both build
    * on it, so the two oracles share one truth of the decode.
    */
  private val sqlCodecPxvCte: String = {
    // 8 hex nibbles of md5 starting at `start` (1-based) -> one 32-bit lane
    def lane(start: Int): String =
      (0 to 7).map(k =>
        s"(strpos('0123456789abcdef', substr(hx, ${start + k}, 1)) - 1) * ${1L << (4 * (7 - k))}")
        .mkString("(", " + ", ")")
    val K = 1103515245L
    s"""WITH
       |sd AS (SELECT doc_id, CAST(${lane(1)} AS BIGINT) AS hi, CAST(${lane(9)} AS BIGINT) AS lo
       |       FROM (SELECT doc_id, md5(text) AS hx FROM documents)),
       |dims AS (SELECT doc_id, hi, lo,
       |    16 + (hi * 16777216 + lo // 256) % 17 AS w,
       |    16 + (hi * 65536 + lo // 65536) % 17 AS h,
       |    1 + (hi * 256 + lo // 16777216) % 3 AS c
       |  FROM sd),
       |idx AS (SELECT doc_id, hi, lo, w, h, c, unnest(range(w * h * c)) AS j FROM dims),
       |z0 AS (SELECT doc_id, w, h, c, j,
       |    (hi + (lo + j * $K) // 4294967296) % 4294967296 AS zh,
       |    (lo + j * $K) % 4294967296 AS zl
       |  FROM idx),
       |r1a AS (SELECT doc_id, w, h, c, j, xor(zh, zh // 536870912) AS zh,
       |    xor(zl, zl // 536870912 + (zh % 536870912) * 8) AS zl FROM z0),
       |r1b AS (SELECT doc_id, w, h, c, j,
       |    (zh * $K + (zl * $K) // 4294967296) % 4294967296 AS zh,
       |    (zl * $K) % 4294967296 AS zl FROM r1a),
       |r2a AS (SELECT doc_id, w, h, c, j, xor(zh, zh // 536870912) AS zh,
       |    xor(zl, zl // 536870912 + (zh % 536870912) * 8) AS zl FROM r1b),
       |r2b AS (SELECT doc_id, w, h, c, j,
       |    (zh * $K + (zl * $K) // 4294967296) % 4294967296 AS zh,
       |    (zl * $K) % 4294967296 AS zl FROM r2a),
       |pxv AS (SELECT doc_id, w, h, c, j, xor(zl, zh) % 256 AS pix FROM r2b)""".stripMargin
  }

  val m3Sql: String = {
    s"""$sqlCodecPxvCte,
       |cells AS (SELECT doc_id,
       |    ((4 * ((j // c) // w) + 3) // h) * 4 + (4 * ((j // c) % w) + 3) // w AS cell, pix
       |  FROM pxv),
       |feat AS (SELECT doc_id, cell, (CAST(SUM(pix) AS BIGINT) * 1000000) // COUNT(*) AS ppm
       |  FROM cells GROUP BY doc_id, cell),
       |v AS (SELECT doc_id, list(ppm ORDER BY cell) AS v, CAST(SUM(ppm * ppm) AS BIGINT) AS nsq
       |  FROM feat GROUP BY doc_id),
       |corpus AS (SELECT doc_id AS neighbor_id, v AS cv, nsq AS csq FROM v WHERE nsq > 0),
       |probe AS (SELECT doc_id AS query_id, v AS qv, nsq AS qsq FROM v
       |  WHERE nsq > 0 AND doc_id < 10),
       |pairs AS (SELECT query_id, neighbor_id,
       |    round(CAST(CAST(list_sum(list_transform(range(len(qv)),
       |        i -> qv[i + 1] * cv[i + 1])) AS BIGINT) AS DOUBLE)
       |      / (sqrt(CAST(qsq AS DOUBLE)) * sqrt(CAST(csq AS DOUBLE))), 6) AS cos
       |  FROM probe CROSS JOIN corpus WHERE query_id <> neighbor_id),
       |rk AS (SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
       |  FROM pairs)
       |SELECT query_id, neighbor_id, cos FROM rk WHERE rn = 1 ORDER BY query_id""".stripMargin
  }

  // ------------------------------- M6: image near-duplicate deduplication

  /** Variant construction for m6: every `doc_id % 10 == 0` image gets a
    * "re-encoded" twin (`doc_id + M6VariantOffset`) whose every 97th
    * pixel-channel sample is nudged by ±1 (255 clamps down so the noise is
    * always tiny) — the deterministic stand-in for the JPEG re-encode /
    * resize jitter that makes image dedup NEAR-dup work rather than byte
    * equality. Both engines derive the variant from the same decoded
    * pixels, so the oracle replays it exactly.
    */
  private[queries] val M6VariantOffset = 10000000L
  private[queries] val M6NoiseStride = 97

  /** Candidate pairs within Hamming distance 3 on the 64-bit aHash —
    * d3b's Manku block-permute pairing applied to perceptual image hashes:
    * band key = one of the 4 16-bit aHash blocks (pigeonhole: ≤3 differing
    * bits leave ≥1 block identical, so the equi-join finds ALL qualifying
    * pairs), verify = exact popcount, dHash distance carried as a second
    * report column. Same [[bandCandidates]] funnel, so the measured-skew
    * salting applies here too (a corpus of near-black images piles up in
    * one band exactly like all-identical texts do).
    */
  private[queries] def perceptualPairs(sig: DataFrame): DataFrame = {
    val bands = sig.select(col("doc_id"), col("ahash"), col("dhash"),
      explode(expr("transform(sequence(0, 3), " +
        "p -> p * 65536L + (shiftright(ahash, 16 * p) & 65535L))")).as("bk"))
    bandCandidates(bands, saltThreshold = 4096L,
        preDedupFilter = Some(expr("bit_count(ahash_a ^ ahash_b) <= 3")))
      .withColumn("hamming_a", expr("bit_count(ahash_a ^ ahash_b)").cast("int"))
      .withColumn("hamming_d", expr("bit_count(dhash_a ^ dhash_b)").cast("int"))
      .select("doc_a", "doc_b", "hamming_a", "hamming_d")
  }

  /** The deterministic "re-encoded twin" of a decoded image (see
    * [[M6NoiseStride]]) — ONE definition shared by m6 and m7, replayed by
    * the [[perceptualSigCte]] oracle.
    */
  private def reencodedVariant(im: graft.multimodal.DecodedImage): graft.multimodal.DecodedImage = {
    val px = im.pixels.clone()
    var j = 0
    while (j < px.length) {
      if (j % M6NoiseStride == 0) {
        val v = px(j) & 0xff
        px(j) = (if (v == 255) 254 else v + 1).toByte
      }
      j += 1
    }
    graft.multimodal.DecodedImage(
      im.doc_id + M6VariantOffset, im.width, im.height, im.channels, px)
  }

  /** Signatures of the corpus PLUS the planted variants, one decode+hash
    * pass (the images never materialize twice), checkpointed because every
    * consumer — band explode, both verify sides, the m7 increment/index
    * split — re-reads it.
    */
  private def signaturesWithVariants(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val blobs = t(s, dir, "documents")
      .withColumn("blob", col("text").cast("binary"))
      .select("doc_id", "blob")
    val withVariants = graft.multimodal.Multimodal
      .decodeImages(blobs, codec = graft.multimodal.Multimodal.SqlCodec)
      .flatMap { im =>
        // m7 classifies index-vs-increment by doc_id < M6VariantOffset and
        // pipe7 unions id ranges — a corpus id at or past the offset would
        // silently misclassify and collide with variant ids, so fail loudly
        // per-row (free inside the already-deserialized decode pass)
        require(im.doc_id >= 0 && im.doc_id < M6VariantOffset,
          s"doc_id ${im.doc_id} overflows M6VariantOffset=$M6VariantOffset; raise the offset")
        if (im.doc_id % 10 == 0) Seq(im, reencodedVariant(im)) else Seq(im)
      }
    graft.multimodal.Multimodal.perceptualHashes(withVariants).lossTolerantCheckpoint()
  }

  /** Image near-dup dedup end-to-end: blobs → SqlCodec decode → noisy
    * re-encode variants for 10% of the corpus → 64-bit aHash/dHash
    * ([[graft.multimodal.Multimodal.perceptualHashes]], integer-ppm exact)
    * → banded Hamming pairing ([[perceptualPairs]]). Each (base, variant)
    * pair lands within aHash Hamming ≤ 3 — tiny pixel noise barely moves
    * an 8×8 cell mean — while unrelated images sit ~32 bits apart, so the
    * output is exactly the planted near-dup pairs (d3's false-positive
    * arithmetic: P ≈ 2.4e-15 per random pair at 64 bits). The whole
    * pipeline is narrow until the band join: decode, variant synthesis,
    * and hashing are one mapPartitions pass; the pair stage shuffles 4
    * rows × 16 bytes per IMAGE, never pixels — the shape that holds at
    * 100 TB of actual image bytes.
    */
  def m6ImageDedup(s: SparkSession, dir: String): DataFrame =
    perceptualPairs(signaturesWithVariants(s, dir)).orderBy("doc_a", "doc_b")

  /** Shared oracle CTE chain for the perceptual-hash family: decode
    * ([[sqlCodecPxvCte]]), variant noise, and the two pooled hashes,
    * ending at `sig(doc_id, ahash, dhash)` over the corpus AND its planted
    * variants. Hash assembly uses `bit_or` of per-cell weights with bit 63
    * spelled as min-BIGINT (d3's trick — DuckDB's checked `1::BIGINT << 63`
    * refuses to wrap); all pooling arithmetic is nonnegative integer
    * division, exactly the Scala side's. m6 (within-set pairing) and m7
    * (increment-vs-index probing) both build on it — one truth of the
    * signatures, the m3/d3 sharing discipline.
    */
  private val perceptualSigCte: String = {
    val topBit = "(-9223372036854775807::BIGINT - 1)"
    s"""$sqlCodecPxvCte,
       |pxall AS (
       |  SELECT doc_id, w, h, c, j, pix FROM pxv
       |  UNION ALL
       |  SELECT doc_id + $M6VariantOffset, w, h, c, j,
       |    CASE WHEN j % $M6NoiseStride = 0
       |         THEN CASE WHEN pix = 255 THEN 254 ELSE pix + 1 END
       |         ELSE pix END AS pix
       |  FROM pxv WHERE doc_id % 10 = 0),
       |gray AS (SELECT doc_id, w, h, pidx % w AS x, pidx // w AS y, g FROM (
       |  SELECT doc_id, w, h, j // c AS pidx, SUM(pix) AS g
       |  FROM pxall GROUP BY doc_id, w, h, pidx)),
       |afeat AS (SELECT doc_id, ((8 * y + 7) // h) * 8 + (8 * x + 7) // w AS cell,
       |    (CAST(SUM(g) AS BIGINT) * 1000000) // COUNT(*) AS ppm
       |  FROM gray GROUP BY doc_id, cell),
       |amean AS (SELECT doc_id, SUM(ppm) // 64 AS mu FROM afeat GROUP BY doc_id),
       |ah AS (SELECT f.doc_id,
       |    bit_or(CASE WHEN f.ppm > m.mu
       |           THEN CASE WHEN f.cell = 63 THEN $topBit
       |                ELSE (1::BIGINT << CAST(f.cell AS INT)) END
       |           ELSE 0::BIGINT END) AS ahash
       |  FROM afeat f JOIN amean m ON f.doc_id = m.doc_id GROUP BY f.doc_id),
       |dfeat AS (SELECT doc_id, (8 * y + 7) // h AS r, (9 * x + 8) // w AS c9,
       |    (CAST(SUM(g) AS BIGINT) * 1000000) // COUNT(*) AS ppm
       |  FROM gray GROUP BY doc_id, r, c9),
       |dh AS (SELECT l.doc_id,
       |    bit_or(CASE WHEN rt.ppm > l.ppm
       |           THEN CASE WHEN l.r * 8 + l.c9 = 63 THEN $topBit
       |                ELSE (1::BIGINT << CAST(l.r * 8 + l.c9 AS INT)) END
       |           ELSE 0::BIGINT END) AS dhash
       |  FROM dfeat l JOIN dfeat rt
       |    ON l.doc_id = rt.doc_id AND l.r = rt.r AND rt.c9 = l.c9 + 1
       |  GROUP BY l.doc_id),
       |sig AS (SELECT a.doc_id, a.ahash, d.dhash FROM ah a JOIN dh d ON a.doc_id = d.doc_id)""".stripMargin
  }

  val m6Sql: String = {
    s"""$perceptualSigCte,
       |bands AS (SELECT doc_id, ahash, dhash, p, (ahash >> (16 * p)) & 65535 AS k
       |          FROM sig CROSS JOIN (VALUES (0),(1),(2),(3)) t(p)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |                a.ahash AS aa, b.ahash AS ab, a.dhash AS da, b.dhash AS db
       |         FROM bands a JOIN bands b ON a.p = b.p AND a.k = b.k
       |          AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, bit_count(xor(aa, ab))::INT AS hamming_a,
       |       bit_count(xor(da, db))::INT AS hamming_d
       |FROM cand WHERE bit_count(xor(aa, ab)) <= 3 ORDER BY doc_a, doc_b""".stripMargin
  }

  // ----------------------- M7: incremental image dedup (increment vs index)

  /** The persisted-index half of m7 — d10's `CorpusIndex` for images: the
    * corpus signature table, its exploded aHash band table (both
    * checkpointed; bucketed-by-`bk` tables in production), and the measured
    * hot band keys, built ONCE so nightly ingest probes it without ever
    * re-decoding or re-hashing the corpus.
    */
  final case class ImageIndex(sig: DataFrame, bands: DataFrame, hotKeys: Seq[Any])

  private val AhashBandsExpr =
    "transform(sequence(0, 3), p -> p * 65536L + (shiftright(ahash, 16 * p) & 65535L))"

  def prepareImageIndex(corpusSig: DataFrame, saltThreshold: Long = 4096L): ImageIndex = {
    val sig = corpusSig.lossTolerantCheckpoint()
    val bands = sig.select(col("doc_id").as("m"), col("ahash").as("ah_m"),
        explode(expr(AhashBandsExpr)).as("bk"))
      .lossTolerantCheckpoint()
    // histogram probe at index-build time (one tiny partial-aggregated job)
    // so every later probe knows the hot buckets without re-measuring
    val hot: Seq[Any] = bands.groupBy("bk").agg(count(lit(1)).as("n"))
      .filter(col("n") > saltThreshold).select("bk")
      .collect().map(_.get(0)).toSeq
    ImageIndex(sig, bands, hot)
  }

  /** Probe arriving image signatures against a prebuilt [[ImageIndex]]:
    * band equi-join (pigeonhole-complete at Hamming ≤ 3, as
    * [[perceptualPairs]]) with d10's ASYMMETRIC hot-bucket salting — the
    * big index side hashes over r salts, only the tiny increment replicates
    * r× — then exact popcount verify and a min-(hamming, match) pick. The
    * verify payload (both aHashes) rides the join, so candidates never
    * re-join the signature tables. Returns one verdict row per increment
    * image: near_dup with its best match, or novel.
    */
  def imageDedupProbe(incSig: DataFrame, index: ImageIndex): DataFrame = {
    val nb = incSig.select(col("doc_id"), col("ahash"),
      explode(expr(AhashBandsExpr)).as("bk"))
    val ib = index.bands
    val r = 16
    val hotKeys = index.hotKeys
    val joined =
      if (hotKeys.isEmpty) nb.join(ib, Seq("bk"))
      else {
        val isHot = col("bk").isin(hotKeys: _*)
        val cold = nb.filter(!isHot).join(ib.filter(!isHot), Seq("bk"))
        val salted = nb.filter(isHot)
          .withColumn("salt", explode(expr(s"sequence(0, ${r - 1})")))
          .join(ib.filter(isHot).withColumn("salt", pmod(hash(col("m")), lit(r))),
            Seq("bk", "salt"))
        cold.unionByName(salted.select(cold.columns.map(col).toIndexedSeq: _*))
      }
    // no distinct before the aggregate: duplicate (doc, m) candidates from
    // multiple matching bands can't change a MIN — one shuffle, not two
    val near = joined
      .filter(expr("bit_count(ahash ^ ah_m) <= 3"))
      .select(col("doc_id"), col("m"),
        expr("cast(bit_count(ahash ^ ah_m) as int)").as("hamming_a"))
      .groupBy("doc_id")
      .agg(min(struct(col("hamming_a"), col("m"))).as("best"))
      .select(col("doc_id"), col("best.m").as("match_id"),
        col("best.hamming_a").as("hamming_a"))
    incSig.select("doc_id")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("match_id").isNotNull, "near_dup").otherwise("novel").as("verdict"),
        col("match_id"), col("hamming_a"))
  }

  /** Perceptual signatures of any (doc_id, text) table through the
    * SqlCodec decode — the same codec and hash rule m6/m7 pin, exposed as
    * the core the streaming ingest twin hashes arriving batches with.
    */
  private[graft] def imageSignatures(docs: DataFrame): DataFrame =
    graft.multimodal.Multimodal.perceptualHashes(
      graft.multimodal.Multimodal.decodeImages(
        docs.withColumn("blob", col("text").cast("binary"))
          .select("doc_id", "blob"),
        codec = graft.multimodal.Multimodal.SqlCodec))

  /** Incremental image dedup — d10's nightly-ingest shape on the
    * multimodal axis: the corpus's perceptual signatures become a
    * persisted [[ImageIndex]]; the INCREMENT (here the planted re-encode
    * variants — exactly what a re-crawl delivers) is decoded, hashed, and
    * probed against it. The corpus is never re-read per increment; probe
    * cost is increment-sized plus band collisions. Every variant lands as
    * near_dup on its base image (oracle-exact; a variant that drifts past
    * Hamming 3 reports novel, identically in both engines).
    */
  def m7IncrementalImageDedup(s: SparkSession, dir: String): DataFrame = {
    val sig = signaturesWithVariants(s, dir)
    val index = prepareImageIndex(sig.filter(col("doc_id") < M6VariantOffset))
    val incSig = sig.filter(col("doc_id") >= M6VariantOffset)
    imageDedupProbe(incSig, index).orderBy("doc_id")
  }

  /** Oracle: the shared [[perceptualSigCte]] signatures split at the
    * variant offset into increment and index, banded, verified, and the
    * per-increment best match picked by (hamming, match) order.
    */
  val m7Sql: String = {
    s"""$perceptualSigCte,
       |inc AS (SELECT doc_id, ahash FROM sig WHERE doc_id >= $M6VariantOffset),
       |corpusix AS (SELECT doc_id AS m, ahash AS ah_m FROM sig WHERE doc_id < $M6VariantOffset),
       |nb AS (SELECT doc_id, ahash, p, (ahash >> (16 * p)) & 65535 AS k
       |       FROM inc CROSS JOIN (VALUES (0),(1),(2),(3)) t(p)),
       |ib AS (SELECT m, ah_m, p, (ah_m >> (16 * p)) & 65535 AS k
       |       FROM corpusix CROSS JOIN (VALUES (0),(1),(2),(3)) t(p)),
       |nearall AS (SELECT nb.doc_id, ib.m,
       |        bit_count(xor(nb.ahash, ib.ah_m))::INT AS hamming_a
       |      FROM nb JOIN ib ON nb.p = ib.p AND nb.k = ib.k
       |      WHERE bit_count(xor(nb.ahash, ib.ah_m)) <= 3),
       |near AS (SELECT doc_id, m AS match_id, hamming_a FROM (
       |    SELECT doc_id, m, hamming_a,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY hamming_a, m) AS rn
       |    FROM nearall) WHERE rn = 1)
       |SELECT i.doc_id,
       |  CASE WHEN near.match_id IS NOT NULL THEN 'near_dup' ELSE 'novel' END AS verdict,
       |  near.match_id, near.hamming_a
       |FROM inc i LEFT JOIN near ON i.doc_id = near.doc_id ORDER BY i.doc_id""".stripMargin
  }

  // ---------------------------------------- M8: video near-duplicate dedup

  /** m8 frame geometry and dials: 256-char frames (the stub demux unit —
    * a real container demuxer, [[graft.multimodal.Multimodal.ImageIoCodec
    * .frames]], substitutes per-frame bytes without changing the
    * algorithm), 200-char trim for the planted variants, containment
    * threshold 50%, and a 64-doc frame-frequency cap.
    */
  private[graft] val M8Chunk = 256
  private[graft] val M8Trim = 200
  private[graft] val M8MinContainPpm = 500000L
  private[graft] val M8MaxFrameDf = 64L

  /** Video near-dup dedup — the dedup family's temporal member: two videos
    * are near-dups when one's FRAME SET is mostly contained in the
    * other's, the standard identity-level rule for trimmed, re-cut, or
    * extended copies (exactly what a re-upload pipeline must collapse).
    * Frames here are the deterministic stub demux unit (fixed-width
    * chunks); each frame's identity is the md5 of its bytes; candidate
    * pairs come from an inverted-index EQUI-JOIN on the frame hash (the
    * frame hash IS the band key — d3b's discipline with a content-defined
    * band), and the verify is exact containment |A∩B| / min(|A|,|B|) in
    * integer ppm. The planted variants trim [[M8Trim]] chars off 10% of
    * the corpus — a trimmed copy shares every frame but its altered tail,
    * landing at ≥ 50% containment, while unrelated random frames never
    * collide (the md5 band's false-positive rate).
    *
    * Scale shape: framing is a narrow generate; only (doc, 32-byte hash)
    * rows shuffle; the frame-frequency cap ([[M8MaxFrameDf]]) drops
    * non-discriminative mega-frames (real corpora: black frames, title
    * cards) BEFORE the pair join — the df-cap discipline d8/x17 use — so
    * a frame shared by m docs costs at most cap² pair rows, never m².
    * Containment denominators stay the UNCAPPED per-video frame counts
    * (dropping a universal frame from pairing must not inflate the
    * score).
    */
  /** Distinct (video, frame-id) rows of a (doc_id, text) table — a frame
    * repeated WITHIN a video must not double-count overlap. ONE definition
    * of the framing + identity rule, shared by m8, the video index build,
    * and the streaming probe.
    */
  private[graft] def videoFrames(docs: DataFrame): DataFrame =
    docs.withColumn("len", length(col("text")).cast("long"))
      // empty docs have NO frames (the oracle's range(0)); without this
      // guard sequence(0, -1) walks backwards and mints a phantom
      // md5("") frame, pairing every empty body at 100% containment
      .filter(col("len") > 0)
      .select(col("doc_id"),
        explode(expr(
          s"transform(sequence(0, cast((len + ${M8Chunk - 1}) div $M8Chunk as int) - 1), " +
            s"i -> md5(cast(substring(text, i * $M8Chunk + 1, $M8Chunk) as binary)))")).as("fh"))
      .distinct()

  def m8VideoDedup(s: SparkSession, dir: String): DataFrame =
    m8VideoDedup(s, dir, M6VariantOffset)

  /** Variant-offset form: pipe7 plants its trimmed copies in a DIFFERENT
    * id range so image and video variants coexist in one universe.
    */
  def m8VideoDedup(s: SparkSession, dir: String, offset: Long): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .withColumn("len", length(col("text")).cast("long"))
    val vids = base.unionByName(
      base.filter(col("doc_id") % 10 === 0 && col("len") > (M8Chunk + M8Trim))
        // a corpus id at or past the offset would collide with a variant id
        // and silently corrupt the pair verdicts — fail loudly instead
        .select(expr(s"if(doc_id < $offset, doc_id + $offset, " +
            s"raise_error(concat('doc_id ', doc_id, ' overflows variant offset $offset')))")
          .as("doc_id"),
          expr(s"substring(text, 1, cast(len - $M8Trim as int))").as("text"),
          (col("len") - M8Trim).as("len")))
    // checkpointed because the df cap, the per-video counts, and both
    // join sides read it
    frameContainmentPairs(videoFrames(vids.select("doc_id", "text")).lossTolerantCheckpoint())
  }

  /** The m8 pairing rule over ANY distinct (doc_id, fh) frame table — ONE
    * definition shared by the stub-chunker path ([[m8VideoDedup]], the
    * oracle contract) and the real demuxed-container path
    * ([[videoDedupDemuxed]]): df-cap mega-frames BEFORE pairing,
    * inverted-index equi-join on the frame hash, exact containment against
    * the UNCAPPED per-video counts.
    */
  private[graft] def frameContainmentPairs(frames: DataFrame): DataFrame = {
    val keep = frames.join(
      frames.groupBy("fh").agg(count(lit(1)).as("df"))
        .filter(col("df") <= M8MaxFrameDf).select("fh"), "fh")
    val nf = frames.groupBy("doc_id").agg(count(lit(1)).as("nf"))
    keep.select(col("doc_id").as("doc_a"), col("fh"))
      .join(keep.select(col("doc_id").as("doc_b"), col("fh")), Seq("fh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
      .join(nf.select(col("doc_id").as("doc_a"), col("nf").as("na")), "doc_a")
      .join(nf.select(col("doc_id").as("doc_b"), col("nf").as("nb")), "doc_b")
      .withColumn("containment_ppm", expr("shared * 1000000L div least(na, nb)"))
      .filter(col("containment_ppm") >= M8MinContainPpm)
      .select("doc_a", "doc_b", "shared", "containment_ppm")
      .orderBy("doc_a", "doc_b")
  }

  /** Distinct (doc_id, fh) rows from REAL container frames:
    * [[graft.multimodal.Multimodal.ImageIoCodec]] demuxes GIF / AVI-MJPEG /
    * MP4-MJPEG blobs into true per-frame bytes, and each frame's identity
    * is the md5 of those bytes — the identity rule the stub chunker uses,
    * now over the codec's own frame boundaries. A narrow flatMap per blob;
    * only (doc, 32-byte hash) rows ever shuffle. This is the TYPED path —
    * a non-container blob throws, per ImageIoCodec's contract; route mixed
    * corpora through SniffCodec-gated filtering first.
    */
  private[graft] def videoFramesDemuxed(blobs: DataFrame): DataFrame = {
    val s = blobs.sparkSession
    import s.implicits._
    blobs.select(col("doc_id"), col("blob")).as[(Long, Array[Byte])]
      .flatMap { case (id, b) =>
        val md = java.security.MessageDigest.getInstance("MD5")
        graft.multimodal.Multimodal.ImageIoCodec.frames(b, 0).map { fb =>
          (id, md.digest(fb).map(x => f"$x%02x").mkString)
        }
      }.toDF("doc_id", "fh").distinct()
  }

  /** m8 over REAL demuxed frames — the round-7 stub-chunker caveat closed
    * for every container a pure JVM demuxes (GIF, AVI/MJPEG, MP4/MJPEG):
    * same pairing rule, same df-cap, same containment arithmetic, but the
    * frame set is the container's actual frames, so a re-cut that drops or
    * appends REAL frames lands exactly where the rule predicts. The stub
    * chunker stays as the registered oracle contract (DuckDB cannot demux
    * GIFs); this path is spec-pinned on real fixtures instead.
    */
  def videoDedupDemuxed(blobs: DataFrame): DataFrame =
    frameContainmentPairs(videoFramesDemuxed(blobs).lossTolerantCheckpoint())

  /** The persisted-index half of the video probe — m7's `ImageIndex` for
    * frame sets: the corpus's df-capped frame table (mega-frames dropped at
    * BUILD time — an arriving batch must not retroactively change which
    * corpus frames pair), the uncapped per-video frame counts for the
    * containment denominator, and the measured hot frame keys.
    */
  final case class VideoIndex(frames: DataFrame, nf: DataFrame, hotKeys: Seq[Any])

  def prepareVideoIndex(corpus: DataFrame, saltThreshold: Long = 4096L): VideoIndex = {
    val fr = videoFrames(corpus).lossTolerantCheckpoint()
    val nf = fr.groupBy("doc_id").agg(count(lit(1)).as("nf_m"))
      .select(col("doc_id").as("m"), col("nf_m")).lossTolerantCheckpoint()
    val keep = fr.join(
        fr.groupBy("fh").agg(count(lit(1)).as("df"))
          .filter(col("df") <= M8MaxFrameDf).select("fh"), "fh")
      .select(col("doc_id").as("m"), col("fh")).lossTolerantCheckpoint()
    val hot: Seq[Any] = keep.groupBy("fh").agg(count(lit(1)).as("n"))
      .filter(col("n") > saltThreshold).select("fh")
      .collect().map(_.get(0)).toSeq
    VideoIndex(keep, nf, hot)
  }

  /** Probe arriving videos against a prebuilt [[VideoIndex]]: frame-hash
    * equi-join (d10's asymmetric salting — hot index frames hash over r
    * salts, only the tiny batch replicates), shared-count aggregation,
    * exact containment against the UNCAPPED counts, best match by
    * (containment desc, match asc). One verdict row per arriving video:
    * near_dup with its best source, or novel.
    */
  def videoDedupProbe(batch: DataFrame, index: VideoIndex): DataFrame = {
    val fr = videoFrames(batch).lossTolerantCheckpoint()
    val nfb = fr.groupBy("doc_id").agg(count(lit(1)).as("nf_b"))
    val r = 16
    val hotKeys = index.hotKeys
    val ib = index.frames
    val joined =
      if (hotKeys.isEmpty) fr.join(ib, Seq("fh"))
      else {
        val isHot = col("fh").isin(hotKeys: _*)
        val cold = fr.filter(!isHot).join(ib.filter(!isHot), Seq("fh"))
        val salted = fr.filter(isHot)
          .withColumn("salt", explode(expr(s"sequence(0, ${r - 1})")))
          .join(ib.filter(isHot).withColumn("salt", pmod(hash(col("m")), lit(r))),
            Seq("fh", "salt"))
        cold.unionByName(salted.select(cold.columns.map(col).toIndexedSeq: _*))
      }
    val best = joined.groupBy("doc_id", "m").agg(count(lit(1)).as("shared"))
      .join(nfb, "doc_id")
      .join(index.nf, "m")
      .withColumn("containment_ppm", expr("shared * 1000000L div least(nf_b, nf_m)"))
      .filter(col("containment_ppm") >= M8MinContainPpm)
      .groupBy("doc_id")
      .agg(max(struct(col("containment_ppm"), (-col("m")).as("negm"),
        col("shared"))).as("best"))
      .select(col("doc_id"), (-col("best.negm")).as("match_id"),
        col("best.shared").as("shared"), col("best.containment_ppm").as("containment_ppm"))
    fr.select("doc_id").distinct()
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("match_id").isNotNull, "near_dup").otherwise("novel").as("verdict"),
        col("match_id"), col("shared"), col("containment_ppm"))
  }

  val m8Sql: String =
    s"""WITH base AS (SELECT doc_id, text, length(text)::BIGINT AS len FROM documents),
       |v AS (SELECT doc_id, text, len FROM base
       |      UNION ALL
       |      SELECT doc_id + $M6VariantOffset, substr(text, 1, (len - $M8Trim)::INT),
       |             len - $M8Trim
       |      FROM base WHERE doc_id % 10 = 0 AND len > ${M8Chunk + M8Trim}),
       |fr0 AS (SELECT doc_id, text, unnest(range((len + ${M8Chunk - 1}) // $M8Chunk)) AS i
       |        FROM v),
       |fr AS (SELECT DISTINCT doc_id,
       |         md5(substr(text, (i * $M8Chunk + 1)::INT, $M8Chunk)) AS fh
       |       FROM fr0),
       |dfc AS (SELECT fh FROM fr GROUP BY fh HAVING COUNT(*) <= $M8MaxFrameDf),
       |keep AS (SELECT fr.doc_id, fr.fh FROM fr JOIN dfc USING (fh)),
       |nf AS (SELECT doc_id, COUNT(*)::BIGINT AS nf FROM fr GROUP BY doc_id),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*)::BIGINT AS shared
       |      FROM keep a JOIN keep b ON a.fh = b.fh AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2),
       |j AS (SELECT doc_a, doc_b, shared,
       |        (shared * 1000000) // least(x.nf, y.nf) AS containment_ppm
       |      FROM p JOIN nf x ON x.doc_id = doc_a JOIN nf y ON y.doc_id = doc_b)
       |SELECT doc_a, doc_b, shared, containment_ppm FROM j
       |WHERE containment_ppm >= $M8MinContainPpm ORDER BY doc_a, doc_b""".stripMargin

  // --------------------- PIPE7: multimodal curation (dedup verdict export)

  /** pipe7's trimmed-video copies live at a THIRD id range so both variant
    * families coexist in one universe with the image variants at
    * [[M6VariantOffset]].
    */
  private[graft] val Pipe7VideoOffset = 20000000L

  /** Composed multimodal curation — the pipe family's multimodal member,
    * and what m6/m8 exist FOR: one universe of corpus + re-encoded image
    * copies + trimmed video copies, both near-dup detectors run over it
    * (each its own banded equi-join funnel), and every document gets ONE
    * curation verdict: `canonical`, or `image_dup`/`video_dup` with the
    * earliest near-duplicate it collapses onto. The drop rule is the
    * greedy earliest-wins convention exact dedup (d1) uses — a document
    * is dropped iff SOME earlier document is its near-dup — applied per
    * modality evidence; the verdict table is exactly what a training-data
    * curation job exports before tokenization (pipe1's text gates, on the
    * multimodal axis).
    *
    * Scale shape: the two detectors keep their own funnels (signature
    * bands / frame hashes — nothing new shuffles), the verdict join moves
    * pair-sized rows onto the id-sized universe spine, and the only new
    * aggregation is the per-doc earliest-dup MIN. At 100 TB this is the
    * union of the detectors' cost plus one id-keyed join.
    */
  def pipe7MultimodalCurate(s: SparkSession, dir: String): DataFrame = {
    val img = perceptualPairs(signaturesWithVariants(s, dir))
      .select(col("doc_a"), col("doc_b"), lit("image").as("kind"))
    val vid = m8VideoDedup(s, dir, Pipe7VideoOffset)
      .select(col("doc_a"), col("doc_b"), lit("video").as("kind"))
    val drp = img.unionByName(vid)
      .groupBy("doc_b")
      .agg(min(struct(col("doc_a"), col("kind"))).as("best"))
      .select(col("doc_b").as("doc_id"), col("best.doc_a").as("dup_of"),
        col("best.kind").as("kind"))
    val base = t(s, dir, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("len"))
    val universe = base.select("doc_id")
      .unionByName(base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + M6VariantOffset).as("doc_id")))
      .unionByName(base.filter(col("doc_id") % 10 === 0 && col("len") > (M8Chunk + M8Trim))
        .select((col("doc_id") + Pipe7VideoOffset).as("doc_id")))
    universe.join(drp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("dup_of").isNotNull, concat(col("kind"), lit("_dup")))
          .otherwise("canonical").as("verdict"),
        col("dup_of"))
      .orderBy("doc_id")
  }

  /** Oracle: the shared [[perceptualSigCte]] signatures feed the image
    * pair CTEs (m6's), the video CTEs are restated at [[Pipe7VideoOffset]]
    * (`v*` names — the decode chain owns the bare ones), and the verdict
    * is the earliest-dup window over the union.
    */
  val pipe7Sql: String = {
    s"""$perceptualSigCte,
       |bands AS (SELECT doc_id, ahash, p, (ahash >> (16 * p)) & 65535 AS k
       |          FROM sig CROSS JOIN (VALUES (0),(1),(2),(3)) t(p)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |                a.ahash AS aa, b.ahash AS ab
       |         FROM bands a JOIN bands b ON a.p = b.p AND a.k = b.k
       |          AND a.doc_id < b.doc_id),
       |ipairs AS (SELECT doc_a, doc_b FROM cand WHERE bit_count(xor(aa, ab)) <= 3),
       |vb AS (SELECT doc_id, text, length(text)::BIGINT AS len FROM documents),
       |vv AS (SELECT doc_id, text, len FROM vb
       |       UNION ALL
       |       SELECT doc_id + $Pipe7VideoOffset, substr(text, 1, (len - $M8Trim)::INT),
       |              len - $M8Trim
       |       FROM vb WHERE doc_id % 10 = 0 AND len > ${M8Chunk + M8Trim}),
       |vfr0 AS (SELECT doc_id, text, unnest(range((len + ${M8Chunk - 1}) // $M8Chunk)) AS i
       |         FROM vv),
       |vfr AS (SELECT DISTINCT doc_id,
       |          md5(substr(text, (i * $M8Chunk + 1)::INT, $M8Chunk)) AS fh
       |        FROM vfr0),
       |vdfc AS (SELECT fh FROM vfr GROUP BY fh HAVING COUNT(*) <= $M8MaxFrameDf),
       |vkeep AS (SELECT vfr.doc_id, vfr.fh FROM vfr JOIN vdfc USING (fh)),
       |vnf AS (SELECT doc_id, COUNT(*)::BIGINT AS nf FROM vfr GROUP BY doc_id),
       |vp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*)::BIGINT AS shared
       |       FROM vkeep a JOIN vkeep b ON a.fh = b.fh AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |vpairs AS (SELECT doc_a, doc_b
       |           FROM vp JOIN vnf x ON x.doc_id = vp.doc_a
       |                   JOIN vnf y ON y.doc_id = vp.doc_b
       |           WHERE (shared * 1000000) // least(x.nf, y.nf) >= $M8MinContainPpm),
       |up AS (SELECT doc_a, doc_b, 'image' AS kind FROM ipairs
       |       UNION ALL SELECT doc_a, doc_b, 'video' AS kind FROM vpairs),
       |drp AS (SELECT doc_b AS doc_id, doc_a AS dup_of, kind FROM (
       |          SELECT doc_b, doc_a, kind,
       |            row_number() OVER (PARTITION BY doc_b ORDER BY doc_a, kind) AS rn
       |          FROM up) WHERE rn = 1),
       |uni AS (SELECT doc_id FROM documents
       |        UNION ALL
       |        SELECT doc_id + $M6VariantOffset FROM documents WHERE doc_id % 10 = 0
       |        UNION ALL
       |        SELECT doc_id + $Pipe7VideoOffset FROM documents
       |        WHERE doc_id % 10 = 0 AND length(text) > ${M8Chunk + M8Trim})
       |SELECT u.doc_id,
       |  CASE WHEN d.dup_of IS NOT NULL THEN d.kind || '_dup' ELSE 'canonical' END AS verdict,
       |  d.dup_of
       |FROM uni u LEFT JOIN drp d ON u.doc_id = d.doc_id ORDER BY u.doc_id""".stripMargin
  }

  // ------------------------- M4: audio decode → framed feature extraction

  /** m4 frame geometry: 64-sample frames, 32-sample hop (50% overlap — the
    * standard STFT-style framing), x25's chunk arithmetic on samples.
    */
  private[graft] val M4Frame = 64
  private[graft] val M4Hop = 32

  /** Audio feature extraction — the audio leg of the multimodal family
    * (m1/m2/m3 cover images and container video): per-document PCM audio
    * decoded through a REAL WAV/RIFF codec
    * ([[graft.multimodal.Audio.decodeWav]] — generic chunk walk, unknown
    * chunks skipped, truncation-safe, sample-budget-bounded), then framed
    * into overlapping [[M4Frame]]-sample windows at [[M4Hop]] hop and
    * reduced to the classic integer frame features: energy (Σ s²),
    * zero-crossing count (strict sign-change pairs), and peak (max |s|).
    * The audio itself is synthesized in-engine from each document
    * (md5-seeded linear-congruential 16-bit PCM, 200–400 samples) and
    * round-trips through genuine WAV BYTES — synth → [[graft.multimodal
    * .Audio.synthWav]] → decode — so the codec path is real even though
    * the container ships no audio files; the DuckDB oracle replays the
    * sample FORMULA directly, which makes the cross-engine hash match a
    * proof that the byte roundtrip is lossless (m3's SqlCodec discipline
    * applied to audio).
    *
    * Scale shape: one narrow mapPartitions pass — synth, decode, frame,
    * and reduce are all row-local, zero exchanges before the output sort;
    * a 100 TB audio corpus streams through map tasks at scan speed with
    * output volume = rows × frames-per-row, the budgeted knob. All
    * features are integer-exact (|s| ≤ 32768 ⇒ Σ s² over a frame
    * < 2³⁷ — no overflow at any corpus size since the bound is per-frame).
    */
  def m4AudioFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    audioFrameFeatures(t(s, dir, "documents")
      .select("doc_id", "text").as[(Long, String)])
      .orderBy("doc_id", "frame_idx")
  }

  /** THE single definition of the m4 synth → WAV roundtrip → frame →
    * feature pass — shared by the batch query and the streaming ingest
    * twin ([[graft.streaming.StreamingOps.audioFeaturesStream]]). A
    * stateless narrow mapPartitions, so it applies to bounded and
    * unbounded sources alike; no sort here (streams can't), the batch
    * query adds its presentation ORDER BY.
    */
  private[graft] def audioFrameFeatures(docs: Dataset[(Long, String)]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          // the shared 60-bit lane rule — one definition with the SQL
          // oracle's conv(substring(md5,1,15),16,10), no hex detour
          val s1 = graft.functions.Hashing.md5Lane60(text)
          val n = 200 + (s1 % 201).toInt
          val a = 3 + (s1 % 97)
          val b = s1 % 65536L
          val pcm = Array.tabulate(n)(i => (((a * i + b) % 65536L) - 32768L).toShort)
          val dec = graft.multimodal.Audio.decodeWav(
            graft.multimodal.Audio.synthWav(pcm))
          val nf = ((math.max(dec.length - M4Frame, 0) + M4Hop - 1) / M4Hop) + 1
          (0 until nf).iterator.map { f =>
            val st = f * M4Hop
            val en = math.min(st + M4Frame, dec.length)
            var energy = 0L; var zc = 0L; var peak = 0L; var i = st
            while (i < en) {
              val v = dec(i).toLong
              energy += v * v
              if (math.abs(v) > peak) peak = math.abs(v)
              if (i > st && dec(i - 1).toLong * v < 0L) zc += 1L
              i += 1
            }
            (id, f, (en - st).toLong, energy, zc, peak)
          }
        }
      }
      .toDF("doc_id", "frame_idx", "n_samples", "energy", "zero_cross", "peak")
  }

  /** m4 oracle: the PCM formula replayed in SQL — lateral sample ranges
    * per (doc, frame), the previous sample regenerated by formula (no
    * window needed). The engine computes from DECODED WAV bytes, so
    * equality certifies the codec roundtrip.
    */
  val m4Sql: String =
    s"""WITH d AS (SELECT doc_id, (${md5HexSql("text", 15)}) AS s1 FROM documents),
       |p AS (SELECT doc_id, 200 + (s1 % 201) AS n, 3 + (s1 % 97) AS a,
       |        s1 % 65536 AS b FROM d),
       |fr AS (SELECT doc_id, n, a, b,
       |         unnest(range(((CASE WHEN n > $M4Frame THEN n - $M4Frame ELSE 0 END
       |                        + ${M4Hop - 1}) // $M4Hop) + 1)) AS f FROM p),
       |si AS (SELECT doc_id, n, a, b, f,
       |         unnest(range(f * $M4Hop, least(f * $M4Hop + $M4Frame, n))) AS i
       |       FROM fr),
       |sm AS (SELECT doc_id, f, i,
       |         ((a * i + b) % 65536) - 32768 AS s,
       |         CASE WHEN i > f * $M4Hop
       |              THEN ((a * (i - 1) + b) % 65536) - 32768 END AS sp
       |       FROM si)
       |SELECT doc_id, f AS frame_idx, COUNT(*)::BIGINT AS n_samples,
       |  SUM(s * s)::BIGINT AS energy,
       |  COALESCE(SUM(CASE WHEN sp * s < 0 THEN 1 ELSE 0 END), 0)::BIGINT AS zero_cross,
       |  MAX(abs(s))::BIGINT AS peak
       |FROM sm GROUP BY 1, 2 ORDER BY doc_id, frame_idx""".stripMargin

  // -------------- M5: autocorrelation pitch estimation (integer-exact audio)

  /** m5 lag search window: 16..48 samples (500–167 Hz at 8 kHz). */
  private[graft] val M5LagMin = 16
  private[graft] val M5LagMax = 48

  /** Integer-exact autocorrelation over one decoded signal: returns
    * (r0, best_lag, r_best) where r0 = Σx²ᵢ and best_lag maximizes
    * R(L) = Σ xᵢ·xᵢ₊L over [[M5LagMin]]..[[M5LagMax]] (ties → smallest
    * lag). int16 samples make every term ≤ 2³⁰ and every sum ≤ n·2³⁰ —
    * exact in int64 for any signal under ~2³³ samples, far past the WAV
    * budget. By Cauchy–Schwarz R(L) ≤ R(0), the spec-pinned sanity bound.
    */
  private[graft] def pitchOf(x: Array[Short]): (Long, Long, Long) = {
    var r0 = 0L
    var i = 0
    while (i < x.length) { r0 += x(i).toLong * x(i); i += 1 }
    var bestLag = -1L
    var bestR = Long.MinValue
    var lag = M5LagMin
    while (lag <= math.min(M5LagMax, x.length - 1)) {
      var r = 0L
      var j = 0
      while (j < x.length - lag) { r += x(j).toLong * x(j + lag); j += 1 }
      if (r > bestR) { bestR = r; bestLag = lag }
      lag += 1
    }
    (r0, bestLag, bestR)
  }

  /** Autocorrelation PITCH estimation — the classic periodicity detector
    * (YIN/RAPT's first stage, voice-activity cues, dataset-level audio QA):
    * per document, the lag in [[M5LagMin]]..[[M5LagMax]] whose
    * autocorrelation is highest, with the lag-0 energy for the voicing
    * ratio. m4's discipline end-to-end: the PCM synthesizes from the doc's
    * md5 seed, round-trips through GENUINE WAV bytes (writer + chunk-walk
    * reader), and every feature is an int64-exact sum of int16 products —
    * so the DuckDB oracle, which replays the FORMULA, certifies both the
    * codec roundtrip and the O(n·lags) correlation loop.
    *
    * Scale shape: ONE stateless narrow mapPartitions — zero exchanges
    * before the presentation sort, embarrassingly parallel over blobs,
    * the same shape m2/m4 pin. At 100 TB of audio the cost is pure
    * compute; nothing shuffles but the output rows (one per document).
    */
  def m5AudioPitch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    audioPitch(t(s, dir, "documents").select("doc_id", "text").as[(Long, String)])
      .orderBy("doc_id")
  }

  /** THE single definition of the m5 synth → WAV roundtrip → pitch pass —
    * shared by the batch query and the streaming ingest twin
    * ([[graft.streaming.StreamingOps.audioPitchStream]]). Stateless narrow
    * mapPartitions; the batch query adds its presentation ORDER BY.
    */
  private[graft] def audioPitch(docs: Dataset[(Long, String)]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .mapPartitions(_.map { case (id, text) =>
        val s1 = graft.functions.Hashing.md5Lane60(text)
        val n = 200 + (s1 % 201).toInt
        val a = 3 + (s1 % 97)
        val b = s1 % 65536L
        val pcm = Array.tabulate(n)(i => (((a * i + b) % 65536L) - 32768L).toShort)
        val dec = graft.multimodal.Audio.decodeWav(
          graft.multimodal.Audio.synthWav(pcm))
        val (r0, lag, r) = pitchOf(dec)
        (id, dec.length.toLong, r0, lag, r)
      })
      .toDF("doc_id", "n_samples", "r0", "best_lag", "r_best")
  }

  val m5Sql: String =
    s"""WITH d AS (SELECT doc_id, (${md5HexSql("text", 15)}) AS s1 FROM documents),
       |p AS (SELECT doc_id, 200 + (s1 % 201) AS n, 3 + (s1 % 97) AS a,
       |        s1 % 65536 AS b FROM d),
       |s AS (SELECT doc_id, n,
       |        list_transform(range(n), i -> ((a * i + b) % 65536) - 32768) AS x
       |      FROM p),
       |e AS (SELECT doc_id, n, x,
       |        list_sum(list_transform(x, v -> v * v)) AS r0 FROM s),
       |lg AS (SELECT doc_id, n, x, r0, unnest(range($M5LagMin, ${M5LagMax + 1})) AS lag
       |       FROM e),
       |r AS (SELECT doc_id, n, r0, lag,
       |        list_sum(list_transform(range(n - lag), i -> x[i+1] * x[i+lag+1])) AS rv
       |      FROM lg),
       |rk AS (SELECT doc_id, n, r0, lag, rv,
       |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY rv DESC, lag) AS rnk
       |       FROM r)
       |SELECT doc_id, n::BIGINT AS n_samples, r0::BIGINT AS r0,
       |  lag::BIGINT AS best_lag, rv::BIGINT AS r_best
       |FROM rk WHERE rnk = 1 ORDER BY doc_id""".stripMargin

  // ---------------------------------------- A8s: sketch aggregates (HLL)

  /** Approximate distinct-user counts per event type via HyperLogLog++ —
    * the sketch family every 100 TB exploratory workload leans on: one
    * partial-aggregable pass, constant memory per group regardless of
    * cardinality, mergeable across partitions (and, at scale, across days).
    * The exact count rides along so the output is self-validating; the spec
    * pins the 2%-precision estimate to within 5% of exact. No DuckDB oracle:
    * HLL estimates are implementation-specific (deterministic per engine,
    * different across engines), so the driver records the weaker rows-only
    * check by contract.
    */
  // ----------- K16: per-file bloom skipping index (equality-predicate prune)

  /** k16 layout/panel: 64-doc ingest-batch files, 20+20 probe digests. */
  private[graft] val K16Batch = 64L
  private[graft] val K16Panel = 20

  /** Pair-level core: every (probe, file) with the bloom's verdict and the
    * exact truth — the spec's no-false-negative pin reads this directly.
    * The index BUILD is distributed (one partial-aggregable pass, sketch
    * partials merged word-wise); the PROBING is deliberately driver-side —
    * exactly where file skipping happens in a real planner, which reads
    * the metadata-sized index table and prunes the file list before any
    * task launches (`might_contain` itself only accepts a constant sketch
    * for the same reason).
    */
  private[graft] def k16Pairs(s: SparkSession, dir: String, batch: Long,
      panel: Int): DataFrame = {
    require(batch >= 1 && panel >= 1,
      s"batch and panel must be positive, got ($batch, $panel)")
    import s.implicits._
    val docs = t(s, dir, "documents").select(
        expr(s"doc_id div ${batch}L").as("file_id"),
        col("doc_id"),
        expr("cast(conv(substring(md5(text),1,15),16,10) as bigint)").as("hk"))
      .lossTolerantCheckpoint() // read three times: blooms, probes, truth
    val sketches = docs.groupBy("file_id")
      .agg(call_function("graft_bloom_agg", col("hk"), lit(batch * 2)).as("bf"))
      .collect()
      .map(r => r.getLong(0) -> org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bf"))))
      .sortBy(_._1)
    val probeRows = docs.filter(col("doc_id") < panel)
      .select(col("doc_id"), col("hk"),
        expr("cast(conv(substring(md5(concat(cast(hk as string), ':absent')),1,15),16,10) as bigint)")
          .as("ahk"))
      .collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1), true),
        (r.getLong(0) + 1000000L, r.getLong(2), false)))
    val pairs = (for {
      (pid, hk, present) <- probeRows
      (fid, bf) <- sketches
    } yield (pid, present, fid, hk, bf.mightContainLong(hk)))
      .toSeq.toDF("probe_id", "present", "file_id", "hk", "maybe")
    val membership = docs.select("file_id", "hk").distinct()
      .withColumn("actual", lit(true))
    pairs.join(membership, Seq("file_id", "hk"), "left")
      .select(col("probe_id"), col("present"), col("file_id"), col("maybe"),
        coalesce(col("actual"), lit(false)).as("actual"))
  }

  def k16BloomSkip(s: SparkSession, dir: String): DataFrame =
    k16BloomSkip(s, dir, K16Batch, K16Panel)

  /** Per-file BLOOM skipping index — k15's equality-predicate sibling (the
    * Databricks bloom-filter-index / Parquet bloom shape): zone maps prune
    * RANGE predicates but are useless for point lookups on high-entropy
    * columns (a content digest is uniform across every file's min/max), so
    * each 64-doc ingest file carries a bloom over its content digests and
    * a point query reads only files whose bloom answers maybe. The probe
    * panel is 20 known-present digests + 20 salted absent ones; the report
    * is files-maybe vs files-true per probe — the false-positive rate an
    * operator sizes the sketch against, and the audit that the index NEVER
    * false-negatives (a skipped file provably lacks the digest — the
    * lossless half, spec-pinned pairwise; dedup-by-lookup and
    * targeted-deletion scans rely on exactly this).
    *
    * Scale shape: the bloom table is the persisted index — one
    * partial-aggregable pass (BloomFilterAggregate partials merge
    * sketch-wise), metadata-sized output, batch×2 capacity per file keeps
    * fpp low at any corpus size. Probes broadcast and touch ONLY the index;
    * the exact-truth side exists for the audit and is panel-bounded. Bloom
    * bits are engine-specific, so this entry takes the sketch family's
    * rows-only driver contract; its guarantees are spec-pinned instead.
    */
  def k16BloomSkip(s: SparkSession, dir: String, batch: Long, panel: Int): DataFrame =
    k16Pairs(s, dir, batch, panel)
      .groupBy("probe_id", "present")
      .agg(sum(when(col("maybe"), 1L).otherwise(0L)).as("n_files_maybe"),
        sum(when(col("actual"), 1L).otherwise(0L)).as("n_files_true"))
      .orderBy("probe_id")

  /** The planner half of [[bloomPrunedLookup]]: build the per-file bloom
    * index (one partial-aggregable pass, metadata-sized result) and return
    * the files whose bloom answers maybe for ANY of the probe digests —
    * the file list a point lookup actually reads. Driver-side by design,
    * exactly like [[k16Pairs]]' probing: file skipping happens where the
    * planner reads the (tiny) index table, before any scan task launches.
    * Rebuilding per call is the self-contained demo shape; the production
    * path is BUILT: [[buildBloomIndex]]/[[appendBloomIndex]] persist at
    * ingest, [[bloomPrunedLookupIndexed]] reads the index and never the
    * corpus (spec-pinned ≡ the naive filter across appends).
    */
  private[graft] def bloomMaybeFiles(docs: DataFrame, probes: Seq[Long],
      batch: Long): Seq[Long] = {
    require(batch >= 1, s"batch must be positive, got $batch")
    require(probes.nonEmpty, "empty probe set")
    docs.withColumn("file_id", expr(s"doc_id div ${batch}L"))
      .groupBy("file_id")
      .agg(call_function("graft_bloom_agg", col("hk"), lit(batch * 2)).as("bf"))
      .collect()
      .flatMap { r =>
        val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bf")))
        if (probes.exists(bf.mightContainLong)) Some(r.getLong(0)) else None
      }.toSeq
  }

  /** The CONSUMER of k16's bloom index — the k15 [[graft.queries
    * .RelationalQueries.zoneMapPrunedScan]] treatment for equality
    * predicates: a point lookup on the digest column reads ONLY the files
    * whose bloom answers maybe ([[bloomMaybeFiles]]), then applies the
    * exact predicate to the survivors. LOSSLESS by the bloom contract — a
    * sketch never false-negatives, so a pruned-away file provably holds no
    * matching row (the spec pins pruned ≡ naive on present AND
    * salted-absent probes). The file_id filter is the library stand-in for
    * the physical file-list prune a lakehouse planner performs: on a
    * file-partitioned table the same predicate becomes partition pruning,
    * reading a fraction fpp of the corpus instead of all of it.
    */
  def bloomPrunedLookup(docs: DataFrame, probes: Seq[Long], batch: Long): DataFrame = {
    val maybe = bloomMaybeFiles(docs, probes, batch)
    docs.withColumn("file_id", expr(s"doc_id div ${batch}L"))
      .filter(col("file_id").isin(maybe: _*))
      .filter(col("hk").isin(probes: _*))
      .drop("file_id")
  }

  /** The PRODUCTION half [[bloomMaybeFiles]]' doc promises: the per-file
    * bloom table persisted at INGEST, read (never rebuilt) at lookup time.
    * One partial-aggregable pass over the batch being ingested, one
    * metadata-sized parquet append. Append semantics make the index
    * INCREMENTAL for free: an ingest that lands rows into an existing
    * file_id just adds a second (file_id, bf) row, and the reader unions
    * maybes across rows of a file — each row covers exactly its batch's
    * contribution, so the union is the file's complete membership and the
    * no-false-negative contract survives any append pattern without ever
    * rewriting an index row. STALENESS RULE (ties to k11's compaction
    * plan): the index is keyed by the file layout, so a compaction that
    * rewrites file membership must rebuild the compacted files' rows —
    * `mode=overwrite` via [[buildBloomIndex]], the same moment k11
    * rewrites its zone maps.
    */
  def buildBloomIndex(docs: DataFrame, batch: Long, indexPath: String): Unit =
    writeBloomIndex(docs, batch, indexPath, "overwrite")

  def appendBloomIndex(newDocs: DataFrame, batch: Long, indexPath: String): Unit =
    writeBloomIndex(newDocs, batch, indexPath, "append")

  private def writeBloomIndex(docs: DataFrame, batch: Long, indexPath: String,
      mode: String): Unit = {
    require(batch >= 1, s"batch must be positive, got $batch")
    docs.withColumn("file_id", expr(s"doc_id div ${batch}L"))
      .groupBy("file_id")
      .agg(call_function("graft_bloom_agg", col("hk"), lit(batch * 2)).as("bf"))
      .write.mode(mode).parquet(indexPath)
  }

  /** [[bloomMaybeFiles]] over the PERSISTED index: probes the bloom table
    * (never the corpus) and collects ONLY the maybe file ids. The probe
    * runs in EXECUTORS via a typed pass — at 100 TB the index has one row
    * per file (∝ corpus, kilobytes of sketch each), so collecting the
    * whole table to probe on the driver would be data-proportional; the
    * maybe LIST is what's driver-sized (true hits + the bloom's tiny FP
    * slice). Spark's own `BloomFilterMightContain` can't express this side
    * of the probe — it requires the SKETCH to be the constant and the key
    * per-row; here keys are the constants and the sketch is per-row.
    */
  private[graft] def bloomMaybeFilesFromIndex(s: SparkSession, indexPath: String,
      probes: Seq[Long]): Seq[Long] = {
    require(probes.nonEmpty, "empty probe set")
    import s.implicits._
    val pb = probes.toArray
    s.read.parquet(indexPath).select(col("file_id"), col("bf"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (fid, bytes) =>
        val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(bytes))
        if (pb.exists(bf.mightContainLong)) Some(fid) else None
      })
      .distinct().collect().toSeq.sorted
  }

  /** [[bloomPrunedLookup]] against the persisted index — the shape a
    * 100 TB point lookup actually runs: zero index-build work at query
    * time, the corpus scan pruned to the maybe files.
    */
  def bloomPrunedLookupIndexed(docs: DataFrame, indexPath: String,
      probes: Seq[Long], batch: Long): DataFrame = {
    val maybe = bloomMaybeFilesFromIndex(docs.sparkSession, indexPath, probes)
    docs.withColumn("file_id", expr(s"doc_id div ${batch}L"))
      .filter(col("file_id").isin(maybe: _*))
      .filter(col("hk").isin(probes: _*))
      .drop("file_id")
  }

  /** EXACT one-pass distinct users per event type via the custom
    * [[graft.functions.BitmapDistinct]] aggregate — the third point on the
    * distinct-count spectrum this engine offers, and unlike a8s it is
    * oracle-checkable: COUNT(DISTINCT) exact but two shuffles, HLL one
    * pass but approximate, the bitmap ONE PASS and EXACT wherever ids are
    * dense (dictionary-encoded keys, surrogate ids). State is one bitmap
    * per group — maxId/8 bytes regardless of row count — updated map-side
    * and merged by word-wise OR, so the exchange carries group-count
    * buffers, never user ids. The exact count from the expensive built-in
    * plan rides along; the oracle hash-match proves the custom aggregate's
    * serialize/merge/eval path end to end.
    */
  def a14BitmapDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(expr("graft_bitmap_distinct(user_id)").as("bitmap_users"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  val a14Sql: String =
    """SELECT event_type, COUNT(DISTINCT user_id)::BIGINT AS bitmap_users,
      |  COUNT(DISTINCT user_id)::BIGINT AS exact_users,
      |  COUNT(*)::BIGINT AS n_events
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  def a8sApproxDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** Approximate quantiles per event type via the Greenwald–Khanna sketch
    * (`percentile_approx`, rank error ≤ n/accuracy) — mergeable constant-
    * memory state where the exact form's value→count map state is O(distinct
    * values), which for a continuous `value` column means O(rows). The exact
    * interpolated percentile rides along per row for self-validation (fine
    * at test SF; it is precisely the thing you could NOT afford at 100 TB).
    * Like a8s: deterministic per engine, engine-specific across engines →
    * rows-only driver check; the spec pins each estimate's realized rank to
    * within 2% of its target.
    */
  def a9sApproxQuantiles(s: SparkSession, dir: String): DataFrame = {
    val ps = Seq(0.5, 0.9, 0.99)
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(
        percentile_approx(col("value"), typedLit(ps), lit(10000)).as("qa"),
        percentile(col("value"), typedLit(ps)).as("qe"))
      .withColumn("i", explode(sequence(lit(1), lit(ps.length))))
      .select(
        col("event_type"),
        element_at(typedLit(ps), col("i")).as("p"),
        element_at(col("qa"), col("i")).as("approx_value"),
        element_at(col("qe"), col("i")).as("exact_value"))
      .orderBy("event_type", "p")
  }

  /** Frequency estimation via a Count-Min sketch: top-20 users by exact
    * event count, each probed against a CMS built in one pass over the
    * stream (ε=0.001, δ=0.01, fixed seed). The sketch is mergeable,
    * constant-size (~d×w counters regardless of rows), and collected once
    * as a binary literal; probes run through the native
    * `graft_cms_estimate` expression inside whole-stage codegen. The exact
    * count rides along: CMS never under-counts, and over-counts by at most
    * ε·N w.h.p. — both bounds are pinned by the spec. At 100 TB the exact
    * groupBy here is what you'd drop, keeping sketch-build + probe (the
    * candidate set then comes from a SpaceSaving pass or domain knowledge).
    * Rows-only driver check, like every sketch op.
    */
  def a10sCmsFreq(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val cms = ev
      .agg(count_min_sketch(col("user_id"), lit(0.001), lit(0.99), lit(42)).as("cms"))
      .head().getAs[Array[Byte]]("cms")
    ev.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("user_id").asc)
      .limit(20)
      .withColumn("n_cms",
        call_function("graft_cms_estimate", lit(cms), col("user_id")))
      .orderBy(col("n_exact").desc, col("user_id").asc)
  }

  // ------------------------------------------------- W3: sessionization

  /** 30-minute-gap sessionization: lag + cumulative flag sum inside one
    * per-user window partition, then per-session aggregates. The batch twin
    * of `graft.streaming.Sessionize` (flatMapGroupsWithState); all time math
    * in integer epoch-micros so both engines agree exactly.
    */
  def w3Sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
    val gapUs = 1800L * 1000000L
    val ev = t(s, dir, "events").withColumn("us", expr("unix_micros(ts)"))
    val prev = lag(col("us"), 1).over(byUser)
    ev.withColumn("nf", when(prev.isNull || col("us") - prev > gapUs, 1).otherwise(0))
      .withColumn("session_id", sum("nf").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"), min("us").as("start_us"), max("us").as("end_us"))
      .orderBy("user_id", "session_id")
  }

  val w3Sql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      |f AS (SELECT user_id, event_id, us,
      |        CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS nf
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |s AS (SELECT user_id, us,
      |        CAST(SUM(nf) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |      FROM f)
      |SELECT user_id, session_id, COUNT(*) AS n_events, MIN(us) AS start_us, MAX(us) AS end_us
      |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin

  // ------------------------------------------- W5: cohort retention matrix

  /** Cohort retention (the growth-analytics staple): users are cohorted by
    * their first-activity day and counted on each later active day as an
    * offset from that cohort day. Shape: one distinct pass over (user, day)
    * — partial-aggregable, so the exchange carries user×active-day rows,
    * not events — one min-aggregate for the cohort assignment, one equi-join
    * back on user_id (both sides already hash-partitioned on user_id from
    * their aggregates, so AQE elides the re-shuffle), and a final count per
    * (cohort_day, day_offset) whose key space is days², independent of
    * corpus size. No COUNT(DISTINCT) anywhere: (user, day) is already
    * distinct when it reaches the last aggregate, so a plain COUNT(*) is
    * exact. Day math in integer epoch-days so both engines agree.
    */
  def w5Retention(s: SparkSession, dir: String): DataFrame = {
    val activity = t(s, dir, "events")
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val cohorts = activity.groupBy("user_id").agg(min("day").as("cohort_day"))
    activity.join(cohorts, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  val w5Sql: String =
    """WITH a AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |c AS (SELECT user_id, MIN(day) AS cohort_day FROM a GROUP BY 1)
      |SELECT cohort_day, day - cohort_day AS day_offset, COUNT(*) AS n_users
      |FROM a JOIN c USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ----------------------------- PIPE1: end-to-end corpus curation verdict

  /** The whole curation pipeline as ONE declarative plan: every document
    * gets a keep/drop verdict with the first failing rule as the reason,
    * in precedence order holdout → exact_dup → contaminated → boilerplate →
    * non_en → low_quality → keep. The stages feed each other the way a real
    * pipeline's must: dedup runs FIRST and the span/contamination screens
    * run over the *survivors* only — span stats on the raw corpus would
    * flag the canonical copy of every duplicate pair as boilerplate (its
    * spans all "recur") and waste screen work on rows dedup already
    * condemned. One checkpointed 4-gram materialization serves both
    * screens (df-over-survivors for boilerplate, broadcast semi-join vs
    * the holdout grams for contamination) — the corpus is shingled once,
    * not per screen, and the gram column is a 16-hex digest so every
    * downstream key is constant-width. Catalyst sees the full DAG and
    * reuses the checkpointed stage for all three consumers. All rules in
    * integer arithmetic (the language rule is 25·hits ≥ 2·n, i.e. the 0.08
    * stop-word ratio without the float) so the oracle is bit-exact.
    */
  def pipe1Curate(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
      .withColumn("split", splitCol)
      .withColumn("w", split(col("text"), " "))
      .withColumn("n", size(col("w")).cast("long"))
      .withColumn("hits", expr("cast(size(filter(w, x -> x = 'the' OR x = 'a')) as bigint)"))
      .withColumn("l", expr("aggregate(w, 0L, (acc, x) -> acc + length(x))"))
      .withColumn("dd", size(array_distinct(col("w"))).cast("long"))
      .withColumn("canon", when(col("split") === "train",
        min("doc_id").over(Window.partitionBy(col("split"), md5(col("text")))))
        .otherwise(col("doc_id")))
      .withColumn("gh", expr(
        "CASE WHEN size(w) >= 4 THEN transform(array_distinct(transform(sequence(0, size(w)-4), " +
          "i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3]))), g -> substring(md5(g), 1, 16)) " +
          "ELSE array() END"))
      .select("doc_id", "split", "n", "hits", "l", "dd", "canon", "gh")
      .lossTolerantCheckpoint()
    val evalGh = base.filter(col("split") === "eval")
      .select(explode(col("gh")).as("gh")).distinct()
    val survGh = base.filter(col("split") === "train" && col("doc_id") === col("canon"))
      .select(col("doc_id"), explode(col("gh")).as("gh"))
    val contam = survGh.join(broadcast(evalGh), "gh")
      .select(col("doc_id")).distinct().withColumn("is_contam", lit(1))
    val spanPpm = survGh
      .withColumn("df", count(lit(1)).over(Window.partitionBy("gh")))
      .groupBy("doc_id")
      .agg(expr("1000000 * sum(case when df > 1 then 1 else 0 end) div count(1)").as("ppm"))
    base.join(contam, Seq("doc_id"), "left")
      .join(spanPpm, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("split") === "eval", "holdout")
          .when(col("doc_id") =!= col("canon"), "exact_dup")
          .when(col("is_contam").isNotNull, "contaminated")
          .when(coalesce(col("ppm"), lit(0L)) >= 250000L, "boilerplate")
          .when(col("hits") * 25L < col("n") * 2L, "non_en")
          .when(expr(qualityPpmExpr("n", "l", "dd")) < 550000L, "low_quality")
          .otherwise("keep").as("verdict"))
      .orderBy("doc_id")
  }

  val pipe1Sql: String =
    s"""WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS w,
       |    CASE WHEN (${md5Hex8Sql("text")}) % 100 < 95 THEN 'train' ELSE 'eval' END AS split
       |  FROM documents),
       |b AS (SELECT doc_id, split,
       |    len(w)::BIGINT AS n,
       |    len(list_filter(w, x -> x = 'the' OR x = 'a'))::BIGINT AS hits,
       |    list_sum(list_transform(w, x -> len(x)))::BIGINT AS l,
       |    len(list_distinct(w))::BIGINT AS dd,
       |    CASE WHEN split = 'train'
       |         THEN min(doc_id) OVER (PARTITION BY split, md5(text)) ELSE doc_id END AS canon,
       |    CASE WHEN len(w) >= 4
       |         THEN list_transform(list_distinct(list_transform(range(len(w)-3),
       |           i -> w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4])), g -> substr(md5(g),1,16))
       |         ELSE []::VARCHAR[] END AS gh
       |  FROM d),
       |ev AS (SELECT DISTINCT unnest(gh) AS gh FROM b WHERE split = 'eval'),
       |sg AS (SELECT doc_id, unnest(gh) AS gh FROM b WHERE split = 'train' AND doc_id = canon),
       |contam AS (SELECT DISTINCT sg.doc_id FROM sg JOIN ev USING (gh)),
       |spc AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY gh) AS df FROM sg),
       |spg AS (SELECT doc_id,
       |    1000000 * SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) // COUNT(*) AS ppm
       |  FROM spc GROUP BY doc_id)
       |SELECT b.doc_id,
       |  CASE WHEN b.split = 'eval' THEN 'holdout'
       |       WHEN b.doc_id != b.canon THEN 'exact_dup'
       |       WHEN contam.doc_id IS NOT NULL THEN 'contaminated'
       |       WHEN COALESCE(spg.ppm, 0) >= 250000 THEN 'boilerplate'
       |       WHEN 25 * b.hits < 2 * b.n THEN 'non_en'
       |       WHEN ${qualityPpmSql("b.n", "b.l", "b.dd")} < 550000 THEN 'low_quality'
       |       ELSE 'keep' END AS verdict
       |FROM b LEFT JOIN contam ON b.doc_id = contam.doc_id
       |       LEFT JOIN spg ON b.doc_id = spg.doc_id
       |ORDER BY b.doc_id""".stripMargin

  // --------------- PIPE2: composed index-build pipeline (curate → postings)

  /** End-to-end retrieval-index build as ONE declarative plan — the
    * composition proof for the round-5 operators, pipe1's sibling on the
    * indexing side: exact-dedup canonicals (d1's min-per-hash rule) →
    * model-based quality gate (x20's classifier, same pinned weights) →
    * per-source quota (x22's anti-domination rule at cap 20, hash-rank
    * order) → blocked postings over the survivors (x23's layout). Each
    * stage reuses the STANDALONE operator's exact rule — the shared
    * helpers make drift impossible — and Catalyst fuses the narrow gates
    * (hash, classifier score) into the scan-side pipeline, so the corpus
    * pays one pass plus the dedup/cap windows and the postings
    * aggregation. Ordering matters and is pinned: dedup runs FIRST so the
    * quota and the index see canonicals (a duplicated mega-source would
    * otherwise burn its quota on copies), the classifier is a narrow
    * filter so its position costs nothing, and the cap precedes indexing
    * so rejected documents never reach the (term, doc) explode — the
    * expensive stage sees only survivors.
    */
  def pipe2IndexBuild(s: SparkSession, dir: String): DataFrame = {
    val cap = 20
    val deduped = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"), md5(col("text")).as("h"))
      // d1's rule: the lowest doc_id of each content-hash group is canonical
      .withColumn("canon", min("doc_id").over(Window.partitionBy("h")))
      .filter(col("doc_id") === col("canon"))
    // x20's gate — the SHARED scoring core, so weights/bucketing/threshold
    // cannot drift between the standalone classifier and this composition
    val survivors = scoreQuality(deduped)
      .filter(expr("sum_w div cast(size(w) as bigint)") >= 500000L)
      // x22's quota among the remaining candidates
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(col("h"), col("doc_id"))))
      .filter(col("rk") <= cap)
    val tf = survivors
      .select(col("doc_id"), explode(col("w")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    tf.groupBy(col("term"), expr(s"doc_id div $X23Block").as("block"))
      .agg(count(lit(1)).as("n_docs"),
        expr(s"array_join(transform(array_sort(collect_list(struct(doc_id, tf))), " +
          s"e -> concat(e.doc_id % $X23Block, ':', e.tf)), ',')").as("postings"))
      .orderBy("term", "block")
  }

  // lazy: X20Weights initializes later in the object body
  lazy val pipe2Sql: String = {
    val wlist = X20Weights.mkString("[", ", ", "]")
    s"""WITH d AS (SELECT doc_id, source, text, md5(text) AS h,
       |    string_split(text, ' ') AS w FROM documents),
       |canon AS (SELECT *, min(doc_id) OVER (PARTITION BY h) AS canon FROM d),
       |q AS (SELECT * FROM canon WHERE doc_id = canon AND len(w) >= 1
       |      AND CAST(list_sum(list_transform(w,
       |        tk -> ($wlist)[((${md5HexSql("tk", 15)}) % $X20Buckets) + 1])) AS BIGINT)
       |        // len(w)::BIGINT >= 500000),
       |s AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
       |      FROM q),
       |tk AS (SELECT doc_id, unnest(w) AS term FROM s WHERE rk <= 20),
       |tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tk WHERE term != ''
       |       GROUP BY term, doc_id)
       |SELECT term, doc_id // $X23Block AS block, COUNT(*)::BIGINT AS n_docs,
       |  string_agg((doc_id % $X23Block) || ':' || tf, ',' ORDER BY doc_id) AS postings
       |FROM tf GROUP BY term, block ORDER BY term, block""".stripMargin
  }

  // ------------- PIPE3: tokenize → shard → pack (the training-data export)

  /** Per-sequence token budget of the pipe3 export (x11's constant). */
  private[graft] val Pipe3Budget = 2048L

  /** End-to-end TRAINING-DATA EXPORT — the third composed pipeline, and
    * the one whose output a trainer actually consumes: pipe1 curates,
    * pipe2 indexes, pipe3 ships. Documents are (1) tokenized with the
    * PINNED [[X19Merges]] artifact (x19b's exact rule — zero training
    * jobs), (2) assigned their epoch-0 shard + within-shard order by x16's
    * exact seeded-hash rule, and (3) packed into [[Pipe3Budget]]-token
    * training sequences PER SHARD — x11's running prefix sum, but
    * partitioned by shard, which is how packing survives 100 TB: no
    * global prefix sum exists anywhere; each shard packs independently
    * inside one window task bounded by the rows-per-shard knob. Output is
    * the export MANIFEST a loader reads: per (shard, seq_id) the count of
    * documents STARTING there, their token sum, and the pos span (a doc
    * whose tail spills into the next sequence is accounted at its start —
    * the standard document-start manifest; n_docs ≥ 1 by construction).
    *
    * Plan shape: tokenization and shard keying are one narrow codegen'd
    * pass over the corpus (the artifact and the shard seed are literals);
    * ONE hash exchange on `shard` feeds a single window sort that emits
    * both pos and the running token prefix, and the manifest aggregation
    * reuses that partitioning (shard ⊂ (shard, seq_id) clustering), so
    * the whole export costs exactly one shuffle of (doc_id, n_tokens,
    * key)-width rows. Each stage is the standalone operator's rule — a
    * tokenizer/shard/packing change propagates here by construction.
    */
  def pipe3Export(s: SparkSession, dir: String): DataFrame =
    exportManifest(t(s, dir, "documents"))

  /** THE single definition of the tokenize → shard → pack manifest —
    * shared by [[pipe3Export]] (whole corpus) and [[pipe4CurateExport]]
    * (pipe1's survivors). Takes any (…, doc_id, text) frame.
    */
  private def exportManifest(docs: DataFrame): DataFrame = {
    // the tokenized table is consumed twice (the shard-count action and
    // the export plan) — materialize the one narrow encode pass instead of
    // running the replace chain twice; rows are (doc_id, n_tokens), no
    // wider than what the shard exchange ships anyway
    val enc = encodeWithMerges(docs, X19Merges)
      .select(col("doc_id"), col("n_tokens"))
      .lossTolerantCheckpoint()
    // x16's corpus-derived shard count, over the rows actually exported
    val nShards = math.max(1L, enc.count() / X16RowsPerShard)
    val key = md5(concat(lit("epoch-0"), lit(":"), col("doc_id").cast("string")))
    val byShard = Window.partitionBy("shard").orderBy("k")
    enc
      .withColumn("k", key)
      .withColumn("shard",
        expr(s"cast(conv(substring(k, 1, 8), 16, 10) as bigint) % $nShards"))
      .withColumn("pos", row_number().over(byShard).cast("long") - 1L)
      .withColumn("cb", coalesce(
        sum(col("n_tokens")).over(byShard.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("seq_id", expr(s"cb div $Pipe3Budget"))
      .groupBy("shard", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        min(col("pos")).as("first_pos"), max(col("pos")).as("last_pos"))
      .orderBy("shard", "seq_id")
  }

  lazy val pipe3Sql: String = exportManifestSql("documents")

  /** pipe4: the full corpus LIFECYCLE in one declarative plan — pipe1's
    * curation verdicts gate which documents pipe3's export ever tokenizes:
    * raw corpus → six-rule verdict → keep set → tokenize → epoch shard →
    * per-shard pack → manifest. Each stage is the standalone operator's
    * exact rule ([[pipe1Curate]]'s verdict frame, [[exportManifest]]'s
    * shared body), so a curation-rule or tokenizer change propagates here
    * by construction. The keep join is doc_id-keyed; in production the
    * verdict table lives in the SAME bucketed layout as the corpus
    * (CorpusSink's discipline), so the gate join is exchange-free and the
    * whole lifecycle still pays pipe3's single data shuffle.
    */
  def pipe4CurateExport(s: SparkSession, dir: String): DataFrame = {
    val keep = pipe1Curate(s, dir)
      .filter(col("verdict") === "keep").select("doc_id")
    exportManifest(t(s, dir, "documents").join(keep, "doc_id"))
  }

  lazy val pipe4Sql: String = exportManifestSql(
    s"(SELECT d.* FROM documents d JOIN (SELECT doc_id FROM ($pipe1Sql) p1 " +
      "WHERE p1.verdict = 'keep') kp USING (doc_id))")

  /** pipe6: RECIPE → RESAMPLE → EXPORT — the mixture actually feeding the
    * trainer: x13's DoReMi-style weights draw each document's seeded copy
    * count (x37's exact rule), copies get collision-free packed ids
    * (doc_id·8 + copy, guarded — the weight cap bounds copies at 5), and
    * the resampled corpus flows through pipe3's exact export
    * ([[exportManifest]]: tokenize → epoch shard → per-shard pack →
    * manifest). Every stage is the standalone operator's rule, so a
    * recipe change re-materializes the training set by construction and
    * identically on every epoch (the seeded draw). Costs pipe3's single
    * data shuffle: the weight join is broadcast, the copy explode is a
    * narrow generate ≤ 5×.
    */
  def pipe6MixtureExport(s: SparkSession, dir: String): DataFrame =
    exportManifest(pipe6Resampled(s, dir))

  /** pipe6's pre-export resample plan, exposed so PlanQualitySpec can pin
    * the broadcast weight join: [[exportManifest]] eagerly
    * `localCheckpoint()`s the encoded table, so the export's OWN plan
    * starts at the checkpoint scan and the upstream join is structurally
    * invisible there — the shape must be asserted on this subplan.
    */
  private[graft] def pipe6Resampled(s: SparkSession, dir: String): DataFrame = {
    val w = x13MixWeights(s, dir).select("lang", "source", "weight_ppm")
    t(s, dir, "documents")
      .join(broadcast(w), Seq("lang", "source"))
      .withColumn("n_copies", x37Copies)
      .select(expr(s"CASE WHEN doc_id > ${Long.MaxValue / 8}L OR doc_id < 0L " +
        "THEN raise_error('pipe6: doc_id outside the copy-packing range') " +
        "ELSE doc_id END").as("doc_id"),
        col("text"), col("n_copies"))
      .select(col("doc_id"), col("text"), explode(expr(
        "CASE WHEN n_copies >= 1 THEN sequence(1, cast(n_copies as int)) " +
          "ELSE array() END")).as("copy"))
      .select(expr("doc_id * 8 + copy").as("doc_id"), col("text"))
  }

  lazy val pipe6Sql: String = {
    val lane = md5HexSql("'mix:' || d0.doc_id::VARCHAR", 15)
    exportManifestSql(
      s"""(SELECT dd.doc_id * 8 + cp AS doc_id, dd.text FROM (
         |  SELECT d0.doc_id, d0.text,
         |    unnest(range(1, (weight_ppm // 1000000
         |      + (CASE WHEN ($lane) % 1000000 < weight_ppm % 1000000
         |         THEN 1 ELSE 0 END)) + 1)) AS cp
         |  FROM documents d0
         |  JOIN (SELECT lang, source, weight_ppm FROM ($x13Sql) x13) wt
         |    USING (lang, source)) dd)""".stripMargin)
  }

  /** The pipe3 oracle parameterized by its document source — `documents`
    * for pipe3, the pipe1-gated subquery for pipe4.
    */
  private def exportManifestSql(docsRel: String): String = {
    var applied = "'(' || array_to_string(string_split(w, ''), ')(') || ')'"
    for ((_, a, b, m, _) <- X19Merges)
      applied = s"replace($applied, '($a)($b)', '($m)')"
    s"""WITH enc AS (
       |  SELECT doc_id,
       |    SUM(len(string_split(trim($applied, '()'), ')(')))::BIGINT AS n_tokens
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM $docsRel)
       |  WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY doc_id),
       |n AS (SELECT greatest(1, count(*) // $X16RowsPerShard) AS nsh FROM enc),
       |sh AS (SELECT doc_id, n_tokens, md5('epoch-0:' || doc_id::VARCHAR) AS k,
       |         (${md5Hex8Sql("'epoch-0:' || doc_id::VARCHAR")}) % (SELECT nsh FROM n) AS shard
       |       FROM enc),
       |w AS (SELECT shard, n_tokens,
       |        CAST(row_number() OVER (PARTITION BY shard ORDER BY k) AS BIGINT) - 1 AS pos,
       |        CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY k
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
       |      FROM sh)
       |SELECT shard, cb // $Pipe3Budget AS seq_id, COUNT(*)::BIGINT AS n_docs,
       |  SUM(n_tokens)::BIGINT AS n_tokens,
       |  MIN(pos) AS first_pos, MAX(pos) AS last_pos
       |FROM w GROUP BY 1, 2 ORDER BY shard, seq_id""".stripMargin
  }

  // --------- PIPE5: RAG retrieval serving — chunk store + index + top-k answer

  /** Chunks per document bound for pipe5's packed chunk key (doc_id·4096 +
    * chunk_id): at the default 24-token stride this admits ~98k-token
    * documents; past it the key would alias, so the plan fails loudly.
    */
  private[graft] val Pipe5MaxChunks = 4096L

  def pipe5RetrieveChunks(s: SparkSession, dir: String): DataFrame =
    pipe5RetrieveChunks(s, dir, X25Chunk, X25Stride, 10)

  /** pipe5: the RAG SERVING pipeline — the chunk store, the positional
    * index over it, and an exact-match query answered end-to-end: corpus →
    * x25 overlapping chunks (context-window units with start_tok
    * provenance) → x33's positional blocked index keyed by the packed
    * chunk id → the corpus's hottest bigram answered FROM THE INDEX → the
    * top-k chunks by occurrence count with full (doc, chunk, start_tok)
    * provenance — what a retrieval layer hands the generator. Every stage
    * is the standalone operator's exact rule ([[chunkDocs]],
    * [[preparePhraseIndex]], [[hottestBigram]]), so geometry or index
    * changes propagate by construction; the overlap is WHY a phrase
    * straddling a stride boundary is still found (spec-pinned with a
    * planted straddler).
    *
    * Scale shape: chunking is a narrow generate; the index build pays
    * x33's one (term, block) shuffle over chunk tokens; the answer touches
    * only the phrase terms' index rows and joins positions on unique
    * (chunk, pos) keys; the top-k is a TakeOrdered (per-partition k then a
    * k-row merge — no global sort, no single-partition window). The
    * packed-key range is guarded in-plan: aliasing would silently merge
    * two chunks' positions, so past-bound documents raise instead.
    */
  def pipe5RetrieveChunks(s: SparkSession, dir: String, chunk: Int, stride: Int,
      k: Int): DataFrame =
    pipe5Core(t(s, dir, "documents"), chunk, stride, k)

  /** Library form over any (doc_id, text, …) frame — the spec drives it
    * with a planted stride-straddling phrase to prove the overlap is what
    * keeps boundary occurrences findable, and with an over-long document
    * to prove the packed-key guard fires instead of aliasing.
    */
  private[graft] def pipe5Core(docs: DataFrame, chunk: Int, stride: Int,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val top = hottestBigram(docs)
    val Array(w0, w1) = top.split(" ", 2)
    val chunks = chunkDocs(docs.select("doc_id", "text"), chunk, stride)
    val packed = chunks.select(expr(
      s"CASE WHEN chunk_id >= $Pipe5MaxChunks OR doc_id > ${Long.MaxValue / 4096}L " +
        s"THEN raise_error('pipe5: chunk key out of packing range') " +
        s"ELSE doc_id * $Pipe5MaxChunks + chunk_id END").as("doc_id"),
      col("chunk").as("text"))
    val idx = preparePhraseIndex(packed, X23Block)
    def positionsOf(term: String) = idx
      .filter(col("term") === term)
      .select(col("block"), explode(col("entries")).as("e"))
      .select(expr(s"block * ${X23Block}L + e.rel").as("ckey"), col("e.pos").as("pos"))
    val t0 = positionsOf(w0).select(col("ckey"), (col("pos") + 1).as("nxt"))
    val t1 = positionsOf(w1).select(col("ckey"), col("pos").as("nxt"))
    t0.join(t1, Seq("ckey", "nxt"))
      .groupBy("ckey").agg(count(lit(1)).as("n_occ"))
      .select(expr(s"ckey div $Pipe5MaxChunks").as("doc_id"),
        expr(s"ckey % $Pipe5MaxChunks").as("chunk_id"),
        expr(s"(ckey % $Pipe5MaxChunks) * ${stride}L").as("start_tok"),
        lit(top).as("phrase"), col("n_occ"))
      .orderBy(col("n_occ").desc, col("doc_id"), col("chunk_id"))
      .limit(k)
      .orderBy(col("n_occ").desc, col("doc_id"), col("chunk_id"))
  }

  // lazy: X25Chunk/X25Stride are declared later in this object — a strict
  // val here would capture their pre-init 0 (the pipe4Sql trap)
  lazy val pipe5Sql: String = {
    val (c, st) = (X25Chunk, X25Stride)
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |bgall AS (SELECT unnest(list_transform(range(len(w)-1),
       |        i -> w[i+1]||' '||w[i+2])) AS bg
       |      FROM w WHERE len(w) >= 2),
       |top AS (SELECT bg AS phrase FROM bgall GROUP BY bg
       |        ORDER BY COUNT(*) DESC, bg LIMIT 1),
       |c AS (SELECT doc_id, i AS chunk_id, i * $st AS start_tok,
       |        list_slice(w, i * $st + 1, i * $st + $c) AS toks
       |      FROM (SELECT doc_id, w,
       |              unnest(range((greatest(len(w) - $c, 0) + $st - 1) // $st + 1)) AS i
       |            FROM w WHERE len(w) >= 1)),
       |cb AS (SELECT doc_id, chunk_id, start_tok,
       |         unnest(list_transform(range(len(toks)-1),
       |           i -> toks[i+1]||' '||toks[i+2])) AS bg
       |       FROM c WHERE len(toks) >= 2)
       |SELECT doc_id, chunk_id::BIGINT AS chunk_id, start_tok::BIGINT AS start_tok,
       |  phrase, COUNT(*)::BIGINT AS n_occ
       |FROM cb JOIN top ON cb.bg = top.phrase
       |GROUP BY doc_id, chunk_id, start_tok, phrase
       |ORDER BY n_occ DESC, doc_id, chunk_id LIMIT 10""".stripMargin
  }

  // -------------------------------- X16: deterministic shard shuffle (epochs)

  /** Deterministic corpus shuffle into training shards: every document gets
    * a (shard, pos) address from a seeded hash — the epoch-reproducible
    * "global shuffle" a training run needs WITHOUT a global sort. The shard
    * assignment is a narrow hash; the within-shard ordering is a window
    * PER SHARD, so the sort parallelism equals the shard count and each
    * partition sorts corpus/nshards rows — no single-task total order
    * anywhere (the x11 prefix-sum pattern solves the one truly global
    * assignment; shuffling deliberately doesn't need it). Changing the
    * seed literal reshuffles every epoch reproducibly; md5 keys make both
    * engines agree on the permutation bit-for-bit.
    */
  def x16ShardShuffle(s: SparkSession, dir: String): DataFrame = {
    // The registered entry derives the shard count from the corpus itself —
    // nShards = max(1, rows / rows_per_shard) — so the sort parallelism
    // scales with the data instead of a bound constant. The count is one
    // metadata-cheap job whose single long the driver uses to parameterize
    // the plan (same constant-size-collect discipline as the codebooks).
    // The oracle replicates the identical formula via a scalar subquery.
    val rows = t(s, dir, "documents").count()
    x16ShardShuffle(s, dir, nShards = math.max(1L, rows / X16RowsPerShard).toInt)
  }

  /** Rows-per-shard budget for the registered x16 entry: 16 keeps multiple
    * shards in play even at sf0.001 (~50 docs → 3 shards) while mirroring
    * the production rule (100 TB / 1 GB shards → ~100k shards).
    */
  private[queries] val X16RowsPerShard = 16L

  /** The shard count IS the sort-parallelism knob: each shard is one
    * window-sort task over corpus/nShards rows, so at production scale pick
    * `nShards ≈ corpus_rows / rows_per_shard_budget` (e.g. 100 TB / 1 GB
    * shards → ~100k shards) and the per-task sort stays executor-memory
    * sized no matter how the corpus grows.
    */
  def x16ShardShuffle(s: SparkSession, dir: String, nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val seed = "epoch-0"
    val key = md5(concat(lit(seed), lit(":"), col("doc_id").cast("string")))
    val byShard = Window.partitionBy("shard").orderBy("k")
    t(s, dir, "documents")
      .select(col("doc_id"), key.as("k"))
      .withColumn("shard", expr(s"cast(conv(substring(k, 1, 8), 16, 10) as bigint) % $nShards"))
      .withColumn("pos", row_number().over(byShard).cast("long") - 1L)
      .select("doc_id", "shard", "pos")
      .orderBy("doc_id")
  }

  val x16Sql: String =
    s"""WITH n AS (SELECT greatest(1, count(*) // $X16RowsPerShard) AS nsh FROM documents),
       |k AS (SELECT doc_id, md5('epoch-0:' || doc_id::VARCHAR) AS k FROM documents),
       |sh AS (SELECT doc_id, k, (${md5Hex8Sql("'epoch-0:' || doc_id::VARCHAR")}) % (SELECT nsh FROM n) AS shard FROM k)
       |SELECT doc_id, shard,
       |  CAST(row_number() OVER (PARTITION BY shard ORDER BY k) AS BIGINT) - 1 AS pos
       |FROM sh ORDER BY doc_id""".stripMargin

  // ---------------------------- X17: cross-shard novelty (incremental crawl)

  /** Cross-snapshot novelty audit: treating shard k = the k-th crawl
    * increment (deterministic doc_id % 4 here), measure what fraction of
    * each shard's distinct 3-gram shingles is genuinely NEW — never seen in
    * any earlier shard. This is the metric that decides whether the next
    * crawl is worth ingesting, and the aggregate twin of d7/d8's gram
    * screens. Shape: one (shard, gram) distinct digest (partial-aggregable,
    * the d8 discipline — per-doc dedup happens in the shingle transform
    * BEFORE the explode), then two independent partial-aggregable passes —
    * totals per shard, and first-appearance per gram (min shard) re-counted
    * per shard — joined at #shards × #shards size. The corpus is touched
    * once; nothing after the digest is proportional to corpus volume. A
    * gram seen in shards 2 and 3 counts as novel in 2 only — exactly the
    * "first crawl owns the line" rule incremental dedup enforces.
    */
  def x17Novelty(s: SparkSession, dir: String): DataFrame = {
    // grams are digested to a 60-bit md5 prefix BEFORE the distinct: the
    // exchange then carries 8-byte keys instead of multi-word strings (the
    // d8 digest-key discipline — shuffle width stays constant as the gram
    // unit grows). Both engines hash identically, so counts stay exact.
    val grams = shingled(s, dir)
      .select((col("doc_id") % 4).as("shard"),
        explode(expr(
          "transform(sh, g -> cast(conv(substring(md5(g),1,15),16,10) as bigint))")).as("g"))
      .distinct()
    val totals = grams.groupBy("shard").agg(count(lit(1)).as("n_grams"))
    val novel = grams.groupBy("g").agg(min("shard").as("shard"))
      .groupBy("shard").agg(count(lit(1)).as("n_novel"))
    totals.join(novel, Seq("shard"), "left")
      .select(col("shard"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        expr("coalesce(n_novel, 0L) * 1000000L div n_grams").as("novel_ppm"))
      .orderBy("shard")
  }

  val x17Sql: String =
    s"""WITH $shingleSqlCte,
       |g AS (SELECT DISTINCT shard, ${md5HexSql("g0", 15)} AS g
       |      FROM (SELECT doc_id % 4 AS shard, unnest(s) AS g0 FROM sh)),
       |tot AS (SELECT shard, COUNT(*) AS n_grams FROM g GROUP BY shard),
       |nov AS (SELECT shard, COUNT(*) AS n_novel
       |        FROM (SELECT g, MIN(shard) AS shard FROM g GROUP BY g) GROUP BY shard)
       |SELECT tot.shard AS shard, n_grams, COALESCE(n_novel, 0) AS n_novel,
       |  COALESCE(n_novel, 0) * 1000000 // n_grams AS novel_ppm
       |FROM tot LEFT JOIN nov ON tot.shard = nov.shard
       |ORDER BY shard""".stripMargin

  // --------------------------- X18/X19: BPE subword merges (train + encode)

  /** The corpus collapsed to a distinct-word frequency table, each word
    * rendered as a parenthesized symbol sequence `(c)(c)(c)`. This collapse
    * is THE scale property of BPE training (Sennrich et al., ACL 2016):
    * every later round runs over distinct words (a bounded vocabulary —
    * ~10⁷ rows even at 100 TB of text), never the corpus, and the groupBy
    * shuffle that builds it is fully partial-aggregable.
    *
    * The `(sym)(sym)` string encoding is load-bearing: applying one merge
    * `(a)(b) → (ab)` becomes a literal (non-regex) `replace`, whose
    * left-to-right continue-after-replacement scan IS the greedy leftmost
    * non-overlapping semantics of a BPE round — `(a)(a)(a)` under merge
    * (a,a) yields `(aa)(a)`, never `(aa)(aa)` — and the same function with
    * the same semantics exists in DuckDB, so the oracle replays training
    * exactly. No UDF, no fold state: one codegen'd string op per round.
    */
  private[queries] def bpeWordTable(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      // \A..\z, not ^..$: Java's $ also matches before a trailing newline,
      // DuckDB's RE2 $ matches only end-of-text — "abc\n" would train on
      // the engine side but be excluded by the oracle. \A/\z are true
      // full-string anchors, so both engines apply identical semantics.
      .filter(col("w").rlike("""\A[a-z]+\z"""))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .select(expr(
        "concat('(', array_join(filter(split(w, ''), c -> c <> ''), ')('), ')')").as("repr"),
        col("f"))

  /** Adjacent-symbol pair statistics of one training round, weighted by
    * word frequency. The transform/explode emits (len−1) pairs per distinct
    * word; the SUM is partial-aggregable, so the exchange carries one row
    * per distinct PAIR (alphabet², tiny), not per occurrence.
    */
  private[queries] def bpePairCounts(words: DataFrame): DataFrame =
    words
      .select(col("f"), expr(
        "split(substring(repr, 2, length(repr) - 2), '\\\\)\\\\(')").as("sy"))
      .select(col("f"), explode(expr(
        "transform(slice(sy, 1, size(sy) - 1), (x, i) -> struct(x AS s1, element_at(sy, i + 2) AS s2))")).as("p"))
      .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .agg(sum("f").as("n"))

  /** Driver-owned BPE merge loop, the sim4/g1 iteration shape: per round,
    * one pair-count aggregation whose argmax (count desc, pair asc — the
    * deterministic tie-break that makes a resumed or re-sharded training
    * job reproduce the identical vocabulary) is a 1-row TakeOrdered to the
    * driver, then one narrow `replace` pass applies the chosen merge. The
    * word table is checkpointed once up front (it is re-read every round)
    * and every 4 rounds to keep the replace-chain lineage bounded; the
    * merge list itself is the driver state, like sim4's centroids. Stops
    * early if the corpus runs out of pairs (every word one symbol).
    */
  def bpeTrain(s: SparkSession, dir: String, nMerges: Int): Seq[(Int, String, String, String, Long)] = {
    // Replace-chain checkpoint CADENCE dial: between checkpoints each
    // pair-count pass re-applies up to (ckptEvery - 1) uncheckpointed
    // `replace` layers over the word table. At sf0.1 the materialization
    // job latency dominates (default 4 measured best); a 100 TB corpus —
    // where one re-scan of the 10⁷-row distinct-word table is cheap but
    // the per-round job count is not — can raise it, or lower it to 1 so
    // every round reads a flat checkpoint. The dial changes WHERE the
    // lineage is cut, never a value: the trajectory (argmax, tie-break,
    // merge application) is cadence-invariant, spec-pinned at 1 vs 4.
    val ckptEvery = s.conf.getOption("spark.graft.bpe.ckptEvery") match {
      case None => 4
      case Some(v) => v.trim.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
        s"spark.graft.bpe.ckptEvery must be a positive integer, got '$v'"))
    }
    var words = bpeWordTable(s, dir).lossTolerantCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      val top = bpePairCounts(words)
        .orderBy(col("n").desc, col("s1").asc, col("s2").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        out += ((r, a, b, a + b, n))
        words = words.withColumn("repr", expr(s"replace(repr, '($a)($b)', '($a$b)')"))
        if (r % ckptEvery == 0 && r < nMerges) words = words.lossTolerantCheckpoint()
        r += 1
      }
    }
    out.toSeq
  }

  /** X18: the learned merge table for 10 rounds — rank, pair, merged
    * symbol, and the pair's weighted count at merge time (the tokenizer
    * artifact x19 consumes, as x14 consumes x9's vocabulary). The oracle
    * replays all 10 rounds as unrolled CTEs (g1's discipline for iterative
    * fixed points), so the full training trajectory — argmax, tie-break,
    * and greedy merge application — is hash-checked cross-engine, not just
    * the final state.
    */
  def x18BpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeTrain(s, dir, 10).toDF("mrank", "lhs", "rhs", "merged", "pair_n")
  }

  /** The oracle's unrolled rounds. MATERIALIZED is required, not a hint:
    * DuckDB inlines plain CTEs, and each round references its predecessors
    * from three scalar subqueries, so un-materialized expansion is 3^rounds
    * parquet scans — at 10 rounds that exhausts the fd limit before it
    * exhausts patience. Materialized, each round computes once, linear like
    * the Spark loop it mirrors. An exhausted round (empty m_i — every word
    * one symbol) must leave words UNCHANGED, not NULL: the scalar
    * subqueries return NULL on empty input and replace() propagates it, so
    * each round guards on COUNT(m_i) — exhaustion is permanent, so the
    * guarded rounds emit no further merges, exactly the engine's early
    * stop.
    */
  private def bpeOracleRounds(m: Int): String =
    (0 until m).map { i =>
      s"""p$i AS MATERIALIZED (SELECT sy[i] AS s1, sy[i+1] AS s2, SUM(f)::BIGINT AS n
         |  FROM (SELECT string_split(trim(repr, '()'), ')(') AS sy, f FROM w$i),
         |       unnest(range(1, len(sy))) AS t(i)
         |  GROUP BY 1, 2),
         |m$i AS MATERIALIZED (SELECT s1, s2, n FROM p$i ORDER BY n DESC, s1, s2 LIMIT 1),
         |w${i + 1} AS MATERIALIZED (SELECT CASE WHEN (SELECT COUNT(*) FROM m$i) = 0 THEN repr
         |    ELSE replace(repr,
         |      '(' || (SELECT s1 FROM m$i) || ')(' || (SELECT s2 FROM m$i) || ')',
         |      '(' || (SELECT s1 || s2 FROM m$i) || ')') END AS repr, f FROM w$i)""".stripMargin
    }.mkString(",\n")

  private val bpeOracleW0: String =
    s"""w0 AS MATERIALIZED (
       |  SELECT '(' || array_to_string(string_split(w, ''), ')(') || ')' AS repr,
       |         COUNT(*)::BIGINT AS f
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY 1)""".stripMargin

  val x18Sql: String = {
    val union = (0 until 10).map { i =>
      s"SELECT ${i + 1} AS mrank, s1 AS lhs, s2 AS rhs, s1 || s2 AS merged, n AS pair_n FROM m$i"
    }.mkString("\nUNION ALL ")
    s"""WITH $bpeOracleW0,
       |${bpeOracleRounds(10)}
       |SELECT * FROM ($union) ORDER BY mrank""".stripMargin
  }

  /** X19: tokenize the corpus with the trained merges — the consumption
    * side of x18's artifact. The 10 merges are collected (10 rows BY
    * CONSTRUCTION — an artifact, not data) and compiled into one nested
    * `replace` chain applied per word inside an `aggregate` lambda, so
    * encoding is a pure narrow row-local pass: zero joins, zero shuffles
    * before the output sort, and a 100 TB corpus streams through map tasks
    * at scan speed. Token count per word is counted as '(' occurrences
    * (`size(split(.., '[(]')) - 1`), one use of the chain per word. Docs
    * with no `[a-z]+` words are absent on both sides (none exist in this
    * corpus; the contract is explicit). NOTE this registered entry
    * deliberately composes train+encode (the end-to-end contract); its
    * bench time is dominated by the 10 training rounds. The cost a pipeline
    * should quote as "tokenization" is `x19b_encode_only`, which consumes
    * the pinned [[X19Merges]] artifact.
    */
  def x19BpeEncode(s: SparkSession, dir: String): DataFrame =
    encodeWithMerges(t(s, dir, "documents"), bpeTrain(s, dir, 10))
      .select("doc_id", "n_tokens")
      .orderBy("doc_id")

  /** Tokenize any (…, text) frame — batch or streaming — with a FIXED
    * trained merge artifact: the merges compile into one nested replace
    * chain, so the whole encode is a stateless narrow projection (adds
    * `n_tokens`, keeps every other column). This is the form the streaming
    * ingest twin runs per micro-batch: the artifact is a literal in the
    * plan, so replays are idempotent by construction.
    */
  def encodeWithMerges(docs: DataFrame,
      merges: Seq[(Int, String, String, String, Long)]): DataFrame = {
    // symbols are interpolated into a SQL expression as literals; bpeTrain
    // can only emit [a-z]+ (the word filter), but this is a public entry
    // point, so enforce the shape instead of assuming the caller
    merges.foreach { case (_, a, b, _, _) =>
      require(a.matches("[a-z]+") && b.matches("[a-z]+"),
        s"merge symbols must be [a-z]+ (got '$a', '$b')")
    }
    var enc = "concat('(', array_join(filter(split(x, ''), c -> c <> ''), ')('), ')')"
    for ((_, a, b, _, _) <- merges) enc = s"replace($enc, '($a)($b)', '($a$b)')"
    docs
      // \A..\z full-string anchors — see bpeWordTable's note; the two word
      // filters must agree or training and encoding see different corpora
      .withColumn("ws", expr("filter(split(text, ' '), x -> x rlike '\\\\A[a-z]+\\\\z')"))
      .filter(size(col("ws")) > 0)
      .withColumn("n_tokens", expr(
        s"aggregate(ws, 0L, (acc, x) -> acc + cast(size(split($enc, '[(]')) - 1 AS bigint))"))
      .drop("ws")
  }

  /** The PINNED tokenizer artifact for the encode-only entry: the 10 merges
    * `bpeTrain` learns at sf0.01 (hash-checked by x18's oracle), frozen as
    * source literals. This is the production shape x19b demonstrates — an
    * artifact is trained ONCE, persisted, and applied to any corpus; the
    * applying query embeds it as plan literals and never re-trains. Counts
    * are the training-time statistics (part of the artifact, unused by
    * encoding).
    */
  val X19Merges: Seq[(Int, String, String, String, Long)] = Seq(
    (1, "e", "r", "er", 4568L), (2, "i", "n", "in", 2760L),
    (3, "o", "w", "ow", 2747L), (4, "o", "r", "or", 2696L),
    (5, "s", "t", "st", 2676L), (6, "m", "er", "mer", 1852L),
    (7, "a", "t", "at", 1845L), (8, "l", "u", "lu", 1831L),
    (9, "a", "r", "ar", 1758L), (10, "p", "ar", "par", 1758L))

  /** X19b: tokenization with the pinned artifact — what a pipeline actually
    * benchmarks as "tokenization cost". x19 (train+encode) keeps the
    * composed contract and re-trains by design; THIS entry consumes
    * [[X19Merges]] as literals, so its cost is the pure encode pass:
    * zero joins, zero shuffles before the output sort, no training jobs.
    * The oracle applies the identical literal replace chain.
    */
  def x19bEncodeOnly(s: SparkSession, dir: String): DataFrame =
    encodeWithMerges(t(s, dir, "documents"), X19Merges)
      .select("doc_id", "n_tokens")
      .orderBy("doc_id")

  val x19bSql: String = {
    var applied = "'(' || array_to_string(string_split(w, ''), ')(') || ')'"
    for ((_, a, b, m, _) <- X19Merges)
      applied = s"replace($applied, '($a)($b)', '($m)')"
    s"""SELECT doc_id, SUM(len(string_split(trim($applied, '()'), ')(')))::BIGINT AS n_tokens
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |WHERE regexp_matches(w, '^[a-z]+$$')
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  val x19Sql: String = {
    // exhaustion guard WITHOUT duplicating the chain (a CASE whose THEN and
    // ELSE both contain `applied` doubles the expression per round — 2^10
    // copies blows the parser): an empty m$i makes the search pattern
    // COALESCE to chr(1), which cannot occur in a parenthesized [a-z]+
    // repr, so the replace is a no-op instead of NULL-propagating.
    var applied = "'(' || array_to_string(string_split(w, ''), ')(') || ')'"
    for (i <- 0 until 10)
      applied =
        s"""replace($applied,
           |    COALESCE('(' || (SELECT s1 FROM m$i) || ')(' || (SELECT s2 FROM m$i) || ')', chr(1)),
           |    COALESCE('(' || (SELECT s1 || s2 FROM m$i) || ')', ''))""".stripMargin
    s"""WITH $bpeOracleW0,
       |${bpeOracleRounds(10)}
       |SELECT doc_id, SUM(len(string_split(trim($applied, '()'), ')(')))::BIGINT AS n_tokens
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |WHERE regexp_matches(w, '^[a-z]+$$')
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------- W6: rank-based outlier flags

  /** Distribution-tail outlier detection per event type: flag the bottom
    * and top 1% of `value` by exact percent_rank — the data-quality tripwire
    * that runs after every ingest (price glitches, sensor spikes). Exact
    * rank needs a per-type global order, which at 100 TB concentrates each
    * type in one window partition — the same wall as any exact per-group
    * order-statistic, and the same documented swap as a9 → a9s: compute the
    * two thresholds with the GK quantile sketch (constant-size, mergeable),
    * broadcast them, and flag with a narrow filter — sketch-threshold
    * flagging is one scan, no sort. This exact form is the oracle-checkable
    * contract the sketch form is validated against. percent_rank is
    * (rank−1)/(n−1) of identical integers in both engines, so even the
    * double compares are bit-exact.
    */
  def w6Outliers(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("value")
    t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("pr", percent_rank().over(w))
      .filter(col("pr") <= 0.01 || col("pr") >= 0.99)
      .select(col("event_id"), col("event_type"), col("value"),
        when(col("pr") <= 0.01, "low").otherwise("high").as("side"))
      .orderBy("event_id")
  }

  val w6Sql: String =
    """WITH r AS (SELECT event_id, event_type, value,
      |        percent_rank() OVER (PARTITION BY event_type ORDER BY value) AS pr
      |      FROM events)
      |SELECT event_id, event_type, value,
      |  CASE WHEN pr <= 0.01 THEN 'low' ELSE 'high' END AS side
      |FROM r WHERE pr <= 0.01 OR pr >= 0.99 ORDER BY event_id""".stripMargin

  // ------------------------ X20: model-based quality filtering (classifier)

  /** Hash-bucket count of the x20 classifier's feature space. */
  private[graft] val X20Buckets = 64

  /** The "trained" linear-classifier artifact: one weight per feature
    * bucket, in ppm of the keep-probability scale [0, 1e6]. Derived
    * deterministically from md5 so BOTH engines can embed the identical
    * literals — the stand-in for a fastText/DCLM-style quality model's
    * exported weight vector, which a production run would load from a file
    * and broadcast exactly the same way (an artifact, not data — the same
    * contract as x14's vocabulary map and x19b's pinned merges).
    */
  private[graft] val X20Weights: IndexedSeq[Long] =
    (0 until X20Buckets).map { b =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"w$b".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.substring(0, 15), 16) % 1000001L
    }

  /** Model-based quality filtering — the fastText-shape linear classifier
    * pass every modern pretraining pipeline runs (CCNet's LM filter,
    * DCLM-Baseline's fastText classifier, FineWeb-Edu's quality scorer):
    * hash each token into [[X20Buckets]] feature buckets via the shared
    * 60-bit md5 prefix, score the document as the integer-ppm MEAN of the
    * bucket weights over its TOKEN STREAM (not distinct tokens — term
    * frequency is the feature), and keep documents scoring at or above the
    * 500000-ppm midpoint. All weights are non-negative so every division is
    * on non-negative operands — truncating `div` and DuckDB `//` cannot
    * diverge.
    *
    * Scale shape: the model rides the plan as an array literal (64 longs),
    * so inference is ONE narrow codegen'd pass — zero joins, zero shuffles
    * before the output sort; a 100 TB corpus streams through map tasks at
    * scan speed, exactly like x14's broadcast-map tokenizer. The hash
    * bucketing, per-token lookup, and mean all run inside higher-order
    * array expressions on the already-split token array.
    */
  /** Classifier core over any frame with a `text` column — shared by the
    * batch query and the streaming ingest twin
    * ([[graft.streaming.StreamingOps.classifyStream]]): adds
    * n_tokens/score_ppm/keep and drops the text. A stateless narrow
    * projection, so it applies to bounded and unbounded sources alike.
    */
  private[graft] def classifyQuality(docs: DataFrame): DataFrame =
    scoreQuality(docs)
      .withColumn("n_tokens", size(col("w")).cast("long"))
      .withColumn("score_ppm", expr("sum_w div n_tokens"))
      .withColumn("keep", when(col("score_ppm") >= 500000L, 1).otherwise(0))
      .drop("w", "sum_w", "text")

  /** THE single definition of the x20 scoring rule — adds the token array
    * `w` and weight-sum `sum_w` to any frame with a `text` column and drops
    * empty-token rows, keeping everything else. [[classifyQuality]] (batch
    * query + streaming twin) and [[pipe2IndexBuild]]'s inline gate both
    * build on it, so a weights/bucketing/threshold change propagates to
    * every consumer by construction.
    */
  private[graft] def scoreQuality(docs: DataFrame): DataFrame = {
    val wt = array(X20Weights.map(lit(_)): _*)
    def bucket(tk: Column): Column =
      (conv(substring(md5(tk), 1, 15), 16, 10).cast("long") % X20Buckets).cast("int")
    docs
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 1)
      .withColumn("sum_w",
        aggregate(transform(col("w"), tk => element_at(wt, bucket(tk) + 1)),
          lit(0L), (acc, x) => acc + x))
  }

  def x20QualityClassifier(s: SparkSession, dir: String): DataFrame =
    classifyQuality(t(s, dir, "documents").select("doc_id", "text"))
      .orderBy("doc_id")

  val x20Sql: String = {
    val wlist = X20Weights.mkString("[", ", ", "]")
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sc AS (SELECT doc_id, len(w)::BIGINT AS n_tokens,
       |         CAST(list_sum(list_transform(w,
       |           tk -> ($wlist)[((${md5HexSql("tk", 15)}) % $X20Buckets) + 1])) AS BIGINT) AS sum_w
       |       FROM w WHERE len(w) >= 1)
       |SELECT doc_id, n_tokens, sum_w // n_tokens AS score_ppm,
       |  CASE WHEN sum_w // n_tokens >= 500000 THEN 1 ELSE 0 END AS keep
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  // ------------------- X21: importance-weighted resampling (DSIR-shape)

  /** Hash-bucket count of the x21 importance model (hashed unigram space). */
  private[graft] val X21Buckets = 256

  /** Importance-weight resampling, the DSIR shape (Xie et al., "Data
    * Selection for Language Models via Importance Resampling", NeurIPS'23):
    * estimate a TARGET unigram distribution (here the `lang='en'` slice —
    * the stand-in for a high-quality target like Wikipedia) and the RAW
    * corpus distribution over [[X21Buckets]] hashed-unigram buckets, then
    * weight every document by its mean per-token target/raw likelihood
    * ratio. Documents whose token mix looks like the target upweight;
    * boilerplate the target lacks downweights. This integer-ppm variant
    * uses the arithmetic mean of add-one-smoothed ratios rather than DSIR's
    * log-sum (same ordering signal, exact cross-engine arithmetic; ct ≤ cr
    * always, so the per-bucket ratio term is bounded by 1e6 and the scale
    * term by 1e6·N_raw/N_target — overflow-safe unless the target slice is
    * below ~1e-7 of the corpus, ENFORCED by a require when the one-row
    * totals collect at model build).
    *
    * Scale shape: the corpus is tokenized, hashed, and exploded exactly
    * ONCE, into the per-(doc, bucket) count table — partial-aggregable, so
    * the exchange carries at most docs × 256 rows, not tokens — which is
    * checkpointed and read twice: the bucket-count model (256 rows, a
    * second partial-aggregable pass over already-reduced rows) derives
    * from it and broadcasts back onto it; the final mean is one more
    * doc_id exchange. The corpus is never joined against anything
    * non-broadcast.
    */
  def x21ImportanceWeights(s: SparkSession, dir: String): DataFrame = {
    // ONE tokenize+hash pass: per-(doc, bucket) counts carry lang along
    // (functionally dependent on doc_id), checkpointed because both the
    // model build and the final scoring read them — without it the corpus
    // would be exploded and md5'd twice
    val perDoc = t(s, dir, "documents")
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 1)
      .select(col("doc_id"), col("lang"),
        explode(expr(
          s"transform(w, tk -> cast(conv(substring(md5(tk),1,15),16,10) as bigint) % $X21Buckets)"))
          .as("b"))
      .groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("cnt"))
      .lossTolerantCheckpoint()
    // bucket-count rows, partial-aggregable on top of the per-doc table
    val model = perDoc.groupBy("b").agg(
      sum("cnt").as("cr"),
      sum(when(col("lang") === "en", col("cnt")).otherwise(0L)).as("ct"))
    // the totals are ONE row — collected like j8's bloom/a10s's CMS (a
    // constant-size summary shipped back as literals), which is also where
    // the documented overflow guard becomes enforceable instead of a
    // comment: per-bucket ratio ≤ 1e6 (ct ≤ cr), so the product overflows
    // only when scale exceeds Long.Max/1e6 ≈ 9.2e12, i.e. the target slice
    // is below ~1e-7 of the corpus
    val Array(nr, nt) = model.agg(sum("cr"), sum("ct")).first() match {
      case r => Array(r.getLong(0), r.getLong(1))
    }
    // the guard must fire BEFORE the multiply: past ~9.2e12 raw tokens the
    // product itself wraps and a post-hoc check would inspect garbage
    require(nr <= Long.MaxValue / 1000000L - X21Buckets,
      s"raw token count $nr exceeds the integer-scale bound " +
        s"${Long.MaxValue / 1000000L - X21Buckets}; shard the corpus or widen to DECIMAL")
    val scale = ((nr + X21Buckets) * 1000000L) / (nt + X21Buckets)
    require(scale <= Long.MaxValue / 1000000L,
      s"target slice too small for integer ratios: raw/target token ratio ${nr / math.max(nt, 1L)}")
    val ratio = model
      .select(col("b"), expr(
        s"((((ct + 1L) * 1000000L) div (cr + 1L)) * ${scale}L) div 1000000L")
        .as("ratio_ppm"))
    perDoc.join(broadcast(ratio), "b")
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_tokens"), sum(expr("cnt * ratio_ppm")).as("wsum"))
      .select(col("doc_id"), col("n_tokens"),
        expr("wsum div n_tokens").as("weight_ppm"))
      .orderBy("doc_id")
  }

  val x21Sql: String =
    s"""WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
       |o AS (SELECT doc_id, lang, (${md5HexSql("tk", 15)}) % $X21Buckets AS b
       |      FROM (SELECT doc_id, lang, unnest(w) AS tk FROM w WHERE len(w) >= 1)),
       |m AS (SELECT b, COUNT(*) AS cr,
       |        SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
       |      FROM o GROUP BY b),
       |tt AS (SELECT SUM(cr) AS nr, SUM(ct) AS nt FROM m),
       |r AS (SELECT b, ((((ct + 1) * 1000000) // (cr + 1)) *
       |        (((nr + $X21Buckets) * 1000000) // (nt + $X21Buckets))) // 1000000 AS ratio_ppm
       |      FROM m CROSS JOIN tt),
       |pd AS (SELECT doc_id, b, COUNT(*) AS cnt FROM o GROUP BY doc_id, b)
       |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       |  CAST(CAST(SUM(cnt * ratio_ppm) AS BIGINT) // CAST(SUM(cnt) AS BIGINT) AS BIGINT) AS weight_ppm
       |FROM pd JOIN r USING (b) GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ----------------------- X24: distribution drift report (corpus monitor)

  /** Bucket count of the x24 drift monitor's hashed-unigram space. */
  private[graft] val X24Buckets = 128

  /** Distribution-drift report — the corpus-version monitoring pass every
    * recurring ingest runs before promoting a new crawl (x15 profiles ONE
    * corpus; this compares TWO): token distributions of a reference slice
    * and a candidate slice (here `lang='en'` vs the rest — a real shift;
    * production: yesterday's corpus vs today's) over [[X24Buckets]] hashed
    * unigram buckets, reported as each bucket's per-mille-style
    * contribution to total-variation distance. All arithmetic is
    * per-distribution ppm FIRST (bounded by 1e6, so no cross-total product
    * can overflow regardless of corpus size), then an absolute difference
    * — integer-exact on both engines. The TV total is half the sum of the
    * contributions; emitting per-bucket rows keeps the report actionable
    * (WHICH token mass moved), not just a scalar alarm.
    *
    * Scale shape: two partial-aggregable counts per bucket in one pass
    * over the exploded token stream (map-side combine bounds the exchange
    * at tasks × buckets), the two totals collect as one row of literals
    * (the x21/j8 constant-size-summary discipline), and the report is
    * bucket-count rows. Nothing corpus-sized survives the first
    * aggregation.
    */
  def x24DriftReport(s: SparkSession, dir: String): DataFrame = {
    val occ = t(s, dir, "documents")
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 1)
      .select(col("lang"), explode(expr(
        s"transform(w, tk -> cast(conv(substring(md5(tk),1,15),16,10) as bigint) % $X24Buckets)"))
        .as("b"))
    val counts = occ.groupBy("b").agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ca"),
      sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("cb"))
    val Array(na, nb) = counts.agg(sum("ca"), sum("cb")).first() match {
      case r => Array(r.getLong(0), r.getLong(1))
    }
    require(na > 0 && nb > 0, s"a drift slice is empty: reference=$na candidate=$nb tokens")
    counts
      .select(col("b"), col("ca"), col("cb"),
        expr(s"(ca * 1000000L) div ${na}L").as("pa_ppm"),
        expr(s"(cb * 1000000L) div ${nb}L").as("pb_ppm"))
      .withColumn("tv_contrib_ppm", abs(col("pa_ppm") - col("pb_ppm")))
      .orderBy("b")
  }

  val x24Sql: String =
    s"""WITH w AS (SELECT lang, string_split(text, ' ') AS w FROM documents),
       |o AS (SELECT lang, (${md5HexSql("tk", 15)}) % $X24Buckets AS b
       |      FROM (SELECT lang, unnest(w) AS tk FROM w WHERE len(w) >= 1)),
       |c AS (SELECT b,
       |        SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS ca,
       |        SUM(CASE WHEN lang != 'en' THEN 1 ELSE 0 END)::BIGINT AS cb
       |      FROM o GROUP BY b),
       |tt AS (SELECT SUM(ca)::BIGINT AS na, SUM(cb)::BIGINT AS nb FROM c)
       |SELECT b, ca, cb,
       |  CAST((ca * 1000000) // na AS BIGINT) AS pa_ppm,
       |  CAST((cb * 1000000) // nb AS BIGINT) AS pb_ppm,
       |  CAST(abs((ca * 1000000) // na - (cb * 1000000) // nb) AS BIGINT) AS tv_contrib_ppm
       |FROM c CROSS JOIN tt ORDER BY b""".stripMargin

  // ------------------- X25: overlapping-window chunking (context windows)

  /** x25 chunk width (tokens per emitted context window). */
  private[graft] val X25Chunk = 32
  /** x25 stride (tokens between consecutive chunk starts; overlap =
    * [[X25Chunk]] − stride).
    */
  private[graft] val X25Stride = 24

  /** Overlapping-window chunking — the long-document splitting step that
    * runs BEFORE sequence packing (x11 packs already-bounded pieces; this
    * produces them): every document becomes ⌈max(0, n−C)/S⌉+1 chunks of up
    * to C=[[X25Chunk]] tokens starting every S=[[X25Stride]] tokens, so
    * consecutive chunks share C−S tokens of context — the RETRO/RAG
    * chunking shape, and the reason no token's context is ever split cold
    * at a chunk boundary. Emits (chunk_id, start_tok, n_tokens, chunk) per
    * document; `start_tok` keeps the chunk addressable back into the
    * source for span-level provenance. Reassembly is exact: chunk 0 plus
    * each later chunk minus its first C−S tokens reconstructs the document
    * (spec-pinned), so chunking loses nothing and duplicates only the
    * declared overlap.
    *
    * Scale shape: a pure narrow pass — split, one `inline(transform(...))`
    * generate, no exchange before the output sort. A 100 TB corpus chunks
    * at scan speed with output ≈ C/S × input; the (C, S) dial trades that
    * duplication factor against context continuity.
    */
  def x25ChunkOverlap(s: SparkSession, dir: String): DataFrame =
    x25ChunkOverlap(s, dir, X25Chunk, X25Stride)

  /** (chunk, stride) are real dials: any 0 < stride ≤ chunk is valid —
    * stride == chunk degenerates to disjoint blocks (d11's grid).
    */
  def x25ChunkOverlap(s: SparkSession, dir: String, chunk: Int, stride: Int): DataFrame =
    chunkDocs(t(s, dir, "documents").select("doc_id", "text"), chunk, stride)
      .select("doc_id", "chunk_id", "start_tok", "n_tokens", "chunk")
      .orderBy("doc_id", "chunk_id")

  /** THE single definition of the chunking rule — explodes any frame with a
    * `text` column into (chunk_id, start_tok, n_tokens, chunk) rows,
    * keeping every other column. The batch query and the streaming ingest
    * twin ([[graft.streaming.StreamingOps.chunkStream]]) both call it, so
    * the window geometry cannot drift between them. A stateless narrow
    * generate, so it applies to bounded and unbounded sources alike.
    */
  private[graft] def chunkDocs(docs: DataFrame, chunk: Int, stride: Int): DataFrame = {
    require(stride > 0 && stride <= chunk,
      s"need 0 < stride <= chunk, got chunk=$chunk stride=$stride")
    // "keeping every other column" must not mean silently clobbering one:
    // these are the names the explode introduces or consumes
    val reserved = Set("w", "toks", "chunk_id", "start_tok", "n_tokens", "chunk")
    val clash = docs.columns.filter(reserved)
    require(clash.isEmpty,
      s"chunkDocs input carries reserved column(s) ${clash.mkString(", ")} — rename before chunking")
    docs
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 1)
      .select(col("*"), expr(
        s"inline(transform(sequence(0, cast((greatest(size(w) - $chunk, 0) + $stride - 1) div $stride as int)), " +
          s"i -> struct(cast(i as bigint) as chunk_id, cast(i * $stride as bigint) as start_tok, " +
          s"slice(w, i * $stride + 1, $chunk) as toks)))"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("chunk", concat_ws(" ", col("toks")))
      .drop("w", "toks", "text")
  }

  val x25Sql: String = {
    val (c, st) = (X25Chunk, X25Stride)
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |c AS (SELECT doc_id, i AS chunk_id, i * $st AS start_tok,
       |        list_slice(w, i * $st + 1, i * $st + $c) AS toks
       |      FROM (SELECT doc_id, w,
       |              unnest(range((greatest(len(w) - $c, 0) + $st - 1) // $st + 1)) AS i
       |            FROM w WHERE len(w) >= 1))
       |SELECT doc_id, chunk_id, start_tok, len(toks)::BIGINT AS n_tokens,
       |  array_to_string(toks, ' ') AS chunk
       |FROM c ORDER BY doc_id, chunk_id""".stripMargin
  }

  // ------------------- X26: text normalization (canonicalize before hashing)

  /** THE canonicalization rule — lowercase, non-[a-z0-9 ] to space, collapse
    * whitespace runs, trim. Idempotent (spec-pinned), and exactly
    * expressible on both engines (Spark regexp_replace is replace-all by
    * default; the oracle passes the `'g'` flag). Every hash-keyed operator
    * (d1/d8/d11 dedup, d7 contamination, x12/x17 digests) composes with it:
    * run normalization FIRST and case/punctuation/spacing variants of the
    * same content stop hiding from the digest.
    */
  private[graft] def normalizeText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** Normalization demo + report — the C4/CCNet canonicalization step that
    * runs before any content hashing. The corpus carries no natural
    * case/spacing variants, so the query derives one deterministic dirty
    * variant per document (upper+punct / doubled spaces / pad+trailing dot,
    * by doc_id — the k8 derived-versions convention) and reports, for every
    * (doc, variant) row, its duplicate frequency under the RAW hash vs the
    * NORMALIZED hash. `exposed = 1` — the normalized hash collides where the
    * raw one does not — is precisely the dupe class normalization recovers;
    * the spec pins that every variant pair is exposed and that the rule
    * recovers the canonical text exactly.
    *
    * Scale shape: one narrow normalize pass plus two window counts keyed on
    * constant-width md5 digests — the d1 budget twice. At 100 TB the two
    * windows share the corpus scan; nothing text-keyed ever shuffles.
    */
  def x26Normalize(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents").select(col("doc_id"), col("text"))
      .withColumn("variant", explode(array(lit(0), lit(1))))
      // every dirt class must alter ANY text (class 1 appends punctuation on
      // top of the doubled spaces — doubling alone is a no-op on spaceless
      // or empty text, which would make the variant pair collide RAW and
      // silently void the exposed contract on such corpora)
      .withColumn("v_text", expr(
        "CASE WHEN variant = 0 THEN text " +
          "WHEN doc_id % 3 = 0 THEN concat(upper(text), ' !!') " +
          "WHEN doc_id % 3 = 1 THEN concat(replace(text, ' ', '  '), ' ?') " +
          "ELSE concat(' ', text, '.') END"))
      .withColumn("norm", normalizeText(col("v_text")))
      .withColumn("changed", (col("v_text") =!= col("norm")).cast("int"))
      .withColumn("raw_df", count(lit(1)).over(Window.partitionBy(md5(col("v_text")))))
      .withColumn("norm_df", count(lit(1)).over(Window.partitionBy(md5(col("norm")))))
      .withColumn("exposed", (col("norm_df") > col("raw_df")).cast("int"))
      .select("doc_id", "variant", "changed", "raw_df", "norm_df", "exposed")
      .orderBy("doc_id", "variant")
  }

  val x26Sql: String =
    """WITH v AS (SELECT doc_id, unnest([0, 1]) AS variant, text FROM documents),
      |d AS (SELECT doc_id, variant,
      |        CASE WHEN variant = 0 THEN text
      |             WHEN doc_id % 3 = 0 THEN upper(text) || ' !!'
      |             WHEN doc_id % 3 = 1 THEN replace(text, ' ', '  ') || ' ?'
      |             ELSE ' ' || text || '.' END AS v_text
      |      FROM v),
      |n AS (SELECT doc_id, variant, v_text,
      |        trim(regexp_replace(regexp_replace(lower(v_text),
      |          '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
      |      FROM d)
      |SELECT doc_id, variant,
      |  CASE WHEN v_text != norm THEN 1 ELSE 0 END AS changed,
      |  COUNT(*) OVER (PARTITION BY md5(v_text))::BIGINT AS raw_df,
      |  COUNT(*) OVER (PARTITION BY md5(norm))::BIGINT AS norm_df,
      |  CASE WHEN COUNT(*) OVER (PARTITION BY md5(norm)) >
      |            COUNT(*) OVER (PARTITION BY md5(v_text)) THEN 1 ELSE 0 END AS exposed
      |FROM n ORDER BY doc_id, variant""".stripMargin

  // ------------- X27: in-engine classifier training (batch perceptron)

  /** Training rounds of the default x27 contract. */
  private[graft] val X27Rounds = 8

  /** x27 feature dimension: [[X20Buckets]] hashed token-count features plus
    * one bias coordinate (index [[X20Buckets]], constant 1 per document).
    */
  private[graft] val X27Dim = X20Buckets + 1

  def x27TrainClassifier(s: SparkSession, dir: String): DataFrame =
    x27TrainClassifier(s, dir, X27Rounds)

  /** In-engine linear-classifier TRAINING — the production counterpart of
    * x20, which only applies an already-trained weight vector. This is the
    * step that produces such an artifact: fastText-style pipelines (CCNet,
    * DCLM-Baseline, FineWeb-Edu) train a linear model over hashed bag-of-
    * words features on a labeled slice, then run it corpus-wide; here the
    * training itself is a Spark job over x20's EXACT feature space (the
    * shared 60-bit-md5 → [[X20Buckets]] bucketing), labels y = ±1 from
    * `lang = 'en'`, so the learned vector drops straight into
    * [[scoreQuality]]'s literal-array slot.
    *
    * The trainer is the BATCH PERCEPTRON: full-batch gradient descent with
    * unit step on the perceptron loss — per round, every document with
    * y·(w·x) ≤ 0 contributes y·x to the weight update. All-integer
    * arithmetic (counts, ±1 labels, integer weights) makes the whole
    * trajectory bit-exact cross-engine, so the DuckDB oracle replays ALL
    * rounds as unrolled CTEs and hash-checks every intermediate weight
    * vector — the x18 trajectory-checking discipline applied to model
    * training. (Sigmoid-based logistic descent would need transcendental
    * floats; the perceptron is the integer-exact member of the same linear
    * family.)
    *
    * Scale shape (x18's): the corpus is read ONCE — a zero-shuffle narrow
    * mapPartitions pass builds each doc's dense 65-long count vector
    * row-locally, localCheckpointed as the per-round
    * training set (≈500 B/doc, orders of magnitude under the text it
    * replaces). Each round is ONE pass over that table: a codegen'd
    * `zip_with` dot against the weight LITERALS, the misclassified filter,
    * and a posexplode → 66-key partial-aggregable sum whose exchange
    * carries ≤ 66·partitions rows; a sentinel element rides the explode so
    * the error count and the gradient come out of the same pass. The
    * weight vector itself (65 longs) moves driver→plan as literals each
    * round, never as a join side. Output: the full (round, bucket, weight,
    * errors) trajectory — rounds × [[X27Dim]] rows by construction.
    */
  def x27TrainClassifier(s: SparkSession, dir: String, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds must be in 1..64, got $rounds")
    import s.implicits._
    // Feature extraction is a row-local histogram — genuine per-row
    // imperative work, so a typed mapPartitions (the m4 precedent) beats
    // the O(64·tokens) nested higher-order-function formulation it
    // replaced (measured 30× on the one-time pass; the bucket rule is
    // byte-identical: Hashing.md5Lane60 IS conv(substring(md5,1,15),16,10))
    val feat = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        it.map { case (id, text, lang) =>
          val x = new Array[Long](X27Dim)
          text.split(" ", -1).foreach { tk =>
            x((graft.functions.Hashing.md5Lane60(tk) % X20Buckets).toInt) += 1L
          }
          x(X20Buckets) = 1L
          (id, if (lang == "en") 1L else -1L, x)
        }
      }
      .toDF("doc_id", "y", "x")
      .lossTolerantCheckpoint()

    // Overflow guard, x21 discipline (bound checked BEFORE any product can
    // wrap): per round |w_b| grows by ≤ totalTokens, so after `rounds`
    // rounds |dot| ≤ maxDocLen · rounds · totalTokens. If a corpus trips
    // this, train on a labeled SHARD (the production shape — classifier
    // training sets are samples, inference is corpus-wide) or clip counts.
    val bounds = feat.agg(
      sum(aggregate(col("x"), lit(0L), (a, b) => a + b)).as("tot"),
      max(aggregate(col("x"), lit(0L), (a, b) => a + b)).as("mx")).head()
    val (tot, maxLen) = (bounds.getLong(0), bounds.getLong(1))
    require(BigInt(maxLen) * rounds * tot <= BigInt(Long.MaxValue),
      s"margin bound maxDocLen($maxLen) * rounds($rounds) * totalTokens($tot) " +
        "exceeds Long range: train on a labeled shard or clip feature counts")

    val w = Array.fill(X27Dim)(0L)
    val traj = Seq.newBuilder[(Int, Int, Long, Long)]
    for (r <- 1 to rounds) {
      val wLit = array(w.toIndexedSeq.map(lit(_)): _*)
      val upd = feat
        .withColumn("dot", aggregate(zip_with(col("x"), wLit, (a, b) => a * b),
          lit(0L), (acc, v) => acc + v))
        .filter(col("y") * col("dot") <= 0L)
        .select(col("y"), posexplode(concat(col("x"), array(lit(1L)))).as(Seq("b", "cnt")))
        .groupBy("b").agg(sum(col("y") * col("cnt")).as("gy"), count(lit(1)).as("nd"))
        .collect()
      val nErr = upd.collectFirst {
        case row if row.getInt(0) == X27Dim => row.getLong(2)
      }.getOrElse(0L)
      upd.foreach { row =>
        if (row.getInt(0) < X27Dim) w(row.getInt(0)) += row.getLong(1)
      }
      for (b <- 0 until X27Dim) traj += ((r, b, w(b), nErr))
    }
    import s.implicits._
    traj.result().toDF("round", "bucket", "weight", "errors")
      .orderBy("round", "bucket")
  }

  /** x27 oracle: the perceptron recursion unrolled as materialized CTEs —
    * w0 = 0; mᵣ = per-doc margins against wᵣ₋₁; gᵣ = Σ y·x over the
    * misclassified; wᵣ = wᵣ₋₁ + gᵣ. The bias rides the feature CTE as a
    * (doc, b=64, cnt=1) row, exactly the appended 1 in the Spark vector.
    */
  val x27Sql: String = {
    val rounds = X27Rounds
    val roundCtes = (1 to rounds).map { r =>
      s"""m$r AS (SELECT f.doc_id, f.y, SUM(f.cnt * w.wt) AS dot
         |  FROM fe f JOIN w${r - 1} w ON f.b = w.b GROUP BY 1, 2),
         |e$r AS (SELECT COUNT(*)::BIGINT AS errors FROM m$r WHERE y * dot <= 0),
         |g$r AS (SELECT f.b, SUM(f.y * f.cnt) AS g FROM fe f
         |  JOIN m$r m ON f.doc_id = m.doc_id AND m.y * m.dot <= 0 GROUP BY 1),
         |w$r AS MATERIALIZED (SELECT w.b, (w.wt + COALESCE(g.g, 0))::BIGINT AS wt
         |  FROM w${r - 1} w LEFT JOIN g$r g ON w.b = g.b)""".stripMargin
    }.mkString(",\n")
    val union = (1 to rounds).map { r =>
      s"SELECT $r AS round, w.b AS bucket, w.wt AS weight, " +
        s"(SELECT errors FROM e$r) AS errors FROM w$r w"
    }.mkString("\nUNION ALL ")
    s"""WITH f0 AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
       |    string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= 1),
       |fe AS MATERIALIZED (
       |  SELECT doc_id, y, b, COUNT(*)::BIGINT AS cnt FROM (
       |    SELECT doc_id, y, (${md5HexSql("tk", 15)}) % $X20Buckets AS b
       |    FROM (SELECT doc_id, y, unnest(w) AS tk FROM f0))
       |  GROUP BY 1, 2, 3
       |  UNION ALL SELECT doc_id, y, $X20Buckets AS b, 1::BIGINT FROM f0),
       |w0 AS (SELECT b, 0::BIGINT AS wt FROM range($X27Dim) AS r(b)),
       |$roundCtes
       |SELECT round, bucket, weight, errors FROM ($union)
       |ORDER BY round, bucket""".stripMargin
  }

  // ------------- X28: tokenizer coverage / OOV audit per corpus slice

  /** Tokenizer-coverage audit — the QA report run before committing a
    * tokenizer to a corpus (and after every corpus refresh): per source
    * slice, how many tokens the x9 vocabulary artifact covers, the OOV
    * rate in integer ppm, how many DISTINCT unknown token types exist,
    * and the most frequent unknown token (the actionable row — it names
    * what to add to the vocab). Complements x14: x14 encodes documents
    * with the artifact; x28 tells you where the artifact is weak, sliced
    * the way corpus decisions are made (by source/domain).
    *
    * Scale shape: the vocabulary rides the plan as the SAME map literal
    * x14 broadcasts (one artifact representation), so per-token
    * membership is a narrow codegen'd lookup. Totals come from ROW-LOCAL
    * per-doc counts inside higher-order exprs followed by one
    * partial-aggregable groupBy(source) — corpus rows never shuffle for
    * the counts. Only OOV tokens are exploded (the filter runs INSIDE the
    * transform, before any exchange), and their (source, tok) counts are
    * partial-aggregable; token strings as keys here follow x9's own
    * vocabulary-construction precedent — the OOV set is vocabulary-tail
    * sized, not corpus sized. The final source-level join is
    * slice-count × slice-count.
    */
  def x28OovAudit(s: SparkSession, dir: String): DataFrame =
    x28OovAudit(s, dir, 1000)

  /** `vocabSize` is the coverage dial: the audited vocabulary is the
    * frequency-ranked PREFIX of the x9 artifact, so a larger vocab covers
    * a superset of tokens and every source's n_oov is monotone
    * non-increasing in vocabSize (spec-pinned) — the curve a tokenizer
    * sizing decision actually reads. The default audits the full x9
    * artifact.
    */
  def x28OovAudit(s: SparkSession, dir: String, vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be positive, got $vocabSize")
    val vocab = x9Vocab(s, dir).collect()
      .map(r => (r.getAs[String]("tok"), r.getAs[Int]("vocab_id")))
      .take(vocabSize)
    val m = map(vocab.flatMap { case (t0, id) => Seq(lit(t0), lit(id)) }.toIndexedSeq: _*)
    val docs = t(s, dir, "documents")
      .withColumn("w", split(col("text"), " "))
      .withColumn("oovs", filter(col("w"), tk => element_at(m, tk).isNull))
    val tot = docs
      .select(col("source"), size(col("w")).cast("long").as("nt"),
        size(col("oovs")).cast("long").as("no"))
      .groupBy("source").agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).as("n_tokens"), sum(col("no")).as("n_oov"))
    val ty = docs.select(col("source"), explode(col("oovs")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("n"))
    val top = Window.partitionBy("source")
      .orderBy(col("n").desc, col("tok").asc)
    val typeStats = ty
      .withColumn("rn", row_number().over(top))
      .groupBy("source").agg(
        count(lit(1)).as("n_oov_types"),
        max(when(col("rn") === 1, col("tok"))).as("top_oov_tok"),
        max(when(col("rn") === 1, col("n"))).as("top_oov_n"))
    tot.join(typeStats, Seq("source"), "left_outer")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_oov"),
        expr("n_oov * 1000000L div n_tokens").as("oov_ppm"),
        coalesce(col("n_oov_types"), lit(0L)).as("n_oov_types"),
        col("top_oov_tok"),
        coalesce(col("top_oov_n"), lit(0L)).as("top_oov_n"))
      .orderBy("source")
  }

  val x28Sql: String =
    """WITH c AS (
      |  SELECT tok, COUNT(*) AS n
      |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE tok != '' GROUP BY tok),
      |v AS (SELECT tok FROM (SELECT tok, n FROM c ORDER BY n DESC, tok LIMIT 1000)),
      |lab AS (SELECT wd.source, tk.tok,
      |          CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
      |        FROM (SELECT source, string_split(text, ' ') AS w FROM documents) wd,
      |          unnest(wd.w) AS tk(tok)
      |        LEFT JOIN v ON tk.tok = v.tok),
      |nd AS (SELECT source, COUNT(*)::BIGINT AS n_docs FROM documents GROUP BY 1),
      |tot AS (SELECT source, COUNT(*)::BIGINT AS n_tokens,
      |          SUM(oov)::BIGINT AS n_oov FROM lab GROUP BY 1),
      |ty AS (SELECT source, tok, COUNT(*)::BIGINT AS n
      |       FROM lab WHERE oov = 1 GROUP BY 1, 2),
      |tp AS (SELECT source, tok AS top_oov_tok, n AS top_oov_n
      |       FROM (SELECT source, tok, n,
      |               ROW_NUMBER() OVER (PARTITION BY source
      |                 ORDER BY n DESC, tok) AS rn FROM ty)
      |       WHERE rn = 1),
      |tys AS (SELECT source, COUNT(*)::BIGINT AS n_oov_types FROM ty GROUP BY 1)
      |SELECT nd.source, nd.n_docs, tot.n_tokens, tot.n_oov,
      |  tot.n_oov * 1000000 // tot.n_tokens AS oov_ppm,
      |  COALESCE(tys.n_oov_types, 0) AS n_oov_types,
      |  tp.top_oov_tok,
      |  COALESCE(tp.top_oov_n, 0) AS top_oov_n
      |FROM nd JOIN tot USING (source)
      |LEFT JOIN tys USING (source) LEFT JOIN tp USING (source)
      |ORDER BY source""".stripMargin

  // ------------- X29: gram-count spectrum (frequency of frequencies)

  /** Exact buckets of the registered x29 contract; counts above it fold
    * into one `cap+1` tail row.
    */
  private[graft] val X29Cap = 16

  def x29GramSpectrum(s: SparkSession, dir: String): DataFrame =
    x29GramSpectrum(s, dir, X29Cap)

  /** Gram-count SPECTRUM — the frequency-of-frequencies report (Good &
    * Turing 1953): for each occurrence count c, how many distinct bigram
    * types occur exactly c times, and how many occurrences they carry.
    * This is the measurement behind three corpus decisions: Good-Turing
    * smoothing of x12's bigram LM (N₁/N estimates unseen-gram mass — the
    * spectrum is computed over x12's EXACT 60-bit digest rule, so it
    * describes precisely that model), dedup efficacy (the c ≥ 2 rows are
    * what d8/d11 would collapse), and memorization-risk profiling (the
    * high-c tail names how much verbatim repetition training will see).
    *
    * Scale shape: two partial-aggregable passes — corpus → per-digest
    * counts (the exchange carries 8-byte keys, x12's model build), then
    * counts → spectrum, whose second exchange carries ≤ cap+1 keys. The
    * output is cap+1 rows no matter the corpus size. `cap` is the
    * tail-fold dial: buckets ≤ cap are IDENTICAL across any two caps
    * (spec-pinned nesting — raising the cap only splits the tail row).
    */
  def x29GramSpectrum(s: SparkSession, dir: String, cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be positive, got $cap")
    val occ = t(s, dir, "documents")
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(w)-2), i -> " +
          "cast(conv(substring(md5(concat_ws(' ', w[i], w[i+1])),1,15),16,10) as bigint))"))
        .as("hk"))
    occ.groupBy("hk").agg(count(lit(1)).as("c"))
      .withColumn("cb", least(col("c"), lit(cap + 1L)))
      .groupBy("cb").agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_occ"))
      .orderBy("cb")
  }

  val x29Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |bg AS (SELECT unnest(list_transform(range(len(w)-1),
       |        i -> w[i+1]||' '||w[i+2])) AS bg
       |      FROM w WHERE len(w) >= 2),
       |o AS (SELECT ${md5HexSql("bg", 15)} AS hk FROM bg),
       |m AS (SELECT hk, COUNT(*)::BIGINT AS c FROM o GROUP BY hk)
       |SELECT least(c, ${X29Cap + 1}) AS cb, COUNT(*)::BIGINT AS n_types,
       |  SUM(c)::BIGINT AS n_occ
       |FROM m GROUP BY 1 ORDER BY cb""".stripMargin

  // ----------- X30: Good-Turing smoothing table (the Katz backoff artifact)

  /** x30 default: smooth count classes 0..10 (SRILM's gtmax shape). */
  private[graft] val X30Cap = 10

  def x30GoodTuring(s: SparkSession, dir: String): DataFrame =
    x30GoodTuring(s, dir, X30Cap)

  /** Good-Turing SMOOTHING TABLE — the artifact Katz-backoff LM estimation
    * consumes (Good 1953; Katz 1987; SRILM's `gt` discounting): for each
    * small count class c, the adjusted count c* = (c+1)·N₍c₊₁₎/N꜀ and the
    * probability mass the class carries, raw and smoothed, in ppm. The
    * c = 0 row is the headline: its smoothed mass N₁·10⁶/N is the unseen-
    * bigram probability — what x12's raw-count LM assigns ZERO, the reason
    * smoothing exists. Composes x12's exact 60-bit digest model with x29's
    * spectrum, so the table describes precisely the model the engine
    * already serves.
    *
    * Scale shape: the corpus collapses through two partial-aggregable
    * passes (occurrences → per-digest counts → spectrum; first exchange
    * 8-byte keys, second ≤ distinct-count keys) and N folds out of the
    * vocabulary-sized model, never the corpus. Only the ≤ cap+2-row
    * spectrum head ever reaches the driver, where the table arithmetic
    * runs in BigInt — exact at ANY corpus size, immune to the
    * (c+1)·N₍c₊₁₎·10⁶ int64 overflow a 100 TB corpus would hit in-plan
    * (the oracle's HUGEINT path proves the same numbers). `cap` is the
    * table-depth dial: rows 0..cap are IDENTICAL across caps (spec-pinned
    * prefix nesting — Katz discounts below the cutoff, passes raw counts
    * above it).
    */
  def x30GoodTuring(s: SparkSession, dir: String, cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be positive, got $cap")
    import s.implicits._
    // x12's exact digest pass; the model is read twice (N, spectrum) so it
    // materializes once, vocabulary-sized
    val model = t(s, dir, "documents")
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(w)-2), i -> " +
          "cast(conv(substring(md5(concat_ws(' ', w[i], w[i+1])),1,15),16,10) as bigint))"))
        .as("hk"))
      .groupBy("hk").agg(count(lit(1)).as("c"))
      .lossTolerantCheckpoint()
    val n = BigInt(model.agg(sum("c")).collect()(0).getLong(0))
    require(n > 0, "Good-Turing needs a non-empty bigram model")
    val spec = model.filter(col("c") <= cap + 1L)
      .groupBy("c").agg(count(lit(1)).as("n_c")).collect()
      .map(r => r.getLong(0) -> BigInt(r.getLong(1))).toMap
    val ppm = BigInt(1000000)
    val rows = (0 to cap).map { c =>
      val nc = spec.getOrElse(c.toLong, BigInt(0))
      val nc1 = spec.getOrElse(c + 1L, BigInt(0))
      val cstar = if (c == 0 || nc == 0) BigInt(0) else (c + 1) * nc1 * ppm / nc
      (c.toLong, nc.toLong,
        cstar.toLong,
        (c * nc * ppm / n).toLong,
        ((c + 1) * nc1 * ppm / n).toLong)
    }
    rows.toDF("c", "n_c", "cstar_ppm", "raw_mass_ppm", "smooth_mass_ppm")
      .orderBy("c")
  }

  val x30Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |bg AS (SELECT unnest(list_transform(range(len(w)-1),
       |        i -> w[i+1]||' '||w[i+2])) AS bg
       |      FROM w WHERE len(w) >= 2),
       |o AS (SELECT ${md5HexSql("bg", 15)} AS hk FROM bg),
       |m AS (SELECT hk, COUNT(*)::BIGINT AS c FROM o GROUP BY hk),
       |sp AS (SELECT c, COUNT(*)::HUGEINT AS n_c FROM m GROUP BY c),
       |tot AS (SELECT SUM(c)::HUGEINT AS n FROM m),
       |cls AS (SELECT unnest(range(${X30Cap + 1})) AS c)
       |SELECT cls.c::BIGINT AS c,
       |  COALESCE(s1.n_c, 0)::BIGINT AS n_c,
       |  (CASE WHEN cls.c = 0 OR COALESCE(s1.n_c, 0) = 0 THEN 0
       |        ELSE (cls.c + 1)::HUGEINT * COALESCE(s2.n_c, 0) * 1000000 // s1.n_c
       |   END)::BIGINT AS cstar_ppm,
       |  (cls.c::HUGEINT * COALESCE(s1.n_c, 0) * 1000000 // tot.n)::BIGINT
       |    AS raw_mass_ppm,
       |  ((cls.c + 1)::HUGEINT * COALESCE(s2.n_c, 0) * 1000000 // tot.n)::BIGINT
       |    AS smooth_mass_ppm
       |FROM cls LEFT JOIN sp s1 ON s1.c = cls.c
       |  LEFT JOIN sp s2 ON s2.c = cls.c + 1
       |  CROSS JOIN tot
       |ORDER BY c""".stripMargin

  // ------------- X31: seeded span corruption (denoising-objective prep)

  /** x31 defaults: 4-token mask units, 150000 ppm target mask rate. */
  private[graft] val X31Block = 4
  private[graft] val X31RatePpm = 150000L

  def x31SpanCorrupt(s: SparkSession, dir: String): DataFrame =
    x31SpanCorrupt(s, dir, X31Block, X31RatePpm)

  /** Seeded SPAN CORRUPTION — the denoising-objective preparation step
    * (T5's span corruption, UL2's denoisers, BERT's masking all consume
    * this shape): each document's tokens are partitioned into
    * [[X31Block]]-token units (x25's disjoint grid arithmetic), each unit
    * is masked iff its seeded 60-bit md5 lane falls under the rate
    * threshold — deterministic, so the SAME corpus always yields the SAME
    * (inputs, labels) pair and an epoch is reproducible by construction —
    * and the output is the standard sentinel pair: `corrupted` with each
    * masked span replaced by `<extra_id_k>`, `targets` holding the spans
    * behind their sentinels. The pair is LOSSLESS: splicing targets back
    * into corrupted reproduces the document exactly (spec-pinned), which
    * is what makes it a training objective rather than a redaction.
    *
    * Scale shape: ONE row-local pass — the mask draw, sentinel numbering,
    * and both strings build inside a single `aggregate` over the block
    * sequence, zero joins, zero exchanges before the output sort; a 100 TB
    * corpus streams through map tasks at scan speed (x19b's discipline).
    * `ratePpm` is a spec-pinned NESTING dial — the mask set is monotone in
    * the rate because every unit compares the SAME lane draw to the
    * threshold (CCS-style coupled sampling); `block` trades span length
    * against span count at fixed rate (a redraw, so no nesting is claimed).
    */
  def x31SpanCorrupt(s: SparkSession, dir: String, block: Int, ratePpm: Long): DataFrame =
    corruptSpans(t(s, dir, "documents").select("doc_id", "text"), block, ratePpm)
      .select("doc_id", "n_tokens", "n_masked", "corrupted", "targets")
      .orderBy("doc_id")

  /** THE single definition of the span-corruption pass — adds n_tokens /
    * n_masked / corrupted / targets to any frame with (doc_id, text),
    * preserving every other column, and drops the raw text. The seed is
    * (doc_id, block ordinal), so batch and streaming corrupt a document
    * identically — shared by [[x31SpanCorrupt]] and the streaming ingest
    * twin ([[graft.streaming.StreamingOps.corruptStream]]). A stateless
    * narrow projection, so it applies to bounded and unbounded sources
    * alike.
    */
  private[graft] def corruptSpans(docs: DataFrame, block: Int, ratePpm: Long): DataFrame = {
    require(block >= 1, s"block must be positive, got $block")
    require(ratePpm >= 0 && ratePpm <= 1000000L,
      s"ratePpm must be in 0..1e6, got $ratePpm")
    val lane = "cast(conv(substring(md5(concat(cast(doc_id as string), ':', " +
      "cast(b as string))), 1, 15), 16, 10) as bigint)"
    docs
      .withColumn("w", split(col("text"), " "))
      .withColumn("acc", expr(
        s"""aggregate(
           |  sequence(0, cast((size(w) - 1) div $block as int)),
           |  struct(cast(array() as array<string>) AS cp,
           |         cast(array() as array<string>) AS tg, 0 AS k, 0L AS nm),
           |  (a, b) -> CASE
           |    WHEN $lane % 1000000L < ${ratePpm}L THEN struct(
           |      array_append(a.cp,
           |        concat('<extra_id_', cast(a.k as string), '>')) AS cp,
           |      array_append(a.tg, concat('<extra_id_', cast(a.k as string), '> ',
           |        array_join(slice(w, b * $block + 1, $block), ' '))) AS tg,
           |      a.k + 1 AS k,
           |      a.nm + size(slice(w, b * $block + 1, $block)) AS nm)
           |    ELSE struct(
           |      array_append(a.cp, array_join(slice(w, b * $block + 1, $block), ' ')) AS cp,
           |      a.tg AS tg, a.k AS k, a.nm AS nm) END)""".stripMargin))
      .withColumn("n_tokens", size(col("w")).cast("long"))
      .withColumn("n_masked", expr("acc.nm"))
      .withColumn("corrupted", expr("array_join(acc.cp, ' ')"))
      .withColumn("targets", expr("array_join(acc.tg, ' ')"))
      .drop("w", "acc", "text")
  }

  val x31Sql: String = {
    val lane = md5HexSql("doc_id::VARCHAR || ':' || b::VARCHAR", 15)
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |bl AS (SELECT doc_id, w, unnest(range((len(w) - 1) // $X31Block + 1)) AS b
       |       FROM w),
       |m AS (SELECT doc_id, b,
       |        array_to_string(w[b * $X31Block + 1 : b * $X31Block + $X31Block], ' ') AS bt,
       |        len(w[b * $X31Block + 1 : b * $X31Block + $X31Block]) AS bn,
       |        CASE WHEN ($lane) % 1000000 < $X31RatePpm THEN 1 ELSE 0 END AS msk
       |      FROM bl),
       |k AS (SELECT doc_id, b, bt, bn, msk,
       |        CASE WHEN msk = 1 THEN ROW_NUMBER() OVER (
       |          PARTITION BY doc_id, msk ORDER BY b) - 1 END AS sk
       |      FROM m)
       |SELECT doc_id,
       |  SUM(bn)::BIGINT AS n_tokens,
       |  COALESCE(SUM(CASE WHEN msk = 1 THEN bn END), 0)::BIGINT AS n_masked,
       |  string_agg(CASE WHEN msk = 1 THEN '<extra_id_' || sk || '>' ELSE bt END,
       |    ' ' ORDER BY b) AS corrupted,
       |  COALESCE(string_agg(CASE WHEN msk = 1
       |    THEN '<extra_id_' || sk || '> ' || bt END, ' ' ORDER BY b), '') AS targets
       |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ------------------- X23: blocked inverted-index construction (postings)

  /** Documents per posting block — the row-width bound: a posting-list row
    * never spans more than this many candidate documents.
    */
  private[graft] val X23Block = 256L

  /** Blocked inverted-index construction — the retrieval-corpus build step
    * (BM25 serving, RETRO-style retrieval pretraining, dedup-by-lookup all
    * start here): term → posting list of (doc, tf), materialized in
    * DOC-RANGE BLOCKS of [[X23Block]] documents, the Lucene-segment shape.
    * Posting entries store block-relative doc ids (doc_id mod block — one
    * byte of entropy per entry at block=256, the delta-compression story)
    * with their term frequency, concatenated in doc order.
    *
    * The block is the scale guarantee: a stopword's posting list at
    * 10⁹ docs is one UNBOUNDED row in the naive term-keyed layout — the
    * classic inverted-index OOM — but here every (term, block) row holds at
    * most [[X23Block]] entries BY CONSTRUCTION, no matter how hot the term;
    * hot terms widen into more rows, not wider rows. Shuffle shape: one
    * partial-aggregable (term, doc) tf count, then the (term, block)
    * assembly whose collect_list state is bounded by the block span. Output
    * rows ≈ vocabulary × occupied blocks.
    */
  def x23InvertedIndex(s: SparkSession, dir: String): DataFrame =
    x23InvertedIndex(s, dir, X23Block)

  /** `block` is the row-width dial: any value yields the same decoded
    * (term, doc, tf) multiset (spec-pinned block-invariance), and every
    * row's entry count is ≤ block by construction — production picks the
    * block from the serving page size, not from correctness concerns.
    */
  def x23InvertedIndex(s: SparkSession, dir: String, block: Long): DataFrame = {
    require(block >= 1, s"block must be positive, got $block")
    val tf = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    tf.groupBy(col("term"), expr(s"doc_id div ${block}L").as("block"))
      .agg(count(lit(1)).as("n_docs"),
        expr(s"array_join(transform(array_sort(collect_list(struct(doc_id, tf))), " +
          s"e -> concat(e.doc_id % ${block}L, ':', e.tf)), ',')").as("postings"))
      .orderBy("term", "block")
  }

  val x23Sql: String =
    s"""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tk WHERE term != ''
       |       GROUP BY term, doc_id)
       |SELECT term, doc_id // $X23Block AS block, COUNT(*)::BIGINT AS n_docs,
       |  string_agg((doc_id % $X23Block) || ':' || tf, ',' ORDER BY doc_id) AS postings
       |FROM tf GROUP BY term, block ORDER BY term, block""".stripMargin

  // ---------- X33: phrase search answered from the positional blocked index

  /** Positional blocked postings — x23's layout with POSITIONS, the
    * artifact phrase/proximity queries serve from (Lucene's .pos file, the
    * RETRO retrieval store's exact-match leg). One row per (term, 256-doc
    * block): entries array of (rel_doc, pos), doc-then-position ordered.
    * Row width is bounded by the block's total occurrences of the term —
    * the doc-block bound x23 argues, extended from one entry per doc to tf
    * entries per doc (exactly Lucene's proportionality). Built with ONE
    * partial-aggregable-free shuffle on (term, block); persisted
    * bucketed/sorted BY TERM in production so a phrase query's term filter
    * is a pushed predicate that skips every other row group.
    */
  def preparePhraseIndex(docs: DataFrame, block: Long): DataFrame =
    docs.select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
      .groupBy(col("term"), expr(s"doc_id div ${block}L").as("block"))
      .agg(expr(s"array_sort(collect_list(struct(doc_id % ${block}L as rel, pos)))")
        .as("entries"))
      .lossTolerantCheckpoint()

  def x33PhraseSearch(s: SparkSession, dir: String): DataFrame =
    x33PhraseSearch(s, dir, X23Block)

  /** Phrase search — the exact-match retrieval contract (quoted queries,
    * dedup-by-lookup, memorization probes): find every document containing
    * the corpus's hottest bigram as a CONSECUTIVE phrase, with its
    * occurrence count, answered FROM THE POSITIONAL INDEX rather than by
    * re-scanning text. The registered entry composes selection + build +
    * answer to stay self-contained (x19's composition discipline); the
    * production shape reads a persisted index and skips both scans.
    *
    * Scale shape: phrase selection is one partial-aggregable bigram count
    * (x18's pair-count exchange) ending in a 1-row argmax to the driver
    * (count desc, text asc — both engines break ties identically). The
    * answer path touches ONLY the phrase terms' index rows — with the
    * index bucketed by term, a pushed `term IN (w0, w1)` predicate reads
    * two buckets out of 10⁹-doc postings — explodes their positions back
    * to (doc, pos), and counts adjacency via an equi-join on
    * (doc_id, pos+1): position keys are unique per document, so the join
    * is skew-free no matter how hot the phrase. The corpus itself is never
    * re-read for the answer. The spec pins index-answered counts to the
    * naive row-local text scan — the proof the index is lossless.
    */
  /** The corpus's hottest bigram (count desc, text asc — both engines
    * break ties identically): one partial-aggregable pair count ending in
    * a 1-row argmax to the driver (x18's discipline). Shared by x33 and
    * pipe5 so "the phrase" has exactly one definition.
    */
  private def hottestBigram(docs: DataFrame): String = docs
    .withColumn("w", split(col("text"), " "))
    .filter(size(col("w")) >= 2)
    .select(explode(expr(
      "transform(sequence(0, size(w)-2), i -> concat_ws(' ', w[i], w[i+1]))")).as("bg"))
    .groupBy("bg").agg(count(lit(1)).as("c"))
    .orderBy(col("c").desc, col("bg")).limit(1)
    .collect()(0).getAs[String]("bg")

  def x33PhraseSearch(s: SparkSession, dir: String, block: Long): DataFrame = {
    require(block >= 1, s"block must be positive, got $block")
    val docs = t(s, dir, "documents")
    val top = hottestBigram(docs)
    val Array(w0, w1) = top.split(" ", 2)
    val idx = preparePhraseIndex(docs, block)
    def positionsOf(term: String) = idx
      .filter(col("term") === term)
      .select(col("block"), explode(col("entries")).as("e"))
      .select(expr(s"block * ${block}L + e.rel").as("doc_id"), col("e.pos").as("pos"))
    val t0 = positionsOf(w0).select(col("doc_id"), (col("pos") + 1).as("nxt"))
    val t1 = positionsOf(w1).select(col("doc_id"), col("pos").as("nxt"))
    t0.join(t1, Seq("doc_id", "nxt"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_occ"))
      .select(col("doc_id"), lit(top).as("phrase"), col("n_occ"))
      .orderBy("doc_id")
  }

  val x33Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |bg AS (SELECT doc_id, unnest(list_transform(range(len(w)-1),
       |        i -> w[i+1]||' '||w[i+2])) AS bg
       |      FROM w WHERE len(w) >= 2),
       |top AS (SELECT bg AS phrase FROM bg GROUP BY bg
       |        ORDER BY COUNT(*) DESC, bg LIMIT 1)
       |SELECT doc_id, phrase, COUNT(*)::BIGINT AS n_occ
       |FROM bg JOIN top ON bg.bg = top.phrase
       |GROUP BY doc_id, phrase ORDER BY doc_id""".stripMargin

  // ------------- X35: vocabulary growth curve (the Heaps'-law measurement)

  /** x35 default: report at 10 corpus-prefix checkpoints. */
  private[graft] val X35Checkpoints = 10

  def x35VocabGrowth(s: SparkSession, dir: String): DataFrame =
    x35VocabGrowth(s, dir, X35Checkpoints)

  /** Vocabulary GROWTH curve — the Heaps'-law measurement behind tokenizer
    * sizing and dedup forecasting: at each corpus-prefix checkpoint
    * (doc_id order — ingest order, the realistic reading), the cumulative
    * token count and the cumulative DISTINCT type count. Sub-linear type
    * growth is what makes x9/x14's fixed vocabulary viable; a LINEAR tail
    * means unbounded novelty (an x17 ingest-worthiness signal at corpus
    * granularity); the types/tokens ratio per checkpoint is the
    * new-vocabulary rate x28's OOV audit will see tomorrow.
    *
    * Scale shape: no per-checkpoint re-scan — each type collapses to its
    * FIRST document (one partial-aggregable min per term, x23's tf
    * exchange), each checkpoint then counts first-docs ≤ its threshold
    * from type-count rows, and token counts fold from per-doc row-local
    * lengths. Both folds are checkpoint×-rows joins against a broadcast
    * 10-row threshold frame — corpus rows cross the network once, as
    * (term) keys. Output is `checkpoints` rows at any corpus size;
    * `checkpoints` is a refinement dial (thresholds at finer grids
    * interleave, the curve only gains points).
    */
  def x35VocabGrowth(s: SparkSession, dir: String, checkpoints: Int): DataFrame = {
    require(checkpoints >= 1, s"checkpoints must be positive, got $checkpoints")
    import s.implicits._
    val docs = t(s, dir, "documents")
    val maxId = docs.agg(max("doc_id")).first().getLong(0)
    val cps = broadcast((1 to checkpoints)
      .map(k => (k.toLong, maxId * k / checkpoints))
      .toDF("checkpoint", "cutoff"))
    val firstDoc = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(min("doc_id").as("first_doc"))
    val types = cps.join(firstDoc, col("first_doc") <= col("cutoff"))
      .groupBy("checkpoint", "cutoff").agg(count(lit(1)).as("n_types"))
    val toks = docs
      .select(col("doc_id"),
        expr("size(filter(split(text, ' '), x -> x != ''))").cast("long").as("n_toks"))
      .join(cps, col("doc_id") <= col("cutoff"))
      .groupBy("checkpoint").agg(sum("n_toks").as("n_tokens"))
    types.join(toks, Seq("checkpoint"))
      .select(col("checkpoint"), col("cutoff"), col("n_tokens"), col("n_types"))
      .orderBy("checkpoint")
  }

  val x35Sql: String =
    s"""WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
       |cp AS (SELECT k AS checkpoint, (m * k) // $X35Checkpoints AS cutoff
       |       FROM (SELECT unnest(range(1, ${X35Checkpoints + 1})) AS k) ks
       |       CROSS JOIN mx),
       |tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |fd AS (SELECT term, MIN(doc_id) AS first_doc FROM tk WHERE term != ''
       |       GROUP BY term),
       |ty AS (SELECT checkpoint, cutoff, COUNT(*)::BIGINT AS n_types
       |       FROM cp JOIN fd ON first_doc <= cutoff GROUP BY 1, 2),
       |dl AS (SELECT doc_id, len(list_filter(string_split(text, ' '),
       |         x -> x != ''))::BIGINT AS n_toks FROM documents),
       |tt AS (SELECT checkpoint, SUM(n_toks)::BIGINT AS n_tokens
       |       FROM cp JOIN dl ON doc_id <= cutoff GROUP BY 1)
       |SELECT checkpoint::BIGINT AS checkpoint, cutoff::BIGINT AS cutoff,
       |  n_tokens, n_types
       |FROM ty JOIN tt USING (checkpoint) ORDER BY checkpoint""".stripMargin

  // --------------- X36: greedy LM decoding (trajectory-checked generation)

  /** x36 default: decode 8 steps past the seed. */
  private[graft] val X36Steps = 8

  def x36GreedyDecode(s: SparkSession, dir: String): DataFrame =
    x36GreedyDecode(s, dir, X36Steps)

  /** Greedy DECODING from the corpus bigram LM — the generation loop run
    * as an engine query (x18's trajectory-checking discipline applied to
    * inference): seed with the corpus's most frequent token, then K times
    * emit the argmax continuation of the current token (count desc, token
    * asc — both engines break ties identically), stopping early if the
    * current token never opens a bigram. The DuckDB oracle replays the
    * WHOLE trajectory as K unrolled CTE argmaxes, so a hash match proves
    * every step of the decode, not just the final string. In a training
    * pipeline this is the smoke test that a counted LM artifact actually
    * drives inference (and the membership/memorization probe: the greedy
    * path IS the corpus's dominant continuation chain).
    *
    * Scale shape: the model is built once — the x18 pair-count exchange —
    * and checkpointed; each decode step is one filtered argmax over the
    * vocabulary-sized model (TakeOrdered: per-partition top-1, a 1-row
    * merge to the driver), so step cost is corpus-independent and the
    * loop moves K rows total. `steps` is a spec-pinned prefix dial: a
    * longer decode only APPENDS rows.
    */
  def x36GreedyDecode(s: SparkSession, dir: String, steps: Int): DataFrame = {
    require(steps >= 1, s"steps must be positive, got $steps")
    import s.implicits._
    val docs = t(s, dir, "documents")
    val seedRow = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(1).collect()(0)
    val model = docs.withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(w)-2), i -> struct(w[i] as w1, w[i+1] as w2))"))
        .as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      .lossTolerantCheckpoint() // read once per step: the decode loop's only input
    var cur = seedRow.getString(0)
    val out = scala.collection.mutable.ArrayBuffer((0L, cur, seedRow.getLong(1)))
    var step = 1
    var done = false
    while (step <= steps && !done) {
      val nxt = model.filter(col("w1") === cur)
        .orderBy(col("c").desc, col("w2")).limit(1).collect()
      if (nxt.isEmpty) done = true
      else {
        cur = nxt(0).getString(1)
        out += ((step.toLong, cur, nxt(0).getLong(2)))
        step += 1
      }
    }
    out.toSeq.toDF("step", "token", "c").orderBy("step")
  }

  val x36Sql: String = {
    val stepCtes = (1 to X36Steps).map { k =>
      s"""s$k AS (SELECT $k AS step, m.w2 AS token, m.c FROM m
         |  JOIN s${k - 1} p ON m.w1 = p.token
         |  ORDER BY m.c DESC, m.w2 LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val unions = (0 to X36Steps)
      .map(k => s"SELECT step, token, c FROM s$k").mkString("\nUNION ALL ")
    s"""WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
       |uni AS (SELECT tok, COUNT(*)::BIGINT AS c FROM
       |          (SELECT unnest(w) AS tok FROM w) u
       |        WHERE tok != '' GROUP BY tok),
       |bg AS (SELECT unnest(list_transform(range(len(w)-1),
       |         i -> w[i+1] || ' ' || w[i+2])) AS b
       |       FROM w WHERE len(w) >= 2),
       |m AS (SELECT split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2,
       |        COUNT(*)::BIGINT AS c FROM bg GROUP BY 1, 2),
       |s0 AS (SELECT 0 AS step, tok AS token, c FROM uni
       |       ORDER BY c DESC, tok LIMIT 1),
       |$stepCtes
       |SELECT step::BIGINT AS step, token, c FROM ($unions) traj
       |ORDER BY step""".stripMargin
  }

  // ------------------- X34: TF-IDF keyword extraction (document tagging)

  def x34Keywords(s: SparkSession, dir: String): DataFrame =
    x34Keywords(s, dir, hotK = 64)

  /** TF-IDF KEYWORD extraction — the document-tagging step (retrieval
    * metadata, topic routing, dataset cards): per document, the top-3
    * terms by tf·N/df rank, with LINEAR inverse document frequency
    * (score_ppm = tf·10⁶ div df) instead of the log variant — the same
    * ordering for fixed tf, integer-exact cross-engine, the x2/x7
    * all-integer discipline. Ties break on term text, so the tag set is
    * deterministic.
    *
    * Scale shape: tf and df are the two partial-aggregable passes x23
    * already pays (tf rows are (term, doc)-distinct, so df needs no
    * COUNT(DISTINCT)); both materialize once. The df join back onto tf
    * rows is x12's skew problem in term space — "the" joins from every
    * document — so it takes x12's cure verbatim: the `hotK` most frequent
    * terms (the Zipf head, i.e. exactly the hot join keys) ride a
    * broadcast, the cold tail shuffle-joins, and an anti-join keeps the
    * two paths disjoint so any `hotK` yields identical results
    * (spec-pinned 0/1/64 equal). The per-doc window partitions on doc_id
    * with doc-length-bounded width — no skew possible by construction.
    */
  def x34Keywords(s: SparkSession, dir: String, hotK: Int): DataFrame = {
    require(hotK >= 0, s"hotK must be non-negative, got $hotK")
    val tf = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .lossTolerantCheckpoint() // read twice (df build + join): one corpus pass ever
    val df = tf.groupBy("term").agg(count(lit(1)).as("df")).lossTolerantCheckpoint()
    val scored =
      if (hotK == 0) tf.join(df, "term")
      else {
        val hot = df.orderBy(col("df").desc, col("term")).limit(hotK)
        tf.join(broadcast(hot), "term")
          .unionByName(
            tf.join(broadcast(hot.select("term")), Seq("term"), "left_anti")
              .join(df, "term"))
      }
    scored
      .withColumn("score_ppm", expr("tf * 1000000L div df"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score_ppm").desc, col("term"))))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk").cast("long").as("rk"), col("term"),
        col("tf"), col("df"), col("score_ppm"))
      .orderBy("doc_id", "rk")
  }

  val x34Sql: String =
    s"""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tf AS (SELECT term, doc_id, COUNT(*)::BIGINT AS tf FROM tk WHERE term != ''
       |       GROUP BY term, doc_id),
       |df AS (SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY term),
       |sc AS (SELECT doc_id, tf.term, tf, df, tf * 1000000 // df AS score_ppm
       |       FROM tf JOIN df USING (term)),
       |rk AS (SELECT doc_id, term, tf, df, score_ppm,
       |         ROW_NUMBER() OVER (PARTITION BY doc_id
       |           ORDER BY score_ppm DESC, term) AS rk FROM sc)
       |SELECT doc_id, rk::BIGINT AS rk, term, tf, df, score_ppm::BIGINT AS score_ppm
       |FROM rk WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  // --------------------- X22: per-source quota cap (anti-domination rule)

  /** Per-source document quota — the RefinedWeb/C4-style anti-domination
    * rule: no source (domain) may contribute more than `cap` documents.
    * Within each source, documents rank by content-hash order (md5(text),
    * doc_id) — deterministic, uniform, reshuffle-proof, the same property
    * x6/x8 build on — and ranks past the cap drop. Over-represented
    * sources truncate to exactly `cap`; small sources pass untouched.
    * Unlike x8 (proportional per-stratum sampling) the quota is ABSOLUTE,
    * which is what stops a single crawled mega-domain from dominating the
    * training mix. Output carries the rank and the source's total, so the
    * truncation ratio is auditable per source.
    *
    * Scale shape — the hot-domain defense is structural, not a comment:
    * ranking runs in TWO phases. Phase 1 ranks within (source,
    * input-partition) and pre-cuts to `cap` rows — the global per-source
    * top-cap is a subset of the union of per-partition top-caps for ANY
    * partition assignment, so the pre-cut is result-invariant (the sim5
    * pre-cut discipline); the (source, pid) exchange splits a mega-domain
    * across the cluster exactly like d2's band salting. Phase 2's exact
    * per-source window then sees at most cap × partitions rows per source
    * — bounded regardless of how hot the domain is — never the raw corpus.
    * Source totals come from a partial-aggregable count (source-count
    * rows) broadcast back. The oracle is the naive single-window
    * formulation, proving the two-phase plan equals it.
    */
  def x22SourceCap(s: SparkSession, dir: String): DataFrame =
    x22SourceCap(s, dir, cap = 20)

  /** `cap` is the quota dial; kept sets NEST as it rises (rank order is a
    * fixed total order per source), spec-pinned.
    */
  def x22SourceCap(s: SparkSession, dir: String, cap: Int): DataFrame =
    sourceCapOf(t(s, dir, "documents").select("doc_id", "source", "text"), cap)

  /** Library form over any (doc_id, source, text) frame — property specs
    * drive this with a forced mega-source to prove the two-phase pre-cut
    * equals the naive single window under skew.
    */
  def sourceCapOf(docs: DataFrame, cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be positive, got $cap")
    val base = docs.select(col("doc_id"), col("source"), md5(col("text")).as("h"))
    val tot = base.groupBy("source").agg(count(lit(1)).as("n_source"))
    val pre = base.withColumn("pid", spark_partition_id())
      .withColumn("prk", row_number().over(
        Window.partitionBy("source", "pid").orderBy(col("h"), col("doc_id"))))
      .filter(col("prk") <= cap)
    pre
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(col("h"), col("doc_id"))))
      .filter(col("rk") <= cap)
      .join(broadcast(tot), "source")
      .select(col("doc_id"), col("source"), col("rk").cast("long").as("rk"),
        col("n_source"))
      .orderBy("doc_id")
  }

  val x22Sql: String =
    """WITH b AS (SELECT doc_id, source, md5(text) AS h FROM documents),
      |r AS (SELECT doc_id, source,
      |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk,
      |        COUNT(*) OVER (PARTITION BY source) AS n_source
      |      FROM b)
      |SELECT doc_id, source, rk, n_source FROM r WHERE rk <= 20 ORDER BY doc_id""".stripMargin

  // ----------------------------- G2: triangle counting (degree-ordered)

  /** Exact per-node triangle counting over the co-purchase graph (parts
    * connected when they share an order) — the classic graph statistic for
    * clustering-coefficient / community analysis, in the degree-ordered
    * formulation every distributed implementation starts from (Suri &
    * Vassilvitskii, WWW'11): orient each undirected edge from its lower
    * (degree, id) endpoint to the higher. Inside a triangle the (degree,
    * id) total order induces a unique a→b, a→c, b→c labeling, so every
    * triangle is found EXACTLY once as an edge (u,v) plus a common
    * out-neighbor w of both endpoints — and the orientation bounds every
    * out-neighborhood by O(√m), which is the whole scale story: hubs are
    * the reason naive triangle counting dies at web scale.
    *
    * The closure step here is adjacency-list intersection, not the wedge
    * self-join: per oriented edge, `array_intersect` of the two endpoints'
    * out-neighbor arrays runs ROW-LOCALLY, so the Σ outdeg² wedge set is
    * never materialized, never shuffled — measured 8× cheaper than the
    * wedge-join formulation at sf0.1 (11.8 s → the adjacency build + two
    * broadcast joins + a narrow intersect). Output rows are exactly
    * 3 × triangles (each member credited), not wedges.
    *
    * Shuffle shape: pair generation is one self-join co-partitioned on
    * l_orderkey; degree and adjacency tables are NODE-count rows (deg ≤
    * O(√m) entries each after orientation, so adj is ~edge-list bytes
    * spread over node rows) and broadcast at bench scale; per-node
    * re-aggregation is one last keyed exchange. At 100 TB an
    * over-broadcast adjacency table degrades to two keyed joins against
    * the same plan — the intersection stays row-local either way.
    */
  def g2Triangles(s: SparkSession, dir: String): DataFrame =
    trianglesOfMemberships(t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")),
      // volume from footer stats: no per-run count() job (g1's discipline)
      knownRows = Some(graft.Tables.rowCount(s, s"$dir/lineitem.parquet")))

  /** g2's SCALE BRANCH as its own registered, oracle-checked entry (the
    * sim7b/d9b/d5b discipline applied to adaptive PLAN choice): past
    * [[G2BroadcastEdges]] the closure runs as two KEYED equi-joins — the
    * plan that distributes a >30M-edge wedge set across a cluster's
    * shuffle (cluster-sizing table in SCALING.md) — so that branch gets a
    * green CORRECTNESS row every round, not only the broadcast-adjacency
    * branch the bench-sized graph selects. Identical output by
    * construction (degree orientation emits each triangle once on either
    * path; also spec-pinned on cliques/stars/corpus), same DuckDB oracle.
    */
  def g2bTrianglesKeyed(s: SparkSession, dir: String): DataFrame =
    trianglesOfMemberships(t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")),
      forceJoinPath = true,
      knownRows = Some(graft.Tables.rowCount(s, s"$dir/lineitem.parquet")))

  /** Library form over any (ok, pk) membership table: nodes are `pk`s,
    * edges connect nodes sharing an `ok` group. Property specs drive this
    * with synthetic graphs of known closed-form counts (cliques).
    *
    * Two exact closure paths, chosen on the MEASURED edge count (the
    * d4/d6 adaptive discipline): up to [[G2BroadcastEdges]] edges the
    * oriented adjacency table broadcasts and the wedge set never
    * materializes (row-local `array_intersect`, the fast plan the bench
    * pins); past it the adjacency payload outgrows one executor's memory,
    * so the closure becomes two KEYED equi-joins over the same oriented
    * DAG (wedges e1.dst = e2.src, closed by (e1.src, e2.dst)): degree
    * orientation bounds out-degrees by O(√m), so wedge volume is Σ outdeg²
    * — distributed across a CLUSTER's shuffle capacity, the plan that
    * scales to any graph the cluster can hold. Honest single-box note from
    * the 100× rehearsal: at 126M edges NEITHER path fits the 8 GiB
    * local[32] bench box in practical time (the adjacency is ~GBs
    * broadcast twice; the wedge set is ~10⁹ rows of spill) — a graph this
    * size is cluster work, and the keyed-join plan is exactly what
    * distributes. Both paths emit each triangle exactly once;
    * `forceJoinPath` is the spec hook pinning them identical.
    */
  private[graft] val G2BroadcastEdges = 30000000L

  def trianglesOfMemberships(memberships: DataFrame,
      forceJoinPath: Boolean = false,
      knownRows: Option[Long] = None): DataFrame = {
    val s = memberships.sparkSession
    // g1's volume-adaptive clustering, same measured disease: the edge
    // DISTINCT at the session's 32 partitions dies with
    // AGGREGATE_OUT_OF_MEMORY at ~126M pair keys (sf10/local[32]/8 GiB).
    // Pairs expand memberships by the within-group fan-out, hence the ×4.
    // Callers reading a table pass its footer row count (`knownRows`) so
    // the sizing costs zero jobs; only ad-hoc in-memory inputs pay count().
    val aggP = math.max(s.sparkContext.defaultParallelism,
      math.min(4096L, knownRows.getOrElse(memberships.count()) * 4 / 500000L).toInt)
    def cluster(df: DataFrame, c: Column*): DataFrame =
      if (aggP > s.sparkContext.defaultParallelism) df.repartition(aggP, c: _*) else df
    // The distinct is keyed by ok ALONE (hash(ok) clusters (ok, pk) —
    // a subset key satisfies the aggregation's required distribution), so
    // ONE exchange serves both the dedup and the pair self-join on ok
    // (guide §2.4, shared exchanges): the previous (ok, pk) clustering
    // deduped and then re-exchanged the whole membership table by ok for
    // the join. Explicit repartition rather than the conditional
    // `cluster` so the sharing also holds at bench scale; partition count
    // still scales with measured volume via aggP. Group sizes are
    // per-order (bounded fan-out), so keying by ok cannot skew.
    val li = memberships.select("ok", "pk").repartition(aggP, col("ok")).distinct()
    val e = cluster(li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("u"), col("b.pk").as("v")),
        col("u"), col("v")).distinct()
      .lossTolerantCheckpoint() // degrees AND orientation read it: one pair join, not two
    // node-count rows, MATERIALIZED once: the two broadcast sides below
    // alias deg over u and v, so their subtrees canonicalize differently
    // and Catalyst cannot ReuseExchange them — without the checkpoint the
    // degree aggregation (a full pass over the edge list) runs TWICE, once
    // per BroadcastExchange. One extra tiny materialization job buys a
    // single degree pass at any scale (guide §2.4 shared computation).
    val deg = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .lossTolerantCheckpoint()
    val lower = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val oriented = e
      .join(broadcast(deg.select(col("n").as("u"), col("d").as("du"))), "u")
      .join(broadcast(deg.select(col("n").as("v"), col("d").as("dv"))), "v")
      .select(when(lower, col("u")).otherwise(col("v")).as("src"),
        when(lower, col("v")).otherwise(col("u")).as("dst"))
      .lossTolerantCheckpoint() // read multiple times below; cut the join lineage
    // one cheap job over the checkpointed edge blocks; consumed by the
    // branch gate AND (on the keyed path) the wedge-bloom sizing below
    val eCount = e.count()
    val tri =
      if (!forceJoinPath && eCount <= G2BroadcastEdges) {
        // node-count rows, materialized once so BOTH broadcasts reuse the
        // same aggregation instead of re-running it per broadcast side
        val adj = oriented.groupBy(col("src").as("node"))
          .agg(collect_list(col("dst")).as("nbrs"))
          .lossTolerantCheckpoint()
        oriented
          .join(broadcast(adj.select(col("node").as("src"), col("nbrs").as("src_nbrs"))), "src")
          .join(broadcast(adj.select(col("node").as("dst"), col("nbrs").as("dst_nbrs"))), "dst")
          .select(col("src"), col("dst"),
            explode(array_intersect(col("src_nbrs"), col("dst_nbrs"))).as("w"))
      } else {
        // e1 = (x,y), e2 = (y,z), closed by e3 = (x,z): each triangle of
        // the oriented DAG appears exactly once — the oracle's formulation.
        //
        // BLOOM PRE-FILTER on the wedge set (optimization guide §3.2): a
        // wedge (x,y,z) joins e3 only when (x,z) is itself an oriented
        // edge, and closures are orders of magnitude rarer than wedges
        // (Σ outdeg² — measured 55.6M wedge rows vs ~1M closures at
        // sf0.1). The filter runs INSIDE the wedge-join stage, so the
        // Σ outdeg² rows are never exchanged: only maybe-closing wedges
        // (closures + the bloom's ~2% false positives, which the exact
        // e3 equi-join then removes — no false negatives, so the result
        // is row-identical) reach the closing join's shuffle. Build side
        // is one partial-aggregable pass over the EDGE-count rows (the
        // j8 idiom; ~1 MB/M edges serialized — at 126M edges the default
        // 8 MiB bit cap degrades fpp, still pruning most of the wedge
        // volume; a cluster deployment raises
        // spark.sql.optimizer.runtime.bloomFilter.maxNumBits with its
        // memory). xxhash64 collisions over (src,dst) pairs can only ADD
        // false positives, never drop a real closure. Measured effect at
        // sf0.1: the closing join's exchange 55.6M rows/538 MB → ~1M
        // rows, aggregate task GC 165 s → seconds, wall 61 s → ~8 s.
        val ebfRow = oriented
          .agg(call_function("graft_bloom_agg",
            xxhash64(col("src"), col("dst")),
            lit(math.max(eCount, 1024L))).as("bf"))
          .head()
        val wedges = oriented.as("e1")
          .join(oriented.as("e2"), col("e1.dst") === col("e2.src"))
        // empty edge set → BloomFilterAggregate yields null → no wedges
        // exist either; skip the filter instead of probing a null sketch
        val maybeClosing =
          if (ebfRow.isNullAt(0)) wedges
          else wedges.filter(call_function("graft_bloom_contains",
            lit(ebfRow.getAs[Array[Byte]]("bf")),
            xxhash64(col("e1.src"), col("e2.dst"))))
        maybeClosing
          .join(oriented.as("e3"),
            col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"))
          .select(col("e1.src").as("src"), col("e1.dst").as("dst"),
            col("e2.dst").as("w"))
      }
    tri.select(explode(array(col("src"), col("dst"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
      .orderBy("node")
  }

  val g2Sql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
      |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |deg AS (SELECT n, COUNT(*) AS d
      |        FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
      |de AS (SELECT e.u, e.v, du.d AS du, dv.d AS dv
      |       FROM e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n),
      |dir AS (SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS src,
      |               CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS dst
      |        FROM de),
      |tri AS (SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
      |        FROM dir e1 JOIN dir e2 ON e1.dst = e2.src
      |        JOIN dir e3 ON e3.src = e1.src AND e3.dst = e2.dst)
      |SELECT node, COUNT(*)::BIGINT AS n_tri
      |FROM (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
      |GROUP BY node ORDER BY node""".stripMargin

  // -------------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d1_exact_dedup" -> (d1ExactDedup _),
    "d2_minhash_lsh" -> (d2MinhashLsh _),
    "d3_simhash" -> (d3Simhash _),
    "d3b_simhash_pairs" -> (d3bSimhashPairs _),
    "d4_ngram_jaccard" -> (d4NgramJaccard _),
    "d4b_jaccard_prefix_path" -> (d4bJaccardPrefixPath _),
    "d4c_jaccard_banded" -> (d4cJaccardBanded _),
    "d5_embedding_nn" -> (d5EmbeddingNn _),
    "d5b_embedding_nn_scaled" -> (d5bEmbeddingNnScaled _),
    "d6_dup_clusters" -> (d6DupClusters _),
    "d6b_dup_clusters_dist" -> (d6bDupClustersDist _),
    "g1_pagerank" -> (g1Pagerank _),
    "d7_contamination" -> (d7Contamination _),
    "d8_span_dedup" -> (d8SpanDedup _),
    "d11_span_removal" -> (d11SpanRemoval _),
    "d12_lsh_recall" -> ((s: SparkSession, dir: String) => d12LshRecallEval(s, dir)),
    "x25_chunk_overlap" -> ((s: SparkSession, dir: String) => x25ChunkOverlap(s, dir)),
    "x26_normalize" -> (x26Normalize _),
    "x27_train_classifier" -> ((s: SparkSession, dir: String) => x27TrainClassifier(s, dir)),
    "x28_oov_audit" -> (x28OovAudit _),
    "x29_gram_spectrum" -> ((s: SparkSession, dir: String) => x29GramSpectrum(s, dir)),
    "x30_goodturing_lm" -> ((s: SparkSession, dir: String) => x30GoodTuring(s, dir)),
    "m5_audio_pitch" -> (m5AudioPitch _),
    "x31_span_corrupt" -> ((s: SparkSession, dir: String) => x31SpanCorrupt(s, dir)),
    "d9_sem_dedup" -> (d9SemDedup _),
    "d9b_sem_dedup_scaled" -> (d9bSemDedupScaled _),
    "d10_incremental_dedup" -> (d10IncrementalDedup _),
    "sim1_cosine_topk" -> (sim1CosineTopk _),
    "sim2_lsh_ann" -> (sim2LshAnn _),
    "sim2b_multiprobe" -> (sim2bMultiprobe _),
    "sim3_ivf_ann" -> (sim3IvfAnn _),
    "sim4_kmeans_codebook" -> (sim4KmeansCodebook _),
    "sim5_pq_ann" -> (sim5PqAnn _),
    "sim6_ivfpq" -> (sim6IvfPq _),
    "sim7_incremental_ann" -> (sim7IncrementalAnn _),
    "sim7b_incremental_ann_scaled" -> (sim7bIncrementalAnnScaled _),
    "sim8_range_search" -> ((s: SparkSession, dir: String) => sim8RangeSearch(s, dir)),
    "sim9_recall_eval" -> ((s: SparkSession, dir: String) => sim9RecallEval(s, dir)),
    "sim10_mips_topk" -> (sim10MipsTopk _),
    "x32_contrastive_pairs" -> (x32ContrastivePairs _),
    "x1_langid" -> (x1Langid _),
    "x2_quality" -> (x2Quality _),
    "x3_token_stats" -> (x3TokenStats _),
    "x4_fingerprint" -> (x4Fingerprint _),
    "x5_redact" -> (x5Redact _),
    "x6_split" -> (x6Split _),
    "x7_bm25" -> (x7Bm25 _),
    "x8_stratified_sample" -> (x8StratifiedSample _),
    "x9_vocab" -> (x9Vocab _),
    "x10_repetition" -> (x10Repetition _),
    "x11_pack" -> (x11Pack _),
    "x12_lm_score" -> (x12LmScore _),
    "x13_mix_weights" -> (x13MixWeights _),
    "x14_tokenize" -> (x14Tokenize _),
    "x15_profile" -> (x15Profile _),
    "x16_shard_shuffle" -> (x16ShardShuffle _),
    "x17_novelty" -> (x17Novelty _),
    "x18_bpe_merges" -> (x18BpeMerges _),
    "x19_bpe_encode" -> (x19BpeEncode _),
    "x19b_encode_only" -> (x19bEncodeOnly _),
    "x20_quality_classifier" -> (x20QualityClassifier _),
    "x21_importance_weights" -> (x21ImportanceWeights _),
    "x22_source_cap" -> ((s: SparkSession, dir: String) => x22SourceCap(s, dir)),
    "x23_inverted_index" -> ((s: SparkSession, dir: String) => x23InvertedIndex(s, dir)),
    "x33_phrase_search" -> ((s: SparkSession, dir: String) => x33PhraseSearch(s, dir)),
    "x34_keywords" -> ((s: SparkSession, dir: String) => x34Keywords(s, dir)),
    "x35_vocab_growth" -> ((s: SparkSession, dir: String) => x35VocabGrowth(s, dir)),
    "x36_greedy_decode" -> ((s: SparkSession, dir: String) => x36GreedyDecode(s, dir)),
    "x37_apply_mixture" -> (x37ApplyMixture _),
    "x24_drift_report" -> (x24DriftReport _),
    "g2_triangles" -> (g2Triangles _),
    "g2b_triangles_keyed" -> (g2bTrianglesKeyed _),
    "m1_binary_meta" -> (m1BinaryMeta _),
    "m2_frame_sample" -> (m2FrameSample _),
    "m3_feature_ann" -> (m3FeatureAnn _),
    "m4_audio_features" -> (m4AudioFeatures _),
    "m6_image_dedup" -> (m6ImageDedup _),
    "m7_incr_image_dedup" -> (m7IncrementalImageDedup _),
    "m8_video_dedup" -> ((s: SparkSession, dir: String) => m8VideoDedup(s, dir)),
    "pipe7_multimodal_curate" -> (pipe7MultimodalCurate _),
    "a8s_approx_distinct" -> (a8sApproxDistinct _),
    "a9s_approx_quantiles" -> (a9sApproxQuantiles _),
    "a10s_cms_freq" -> (a10sCmsFreq _),
    "a14_bitmap_distinct" -> (a14BitmapDistinct _),
    "k16_bloom_skip" -> ((s: SparkSession, dir: String) => k16BloomSkip(s, dir)),
    "w3_sessionize" -> (w3Sessionize _),
    "w4_funnel" -> (w4Funnel _),
    "w8_conversion_latency" -> (w8ConversionLatency _),
    "w5_retention" -> (w5Retention _),
    "w6_outliers" -> (w6Outliers _),
    "pipe1_curate" -> (pipe1Curate _),
    "pipe2_index_build" -> (pipe2IndexBuild _),
    "pipe3_export" -> (pipe3Export _),
    "pipe4_curate_export" -> (pipe4CurateExport _),
    "pipe5_retrieve_chunks" -> ((s: SparkSession, dir: String) => pipe5RetrieveChunks(s, dir)),
    "pipe6_mixture_export" -> (pipe6MixtureExport _),
  )

  val oracles: Map[String, String] = Map(
    "a14_bitmap_distinct" -> a14Sql,
    "d1_exact_dedup" -> d1Sql,
    "d2_minhash_lsh" -> d2Sql,
    "d3_simhash" -> d3Sql,
    "d3b_simhash_pairs" -> d3bSql,
    "d4_ngram_jaccard" -> d4Sql,
    "d4b_jaccard_prefix_path" -> d4bSql,
    "d4c_jaccard_banded" -> d4cSql,
    "d5_embedding_nn" -> d5Sql,
    "d5b_embedding_nn_scaled" -> d5bSql,
    "d6_dup_clusters" -> d6Sql,
    "d6b_dup_clusters_dist" -> d6Sql,
    "g1_pagerank" -> g1Sql,
    "d7_contamination" -> d7Sql,
    "d8_span_dedup" -> d8Sql,
    "d11_span_removal" -> d11Sql,
    "d12_lsh_recall" -> d12Sql,
    "x25_chunk_overlap" -> x25Sql,
    "x26_normalize" -> x26Sql,
    "x27_train_classifier" -> x27Sql,
    "x28_oov_audit" -> x28Sql,
    "x29_gram_spectrum" -> x29Sql,
    "x30_goodturing_lm" -> x30Sql,
    "m5_audio_pitch" -> m5Sql,
    "x31_span_corrupt" -> x31Sql,
    "d9_sem_dedup" -> d9Sql,
    "d9b_sem_dedup_scaled" -> d9bSql,
    "d10_incremental_dedup" -> d10Sql,
    "sim1_cosine_topk" -> sim1Sql,
    "sim2_lsh_ann" -> sim2Sql,
    "sim2b_multiprobe" -> sim2bSql,
    "sim3_ivf_ann" -> sim3Sql,
    "sim4_kmeans_codebook" -> sim4Sql,
    "sim5_pq_ann" -> sim5Sql,
    "sim6_ivfpq" -> sim6Sql,
    "sim7_incremental_ann" -> sim7Sql,
    "sim7b_incremental_ann_scaled" -> sim7bSql,
    "sim8_range_search" -> sim8Sql,
    "sim9_recall_eval" -> sim9Sql,
    "sim10_mips_topk" -> sim10Sql,
    "x32_contrastive_pairs" -> x32Sql,
    "x1_langid" -> x1Sql,
    "x2_quality" -> x2Sql,
    "x3_token_stats" -> x3Sql,
    "x4_fingerprint" -> x4Sql,
    "x5_redact" -> x5Sql,
    "x6_split" -> x6Sql,
    "x7_bm25" -> x7Sql,
    "x8_stratified_sample" -> x8Sql,
    "x9_vocab" -> x9Sql,
    "x10_repetition" -> x10Sql,
    "x11_pack" -> x11Sql,
    "x12_lm_score" -> x12Sql,
    "x13_mix_weights" -> x13Sql,
    "x14_tokenize" -> x14Sql,
    "x15_profile" -> x15Sql,
    "x16_shard_shuffle" -> x16Sql,
    "x17_novelty" -> x17Sql,
    "x18_bpe_merges" -> x18Sql,
    "x19_bpe_encode" -> x19Sql,
    "x19b_encode_only" -> x19bSql,
    "x20_quality_classifier" -> x20Sql,
    "x21_importance_weights" -> x21Sql,
    "x22_source_cap" -> x22Sql,
    "x23_inverted_index" -> x23Sql,
    "x33_phrase_search" -> x33Sql,
    "x34_keywords" -> x34Sql,
    "x35_vocab_growth" -> x35Sql,
    "x36_greedy_decode" -> x36Sql,
    "x37_apply_mixture" -> x37Sql,
    "x24_drift_report" -> x24Sql,
    "g2_triangles" -> g2Sql,
    "g2b_triangles_keyed" -> g2Sql,
    "m1_binary_meta" -> m1Sql,
    "m2_frame_sample" -> m2Sql,
    "m3_feature_ann" -> m3Sql,
    "m4_audio_features" -> m4Sql,
    "m6_image_dedup" -> m6Sql,
    "m7_incr_image_dedup" -> m7Sql,
    "m8_video_dedup" -> m8Sql,
    "pipe7_multimodal_curate" -> pipe7Sql,
    "w3_sessionize" -> w3Sql,
    "w4_funnel" -> w4Sql,
    "w8_conversion_latency" -> w8Sql,
    "w5_retention" -> w5Sql,
    "w6_outliers" -> w6Sql,
    "pipe1_curate" -> pipe1Sql,
    "pipe2_index_build" -> pipe2Sql,
    "pipe3_export" -> pipe3Sql,
    "pipe4_curate_export" -> pipe4Sql,
    "pipe5_retrieve_chunks" -> pipe5Sql,
    "pipe6_mixture_export" -> pipe6Sql,
  )
}
