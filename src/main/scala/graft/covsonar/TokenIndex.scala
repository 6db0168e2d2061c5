package graft.covsonar

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Inverted profile-token index: the data-skipping structure behind
  * interactive rare-variant `match` (ref: lib/sonardb.py:3133-3486 — the
  * reference's most common invocation, `match -i <variant>`, scans every
  * profile row in SQLite; at 10⁹ genomes that is a batch job, not a query).
  *
  * Layout (under `<store>/_token_index/`):
  *   - `tokens/`  parquet, ONE ROW PER TOKEN: (token, n, carriers
  *     array<string> — NULL above the build cap), range-clustered and
  *     sorted by token, so a token-list lookup prunes files and row groups
  *     through ordinary parquet min/max stats — the index read is itself
  *     sublinear, and pricing touches only the two skinny columns.
  *   - `META`     build cap + the profile table's listing signature at build
  *     time + the hot-token list (bounded — see [[HotListCap]]). Any
  *     append/replace of `profile` that is not routed through [[merge]]
  *     changes the signature and the index silently degrades to the
  *     full-scan plan (exactly the reference's contract: `optimize`
  *     refreshes derived structures). Nightly appends through
  *     [[SonarIngest.add]] are merged incrementally — the index stays fresh
  *     at the cost of one vocabulary-sized tokens rewrite, never a corpus
  *     re-read — and `SonarOps.remove` re-stamps via [[restamp]] (removal
  *     keeps carriers a superset, so only the freshness stamp moves).
  *
  * Match-time use (see [[SonarMatch.matchWithPlan]]): for include-profile
  * queries on a store whose `profile` table holds at least
  * [[SonarStore.IndexMinProfileBytes]] (smaller stores scan faster than
  * the index probe and the pruned plan cost), resolve a *carrier
  * superset* — a seqhash set that provably contains every matching
  * genome — from the index, and when it is small
  * (≤ [[SonarStore.CarrierPlanCap]], 10000), match over the
  * carrier slice instead of the full essence scan
  * ([[SonarStore.essenceForSeqhashes]]): up to
  * [[SonarStore.CarrierPushdownCap]] carriers as IN literals pushed into
  * both parquet scans — where row-group seqhash bloom filters (written by
  * `optimize`), min/max stats over the range-clustered layout, and
  * column-index page skipping drop granules containing no carrier, making
  * scanned bytes O(carriers × granule size), flat in table size — and as
  * a broadcast semi-join above that bound (a pushed IN would degrade to a
  * vacuous min/max range whose filtered read path measured 5× a plain
  * scan). Either way the essence join collapses to the carrier slice.
  *
  * Exactness: the carrier set is a SUPERSET of matches by construction (no
  * bloom false-negative argument needed — the index is the exploded profile
  * content itself), and the original `array_contains` predicates still run
  * on top, so results are byte-identical to the unpruned plan. Verified by
  * TokenIndexSpec against the full-scan path on every golden shape, and
  * after incremental merges.
  *
  * Crash-consistency of every (re)write: tokens staging is written first,
  * then META is DELETED, then the tokens swap, then META is written through
  * its own staging+rename as the final activation step. A crash anywhere in
  * that window reads as "index absent" (full scan) — never as an old META
  * validating a new tokens table.
  */
object TokenIndex {

  val DirName = "_token_index"
  private val MetaVersion = 3

  /** Bound on the hot-token list stored in META (and re-read by every
    * `match` freshness check on the interactive path). Realistic profiles
    * keep the over-cap set to a lineage-defining handful, but an
    * adversarial corpus can make most of a huge vocabulary hot (#hot ≤
    * totalPairs/buildCap ≈ 2.5 M at 10⁹ genomes × ~25 tokens). Past this
    * cap META records only the count: the zero-job driver-side hot-token
    * short-circuit is disabled and hot covers are instead rejected by the
    * pricing job itself (stored n > buildCap ⇒ carriers NULL ⇒ cover
    * invalid) — one bounded index probe instead of an unbounded META read,
    * results unchanged.
    */
  val HotListCap = 100000

  private def indexRoot(store: SonarStore) = new Path(new Path(store.dir), DirName)
  private def tokensPath(store: SonarStore) = new Path(indexRoot(store), "tokens")
  private def metaPath(store: SonarStore) = new Path(indexRoot(store), "META")

  /** `d:`/`a:` prefixes keep dna and aa token namespaces disjoint in one
    * index table (the aa token "S:N501Y" and a hypothetical dna token can
    * never collide).
    */
  private def prefixed(level: String, token: String): String = level + ":" + token

  // ---- build -----------------------------------------------------------------

  /** (seqhash, token) pairs exploded from profile-shaped rows — shared by
    * the full build and the incremental merge so both index exactly the
    * same token derivation.
    */
  private def explodedPairs(profileRows: DataFrame): DataFrame = {
    val empty = typedlit(Seq.empty[String])
    profileRows.select(
      col("seqhash"),
      explode(concat(
        transform(coalesce(col("dna_profile"), empty), t => concat(lit("d:"), t)),
        transform(coalesce(col("aa_profile"), empty), t => concat(lit("a:"), t))
      )).as("token"))
  }

  /** Build (or rebuild) the index from the CURRENT profile table.
    *
    * Layout: ONE ROW PER TOKEN — `(token, n, carriers array<string>)`,
    * carriers NULL for tokens with more than `buildCap` carriers (those can
    * never serve a pruned plan, so materializing their seqhash lists would
    * only bloat the index — the first pair-per-row layout measured 7×
    * LARGER than the profile table it indexed, because it repeats each
    * 32-byte seqhash once per token while the source stores it once per
    * ~25). Pricing reads just the two skinny columns (token, n); the
    * carrier fetch reads exact arrays for the chosen tokens, row-group- and
    * page-pruned through the token sort order.
    *
    * One explode + two aggregations; hot tokens are counted but excluded
    * from the collect via a broadcast anti-join, so no group ever
    * accumulates more than buildCap seqhashes. Called by
    * `SonarOps.optimize` after the table rewrites.
    */
  def build(store: SonarStore, nFiles: Int = 8,
      buildCap: Int = SonarStore.CarrierPlanCap,
      hotListCap: Int = HotListCap): Unit = {
    if (!store.exists("profile")) { drop(store); return }
    val spark = store.spark
    // Signature BEFORE reading: if profile is rewritten mid-build the stored
    // signature won't match the new listing and the index self-invalidates.
    val sig = graft.Tables.listingSignature(spark, store.tableLocation("profile"))

    val pairs = explodedPairs(store.table("profile"))
    // counts is vocabulary-sized (small); persisted because it feeds the
    // hot-token collect, the anti-join, and the final left join
    val counts = pairs.groupBy("token").agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // tokens too hot to ever prune with — typically a handful of
    // lineage-defining variants carried by most of the population
    val hot = counts.filter(col("n") > buildCap).select("token")
    val carriers = pairs
      .join(broadcast(hot), Seq("token"), "left_anti")
      .groupBy("token")
      .agg(sort_array(collect_set(col("seqhash"))).as("carriers"))
    val idx = counts.join(carriers, Seq("token"), "left")

    writeTokensAndMeta(store, idx, nFiles, buildCap, sig, hotListCap)
    counts.unpersist()
  }

  /** Merge an appended profile increment into a LIVE index without
    * re-reading the corpus — the nightly-ingest path (the reference's `add`
    * cadence, ref:sonar.py:511-702): a full rebuild is a complete
    * corpus re-read (linear in store size — hours at 10⁹ genomes), while
    * this touches only the increment and the vocabulary-sized tokens table.
    *
    * Same increment-vs-index discipline as the engine's d10/k16 operators:
    * explode the increment's (token, seqhash) pairs, full-outer-merge into
    * the tokens table (counts added; carrier sets unioned; tokens crossing
    * `buildCap` — and tokens already hot — keep NULL carriers), update the
    * META hot list and stamp the CURRENT profile listing signature.
    *
    * Exact-safety: the merge only proceeds when the stored META's signature
    * equals `preAppendSignature` — the caller's proof that the live index
    * covered exactly the pre-append table, so old ∪ increment covers the
    * current one. Any mismatch (stale index, racing writer, no index)
    * returns false and leaves the index stale — degraded to full scans,
    * never a mis-prune. A writer racing the merge itself is caught the same
    * way: the new signature is captured before the merge reads anything,
    * so a concurrent append leaves a mismatched stamp behind.
    *
    * @param increment exactly the profile rows that were appended (any
    *   superset of columns including seqhash/dna_profile/aa_profile)
    * @param preAppendSignature `profile`'s listing signature captured
    *   BEFORE the increment was appended
    * @return true iff the index was merged and is fresh again
    */
  def merge(store: SonarStore, increment: DataFrame, preAppendSignature: String,
      hotListCap: Int = HotListCap): Boolean = {
    val meta = storedMeta(store) match {
      case Some(m) if m.signature == preAppendSignature => m
      case _ => return false
    }
    val spark = store.spark
    val sig = graft.Tables.listingSignature(spark, store.tableLocation("profile"))
    if (sig == preAppendSignature) return true // nothing was actually appended
    val cap = meta.buildCap

    val pairs = explodedPairs(increment)
    val dCounts = pairs.groupBy("token").agg(count(lit(1)).as("dn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // same bounded-group discipline as build: an increment token that is
    // over-cap BY ITSELF never accumulates its carrier list
    val dHot = dCounts.filter(col("dn") > cap).select("token")
    val dCarriers = pairs
      .join(broadcast(dHot), Seq("token"), "left_anti")
      .groupBy("token")
      .agg(sort_array(collect_set(col("seqhash"))).as("dcarriers"))
    val delta = dCounts.join(dCarriers, Seq("token"), "left")

    val old = spark.read.parquet(tokensPath(store).toString)
      .select(col("token"), col("n").as("o_n"), col("carriers").as("o_carriers"))
    val joined = old.join(delta, Seq("token"), "full_outer")

    val empty = typedlit(Seq.empty[String])
    val wasHot = col("o_n").isNotNull && col("o_carriers").isNull
    val deltaHot = col("dn").isNotNull && col("dcarriers").isNull
    val pairTotal = coalesce(col("o_n"), lit(0L)) + coalesce(col("dn"), lit(0L))
    val unioned = array_sort(array_distinct(concat(
      coalesce(col("o_carriers"), empty), coalesce(col("dcarriers"), empty))))
    // a token is (or becomes) hot when it was hot, its increment alone is
    // hot, or the merged carrier bound crosses the cap — append-only means
    // hotness is monotone, so no rebuild is ever needed for a hot-list change
    val carriers = when(wasHot || deltaHot || pairTotal > cap,
      lit(null).cast("array<string>")).otherwise(unioned)
    // NEVER persisted: Dataset caching builds 10⁴-row columnar batches
    // regardless of storage level (ColumnBuilder), and rows here carry
    // carrier arrays up to buildCap × 33 B — one batch is gigabytes, and
    // caching this dataset OOM'd the 10⁷-genome rehearsal at every storage
    // level tried. The staging parquet write below IS the single
    // materializing pass; the hot pull reads the staged skinny columns.
    val merged = joined.select(
      col("token"),
      // exact carrier count where the list is materialized; the pair total
      // (a sound upper bound for pricing) where it is not — either way the
      // hotness invariant holds: carriers IS NULL ⇔ n > buildCap
      when(carriers.isNotNull, size(carriers).cast("long"))
        .otherwise(pairTotal).as("n"),
      carriers.as("carriers"))

    // keep the live layout's file count so repeated nightly merges don't
    // drift the index's file geometry
    val fs = indexRoot(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nFiles = math.max(1,
      fs.listStatus(tokensPath(store)).count(_.getPath.getName.endsWith(".parquet")))

    writeTokensAndMeta(store, merged, nFiles, cap, sig, hotListCap)
    dCounts.unpersist()
    true
  }

  /** Write the tokens table + META with the crash-consistent ordering
    * documented at the top: staging write → META delete → tokens swap →
    * META staging+rename.
    *
    * The META hot list is derived from the STAGED parquet's two skinny
    * columns via the invariant both producers maintain — carriers IS NULL
    * ⇔ n > buildCap — so the wide carrier arrays are written exactly once
    * (streamed through the parquet writer) and never cached, re-computed,
    * or re-read: Dataset caching batches 10⁴ rows per columnar block
    * whatever the storage level, which is gigabytes when rows carry
    * near-cap carrier arrays (measured OOM at 10⁷ genomes).
    */
  private def writeTokensAndMeta(store: SonarStore, idx: DataFrame, nFiles: Int,
      buildCap: Int, sig: String, hotListCap: Int): Unit = {
    val fs = indexRoot(store).getFileSystem(store.spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(indexRoot(store))
    val staging = new Path(indexRoot(store), s".staging-${java.util.UUID.randomUUID}")
    idx.repartitionByRange(nFiles, col("token"))
      .sortWithinPartitions("token")
      .write
      .option("parquet.bloom.filter.enabled#token", "true")
      // Small row groups are what make a one-token lookup cheap: carrier
      // arrays run up to buildCap × 33 B per ROW, and a scan reads whole
      // row groups of that column when page-level skipping degrades on
      // nested data (measured: 75-130 MB per lookup at default 128 MB
      // groups over a 10⁷-genome index; 2 MB groups bound the same lookup
      // by ~2 MB + footer). Min/max token stats per group stay exact.
      // The row-check knobs matter as much as the size: parquet-mr only
      // CONSIDERS cutting a page OR group every `page.size.row.check.min`
      // records (default 100; InternalParquetRecordWriter floors its block
      // check on the same property), and 100 near-cap carrier rows ≈ 15 MB
      // — measured, the "2 MB" groups never materialized without these.
      .option("parquet.block.size", (2L << 20).toString)
      .option("parquet.page.size", (256 << 10).toString)
      .option("parquet.page.size.row.check.min", "4")
      .option("parquet.page.size.row.check.max", "64")
      .mode("overwrite").parquet(staging.toString)

    // Hot tokens into META: a match whose every cover touches one is
    // unprunable, and the driver can see that without any Spark job — the
    // common-variant query (the most frequent real-world unindexable
    // shape) then pays zero index overhead. Bounded pull: past hotListCap
    // the META stores only the count (see HotListCap). Read column-pruned
    // from the staged file — (token, n) only, no array bytes.
    val hotDf = store.spark.read.parquet(staging.toString)
      .filter(col("n") > buildCap).select("token")
    val hotPulled = hotDf.limit(hotListCap + 1).collect().map(_.getString(0))
    val hot: Either[Long, Seq[String]] =
      if (hotPulled.length > hotListCap) Left(hotDf.count())
      else Right(hotPulled.sorted.toSeq)

    // META goes away FIRST: from here to the final META rename the index
    // reads as absent, so a crash can never leave an old META that passes
    // the freshness check against a different tokens table.
    fs.delete(metaPath(store), false)

    SonarStore.swapIn(fs, staging, tokensPath(store), "token index")

    writeMetaFile(store, buildCap, sig, hot)
  }

  /** Stage + rename a META describing the CURRENT tokens table. Callers
    * guarantee the tokens table already matches (`hot` derived from it);
    * any pre-existing META is deleted first so the rename lands on a free
    * path — a crash in the window reads as "index absent", never as a
    * mismatched stamp.
    */
  private def writeMetaFile(store: SonarStore, buildCap: Int, sig: String,
      hot: Either[Long, Seq[String]]): Unit = {
    val fs = indexRoot(store).getFileSystem(store.spark.sparkContext.hadoopConfiguration)
    val hotBody = hot match {
      case Right(tokens) => "hot=ok\n" + tokens.mkString("\n")
      case Left(count) => s"hot=overflow:$count\n"
    }
    fs.delete(metaPath(store), false)
    val metaStaging = new Path(indexRoot(store), s".meta-${java.util.UUID.randomUUID}")
    val out = fs.create(metaStaging, true)
    out.write(s"v=$MetaVersion\ncap=$buildCap\n$sig\n$hotBody".getBytes("UTF-8"))
    out.close()
    require(fs.rename(metaStaging, metaPath(store)),
      s"cannot activate token index META (staging at $metaStaging)")
  }

  /** Re-stamp a live index over a REMOVAL-ONLY profile rewrite — the
    * `SonarOps.remove` path (reference delete_genome,
    * lib/sonardb.py:1470-1504). Row removal cannot break the index's one
    * exactness obligation: stored carrier lists remain a SUPERSET of each
    * token's carriers (removed seqhashes simply match nothing in the essence
    * scans, and the original predicates still run on top), and stored counts
    * become sound UPPER bounds — pricing may conservatively decline a prune
    * that would now fit, never mis-prune. Hot tokens likewise stay hot
    * (conservative). So the tokens table needs no rewrite at all: only the
    * freshness stamp moves, a driver-side META rewrite with zero Spark jobs
    * — vs the full-store `optimize` a removal otherwise forces (linear in
    * store size). Counts/hotness are re-tightened by the next `optimize`.
    *
    * Exact-safety mirrors [[merge]]: proceeds only when the stored META's
    * signature equals `preRemoveSignature` — the caller's proof the live
    * index covered the pre-remove table (a superset of the post-remove one).
    * Any mismatch returns false and leaves the index stale (full scans).
    *
    * @param preRemoveSignature `profile`'s listing signature captured BEFORE
    *   the removal rewrite
    * @return true iff the index was re-stamped and is fresh again
    */
  def restamp(store: SonarStore, preRemoveSignature: String): Boolean = {
    val meta = storedMeta(store) match {
      case Some(m) if m.signature == preRemoveSignature => m
      case _ => return false
    }
    if (!store.exists("profile")) { drop(store); return false }
    val sig = graft.Tables.listingSignature(store.spark, store.tableLocation("profile"))
    if (sig == preRemoveSignature) return true // nothing was actually rewritten
    val hot: Either[Long, Seq[String]] =
      if (meta.hotOverflow) Left(meta.hotOverflowCount)
      else Right(meta.hotTokens.toSeq.sorted)
    writeMetaFile(store, meta.buildCap, sig, hot)
    true
  }

  def drop(store: SonarStore): Unit = {
    val fs = indexRoot(store).getFileSystem(store.spark.sparkContext.hadoopConfiguration)
    fs.delete(indexRoot(store), true)
  }

  private[covsonar] final case class Meta(buildCap: Int, signature: String,
      hotTokens: Set[String], hotOverflow: Boolean, hotOverflowCount: Long = 0L)

  /** Build-time metadata, if an index of the current version exists. Any
    * malformed line — torn write, unknown version, non-numeric cap — reads
    * as "no index": degrade to the full-scan plan, never throw on the
    * interactive path and never mis-prune.
    */
  private def storedMeta(store: SonarStore): Option[Meta] = {
    val fs = metaPath(store).getFileSystem(store.spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(metaPath(store))) None
    else {
      val in = fs.open(metaPath(store))
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      lines match {
        case v :: cap :: sig :: hotLine :: hotRest
            if v == s"v=$MetaVersion" && cap.startsWith("cap=") && hotLine.startsWith("hot=") =>
          scala.util.Try {
            val buildCap = cap.stripPrefix("cap=").trim.toInt
            if (hotLine == "hot=ok")
              Meta(buildCap, sig, hotRest.filter(_.nonEmpty).toSet, hotOverflow = false)
            else {
              val n = hotLine.stripPrefix("hot=overflow:").trim.toLong
              Meta(buildCap, sig, Set.empty, hotOverflow = true, hotOverflowCount = n)
            }
          }.toOption
        case _ => None
      }
    }
  }

  /** Fresh ⇔ the stored signature matches the profile table's CURRENT
    * listing (file names, mtimes, lengths, footer lengths). Costs one
    * 8-byte ranged read per profile file — interactive-query overhead.
    */
  def isFresh(store: SonarStore): Boolean = freshMeta(store).isDefined

  /** Whether `profile` is too small for the index to pay: fewer on-disk
    * bytes than `minProfileBytes`, read from one directory listing (no
    * Spark job, no footer read). Such a store takes the full scan.
    */
  def belowFloor(store: SonarStore,
      minProfileBytes: Long = SonarStore.IndexMinProfileBytes): Boolean =
    store.tableBytes("profile") < minProfileBytes

  private def freshMeta(store: SonarStore): Option[Meta] =
    storedMeta(store).filter { m =>
      store.exists("profile") &&
        graft.Tables.listingSignature(store.spark, store.tableLocation("profile")) == m.signature
    }

  /** The hot (over-build-cap) token list of a FRESH index whose META stored
    * it in full — introspection/CI helper; empty when absent, stale, or
    * overflowed.
    */
  def hotTokens(store: SonarStore): Set[String] =
    freshMeta(store).map(_.hotTokens).getOrElse(Set.empty)

  // ---- match-time carrier resolution ------------------------------------------

  /** A "cover" is a token list whose carrier union is a superset of one
    * group's matches; each group may offer several covers and we price them
    * against the index to pick the cheapest.
    *
    * Derivation mirrors [[SonarMatch]]'s predicate exactly: a group matches
    * rows satisfying dnaCond && aaCond, where each side is AND over its
    * tokens — or OR when any token ends in N (dna) / X (aa), the reference's
    * `search_all` mode (lib/sonardb.py:1623-1639). So:
    *   - an AND-mode side: ANY single token is a cover (matches carry all);
    *   - an OR-mode side: the whole token list is one cover (matches carry
    *     at least one).
    */
  private[covsonar] def coversFor(g: SonarMatch.ExplicitGroup): Seq[Seq[String]] = {
    val covers = Seq.newBuilder[Seq[String]]
    if (g.dna.nonEmpty) {
      val searchAll = g.dna.exists(t => t.nonEmpty && t.last == 'N')
      if (searchAll) covers += g.dna.map(prefixed("d", _))
      else g.dna.foreach(t => covers += Seq(prefixed("d", t)))
    }
    if (g.aa.nonEmpty) {
      val searchAll = g.aa.exists(t => t.nonEmpty && t.last == 'X')
      if (searchAll) covers += g.aa.map(prefixed("a", _))
      else g.aa.foreach(t => covers += Seq(prefixed("a", t)))
    }
    covers.result()
  }

  /** Resolve the carrier-seqhash superset for the include groups, or None
    * when pruning is unavailable or would not pay (see [[lookup]] for the
    * reasons). `minProfileBytes` is the store-size floor: a `profile` table
    * smaller than it takes the full scan.
    */
  def carrierSuperset(store: SonarStore, groups: Seq[SonarMatch.ExplicitGroup],
      cap: Int, minProfileBytes: Long = SonarStore.IndexMinProfileBytes): Option[Seq[String]] =
    lookup(store, groups, cap, minProfileBytes).toOption

  /** [[carrierSuperset]] with the reason it declined: Left of a
    * [[MatchPlan]] reason (no include profile, below floor, no fresh index,
    * hot token, over cap). The bail-outs run cheapest first: the floor is
    * priced from one listing of `profile` before any META or footer read,
    * so a store below it pays no Spark job and no file read to decide; the
    * hot-token check needs only META. One token-range-pruned index job for
    * the ≤64-token common case (pricing + fetch together); two for
    * degenerate many-token queries.
    */
  private[covsonar] def lookup(store: SonarStore, groups: Seq[SonarMatch.ExplicitGroup],
      cap: Int, minProfileBytes: Long): Either[String, Seq[String]] = {
    // Mirror profileGroupsCondition: token-less groups drop out of the OR;
    // if ALL groups are token-less there is no include condition to prune on.
    val effective0 = groups.map(coversFor).filter(_.nonEmpty)
    if (effective0.isEmpty) return Left(MatchPlan.NoIncludeProfile)
    if (belowFloor(store, minProfileBytes)) return Left(MatchPlan.BelowFloor)
    val meta = freshMeta(store).getOrElse(return Left(MatchPlan.NoFreshIndex))

    // Hot-token short-circuit: a cover touching a hot (over-build-cap)
    // token can never be fetched. Dropping those covers driver-side means
    // the commonest unindexable shape — "match -i <lineage-defining
    // variant>" — bails to the full scan with ZERO Spark jobs spent.
    // With an overflowed hot list the short-circuit is unavailable and the
    // pricing job below rejects hot covers instead (stored n > buildCap).
    val effective =
      if (meta.hotOverflow) effective0
      else effective0.map(_.filterNot(_.exists(meta.hotTokens.contains)))
    if (effective.exists(_.isEmpty)) return Left(MatchPlan.HotToken)

    val spark = store.spark
    val idx = spark.read.parquet(tokensPath(store).toString)
    val allTokens = effective.flatten.flatten.distinct

    // Typical queries name a handful of tokens (X/N ambiguity expansion
    // tops out around a few dozen): ONE index job prices and fetches
    // together — over-cap tokens store NULL carrier arrays, so pulling the
    // carriers column for every candidate costs no array bytes for them.
    // Degenerate many-token queries fall back to the two-phase form whose
    // fetch pulls only the chosen covers.
    val singlePass = allTokens.size <= 64
    val rows =
      if (singlePass)
        idx.filter(col("token").isin(allTokens: _*))
          .select("token", "n", "carriers").collect()
      else
        idx.filter(col("token").isin(allTokens: _*))
          .select("token", "n").collect()
    val counts: Map[String, Long] =
      rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    // absent token → 0 carriers → its cover is free and prunes to nothing;
    // tokens hotter than the BUILD cap have no stored carrier list and can
    // never be fetched, so covers using them are invalid
    def cost(cover: Seq[String]): Long = cover.map(counts.getOrElse(_, 0L)).sum
    def valid(cover: Seq[String]): Boolean =
      cover.forall(t => counts.getOrElse(t, 0L) <= meta.buildCap)
    val chosen = effective.map { covers =>
      val usable = covers.filter(valid)
      if (usable.isEmpty) return Left(MatchPlan.HotToken)
      usable.minBy(cost)
    }
    // Σ of per-cover costs over-counts shared carriers — still a sound bound
    if (chosen.map(cost).sum > cap) return Left(MatchPlan.OverCap)

    val fetch = chosen.flatten.distinct.filter(counts.contains) // absent → no row, no carriers
    if (fetch.isEmpty) return Right(Nil)
    val fetched =
      if (singlePass) rows.filter(r => fetch.contains(r.getString(0)))
        .map(r => r.getString(0) -> r.getSeq[String](2))
      else idx.filter(col("token").isin(fetch: _*))
        .select("token", "carriers")
        .collect().map(r => r.getString(0) -> r.getSeq[String](1))
    // hard invariant, never silent: every priced-as-fetchable token must
    // come back with its materialized list
    val byToken = fetched.toMap
    fetch.foreach { t =>
      require(byToken.get(t).exists(_ != null),
        s"token index inconsistent for $t — rebuild with SonarOps.optimize")
    }
    Right(fetch.flatMap(byToken(_)).distinct)
  }
}
