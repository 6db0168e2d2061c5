package graft.covsonar

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The inverted token→seqhash index behind rare-variant match data skipping:
  * build/freshness lifecycle, carrier-superset derivation (AND / search_all
  * OR / mixed groups, cap fallback), exact-safety of the pruned plan against
  * the full-scan plan, the physical pushdown (carrier IN list reaching
  * both parquet scans) and the store-size floor. These stores are far
  * below the default floor, so the indexed sides pass floor 0.
  */
class TokenIndexSpec extends SparkSpec {

  // 40 genomes; token t_i carried by a controlled subset so selectivities
  // are known: RARE in 3, MID in 12, COMMON in all, ABSENT in none.
  private val Rare = "A100T"
  private val Mid = "C241T"
  private val Common = "G3000A"
  private val Absent = "T9999G"
  private val RareAa = "S:N501Y"
  private val Del = "del:500:3"

  private def buildStore(): SonarStore = {
    val store = new SonarStore(spark, Files.createTempDirectory("tokidx").toString)
    val gSchema = SonarStore.schemas("genome")
    val gRows = (0 until 40).map { i =>
      Row(s"acc$i", "d", f"hash$i%03d", if (i % 2 == 0) "B.1.1.7" else "AY.4",
        "01778", "2021-01-05", null, null, null, "", "", s"L${i % 3}", "", "", "",
        "", "", "", Double.box(20.0 + i % 10), new java.sql.Timestamp(1700000000000L))
    }
    store.append("genome",
      spark.createDataFrame(spark.sparkContext.parallelize(gRows, 2), gSchema))
    val pSchema = SonarStore.schemas("profile")
    val pRows = (0 until 40).map { i =>
      val dna = Seq(Common) ++
        (if (i < 3) Seq(Rare) else Nil) ++
        (if (i % 3 == 0) Seq(Mid) else Nil) ++
        (if (i % 5 == 0) Seq(Del) else Nil)
      val aa = if (i >= 1 && i < 4) Seq(RareAa) else Nil
      Row(f"hash$i%03d", dna.sorted, aa, Seq.empty[String])
    }
    store.append("profile",
      spark.createDataFrame(spark.sparkContext.parallelize(pRows, 2), pSchema))
    store
  }

  private def accs(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select("accession").collect().map(_.getString(0)).toSet

  /** The same match with the index lookup skipped: the full essence scan. */
  private def fullScan(store: SonarStore, args: MatchArgs) =
    SonarMatch.matchWithPlan(store, args, 0, 0L)._1

  /** The match with the store-size floor off, so the index is priced on
    * these tiny stores, which the default floor sends to the full scan.
    */
  private def forced(store: SonarStore, args: MatchArgs) =
    SonarMatch.matchWithPlan(store, args, SonarStore.CarrierPlanCap, 0L)

  /** [[forced]], asserting that it took one of the two index tiers. */
  private def indexed(store: SonarStore, args: MatchArgs) = {
    val (df, plan) = forced(store, args)
    assert(plan.tier != MatchPlan.FullScan, s"expected an index tier for $args, got $plan")
    df
  }

  /** [[forced]], asserting that the index declined for `reason`. */
  private def declined(store: SonarStore, args: MatchArgs, reason: String) = {
    val (df, plan) = forced(store, args)
    assert(plan == MatchPlan(MatchPlan.FullScan, None, reason), s"for $args")
    df
  }

  private def groupsOf(profiles: Seq[Seq[String]]) =
    SonarMatch.fixXNSearch(profiles).map(SonarMatch.makeExplicit)

  test("build → fresh; profile append → stale; rebuild → fresh again") {
    val store = buildStore()
    assert(!TokenIndex.isFresh(store), "no index built yet")
    SonarOps.optimize(store, maxFilesPerTable = 4)
    assert(TokenIndex.isFresh(store))
    // any profile mutation invalidates
    store.append("profile", store.table("profile").limit(0))
    assert(!TokenIndex.isFresh(store))
    TokenIndex.build(store, 4)
    assert(TokenIndex.isFresh(store))
  }

  test("carrier superset: AND group resolves via its rarest token") {
    val store = buildStore()
    SonarOps.optimize(store, 4)
    val groups = SonarMatch.fixXNSearch(Seq(Seq(Rare, Common))).map(SonarMatch.makeExplicit)
    val carriers = TokenIndex.carrierSuperset(store, groups, cap = 10000, minProfileBytes = 0).get
    // the AND of (3-carrier, 40-carrier) tokens must be priced through the
    // rare one — exactly its 3 carriers, not all 40
    assert(carriers.toSet == Set("hash000", "hash001", "hash002"))
  }

  test("carrier superset: OR groups union; absent tokens cost nothing") {
    val store = buildStore()
    SonarOps.optimize(store, 4)
    val groups = SonarMatch.fixXNSearch(Seq(Seq(Rare), Seq(Absent)))
      .map(SonarMatch.makeExplicit)
    val carriers = TokenIndex.carrierSuperset(store, groups, cap = 10000, minProfileBytes = 0).get
    assert(carriers.toSet == Set("hash000", "hash001", "hash002"))
  }

  test("cap exceeded / stale index / exclude-only → no pruning, same results") {
    val store = buildStore()
    SonarOps.optimize(store, 4)
    val groups = SonarMatch.fixXNSearch(Seq(Seq(Common))).map(SonarMatch.makeExplicit)
    assert(TokenIndex.carrierSuperset(store, groups, cap = 10, minProfileBytes = 0).isEmpty,
      "40 carriers must exceed a cap of 10")
    // exclude-only queries have no include groups to prune on
    val exOnly = MatchArgs(excludeProfiles = Seq(Seq(Rare)))
    assert(accs(declined(store, exOnly, MatchPlan.NoIncludeProfile)) ==
      accs(fullScan(store, exOnly)))
    // stale: append then match — must fall back, not mis-prune
    store.append("profile", spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("hashXYZ", Seq(Rare), Seq.empty[String], Seq.empty[String]))),
      SonarStore.schemas("profile")))
    store.append("genome", store.table("genome").limit(1)
      .withColumn("accession", lit("accXYZ")).withColumn("seqhash", lit("hashXYZ")))
    val args = MatchArgs(profiles = Seq(Seq(Rare)))
    val got = accs(declined(store, args, MatchPlan.NoFreshIndex))
    assert(got.contains("accXYZ"), s"stale index must not hide new rows: $got")
    assert(got == accs(fullScan(store, args)))
  }

  private val goldenShapes = Seq(
    MatchArgs(profiles = Seq(Seq(Rare))),
    MatchArgs(profiles = Seq(Seq(RareAa))),
    MatchArgs(profiles = Seq(Seq(Rare, RareAa))), // dna+aa AND across levels
    MatchArgs(profiles = Seq(Seq(Mid), Seq(Rare))), // OR groups
    MatchArgs(profiles = Seq(Seq(Del))),
    MatchArgs(profiles = Seq(Seq(Absent))), // empty carrier set → 0 rows
    MatchArgs(profiles = Seq(Seq(Rare)), excludeProfiles = Seq(Seq(Mid))),
    MatchArgs(profiles = Seq(Seq(Rare)), lineages = Seq("B.1.1.7"),
      minCt = Some(20.0)),
    // trailing-N dna token: search_all OR-mode + ambiguity expansion
    MatchArgs(profiles = Seq(Seq("A100N"))),
    // trailing-X aa token
    MatchArgs(profiles = Seq(Seq("S:N501X"))))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("pruned results are byte-identical to full-scan across golden shapes") {
    val store = buildStore()
    SonarOps.optimize(store, 4)
    goldenShapes.foreach { args =>
      assert(rows(indexed(store, args)) == rows(fullScan(store, args)), s"pruned≠full for $args")
    }
    assert(accs(indexed(store, MatchArgs(profiles = Seq(Seq(Absent))))).isEmpty)
  }

  test("at the default floor a tiny store takes the full scan, priced with zero Spark jobs") {
    val store = buildStore()
    SonarOps.optimize(store, 4)
    assert(TokenIndex.isFresh(store))
    assert(TokenIndex.belowFloor(store))
    val args = MatchArgs(profiles = Seq(Seq(Rare)))
    assert(TokenIndex.carrierSuperset(store, groupsOf(args.profiles), cap = 10000).isEmpty)
    val meter = graft.TaskTotals.attach(spark.sparkContext)
    try {
      val priced = meter.within("priced")(SonarMatch.matchWithPlan(store, args)._2)
      val forcedPlan = meter.within("forced")(forced(store, args)._2)
      meter.settle()
      assert(priced == MatchPlan(MatchPlan.FullScan, None, MatchPlan.BelowFloor))
      assert(meter("priced").jobs == 0, "pricing below the floor must start no Spark job")
      // the same plan with the floor off reads the index: one job at least
      assert(forcedPlan == MatchPlan(MatchPlan.InPushdown, Some(3), MatchPlan.Indexed))
      assert(meter("forced").jobs >= 1)
    } finally meter.detach()
  }

  test("forced and priced results are byte-identical on every golden shape") {
    val store = buildStore()
    SonarOps.optimize(store, 4)
    goldenShapes.foreach { args =>
      assert(rows(indexed(store, args)) == rows(SonarMatch.matchGenomes(store, args)),
        s"forced≠priced for $args")
    }
  }

  test("over-pushdown-cap carrier sets take the broadcast semi-join branch, same rows") {
    val store = buildStore()
    SonarOps.optimize(store, 4)
    // 600 carriers (> CarrierPushdownCap=512): 40 real + fakes — the
    // semi-join plan must agree with the plain filtered essence
    val hashes = (0 until 40).map(i => f"hash$i%03d") ++ (0 until 560).map(i => s"nope$i")
    val semi = store.essenceForSeqhashes(hashes)
    val plan = semi.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.toLowerCase.contains("leftsemi"),
      s"expected broadcast semi join for ${hashes.size} carriers:\n$plan")
    val expect = store.essence.filter(col("seqhash").isInCollection(hashes))
      .collect().map(_.toString).sorted.toSeq
    assert(semi.collect().map(_.toString).sorted.toSeq == expect)
  }

  test("carrier IN list is pushed into both parquet scans") {
    val store = buildStore()
    SonarOps.optimize(store, 4)
    val plan = indexed(store, MatchArgs(profiles = Seq(Seq(Rare))))
      .queryExecution.executedPlan.toString
    val scansWithIn = plan.linesIterator
      .filter(_.contains("PushedFilters"))
      .count(_.contains("In(seqhash"))
    assert(scansWithIn >= 2, s"expected carrier IN pushed to genome AND profile scans:\n$plan")
  }

  test("property fuzz: carrier superset ⊇ true matching seqhashes for random groups") {
    // the load-bearing invariant: for ANY include-group structure (AND
    // groups, N/X search_all flips, ambiguity expansions, absent tokens),
    // the derived carrier set must contain every seqhash whose profile
    // satisfies the group condition — a miss here silently drops matches
    val store = buildStore()
    SonarOps.optimize(store, 4)
    val rnd = new scala.util.Random(20260816L)
    val tokenPool = Vector(Rare, Mid, Common, Absent, RareAa, Del, "A100N", "S:N501X", "C241T")
    val profByHash: Map[String, (Set[String], Set[String])] =
      store.table("profile").collect().map { r =>
        r.getString(0) -> ((r.getSeq[String](1).toSet, r.getSeq[String](2).toSet))
      }.toMap
    (1 to 60).foreach { trial =>
      val groups0 = Seq.fill(1 + rnd.nextInt(3))(
        Seq.fill(1 + rnd.nextInt(3))(tokenPool(rnd.nextInt(tokenPool.size))).distinct)
      val explicit = SonarMatch.fixXNSearch(groups0).map(SonarMatch.makeExplicit)
      TokenIndex.carrierSuperset(store, explicit, cap = 10000, minProfileBytes = 0).foreach { carriers =>
        // reference evaluation of the include condition per profile row
        def sideOk(have: Set[String], want: Seq[String], searchAllMark: Char): Boolean =
          if (want.isEmpty) true
          else if (want.exists(t => t.nonEmpty && t.last == searchAllMark))
            want.exists(have.contains)
          else want.forall(have.contains)
        val trueMatches = profByHash.collect {
          case (h, (dna, aa)) if explicit.exists(g =>
            (g.dna.nonEmpty || g.aa.nonEmpty) &&
              sideOk(dna, g.dna, 'N') && sideOk(aa, g.aa, 'X')) => h
        }.toSet
        val missed = trueMatches -- carriers.toSet
        assert(missed.isEmpty,
          s"trial $trial: carrier superset missed $missed for $groups0")
      }
    }
  }

  private def profileSig(store: SonarStore): String =
    graft.Tables.listingSignature(spark, store.dir + "/profile")

  private def appendRows(store: SonarStore, rows: Seq[Row]): Unit = {
    store.append("profile", spark.createDataFrame(
      spark.sparkContext.parallelize(rows), SonarStore.schemas("profile")))
    rows.foreach { r =>
      store.append("genome", store.table("genome").limit(1)
        .withColumn("accession", lit("acc_" + r.getString(0)))
        .withColumn("seqhash", lit(r.getString(0))))
    }
  }

  test("incremental merge: append stays indexed without a full optimize") {
    val store = buildStore()
    SonarOps.optimize(store, 4)
    val preSig = profileSig(store)
    // one new carrier of Rare, one brand-new token never seen at build time
    appendRows(store, Seq(
      Row("hashNEW", Seq(Rare, "T7777A").sorted, Seq(RareAa), Seq.empty[String])))
    assert(!TokenIndex.isFresh(store), "append must invalidate before the merge")
    assert(TokenIndex.merge(store,
      store.table("profile").filter(col("seqhash") === "hashNEW"), preSig))
    assert(TokenIndex.isFresh(store), "merge must restore freshness")
    // the merged index must resolve the NEW carrier (a stale-superset index
    // would merely not lose rows; the merge must actually gain them)
    val groups = SonarMatch.fixXNSearch(Seq(Seq(Rare))).map(SonarMatch.makeExplicit)
    val carriers = TokenIndex.carrierSuperset(store, groups, cap = 10000, minProfileBytes = 0).get
    assert(carriers.toSet == Set("hash000", "hash001", "hash002", "hashNEW"))
    val fresh = SonarMatch.fixXNSearch(Seq(Seq("T7777A"))).map(SonarMatch.makeExplicit)
    assert(TokenIndex.carrierSuperset(store, fresh, cap = 10000, minProfileBytes = 0).get ==
      Seq("hashNEW"))
    // and results stay byte-identical to the full scan
    Seq(MatchArgs(profiles = Seq(Seq(Rare))),
        MatchArgs(profiles = Seq(Seq("T7777A"))),
        MatchArgs(profiles = Seq(Seq(Rare, RareAa)))).foreach { args =>
      assert(rows(indexed(store, args)) == rows(fullScan(store, args)),
        s"pruned≠full after merge for $args")
    }
  }

  test("incremental merge: a token crossing the build cap becomes hot, monotonically") {
    val store = buildStore()
    SonarOps.optimize(store, 4)
    TokenIndex.build(store, 4, buildCap = 15) // Mid has 14 ≤ 15 carriers: indexed
    val preSig = profileSig(store)
    assert(TokenIndex.carrierSuperset(store, groupsOf(Seq(Seq(Mid))), 10000, 0L).isDefined)
    // two new Mid carriers push it to 16 > 15 → hot after the merge
    appendRows(store, Seq(
      Row("hashM1", Seq(Mid), Seq.empty[String], Seq.empty[String]),
      Row("hashM2", Seq(Mid), Seq.empty[String], Seq.empty[String])))
    assert(TokenIndex.merge(store,
      store.table("profile").filter(col("seqhash").isin("hashM1", "hashM2")), preSig))
    assert(TokenIndex.isFresh(store))
    assert(TokenIndex.hotTokens(store).contains("d:" + Mid),
      "crossing token must land on the META hot list without a rebuild")
    assert(TokenIndex.carrierSuperset(store, groupsOf(Seq(Seq(Mid))), 10000, 0L).isEmpty,
      "hot token in every cover → no pruning")
    val args = MatchArgs(profiles = Seq(Seq(Mid)))
    val got = accs(declined(store, args, MatchPlan.HotToken))
    assert(got == accs(fullScan(store, args)))
    assert(got.contains("acc_hashM1"))
  }

  test("merge refuses when the stored index doesn't cover the pre-append table") {
    val store = buildStore()
    SonarOps.optimize(store, 4)
    // an UN-merged append lands first (external writer, crashed batch):
    // the live index covers neither it nor anything after. A later ingest
    // that captures its own (correct) pre-append signature must be refused
    // — merging its increment alone would stamp fresh over a hole.
    appendRows(store, Seq(Row("hashA1", Seq(Rare), Seq.empty[String], Seq.empty[String])))
    val sig1 = profileSig(store) // correct pre-append signature for batch 2
    appendRows(store, Seq(Row("hashA2", Seq(Rare), Seq.empty[String], Seq.empty[String])))
    assert(!TokenIndex.merge(store,
      store.table("profile").filter(col("seqhash") === "hashA2"), sig1),
      "stored signature predates sig1 — merge must refuse")
    assert(!TokenIndex.isFresh(store))
    // full-scan fallback still returns everything
    val got = accs(declined(store, MatchArgs(profiles = Seq(Seq(Rare))), MatchPlan.NoFreshIndex))
    assert(got.contains("acc_hashA1") && got.contains("acc_hashA2"))
  }

  test("hot-list overflow: META stays bounded, pricing rejects hot covers, results exact") {
    val store = buildStore()
    SonarOps.optimize(store, 4)
    // buildCap=1: every multi-carrier token is hot (adversarial all-hot
    // vocabulary); hotListCap=2 forces the overflow form
    TokenIndex.build(store, 4, buildCap = 1, hotListCap = 2)
    assert(TokenIndex.isFresh(store), "overflowed META must still parse as fresh")
    assert(TokenIndex.hotTokens(store).isEmpty, "overflow stores no token list")
    val metaLines = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(store.dir, TokenIndex.DirName, "META")), "UTF-8")
      .linesIterator.toList
    assert(metaLines.count(_.nonEmpty) == 4 && metaLines.exists(_.startsWith("hot=overflow:")),
      s"overflowed META must be count-only (no token lines): $metaLines")
    // Common (40 carriers > 1) must be rejected by PRICING, not the META list
    assert(TokenIndex.carrierSuperset(store, groupsOf(Seq(Seq(Common))), 10000, 0L).isEmpty)
    // and matches stay exact across shapes under the overflowed index
    Seq(MatchArgs(profiles = Seq(Seq(Common))),
        MatchArgs(profiles = Seq(Seq(Rare))),
        MatchArgs(profiles = Seq(Seq(Rare), Seq(Mid)))).foreach { args =>
      assert(accs(declined(store, args, MatchPlan.HotToken)) ==
        accs(fullScan(store, args)), s"diverged for $args")
    }
    // merge under an overflowed META keeps working and stays overflowed
    val preSig = profileSig(store)
    appendRows(store, Seq(Row("hashOV", Seq(Rare), Seq.empty[String], Seq.empty[String])))
    assert(TokenIndex.merge(store,
      store.table("profile").filter(col("seqhash") === "hashOV"), preSig, hotListCap = 2))
    assert(TokenIndex.isFresh(store))
    val args = MatchArgs(profiles = Seq(Seq(Rare)))
    assert(accs(forced(store, args)._1) == accs(fullScan(store, args)))
  }

  test("SonarIngest.add keeps a fresh index fresh end-to-end (merge wired in)") {
    val store = buildStore()
    SonarOps.optimize(store, 4)
    assert(TokenIndex.isFresh(store))
    // a real FASTA-shaped ingest: one novel sequence → new profile rows.
    // Position 100 sits in the 5' UTR (ORF1ab starts at 266): a clean SNP,
    // no aa/frameshift side effects.
    val seq = Reference.sarsCov2.refSeq
    val refBase = seq.charAt(99)
    val alt = if (refBase == 'T') 'G' else 'T'
    val token = s"${refBase}100$alt"
    val mutated = seq.substring(0, 99) + alt + seq.substring(100)
    val recs = SonarIngest.fromSequences(spark, Seq(("ING1", "ING1 via add", mutated)))
    val report = SonarIngest.add(store, recs)
    assert(report.genomesAdded == 1 && report.sequencesAdded == 1)
    assert(TokenIndex.isFresh(store),
      "add() must merge the increment instead of leaving the index stale")
    // the ingested genome's variant is immediately index-served
    val got = indexed(store, MatchArgs(profiles = Seq(Seq(token))))
    assert(accs(got).contains("ING1"))
    assert(accs(got) == accs(fullScan(store,
      MatchArgs(profiles = Seq(Seq(token))))))
  }

  test("remove restamps: index survives a delete without rebuild, results exact") {
    val store = buildStore()
    SonarOps.optimize(store, 4)
    assert(TokenIndex.isFresh(store))
    // remove two Rare carriers (acc0/acc1 → orphaned hash000/hash001: their
    // profile rows leave the table; the index keeps stale supersets)
    SonarOps.remove(store, Seq("acc0", "acc1"))
    assert(TokenIndex.isFresh(store),
      "remove must restamp the index, not leave it stale")
    val groups = SonarMatch.fixXNSearch(Seq(Seq(Rare))).map(SonarMatch.makeExplicit)
    // carriers stay a SUPERSET (stale hash000/hash001 retained) — exactness
    // comes from the essence scans finding nothing for removed seqhashes
    val carriers = TokenIndex.carrierSuperset(store, groups, cap = 10000, minProfileBytes = 0).get
    assert(Set("hash000", "hash001", "hash002").subsetOf(carriers.toSet))
    val args = MatchArgs(profiles = Seq(Seq(Rare)))
    val got = accs(indexed(store, args))
    assert(got == Set("acc2"), s"only the surviving carrier remains: $got")
    assert(got == accs(fullScan(store, args)))
    // and a subsequent APPEND still merges on top of the restamped index
    val preSig = profileSig(store)
    appendRows(store, Seq(
      Row("hashRM1", Seq(Rare), Seq.empty[String], Seq.empty[String])))
    assert(TokenIndex.merge(store,
      store.table("profile").filter(col("seqhash") === "hashRM1"), preSig))
    val got2 = accs(indexed(store, args))
    assert(got2 == Set("acc2", "acc_hashRM1"))
    assert(got2 == accs(fullScan(store, args)))
  }

  test("repeated and no-op removes keep restamping; empty carrier tokens stay exact") {
    val store = buildStore()
    SonarOps.optimize(store, 4)
    // two successive removes take out every Rare carrier
    SonarOps.remove(store, Seq("acc0"))
    SonarOps.remove(store, Seq("acc1", "acc2"))
    assert(TokenIndex.isFresh(store))
    val args = MatchArgs(profiles = Seq(Seq(Rare)))
    assert(accs(indexed(store, args)).isEmpty)
    assert(accs(fullScan(store, args)).isEmpty)
    // a remove that matches nothing still rewrites the tables (new listing)
    // and must restamp rather than strand the index
    SonarOps.remove(store, Seq("no-such-accession"))
    assert(TokenIndex.isFresh(store),
      "no-op remove rewrites files; the restamp must follow the new listing")
    val mid = MatchArgs(profiles = Seq(Seq(Mid)))
    assert(accs(indexed(store, mid)) == accs(fullScan(store, mid)))
  }

  test("removing every genome drops the index; empty store matches stay exact") {
    val store = buildStore()
    SonarOps.optimize(store, 4)
    SonarOps.remove(store, (0 until 40).map(i => s"acc$i"))
    // an empty profile table reads as "no index" territory: whether the
    // empty rewrite left part files or not, matches must be exact and empty
    val args = MatchArgs(profiles = Seq(Seq(Rare)))
    assert(accs(forced(store, args)._1).isEmpty)
    assert(accs(fullScan(store, args)).isEmpty)
    assert(accs(forced(store, MatchArgs())._1).isEmpty)
  }

  test("remove refuses the restamp when the index was already stale") {
    val store = buildStore()
    SonarOps.optimize(store, 4)
    // un-merged external append → stale BEFORE the remove
    appendRows(store, Seq(Row("hashST", Seq(Rare), Seq.empty[String], Seq.empty[String])))
    assert(!TokenIndex.isFresh(store))
    SonarOps.remove(store, Seq("acc0"))
    assert(!TokenIndex.isFresh(store),
      "restamp over a stale index would stamp fresh over a hole")
    // full-scan fallback still exact
    val args = MatchArgs(profiles = Seq(Seq(Rare)))
    val got = accs(declined(store, args, MatchPlan.NoFreshIndex))
    assert(got == Set("acc1", "acc2", "acc_hashST"))
  }

  test("fuzz battery stays reference-exact on an optimized (indexed) store") {
    // reuse the golden shapes over a store whose tables went through the
    // clustered rewrite + bloom options — guards the physical layout path
    val store = buildStore()
    SonarOps.optimize(store, 3, rowGroupBytes = Some(1L << 20))
    val args = MatchArgs(profiles = Seq(Seq(Rare, Common), Seq(Mid)),
      lineages = Seq("B.1.1.7", "^AY.4"))
    assert(accs(indexed(store, args)) == accs(fullScan(store, args)))
  }
}
