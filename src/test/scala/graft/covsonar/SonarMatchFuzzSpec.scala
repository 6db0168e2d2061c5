package graft.covsonar

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import scala.util.Random

/** Property fuzz for the flagship `match` query: a random store and random
  * predicate combinations, checked against an independent in-memory
  * evaluation of the reference semantics (lib/sonardb.py:1682-2006) —
  * include/exclude lists with SQL three-valued NULL behavior, OR-of-AND
  * profile groups (exclude groups OR-joined too, matching the reference's
  * assembly at lib/sonardb.py:1927-1976), lexical date ranges, ct ranges,
  * and the frameshift tri-state.
  *
  * Tokens deliberately avoid trailing N/X so the search_all connector flip
  * and ambiguity expansion stay out of scope here — those have their own
  * goldens (SonarAmbigSpec); this spec targets the predicate-assembly
  * combinatorics no golden file can cover.
  */
class SonarMatchFuzzSpec extends SparkSpec {

  private case class G(acc: String, lineage: String, zip: String, date: String,
      lab: String, ct: java.lang.Double,
      dna: Set[String], aa: Set[String], fs: Set[String])

  private val dnaPool = Vector("C241T", "A3451T", "G1820A", "T5000A", "del:11288:9")
  // symbols must come from the GFF3 gene= set (ORF1a/ORF1b/S/…), exactly as
  // the reference's aa_var_regex requires (lib/sonardb.py:2263-2278)
  private val aaPool = Vector("S:N501Y", "S:E484K", "ORF1a:del:3001:21")
  private val linPool = Vector("B.1.1.7", "B.1.617.2", "AY.4", null)
  private val zipPool = Vector("01778", "01776", "03385", null)
  private val datePool = Vector("2021-01-05", "2021-02-10", "2021-03-15", null)
  private val labPool = Vector("L1", "L2", "")

  private def buildStore(rnd: Random, n: Int): (SonarStore, Seq[G]) = {
    val gs = (0 until n).map { i =>
      G(s"acc$i", linPool(rnd.nextInt(linPool.size)), zipPool(rnd.nextInt(zipPool.size)),
        datePool(rnd.nextInt(datePool.size)), labPool(rnd.nextInt(labPool.size)),
        if (rnd.nextBoolean()) Double.box(15.0 + rnd.nextInt(25)) else null,
        dnaPool.filter(_ => rnd.nextBoolean()).toSet,
        aaPool.filter(_ => rnd.nextBoolean()).toSet,
        if (rnd.nextInt(3) == 0) Set("del:11288:9") else Set.empty)
    }
    val store = new SonarStore(spark, Files.createTempDirectory("fuzz").toString)
    val gSchema = SonarStore.schemas("genome")
    val gRows = gs.map { g =>
      Row("" + g.acc, "d", s"hash-${g.acc}", g.lineage, g.zip, g.date, null, null, null,
        "", "", g.lab, "", "", "", "", "", "", g.ct,
        new java.sql.Timestamp(1700000000000L))
    }
    store.append("genome",
      spark.createDataFrame(spark.sparkContext.parallelize(gRows, 2), gSchema))
    val pSchema = SonarStore.schemas("profile")
    val pRows = gs.map(g =>
      Row(s"hash-${g.acc}", g.dna.toSeq.sorted, g.aa.toSeq.sorted, g.fs.toSeq.sorted))
    store.append("profile",
      spark.createDataFrame(spark.sparkContext.parallelize(pRows, 2), pSchema))
    (store, gs)
  }

  /** Reference-semantics evaluation of one MatchArgs over the in-memory rows. */
  private def expected(gs: Seq[G], a: MatchArgs): Set[String] = {
    def split(vs: Seq[String]) =
      (vs.filterNot(_.startsWith("^")), vs.filter(_.startsWith("^")).map(_.substring(1)))
    def inOk(v: String, vals: Seq[String]): Boolean = {
      val (inc, exc) = split(vals)
      (inc.isEmpty || (v != null && inc.contains(v))) &&
        (exc.isEmpty || (v != null && !exc.contains(v)))
    }
    def zipOk(v: String): Boolean = {
      val (inc, exc) = split(a.zips)
      (inc.isEmpty || (v != null && inc.exists(v.startsWith))) &&
        (exc.isEmpty || (v != null && exc.forall(p => !v.startsWith(p))))
    }
    def dateOk(v: String): Boolean = {
      def hit(d: String) =
        if (d.contains(":")) { val Array(x, y) = d.split(":", 2); v >= x && v <= y }
        else v == d
      val (inc, exc) = split(a.dates)
      (inc.isEmpty || (v != null && inc.exists(hit))) &&
        (exc.isEmpty || (v != null && exc.forall(d => !hit(d))))
    }
    def groupHit(g: G, group: Seq[String]): Boolean = {
      val (dna, aa) = group.partition(SonarMatch.isDnaVar)
      dna.forall(g.dna.contains) && aa.forall(g.aa.contains)
    }
    def groupAbsent(g: G, group: Seq[String]): Boolean = {
      val (dna, aa) = group.partition(SonarMatch.isDnaVar)
      dna.forall(t => !g.dna.contains(t)) && aa.forall(t => !g.aa.contains(t))
    }
    gs.filter { g =>
      inOk(g.lineage, a.lineages) && inOk(g.lab, a.labs) && zipOk(g.zip) &&
        dateOk(g.date) &&
        a.minCt.forall(v => g.ct != null && g.ct >= v) &&
        a.maxCt.forall(v => g.ct != null && g.ct <= v) &&
        (a.profiles.isEmpty || a.profiles.exists(groupHit(g, _))) &&
        (a.excludeProfiles.isEmpty || a.excludeProfiles.exists(groupAbsent(g, _))) &&
        (a.frameshifts match {
          case -1 => g.fs.isEmpty
          case 1 => g.fs.nonEmpty
          case _ => true
        })
    }.map(_.acc).toSet
  }

  private def randomArgs(rnd: Random): MatchArgs = {
    def pick[T](pool: Vector[T], max: Int): Seq[T] =
      Seq.fill(rnd.nextInt(max + 1))(pool(rnd.nextInt(pool.size))).distinct
    def maybeNeg(vs: Seq[String]): Seq[String] =
      vs.map(v => if (rnd.nextInt(3) == 0) "^" + v else v)
    val tokenPool = dnaPool ++ aaPool
    def groups(max: Int): Seq[Seq[String]] =
      Seq.fill(rnd.nextInt(max + 1))(pick(tokenPool, 2)).filter(_.nonEmpty)
    MatchArgs(
      profiles = groups(2),
      excludeProfiles = groups(1),
      lineages = maybeNeg(pick(linPool.filter(_ != null), 2)),
      zips = maybeNeg(pick(Vector("0177", "017", "03"), 1)),
      dates = maybeNeg(pick(Vector("2021-01-05", "2021-01-01:2021-02-28"), 1)),
      labs = maybeNeg(pick(labPool.filter(_.nonEmpty), 1)),
      minCt = if (rnd.nextInt(3) == 0) Some(15.0 + rnd.nextInt(15)) else None,
      maxCt = if (rnd.nextInt(3) == 0) Some(25.0 + rnd.nextInt(15)) else None,
      frameshifts = rnd.nextInt(3) - 1)
  }

  test("40 random predicate combinations match the in-memory reference semantics") {
    val rnd = new Random(20260812L)
    val (store, gs) = buildStore(rnd, 60)
    (1 to 40).foreach { trial =>
      val args = randomArgs(rnd)
      val got = SonarMatch.matchGenomes(store, args)
        .select("accession").collect().map(_.getString(0)).toSet
      val want = expected(gs, args)
      assert(got == want,
        s"trial $trial diverged for $args\n  missing: ${want -- got}\n  extra: ${got -- want}")
    }
  }

  test("same battery on an optimized store: the token-index pruned path is exact") {
    val rnd = new Random(20260816L)
    val (store, gs) = buildStore(rnd, 60)
    // clustered rewrite + token index → include-profile trials take the
    // carrier-pruned plan (store-size floor 0: the default floor sends a
    // store this small to the full scan); a tiny carrier cap on some
    // trials forces the fallback path through the same assertions
    SonarOps.optimize(store, maxFilesPerTable = 3)
    var indexedTrials = 0
    (1 to 40).foreach { trial =>
      val cap = if (trial % 7 == 0) 1 else SonarStore.CarrierPlanCap
      val args = randomArgs(rnd)
      val (df, plan) = SonarMatch.matchWithPlan(store, args, cap, 0L)
      val got = df.select("accession").collect().map(_.getString(0)).toSet
      val want = expected(gs, args)
      assert(got == want,
        s"indexed trial $trial diverged for $args\n  missing: ${want -- got}\n  extra: ${got -- want}")
      // the index is fresh and the floor is off: only the query itself
      // (no include profile, a hot token, the carrier cap) can decline it
      assert(plan.tier != MatchPlan.FullScan || Set(MatchPlan.NoIncludeProfile,
        MatchPlan.HotToken, MatchPlan.OverCap).contains(plan.reason), s"trial $trial: $plan")
      if (plan.tier != MatchPlan.FullScan) indexedTrials += 1
    }
    assert(indexedTrials > 0, "no trial took an index tier")
  }
}
