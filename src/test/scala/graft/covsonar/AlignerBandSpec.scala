package graft.covsonar

import java.util.SplittableRandom
import java.util.concurrent.{Callable, Executors}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The seed-anchored band of [[Aligner.align]] against the fixed wide band
  * ([[Aligner.alignWide]], ±2048 around the start and end diagonals,
  * accepting edge paths): balanced indel pairs that an unanchored band cuts
  * off, a seeded parity fuzz over bench-style and roundtrip-style mutants,
  * and the cap on the per-thread traceback cache. Pure JVM, no Spark session.
  */
class AlignerBandSpec extends AnyFunSuite {

  private val ref = Reference.sarsCov2
  private val refSeq = ref.refSeq
  private val Bases = "ACGT"

  private def randomBases(r: SplittableRandom, n: Int): String =
    (0 until n).map(_ => Bases.charAt(r.nextInt(4))).mkString

  private def otherBase(r: SplittableRandom, b: Char): Char = {
    val alts = Bases.filterNot(_ == b)
    alts.charAt(r.nextInt(alts.length))
  }

  for (len <- Seq(70, 100, 300); insFirst <- Seq(true, false)) {
    val order = if (insFirst) "insertion then deletion" else "deletion then insertion"
    test(s"balanced $len bp indels 15 kb apart ($order) give exactly the two indel tokens") {
      val r = new SplittableRandom(len * 2L + (if (insFirst) 1 else 0))
      val (insAt, delAt) = if (insFirst) (5000, 20000) else (20000, 5000)
      val ins = randomBases(r, len)
      val seq = new java.lang.StringBuilder(refSeq)
      // right edit first so the left one's coordinates stay valid
      if (insAt > delAt) { seq.insert(insAt, ins); seq.delete(delAt, delAt + len) }
      else { seq.delete(delAt, delAt + len); seq.insert(insAt, ins) }
      val m = seq.toString
      assert(m.length == refSeq.length)

      val p = VariantCaller.processSequence(m, ref)
      val tokens = p.dnaProfile.split(" ").toSeq
      assert(tokens.size == 2, s"dna_profile: ${p.dnaProfile.take(300)}")
      assert(tokens.exists(_.matches(s"del:[0-9]+:$len")), p.dnaProfile)
      assert(tokens.exists(_.matches(s"[ACGT][0-9]+[ACGT]{${len + 1}}")), p.dnaProfile)

      val (aq, at) = Aligner.align(m, refSeq)
      val (wq, wt) = Aligner.alignWide(m, refSeq)
      assert(Aligner.alignmentScore(aq, at) == Aligner.alignmentScore(wq, wt))
      assert(p.dnaProfile == VariantCaller.buildProfile(VariantCaller.dnaVariants(wq, wt)))
      assert(SonarRestore.applyProfile(p.dnaProfile, refSeq) == m)
    }
  }

  /** Mutants shaped like the benchmark's ingest genomes: one of six
    * lineages' ten SNPs, 0–4 private SNPs, at most one of an in-frame
    * (3/6/9 bp) deletion, a frameshift (1–2 bp) deletion or a 1–3 bp
    * insertion, and sometimes a 20–200 bp N-run. Edits are drawn on
    * reference coordinates, kept apart, and applied right to left.
    */
  private def benchMutant(r: SplittableRandom, lineages: IndexedSeq[Seq[Int]]): String = {
    val edits = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)] // pos, del, ins
    val snps = lineages(r.nextInt(lineages.size)) ++ (0 until r.nextInt(5)).map(_ => 200 + r.nextInt(refSeq.length - 400))
    snps.foreach(p => edits += ((p, 1, otherBase(r, refSeq.charAt(p)).toString)))
    val at = 300 + r.nextInt(refSeq.length - 600)
    r.nextInt(4) match {
      case 0 => edits += ((at, 3 * (1 + r.nextInt(3)), ""))
      case 1 => edits += ((at, 1 + r.nextInt(2), ""))
      case 2 => edits += ((at, 0, randomBases(r, 1 + r.nextInt(3))))
      case _ =>
    }
    if (r.nextInt(3) == 0) {
      val len = 20 + r.nextInt(181)
      edits += ((300 + r.nextInt(refSeq.length - 600), len, "N" * len))
    }
    val kept = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    edits.sortBy(-_._1).foreach { e =>
      if (kept.isEmpty || e._1 + math.max(e._2, 1) + 2 < kept.last._1) kept += e
    }
    val sb = new java.lang.StringBuilder(refSeq)
    kept.foreach { case (p, d, s) => sb.replace(p, p + d, s) }
    sb.toString
  }

  /** Mutants shaped like [[AlignerRoundtripSpec]]'s (80 SNPs, four deletions
    * up to 15 bp, four insertions up to 8 bp, a 30 bp N-run). One in four
    * also carries a deletion or insertion of up to 61 bp or a 10–210 bp
    * tandem duplication, and one in four a leading insertion or a
    * truncation at either end.
    */
  private def roundtripMutant(r: SplittableRandom): String = {
    val sb = new java.lang.StringBuilder(refSeq)
    for (_ <- 0 until 80) sb.setCharAt(r.nextInt(sb.length), Bases.charAt(r.nextInt(4)))
    for (_ <- 0 until 4) { val p = r.nextInt(sb.length - 40); sb.delete(p, p + 1 + r.nextInt(15)) }
    for (_ <- 0 until 4) sb.insert(1 + r.nextInt(sb.length - 2), randomBases(r, 1 + r.nextInt(8)))
    val np = r.nextInt(sb.length - 60)
    for (k <- np until np + 30) sb.setCharAt(k, 'N')
    val at = r.nextInt(sb.length - 300)
    r.nextInt(12) match {
      case 0 => sb.delete(at, at + 1 + r.nextInt(61))
      case 1 => sb.insert(at, randomBases(r, 1 + r.nextInt(61)))
      case 2 => val len = 10 + r.nextInt(201); sb.insert(at + len, sb.substring(at, at + len))
      case _ =>
    }
    val s = sb.toString
    r.nextInt(8) match {
      case 0 => randomBases(r, 1 + r.nextInt(40)) + s
      case 1 => s.substring(1 + r.nextInt(800))
      case 2 => s.substring(0, s.length - 1 - r.nextInt(800))
      case _ => s
    }
  }

  test("parity fuzz: the seeded band equals the fixed wide band on 1,024 mutants") {
    val r = new SplittableRandom(20261017L)
    val lineages = (0 until 6).map(_ => (0 until 10).map(_ => 200 + r.nextInt(refSeq.length - 400)))
    val mutants = (0 until 768).map(_ => benchMutant(r, lineages)) ++
      (0 until 256).map(_ => roundtripMutant(r))
    // the wide band costs ~120× the seeded one per genome; spread it
    val pool = Executors.newFixedThreadPool(math.min(4, Runtime.getRuntime.availableProcessors))
    val mismatches = try {
      pool.invokeAll(mutants.zipWithIndex.map { case (m, i) =>
        new Callable[Option[Int]] {
          def call(): Option[Int] =
            if (Aligner.align(m, refSeq) == Aligner.alignWide(m, refSeq)) None else Some(i)
        }
      }.asJava).asScala.flatMap(_.get)
    } finally pool.shutdown()
    assert(mismatches.isEmpty, s"${mismatches.size} of ${mutants.size} differ, first: ${mismatches.take(10)}")
  }

  test("the traceback cache stays under its cap after a genome that forces widening") {
    // 400 bp shifted 20 bp down the query by an insertion and a deletion,
    // with every 12th base changed so no 16-mer of it seeds: the seeded band
    // (main diagonal ± 16) cannot hold the optimal path, so reaching the
    // wide band's score proves the band widened
    val from = 10000
    val region = refSeq.substring(from, from + 400).zipWithIndex.map { case (c, i) =>
      if (i % 12 == 11) (if (c == 'A') 'C' else 'A') else c
    }.mkString
    val shifted = refSeq.substring(0, from) + randomBases(new SplittableRandom(7L), 20) + region +
      refSeq.substring(from + 420)
    val (aq, at) = Aligner.align(shifted, refSeq)
    assert(Aligner.cachedTracebackBytes <= Aligner.TracebackCacheCap)
    val (wq, wt) = Aligner.alignWide(shifted, refSeq)
    assert(Aligner.alignmentScore(aq, at) == Aligner.alignmentScore(wq, wt))
    assert(Aligner.cachedTracebackBytes <= Aligner.TracebackCacheCap)
    // the wide band's own pass needs ~122 MB, a 2 kb truncation ~60 MB on
    // its first pass: neither may stay cached
    Aligner.align(refSeq.substring(0, refSeq.length - 2000), refSeq)
    assert(Aligner.cachedTracebackBytes <= Aligner.TracebackCacheCap)
  }
}
