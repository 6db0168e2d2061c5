package perfbench

import graft.covsonar.Reference

import java.util.SplittableRandom
import scala.collection.mutable
import scala.reflect.ClassTag

/** Seeded input generators. Everything the benchmark feeds the program comes
  * from here, and the same seed always yields the same inputs: every random
  * draw goes through a `SplittableRandom` derived from the seed and a fixed
  * per-stream salt.
  */
object Gen {

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  private val Bases = "ACGT"

  private def otherBase(r: SplittableRandom, b: Char): Char = {
    val alts = Bases.filterNot(_ == b)
    alts.charAt(r.nextInt(alts.length))
  }

  /** Real pango lineage names from the bundled lineage map, picked so some
    * have sublineages (for `--with-sublineage`) and some are leaves.
    */
  def lineages(r: SplittableRandom, n: Int): IndexedSeq[String] = {
    val all = Reference.lineageSublineages.keys.toIndexedSeq.sorted
    val parents = all.filter(l => Reference.lineageSublineages(l) != "none")
    val picked = mutable.LinkedHashSet.empty[String]
    while (picked.size < n / 2) picked += parents(r.nextInt(parents.size))
    while (picked.size < n) picked += all(r.nextInt(all.size))
    picked.toIndexedSeq
  }

  // ---- ingest: lineage-structured mutant genomes --------------------------

  final case class Genome(accession: String, description: String, seq: String)

  /** Mutants of the reference: each carries its lineage's defining SNPs plus
    * 0–4 private SNPs; in every batch exactly 15% carry an in-frame deletion,
    * 7% a frameshift deletion, 5% a short insertion and 10% an N-run dropout,
    * and 20% repeat an earlier sequence under a new accession (seqhash
    * dedup). From the second batch on, two accessions of the previous batch
    * are resubmitted verbatim (skipped as existing). Only the 20% duplicates
    * come from a stated requirement; the other shares are assumptions that
    * put every kind of edit the aligner and caller handle into every batch
    * (see perfbench/README.md). Which genome gets what is seeded; how many is
    * fixed, so every batch of every seed asks for the same amount of work.
    */
  final class Mutants(seed: Long, tag: String) {
    private val ref = Reference.sarsCov2.refSeq
    private val r = rng(seed, 0x1A2B3C)
    private val lins = lineages(r, 6)
    private val linSnps: Map[String, Seq[(Int, Char)]] = lins.map { l =>
      l -> (0 until 10).map(_ => 200 + r.nextInt(ref.length - 400))
        .filterNot(p => Reserved.exists(q => math.abs(q - p) < 4))
        .map(p => p -> otherBase(r, ref.charAt(p)))
    }.toMap
    private val made = mutable.ArrayBuffer.empty[Genome]
    private var lastBatch = IndexedSeq.empty[Genome]
    private var serial = 0
    private var dropouts = 0

    /** `m` slots holding `share` of each value (the rest `none`), shuffled. */
    private def deck[T: ClassTag](m: Int, none: T, shares: (T, Double)*): IndexedSeq[T] = {
      val a = shares.flatMap { case (v, f) => Seq.fill(math.round(m * f).toInt)(v) }.take(m).toArray
      shuffle(a ++ Array.fill(m - a.length)(none))
    }

    private def shuffle[T](a: Array[T]): IndexedSeq[T] = {
      var i = a.length - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a.toIndexedSeq
    }

    private case class Edit(pos: Int, del: Int, ins: String)

    /** A fresh sequence: edits are drawn on reference coordinates, kept
      * non-overlapping, and applied right to left so positions stay valid.
      */
    private def mutate(lineage: String, privateSnps: Int, indel: Char, dropout: Boolean,
        extra: Seq[(Int, Char)]): String = {
      val edits = mutable.ArrayBuffer.empty[Edit]
      (linSnps(lineage) ++ extra).foreach { case (p, b) => edits += Edit(p, 1, b.toString) }
      (0 until privateSnps).foreach { _ =>
        val p = 200 + r.nextInt(ref.length - 400)
        if (!Reserved.exists(q => math.abs(q - p) < 4))
          edits += Edit(p, 1, otherBase(r, ref.charAt(p)).toString)
      }
      val at = 300 + r.nextInt(20000)
      indel match {
        case 'i' => edits += Edit(at, 3 * (1 + r.nextInt(3)), "") // in-frame deletion
        case 'f' => edits += Edit(at, 1 + r.nextInt(2), "") // frameshift deletion
        case 's' => edits += Edit(at, 0, (0 until 1 + r.nextInt(3)).map(_ => Bases.charAt(r.nextInt(4))).mkString)
        case _ =>
      }
      if (dropout) { // amplicon dropout, lengths cycling over 20..200
        val len = 20 + 45 * (dropouts % 5)
        dropouts += 1
        edits += Edit(300 + r.nextInt(ref.length - 600), len, "N" * len)
      }
      val kept = mutable.ArrayBuffer.empty[Edit]
      edits.sortBy(-_.pos).foreach { e =>
        if (kept.isEmpty || e.pos + math.max(e.del, 1) + 2 < kept.last.pos) kept += e
      }
      val sb = new java.lang.StringBuilder(ref)
      kept.foreach(e => sb.replace(e.pos, e.pos + e.del, e.ins))
      sb.toString
    }

    /** The next batch of `n` genomes. With `resubmit`, two of them repeat
      * accessions of the previous batch verbatim. `plant` puts one SNP
      * (0-based reference position, alt base) on the first `plantCount`
      * genomes, which carry SNPs only, so the planted token shows up in
      * their profiles exactly as planted.
      */
    def batch(n: Int, resubmit: Boolean = true, plant: Option[(Int, Char)] = None,
        plantCount: Int = 0): IndexedSeq[Genome] = {
      val resubmits =
        if (!resubmit || lastBatch.isEmpty) IndexedSeq.empty
        else shuffle(lastBatch.toArray).take(2)
      val m = n - resubmits.size
      val dup = deck(m, false, true -> 0.2)
      val indel = deck(m, '-', 'i' -> 0.15, 'f' -> 0.07, 's' -> 0.05)
      val drop = deck(m, false, true -> 0.1)
      val snps = shuffle(Array.tabulate(m)(_ % 5))
      val fresh = (0 until m).map { i =>
        serial += 1
        val acc = f"$tag$seed%d_$serial%06d"
        val lineage = lins(r.nextInt(lins.size))
        val seq =
          if (i < plantCount) mutate(lineage, snps(i), '-', dropout = false, plant.toSeq)
          else if (dup(i) && made.nonEmpty) made(r.nextInt(made.size)).seq
          else mutate(lineage, snps(i), indel(i), drop(i), Nil)
        val g = Genome(acc, s"$acc lineage=$lineage", seq)
        made += g
        g
      }
      lastBatch = fresh
      fresh ++ resubmits
    }
  }

  /** Reference positions (0-based) no random edit touches: planted SNPs go
    * here, so their profile token is known in advance.
    */
  val Reserved: IndexedSeq[Int] = (0 until 32).map(k => 1500 + 887 * k)

  /** FASTA text, wrapped at 60 columns like real submissions. */
  def fasta(genomes: Seq[Genome]): String = {
    val sb = new StringBuilder
    genomes.foreach { g =>
      sb.append('>').append(g.description).append('\n')
      g.seq.grouped(60).foreach(l => sb.append(l).append('\n'))
    }
    sb.toString
  }

  // ---- screen/nightly: a stored population of mutation profiles -----------

  /** One stored genome of the synthetic population. Profiles are token
    * arrays exactly as the store keeps them.
    */
  final case class Row(
      accession: String, seqhash: String, lineage: String, zip: String, date: String,
      lab: String, ct: Double, dna: Array[String], aa: Array[String])

  final case class Population(
      rows: IndexedSeq[Row],
      dnaPool: IndexedSeq[String],
      markers: IndexedSeq[String],
      aaMarker: String)

  /** `n` genomes whose profiles are lineage-defining tokens plus skewed draws
    * from dna and aa token pools over real reference bases and residues.
    * One genome in ten shares the previous genome's sequence. Ultra-rare
    * markers (tokens outside the pools) are planted on a handful of
    * sequences so point lookups have a known carrier set. The skew and the
    * per-profile token counts are assumptions, chosen so that carrier counts
    * run from a handful to nearly every genome and every plan tier of
    * `match` has tokens to hit.
    */
  def population(seed: Long, n: Int): Population = {
    val r = rng(seed, 0x5C3EE)
    val ref = Reference.sarsCov2.refSeq
    val dnaPool = (0 until 4000).map { _ =>
      val p = 100 + r.nextInt(ref.length - 200)
      val b = ref.charAt(p)
      s"$b${p + 1}${otherBase(r, b)}"
    }.distinct
    val cds = Reference.sarsCov2.cds.filter(_.aa.length > 20)
    val residues = "ACDEFGHIKLMNPQRSTVWY"
    val aaPool = (0 until 800).map { _ =>
      val c = cds(r.nextInt(cds.size))
      val i = r.nextInt(c.aa.length - 1)
      val a = c.aa.charAt(i)
      s"${c.symbol}:$a${i + 1}${residues.filterNot(_ == a).charAt(r.nextInt(19))}"
    }.distinct
    val lins = lineages(r, 24)
    // near-universal tokens, as D614G-like mutations are in real populations
    val universal = dnaPool.take(2).toArray
    // lineage-defining tokens: a disjoint slice of each pool per lineage
    val linDna = lins.indices.map(i => dnaPool.slice(2 + i * 6, 2 + i * 6 + 6).toArray)
    val linAa = lins.indices.map(i => aaPool.slice(i * 2, i * 2 + 2).toArray)
    val dnaTail = dnaPool.drop(2 + lins.size * 6)
    val aaTail = aaPool.drop(lins.size * 2)
    // rank = size * u^3: the first tenth of the ranks takes 46% of the draws
    def skewed(size: Int): Int = math.min(size - 1, (math.pow(r.nextDouble(), 3) * size).toInt)
    // marker tokens sit beyond the reference end, so no pool token collides
    val markers = (0 until 4).map(i => s"A${ref.length + 10 + i}G")
    val aaMarker = "S:N9999Y"
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def hash(s: String): String =
      md5.digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

    val rows = new mutable.ArrayBuffer[Row](n)
    var prev: Row = null
    var i = 0
    while (i < n) {
      val acc = f"POP$seed%d_$i%07d"
      val zip = f"${10000 + r.nextInt(90000)}%05d"
      val date = java.time.LocalDate.of(2021, 1, 1).plusDays(r.nextInt(600)).toString
      val lab = s"LAB${r.nextInt(40)}"
      val ct = 10.0 + r.nextInt(2500) / 100.0
      val row =
        if (prev != null && r.nextInt(10) == 0)
          prev.copy(accession = acc, zip = zip, date = date, lab = lab, ct = ct)
        else {
          val li = skewed(lins.size)
          val dna = (universal.filter(_ => r.nextInt(20) != 0) ++ linDna(li) ++
            Array.fill(12)(dnaTail(skewed(dnaTail.size)))).distinct
          val aa = (linAa(li) ++ Array.fill(3)(aaTail(skewed(aaTail.size)))).distinct
          Row(acc, hash(s"$seed/$i"), lins(li), zip, date, lab, ct, dna, aa)
        }
      rows += row
      prev = row
      i += 1
    }
    // plant markers: marker k on 3 + k distinct sequences; the aa marker on 5
    val bySeq = rows.indices.groupBy(rows(_).seqhash).values.map(_.toIndexedSeq).toIndexedSeq
      .sortBy(ix => ix.head)
    def plant(token: String, count: Int, aa: Boolean): Unit =
      (0 until count).map(_ => bySeq(r.nextInt(bySeq.size))).distinct.foreach { ix =>
        ix.foreach { j =>
          val x = rows(j)
          rows(j) = if (aa) x.copy(aa = x.aa :+ token) else x.copy(dna = x.dna :+ token)
        }
      }
    markers.zipWithIndex.foreach { case (m, k) => plant(m, 3 + k, aa = false) }
    plant(aaMarker, 5, aa = true)
    Population(rows.toIndexedSeq, dnaPool, markers, aaMarker)
  }
}
