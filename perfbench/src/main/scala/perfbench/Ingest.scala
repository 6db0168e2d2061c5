package perfbench

import graft.covsonar._

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** What the store should report for each `add`, kept from the generated
  * genomes alone: an accession already stored is skipped, a sequence already
  * stored is not aligned again.
  */
final class Ledger {
  val genomes = mutable.LinkedHashMap.empty[String, Gen.Genome]
  private val seqs = mutable.HashSet.empty[String]

  /** Expected (genomesAdded, sequencesAdded, skippedExisting); records the batch. */
  def admit(batch: Seq[Gen.Genome]): (Long, Long, Long) = {
    val (old, fresh) = batch.partition(g => genomes.contains(g.accession))
    val newSeqs = fresh.map(_.seq).distinct.count(s => !seqs.contains(s))
    fresh.foreach { g => genomes(g.accession) = g; seqs += g.seq }
    (fresh.size.toLong, newSeqs.toLong, old.size.toLong)
  }
}

/** Shared pieces of the workloads that call `add`. */
object Adds {

  def writeFasta(dir: Path, name: String, batch: Seq[Gen.Genome]): String = {
    val p = dir.resolve(name)
    Files.writeString(p, Gen.fasta(batch))
    p.toString
  }

  /** One traced or untraced `add` of a FASTA file; checks the report against
    * the ledger. Returns the seconds the call took, or None if it failed.
    */
  def add(ctx: Ctx, res: Result, store: SonarStore, ledger: Ledger, batch: Seq[Gen.Genome],
      path: String, op: Int, seqsAdded: mutable.ArrayBuffer[Long]): Option[Double] = {
    val t = System.nanoTime()
    val rep = res.attempt(s"add $path") {
      ctx.trace.span("SonarIngest.add", op) {
        SonarIngest.add(store, ctx.trace.span("SonarIngest.readFasta")(
          SonarIngest.readFasta(ctx.spark, path)))
      }
    }
    val s = (System.nanoTime() - t) / 1e9
    val (eg, es, ex) = ledger.admit(batch)
    rep.foreach { r =>
      res.check(r.genomesAdded == eg && r.sequencesAdded == es && r.skippedExisting == ex &&
        r.skippedInvalid.isEmpty && r.descriptionsUpdated == 0,
        s"add $path reported $r, expected genomes=$eg sequences=$es skipped=$ex")
      seqsAdded += r.sequencesAdded
    }
    rep.map(_ => s)
  }

  /** `restore` must give back exactly the generated sequence of every sampled
    * accession.
    */
  def checkRestore(ctx: Ctx, res: Result, store: SonarStore, sample: Seq[Gen.Genome], op: Int): Option[Double] = {
    val t = System.nanoTime()
    val got = res.attempt("restore") {
      ctx.trace.span("SonarRestore.restore", op) {
        SonarRestore.restore(store, sample.map(_.accession)).collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
      }
    }
    val s = (System.nanoTime() - t) / 1e9
    got.foreach { m =>
      sample.foreach { g =>
        res.check(m.get(">" + g.description).contains(g.seq),
          s"restore of ${g.accession} differs from the generated sequence")
      }
    }
    got.map(_ => s)
  }

  /** Single-thread aligner, caller and paranoid-restore cost on a fixed
    * sample, after two warm-up sequences.
    */
  def kernelLayers(ctx: Ctx, res: Result, seqs: Seq[String]): Unit = {
    val ref = Reference.sarsCov2
    seqs.take(2).foreach(VariantCaller.processSequence(_, ref))
    var alignNs, callNs, paranoidNs = 0L
    seqs.foreach { seq =>
      val t0 = System.nanoTime()
      val (aq, at) = ctx.trace.span("Aligner.align")(Aligner.align(seq, ref.refSeq))
      val t1 = System.nanoTime()
      val (dna, dnaProfile) = ctx.trace.span("VariantCaller.call") {
        val dna = VariantCaller.dnaVariants(aq, at)
        val aa = VariantCaller.aaVariants(aq, at, ref.cds)
        val dnaProfile = VariantCaller.buildProfile(dna)
        VariantCaller.buildProfile(aa)
        VariantCaller.filterFrameshifts(dnaProfile, ref.cds)
        (dna, dnaProfile)
      }
      val t2 = System.nanoTime()
      ctx.trace.span("SonarRestore.paranoid") {
        res.check(SonarRestore.applyVariants(dna, ref.refSeq) == seq &&
          SonarRestore.applyProfile(dnaProfile, ref.refSeq) == seq,
          "single-thread paranoid roundtrip diverges")
      }
      val t3 = System.nanoTime()
      alignNs += t1 - t0; callNs += t2 - t1; paranoidNs += t3 - t2
    }
    val n = math.max(1, seqs.size) * 1e6
    res.layer("Aligner.align_ms_per_seq", alignNs / n, "ms")
    res.layer("VariantCaller.call_ms_per_seq", callNs / n, "ms")
    res.layer("SonarRestore.paranoid_ms_per_seq", paranoidNs / n, "ms")
  }

  /** Per-layer numbers of the traced `add` calls, as means per call. */
  def addLayers(ctx: Ctx, res: Result, genomes: Long, seqsAdded: Long): Unit = {
    val adds = ctx.trace.named("SonarIngest.add")
    val n = math.max(1, adds.size).toDouble
    val wall = adds.map(_.durNs).sum / 1e9
    res.layer("SonarIngest.add_s", wall / n, "s")
    res.layer("SonarIngest.parse_s",
      ctx.trace.named("SonarIngest.parse").map(_.durNs).sum / 1e9 / n, "s")
    res.layer("SonarIngest.jobs", adds.map(_.jobs).sum / n, "count")
    res.layer("SonarIngest.tasks", adds.map(_.tasks).sum / n, "count")
    res.layer("SonarIngest.cpu_util",
      adds.map(_.cpuNs).sum / 1e9 / math.max(1e-9, wall * ctx.cores), "frac")
    res.layer("SonarIngest.gc_s", adds.map(_.gcMs).sum / 1e3 / n, "s")
    res.layer("SonarIngest.bytes_written", adds.map(_.outputBytes).sum / n, "B")
    res.layer("SonarIngest.new_seq_ratio", seqsAdded.toDouble / math.max(1L, genomes), "frac")
  }

  /** Times a FASTA parse on its own (traced runs only): `add` parses inside
    * its first job, so this is the one way to see the parse from outside.
    */
  def tracedParse(ctx: Ctx, path: String): Unit =
    if (ctx.trace.on) ctx.trace.span("SonarIngest.parse") {
      SonarIngest.readFasta(ctx.spark, path).count()
    }
}

/** `ingest`: seeded FASTA batches of lineage-structured mutants go through
  * `readFasta` + `add` onto a fresh store with no token index. The aligner,
  * caller and paranoid restore do most of the work; `TokenIndex` and
  * `SonarMatch` are bypassed. One client, closed loop.
  */
object Ingest {
  val Batch = 256
  val SetupReps = 3
  val StoreBatches = 2

  def run(ctx: Ctx, res: Result, sessionS: Double): Unit = {
    val trace = ctx.trace
    val preBatches = math.max(2, math.ceil(ctx.seconds * 40 / Batch).toInt + 1)

    // set-up, repeated: generate every batch, write the FASTA files, open a
    // fresh store
    var gen: Gen.Mutants = null
    var batches: mutable.ArrayBuffer[(Seq[Gen.Genome], String)] = null
    var store: SonarStore = null
    val setups = (0 until SetupReps).map { _ =>
      val t = System.nanoTime()
      trace.span("setup") {
        Main.deleteTree(ctx.work.resolve("ingest"))
        val fa = ctx.dir("ingest/fasta")
        gen = new Gen.Mutants(ctx.seed, "ING")
        batches = mutable.ArrayBuffer.tabulate(preBatches) { k =>
          val b = gen.batch(Batch)
          (b, Adds.writeFasta(fa, f"batch-$k%03d.fasta", b))
        }
        store = new SonarStore(ctx.spark, ctx.dir("ingest/store").toString)
      }
      (System.nanoTime() - t) / 1e9
    }
    // warm-up: one full-size add into a throwaway store (JIT, codegen)
    val tw = System.nanoTime()
    trace.span("warmup") {
      val warm = new Gen.Mutants(ctx.seed + 1, "WRM").batch(Batch)
      val path = Adds.writeFasta(ctx.dir("ingest/warm"), "warm.fasta", warm)
      SonarIngest.add(new SonarStore(ctx.spark, ctx.dir("ingest/warm-store").toString),
        SonarIngest.readFasta(ctx.spark, path))
    }
    val warmS = (System.nanoTime() - tw) / 1e9
    res.metric("setup_s", sessionS + Stats.median(setups) + warmS, "s")
    res.sizes ++= Seq("session_s" -> sessionS, "setup_reps_s" -> setups, "warmup_s" -> warmS)

    val ledger = new Ledger
    val lat = mutable.ArrayBuffer.empty[Double]
    val seqsAdded = mutable.ArrayBuffer.empty[Long]
    var genomes = 0L
    val clock = new ctx.Clock
    var k = 0
    var storeBytes = 0.0
    while (clock.running || k < StoreBatches) {
      if (k >= batches.size) {
        val b = gen.batch(Batch)
        batches += ((b, Adds.writeFasta(ctx.work.resolve("ingest/fasta"), f"batch-$k%03d.fasta", b)))
      }
      val (batch, path) = batches(k)
      Adds.tracedParse(ctx, path)
      Adds.add(ctx, res, store, ledger, batch, path, trace.newOp(), seqsAdded).foreach { s =>
        lat += s
        genomes += batch.size
      }
      k += 1
      // bytes per genome at a fixed store size, not at whatever size the
      // time budget reached (per-append file overhead shrinks per genome)
      if (k == StoreBatches)
        storeBytes = Main.duBytes(ctx.work.resolve("ingest/store")).toDouble / ledger.genomes.size
    }
    val measuredS = clock.elapsed

    val r = Gen.rng(ctx.seed, 0xE57)
    val stored = ledger.genomes.values.toIndexedSeq
    Adds.checkRestore(ctx, res, store, (0 until 12).map(_ => stored(r.nextInt(stored.size))).distinct, trace.newOp())

    res.metric("op_latency_ms", Stats.median(lat.toSeq) * 1e3, "ms")
    res.metric("throughput_per_s", genomes / math.max(1e-9, lat.sum), "1/s")
    res.metric("store_bytes_per_genome", storeBytes, "B")
    res.sizes ++= Seq("batch_genomes" -> Batch, "batches" -> k, "genomes_submitted" -> genomes,
      "genomes_stored" -> stored.size, "store_bytes" -> Main.tableBytes(store.dir), "measured_s" -> measuredS, "add_s" -> lat.toSeq)

    if (trace.on) {
      Adds.kernelLayers(ctx, res, batches.head._1.map(_.seq).distinct.take(8))
      trace.finish()
      Adds.addLayers(ctx, res, genomes, seqsAdded.sum)
    }
  }
}
