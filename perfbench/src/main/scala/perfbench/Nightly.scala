package perfbench

import graft.covsonar._

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Nightly writes beside reads on the indexed population. One night: `add`
  * a batch (merging into the live token index), `update` the batch's
  * metadata, a point and a scan `match`, `restore` and `var2vcf` of the
  * batch, then `remove` a few older accessions.
  *
  * A night takes about ten seconds of Spark jobs, so too few fit in one run
  * for a steady median and it is not a timed workload of its own: the traced
  * `screen` run runs two nights on its store after the measured loop (the
  * first warms up) and reports the write-path layers from the second.
  */
object Nightly {
  val Batch = 32
  val Planted = 3
  val Removed = 4

  final case class Night(n: Int, batch: IndexedSeq[Gen.Genome], token: String, date: String)

  /** Night `n`'s batch, with a SNP planted at a reserved position whose
    * token no population genome carries.
    */
  def night(gen: Gen.Mutants, pop: Gen.Population, n: Int): Night = {
    val ref = Reference.sarsCov2.refSeq
    val pos = Gen.Reserved(n % Gen.Reserved.size)
    val base = ref.charAt(pos)
    val alt = "ACGT".filterNot(_ == base).find(a => !pop.dnaPool.contains(s"$base${pos + 1}$a")).get
    val batch = gen.batch(Batch, resubmit = false, plant = Some(pos -> alt), plantCount = Planted)
    Night(n, batch, s"$base${pos + 1}$alt", java.time.LocalDate.of(2024, 1, 1).plusDays(n).toString)
  }

  private def vcfSamples(dir: Path): Seq[String] = {
    val listing = Files.list(dir)
    val parts = try listing.iterator.asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq.sorted
      finally listing.close()
    parts.iterator.flatMap(p => Files.readAllLines(p).asScala)
      .find(_.startsWith("#CHROM")).map(_.split("\t").drop(9).toSeq).getOrElse(Nil)
  }

  /** Runs one night; returns each step's seconds by name (steps that failed
    * are missing).
    */
  def runNight(ctx: Ctx, res: Result, store: SonarStore, ledger: Ledger, nt: Night,
      victims: Seq[String], seqsAdded: mutable.ArrayBuffer[Long]): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val trace = ctx.trace
    val op = trace.newOp()
    val steps = mutable.LinkedHashMap.empty[String, Double]
    def timed[T](step: String, what: String)(body: => T): Option[T] = {
      val t = System.nanoTime()
      val out = res.attempt(s"night ${nt.n} $what")(body)
      if (out.isDefined) steps(step) = (System.nanoTime() - t) / 1e9
      out
    }
    val accs = nt.batch.map(_.accession)
    val fasta = Adds.writeFasta(ctx.dir("nightly/fasta"), f"night-${nt.n}%03d.fasta", nt.batch)
    Adds.tracedParse(ctx, fasta)
    Adds.add(ctx, res, store, ledger, nt.batch, fasta, op, seqsAdded).foreach(steps("add") = _)

    timed("update", "update") {
      trace.span("SonarOps.update", op) {
        SonarOps.updateMetadata(store, accs.map(a => (a, nt.date, "LAB-NIGHT")).toDF("accession", "new_date", "new_lab"))
      }
    }
    val point = timed("match_point", "point match") {
      trace.span("SonarMatch.match", op) {
        val df = trace.span("SonarMatch.matchGenomes")(
          SonarMatch.matchGenomes(store, MatchArgs(profiles = Seq(Seq(nt.token)))))
        trace.span("SonarMatch.execute")(df.collect().map(_.getAs[String]("accession")).toSet)
      }
    }
    // the planted genomes and any genome of the batch that repeats one of their sequences
    val planted = nt.batch.take(Planted).map(_.seq).toSet
    val carriers = nt.batch.filter(g => planted.contains(g.seq)).map(_.accession).toSet
    point.foreach(got => res.check(got == carriers,
      s"night ${nt.n}: ${nt.token} matched ${got.size} genomes, expected ${carriers.size}"))
    val scan = timed("match_scan", "scan match") {
      trace.span("SonarMatch.match", op) {
        val df = trace.span("SonarMatch.matchGenomes")(
          SonarMatch.matchGenomes(store, MatchArgs(dates = Seq(nt.date), labs = Seq("LAB-NIGHT"))))
        trace.span("SonarMatch.execute")(df.count())
      }
    }
    scan.foreach(n => res.check(n == Batch, s"night ${nt.n}: date match counted $n, expected $Batch"))
    Adds.checkRestore(ctx, res, store, nt.batch, op).foreach(steps("restore") = _)
    val vcf = ctx.work.resolve(f"nightly/vcf-${nt.n}%03d")
    timed("var2vcf", "var2vcf") {
      trace.span("SonarVcf.exportVcf", op)(SonarVcf.exportVcf(store, vcf.toString, accessions = accs))
    }.foreach { _ =>
      val samples = vcfSamples(vcf)
      res.check(samples == accs.sorted, s"night ${nt.n}: var2vcf samples ${samples.size}, expected ${accs.size}")
    }
    timed("remove", "remove") {
      trace.span("SonarOps.remove", op)(SonarOps.remove(store, victims))
    }
    steps.toMap
  }

  /** Two nights on the screen population; per-layer numbers of the second
    * are recorded once the trace is finished, by the returned callback.
    */
  def probe(ctx: Ctx, res: Result, pop: Gen.Population, store: SonarStore): () => Unit = {
    val trace = ctx.trace
    val gen = new Gen.Mutants(ctx.seed, "NGT")
    val ledger = new Ledger
    val r = Gen.rng(ctx.seed, 0x9167)
    val order = pop.rows.indices.map(i => (r.nextInt(), i)).sorted.map(_._2).iterator
    val seqsAdded = mutable.ArrayBuffer.empty[Long]
    val removed = mutable.ArrayBuffer.empty[String]
    val nights = trace.span("nightly")((0 until 2).map { n =>
      val victims = Seq.fill(Removed)(pop.rows(order.next()).accession)
      val steps = trace.span(if (n == 0) "nightly.warmup" else "nightly.night")(
        runNight(ctx, res, store, ledger, night(gen, pop, n), victims, seqsAdded))
      removed ++= victims
      steps
    })
    res.attempt("removed accessions are gone") {
      SonarMatch.matchGenomes(store, MatchArgs(accessions = removed.toSeq)).count()
    }.foreach(c => res.check(c == 0, s"$c removed accessions still match"))
    res.sizes ++= Seq("nightly_batch_genomes" -> Batch, "nightly_removed_per_night" -> Removed,
      "nightly_steps_s" -> nights.last)
    val genomes = pop.rows.size + ledger.genomes.size - removed.size

    () => {
      val steps = nights.last
      def step(name: String) = steps.getOrElse(name, 0.0)
      res.layer("nightly.add_s", step("add"), "s")
      res.layer("nightly.update_s", step("update"), "s")
      res.layer("nightly.remove_s", step("remove"), "s")
      res.layer("nightly.var2vcf_s", step("var2vcf"), "s")
      res.layer("nightly.restore_genomes_per_s", Batch / math.max(1e-9, step("restore")), "1/s")
      def within(name: String) = trace.named(name).filter(s => trace.under(s, "nightly.night"))
      res.layer("TokenIndex.merge_s", trace.jobsFrom("TokenIndex.scala", "nightly.night")._2, "s")
      val upd = within("SonarOps.update")
      val rem = within("SonarOps.remove")
      val updBytes = upd.map(_.outputBytes).sum.toDouble
      val remBytes = rem.map(_.outputBytes).sum.toDouble
      res.layer("SonarOps.update_bytes_written", updBytes, "B")
      res.layer("SonarOps.remove_bytes_written", remBytes, "B")
      res.layer("SonarOps.remove_jobs", rem.map(_.jobs).sum.toDouble, "count")
      // bytes of the genome rows that changed, at the table's mean row size
      val rowBytes = Main.duBytes(java.nio.file.Paths.get(store.dir, "genome")).toDouble / genomes
      res.layer("SonarStore.write_amp",
        (updBytes + remBytes) / math.max(1.0, (Batch + Removed) * rowBytes), "ratio")
      res.layer("SonarStore.files", Main.countFiles(java.nio.file.Paths.get(store.dir), ".parquet").toDouble, "count")
      res.layer("SonarRestore.restore_s", within("SonarRestore.restore").map(_.durNs).sum / 1e9, "s")
      val vx = within("SonarVcf.exportVcf")
      res.layer("SonarVcf.export_s", vx.map(_.durNs).sum / 1e9, "s")
      res.layer("SonarVcf.jobs", vx.map(_.jobs).sum.toDouble, "count")
      res.layer("SonarVcf.output_bytes", vx.map(_.outputBytes).sum.toDouble, "B")
    }
  }
}
