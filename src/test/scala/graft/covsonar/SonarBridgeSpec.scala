package graft.covsonar

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** `SonarIngest.add` appends `sequence2dna` and `sequence2prot` without a
  * dedup, which is sound only while every processed sequence's variants
  * carry distinct `varid`s: `processed` is unique per seqhash, `dnaVariants`
  * emits at most one variant per reference position (insertion anchors are
  * not SNPs), and `aaVariants` one per codon per CDS. This pins that on the
  * fixture FASTA and on seeded mutants like AlignerRoundtripSpec's.
  */
class SonarBridgeSpec extends SparkSpec {

  private val ref = Reference.sarsCov2
  private val rnd = new scala.util.Random(20261019L)

  private def mutate(seq: String): String = {
    val sb = new StringBuilder(seq)
    for (_ <- 0 until 80) {
      val p = rnd.nextInt(sb.length)
      sb.setCharAt(p, "ACGT"(rnd.nextInt(4)))
    }
    for (_ <- 0 until 4) {
      val p = rnd.nextInt(sb.length - 40)
      sb.delete(p, p + 1 + rnd.nextInt(15))
    }
    for (_ <- 0 until 4) {
      val p = 1 + rnd.nextInt(sb.length - 2)
      sb.insert(p, (0 until 1 + rnd.nextInt(8)).map(_ => "ACGT"(rnd.nextInt(4))).mkString)
    }
    val np = rnd.nextInt(sb.length - 60)
    (np until np + 30).foreach(sb.setCharAt(_, 'N'))
    sb.toString
  }

  test("every processed sequence's dna and aa varids are distinct (test.fasta + seeded mutants)") {
    val store = new SonarStore(spark, Files.createTempDirectory("sonar-bridge").toString)
    SonarIngest.add(store, SonarIngest.readFasta(spark, s"${Fixtures.dir}/test.fasta"))
    val mutants = (1 to 12).map(i => (s"mut$i", s"mut$i seeded", mutate(ref.refSeq)))
    SonarIngest.add(store, SonarIngest.fromSequences(spark, mutants))
    Seq("sequence2dna", "sequence2prot").foreach { t =>
      val rows = store.table(t)
      val n = rows.count()
      assert(n > 0, s"$t is empty")
      val dups = rows.groupBy("seqhash", "varid").count().filter(col("count") > 1)
      assert(dups.isEmpty, s"$t holds repeated (seqhash, varid) rows:\n" +
        dups.limit(5).collect().mkString("\n"))
      assert(rows.select("seqhash").distinct().count() >= 12,
        s"$t does not cover the 12 mutants")
    }
    assert(store.table("sequence").count() == 15, "3 fixture + 12 mutant sequences expected")
  }

  test("a retried add heals a crash between the sequence and genome appends") {
    val fasta = s"${Fixtures.dir}/test.fasta"
    val dir = Files.createTempDirectory("sonar-crash")
    val store = new SonarStore(spark, dir.toString)
    // crash the `genome` append: a plain file where its table directory goes
    val blocker = Files.createFile(dir.resolve("genome"))
    intercept[Exception](SonarIngest.add(store, SonarIngest.readFasta(spark, fasta)))
    assert(store.table("sequence").count() == 3,
      "`sequence` must be written before the `genome` append that failed")
    val perSequence = Seq("profile", "dna", "prot", "sequence2dna", "sequence2prot", "sequence")
    val before = perSequence.map(t => t -> store.table(t).count()).toMap

    Files.delete(blocker)
    val report = SonarIngest.add(store, SonarIngest.readFasta(spark, fasta))
    assert(report.genomesAdded == 3 && report.sequencesAdded == 0,
      s"the retry must write genome and skip alignment: $report")
    val profiles = store.table("profile")
    assert(profiles.count() == 3 && profiles.select("seqhash").distinct().count() == 3,
      "one profile row per seqhash")
    perSequence.foreach(t => assert(store.table(t).count() == before(t), s"$t grew on the retry"))
    assert(SonarMatch.matchGenomes(store, MatchArgs()).count() == 3)
  }
}
