package graft.covsonar

import java.nio.file.Files
import graft.SparkSpec

/** S1/S2 FASTA source: compressed-input parity (reference: sonar.py:496-509
  * opens plain/gz/xz transparently by extension).
  */
class FastaSourceSpec extends SparkSpec {

  private val fixtures = Fixtures.dir

  test("xz-compressed FASTA reads identically to its plain copy (S2)") {
    val plain = SonarIngest.readFasta(spark, s"$fixtures/test2.fasta")
      .collect().sortBy(_.accession)
    val xz = SonarIngest.readFasta(spark, s"$fixtures/test2.fasta.xz")
      .collect().sortBy(_.accession)
    assert(plain.nonEmpty)
    assert(xz.toSeq == plain.toSeq)
  }

  test("gz-compressed FASTA reads identically to its plain copy (S2)") {
    val dir = Files.createTempDirectory("fasta-gz")
    val src = Files.readAllBytes(java.nio.file.Paths.get(s"$fixtures/test.fasta"))
    val gzPath = dir.resolve("test.fasta.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gzPath))
    out.write(src); out.close()
    val plain = SonarIngest.readFasta(spark, s"$fixtures/test.fasta")
      .collect().sortBy(_.accession)
    val gz = SonarIngest.readFasta(spark, gzPath.toString)
      .collect().sortBy(_.accession)
    assert(plain.nonEmpty)
    assert(gz.toSeq == plain.toSeq)
  }

  test("multi-record parse: headers split on whitespace, U→T harmonized, seguid stable") {
    val dir = Files.createTempDirectory("fasta-mr")
    val p = dir.resolve("x.fasta")
    Files.writeString(p,
      ">acc1 some description here\nacgu\nACGT\n>acc2\nttt\n\n>empty\n\n>acc3\nNRYX\n")
    val recs = SonarIngest.readFasta(spark, p.toString).collect().sortBy(_.accession).toSeq
    assert(recs.map(_.accession) == Seq("acc1", "acc2", "acc3"))
    val r1 = recs.head
    assert(r1.description == "acc1 some description here")
    assert(r1.seq == "ACGTACGT") // upper-cased, U→T, newlines stripped
    assert(r1.seqhash == Genetics.seguid("ACGTACGT"))
  }
}
