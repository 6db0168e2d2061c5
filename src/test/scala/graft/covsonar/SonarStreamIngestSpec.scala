package graft.covsonar

import java.nio.file.{Files, Paths, StandardCopyOption}
import graft.SparkSpec

/** Streaming FASTA ingest: drain-a-directory trigger, file-level
  * exactly-once, and full reuse of the batch pipeline (alignment, paranoid
  * roundtrip, appends).
  */
class SonarStreamIngestSpec extends SparkSpec {

  private val fixtures = Fixtures.dir

  test("streaming ingest drains a watch dir through the batch add pipeline") {
    val root = Files.createTempDirectory("sonar-stream")
    val watch = Files.createDirectory(root.resolve("in"))
    val ckpt = root.resolve("ckpt").toString
    val store = new SonarStore(spark, root.resolve("store").toString)

    Files.copy(Paths.get(s"$fixtures/test.fasta"), watch.resolve("batch1.fasta"),
      StandardCopyOption.REPLACE_EXISTING)
    val q1 = SonarStreamIngest.start(store, watch.toString, ckpt, availableNow = true)
    q1.awaitTermination()
    val n1 = store.table("genome").count()
    assert(n1 == 3, s"expected the 3 test.fasta genomes, got $n1")
    // profiles exist and the paranoid roundtrip ran in-task (add would throw)
    assert(store.table("profile").count() == store.table("sequence").count())

    // second drain: an already-seen file name is not reprocessed, a re-copy of
    // the same content under a new name is idempotent (seqhash dedup), and a
    // genuinely new record lands
    Files.copy(Paths.get(s"$fixtures/test.fasta"), watch.resolve("batch1-copy.fasta"),
      StandardCopyOption.REPLACE_EXISTING)
    val ref = Reference.sarsCov2.refSeq
    val mutated = ref.substring(0, 240) +
      (if (ref.charAt(240) == 'A') 'G' else 'A') + ref.substring(241)
    Files.writeString(watch.resolve("batch2.fasta"),
      ">stream1 new streamed genome\n" + mutated + "\n")
    val q2 = SonarStreamIngest.start(store, watch.toString, ckpt, availableNow = true)
    q2.awaitTermination()

    val accs = store.table("genome").select("accession")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(accs.length == 4, s"expected 4 accessions after second drain, got $accs")
    assert(accs.contains("stream1"))
    // the duplicate copies added no new sequences beyond the new genome's
    assert(store.table("sequence").count() == store.table("genome")
      .select("seqhash").distinct().count())
  }
}
