package graft.covsonar

import java.nio.file.{Files, Paths}
import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** End-to-end golden suite replicating the reference's test.sh:22-217
  * (rki-mf1/covsonar) — 17 assertions over the same FASTA/TSV/pangolin
  * fixtures and expected CSVs, executed against the Spark-native store.
  *
  * Profile fields are compared token-exactly but whitespace-normalized (the
  * reference space-pads stored profiles and leaks that padding into `--ambig`
  * output; our store holds token arrays, so padding is a non-semantic
  * rendering difference).
  */
class SonarEndToEndSpec extends SparkSpec {

  private val fixtures = Fixtures.dir
  private lazy val storeDir =
    Files.createTempDirectory("sonar-e2e").toString
  private lazy val store = new SonarStore(spark, storeDir)

  // --- tiny RFC-4180 CSV reader for the golden files ---
  private def parseCsv(path: String): Seq[Map[String, String]] = {
    val text = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
    val rows = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val field = new StringBuilder
    val row = scala.collection.mutable.ArrayBuffer.empty[String]
    var inQuotes = false
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (inQuotes) {
        if (c == '"' && i + 1 < text.length && text.charAt(i + 1) == '"') { field += '"'; i += 1 }
        else if (c == '"') inQuotes = false
        else field += c
      } else c match {
        case '"' => inQuotes = true
        case ',' => row += field.toString; field.clear()
        case '\n' =>
          row += field.toString; field.clear()
          if (row.exists(_.nonEmpty)) rows += row.toSeq
          row.clear()
        case '\r' =>
        case other => field += other
      }
      i += 1
    }
    if (field.nonEmpty || row.nonEmpty) { row += field.toString; rows += row.toSeq }
    val header = rows.head
    rows.tail.map(r => header.zip(r).toMap).toSeq
  }

  private val profileFields = Set("dna_profile", "aa_profile", "fs_profile")

  private def normalize(m: Map[String, String]): Map[String, String] =
    m.map { case (k, v) =>
      k -> (if (profileFields.contains(k)) v.trim.split("\\s+").filter(_.nonEmpty).mkString(" ")
            else v)
    }

  private def dfRows(df: DataFrame): Seq[Map[String, String]] = {
    val cols = df.columns
    df.collect().toSeq.map { r =>
      cols.zipWithIndex.map { case (c, i) =>
        c -> (r.get(i) match {
          case null => ""
          case d: Double => d.toString
          case v => v.toString
        })
      }.toMap
    }
  }

  private def assertMatchesGolden(df: DataFrame, golden: String): Unit = {
    val expected = parseCsv(s"$fixtures/$golden").map(normalize)
    val actual = dfRows(df).map(normalize)
    val expSet = expected.toSet
    val actSet = actual.toSet
    assert(actSet == expSet,
      s"golden mismatch vs $golden:\n  missing: ${(expSet -- actSet).mkString("\n  ")}" +
        s"\n  extra: ${(actSet -- expSet).mkString("\n  ")}")
  }

  private def count(args: MatchArgs): Long = SonarMatch.matchGenomes(store, args).count()

  /** The match through the token index: floor 0 prices the index on this
    * fixture store, which the default floor sends to the full scan.
    */
  private def indexed(args: MatchArgs): DataFrame = {
    val (df, plan) = SonarMatch.matchWithPlan(store, args, SonarStore.CarrierPlanCap, 0L)
    assert(plan.tier != MatchPlan.FullScan, s"expected an index tier for $args, got $plan")
    df
  }

  private val tsvMapping = Map(
    "accession" -> "accessions", "zip" -> "regions", "date" -> "dates",
    "gisaid" -> "gisaid", "ena" -> "ena", "lab" -> "lab", "source" -> "source",
    "collection" -> "collection", "technology" -> "technology",
    "platform" -> "platform", "chemistry" -> "chemistry", "material" -> "material",
    "ct" -> "ct", "software" -> "software", "version" -> "software_version")

  test("setup: add test.fasta + pangolin + tsv metadata (test.sh:33-36)") {
    val report = SonarIngest.add(store, SonarIngest.readFasta(spark, s"$fixtures/test.fasta"))
    assert(report.genomesAdded == 3)
    SonarOps.importPangolin(store, s"$fixtures/test_pangolin.csv")
    SonarOps.importMetadataCsv(store, s"$fixtures/test.tsv.gz", tsvMapping, sep = "\t")
    SonarOps.optimize(store)
  }

  test("match 1: full dump equals expected.csv (test.sh:38)") {
    assertMatchesGolden(SonarMatch.matchGenomes(store, MatchArgs()), "expected.csv")
  }

  test("info data types: genome counts per (source, collection), ordered (A5)") {
    val rows = SonarOps.infoDataTypes(store).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq(("DESH", "RANDOM", 1L), ("DESH", "SUSPECT", 1L), ("REFSEQ", "", 1L)))
  }

  test("match 2: date range + C241T (test.sh:48)") {
    assertMatchesGolden(indexed(
      MatchArgs(profiles = Seq(Seq("C241T")), dates = Seq("2021-01-01:2021-01-31"))),
      "expected2.csv")
  }

  test("match 3: single variant G1820A (test.sh:58)") {
    assertMatchesGolden(indexed(
      MatchArgs(profiles = Seq(Seq("G1820A")))), "expected2.csv")
  }

  test("match 4: include G1820A exclude C1348T (test.sh:68)") {
    assertMatchesGolden(indexed(
      MatchArgs(profiles = Seq(Seq("G1820A")), excludeProfiles = Seq(Seq("C1348T")))),
      "expected2.csv")
  }

  test("match 5: accession filter (test.sh:78)") {
    assertMatchesGolden(SonarMatch.matchGenomes(store,
      MatchArgs(accessions = Seq("test2"))), "expected2.csv")
  }

  test("match 6: zip prefix 0177 (test.sh:88)") {
    assertMatchesGolden(SonarMatch.matchGenomes(store,
      MatchArgs(zips = Seq("0177"))), "expected2.csv")
  }

  test("match 7: negated accession + lineage (test.sh:98)") {
    assertMatchesGolden(SonarMatch.matchGenomes(store,
      MatchArgs(accessions = Seq("^NC_045512.2"), lineages = Seq("^B.1.1.297"))),
      "expected2.csv")
  }

  test("match 8: count lab/source miss (test.sh:108)") {
    assert(count(MatchArgs(labs = Seq("l3"), sources = Seq("sentinel"))) == 0L)
  }

  test("setup 2: add test2.fasta + re-apply tsv (test.sh:119-121)") {
    val report = SonarIngest.add(store, SonarIngest.readFasta(spark, s"$fixtures/test2.fasta"))
    assert(report.genomesAdded == 1)
    SonarOps.importMetadataCsv(store, s"$fixtures/test.tsv.gz", tsvMapping, sep = "\t")
  }

  test("match 9: count lab/source hit (test.sh:123)") {
    assert(count(MatchArgs(labs = Seq("l3"), sources = Seq("sentinel"))) == 1L)
  }

  test("match 10: collection+technology (test.sh:132)") {
    assert(count(MatchArgs(collections = Seq("random"), technologies = Seq("Illumina"))) == 2L)
  }

  test("match 11: full metadata conjunction (test.sh:141)") {
    assert(count(MatchArgs(
      zips = Seq("033"), labs = Seq("l3"), sources = Seq("sentinel"),
      collections = Seq("RANDOM"), technologies = Seq("illumina"),
      platforms = Seq("nextseq"), chemistries = Seq("flex", "cleanplex"),
      materials = Seq("swap"), minCt = Some(30), maxCt = Some(34),
      software = Some("covpipe"), softwareVersion = Some("3.0.5"))) == 1L)
  }

  test("match 12: ct range (test.sh:150)") {
    assert(count(MatchArgs(minCt = Some(10), maxCt = Some(30))) == 2L)
  }

  test("match 13: no_frameshifts (test.sh:159)") {
    assert(count(MatchArgs(frameshifts = -1)) == 3L)
  }

  test("match 14: only_frameshifts with ambig equals expected3.csv (test.sh:168)") {
    assertMatchesGolden(SonarMatch.matchGenomes(store,
      MatchArgs(frameshifts = 1, ambig = true)), "expected3.csv")
  }

  test("match 15: restore test3 roundtrips to test2.fasta (test.sh:178)") {
    val restored = SonarRestore.restore(store, Seq("test3")).collect()
    assert(restored.length == 1)
    val (_, descr, raw) = Reference.parseFasta(
      new String(Files.readAllBytes(Paths.get(s"$fixtures/test2.fasta")), "UTF-8")).head
    assert(restored(0).getAs[String]("header") == ">" + descr)
    assert(restored(0).getAs[String]("sequence") == Genetics.harmonize(raw))
  }

  test("match 16: re-add with --source TEST updates metadata (test.sh:186-189)") {
    SonarIngest.add(store, SonarIngest.readFasta(spark, s"$fixtures/test2.fasta"),
      updates = Map("source" -> "TEST"))
    assert(count(MatchArgs(sources = Seq("TEST"))) == 1L)
  }

  test("match 17: remove test3 (test.sh:196-199)") {
    SonarOps.remove(store, Seq("test3"))
    assert(count(MatchArgs(sources = Seq("TEST"))) == 0L)
    // orphan GC: test3's unique sequence must be gone from every table
    assert(store.table("genome").count() == 3L)
    assert(store.table("sequence").count() == 3L)
    assert(store.table("profile").count() == 3L)
  }
}
