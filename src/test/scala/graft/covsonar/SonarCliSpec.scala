package graft.covsonar

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files
import graft.SparkSpec

class LineagesSpec extends SparkSpec {

  private val aliases = Map("B" -> "B", "C" -> "B.1.1.1", "BA" -> "B.1.1.529")

  test("aliasor uncompress/compress roundtrip (Lineages_UPDATER.py:51-76)") {
    val a = new Lineages.Aliasor(aliases)
    assert(a.uncompress("C.1") == "B.1.1.1.1")
    assert(a.uncompress("BA.5.2") == "B.1.1.529.5.2")
    assert(a.uncompress("B.1.1") == "B.1.1")
    assert(a.compress("B.1.1.1.1") == "C.1")
    assert(a.compress("B.1.1.529.5") == "BA.5")
    assert(a.compress("B.1.1.529") == "B.1.1.529") // 3 levels: no indirection yet
    assert(a.compress("B.1.1") == "B.1.1")
  }

  test("closure lists all descendants through aliases, 'none' for leaves") {
    val closure = Lineages.buildClosure(aliases,
      Seq("B.1", "B.1.1", "C.1", "BA.1", "B.1.1.529")).toMap
    assert(closure("B.1").split(",").toSet == Set("B.1.1", "C.1", "B.1.1.529", "BA.1"))
    assert(closure("B.1.1.529") == "BA.1")
    assert(closure("C.1") == "none")
    assert(closure("BA.1") == "none")
  }

  test("lts pads numeric segments for hierarchical sort") {
    assert(Lineages.lts("B.1.10") > Lineages.lts("B.1.2"))
  }

  test("parseAliasKey handles string, empty, and list values") {
    val m = Lineages.parseAliasKey(
      """{"C":"B.1.1.1","A":"","XA":["B.1.1.7","B.1.177"]}""")
    assert(m == Map("C" -> "B.1.1.1", "A" -> "A", "XA" -> "XA"))
  }
}

/** CLI surface over a temp store (K1 sink parity bits included). */
class SonarCliSpec extends SparkSpec {

  private lazy val db = Files.createTempDirectory("sonar-cli").toString

  private def cli(args: String*): (String, String) = {
    val o = new ByteArrayOutputStream; val e = new ByteArrayOutputStream
    SonarCli.run(spark, args.toSeq, new PrintStream(o), new PrintStream(e))
    (o.toString("UTF-8"), e.toString("UTF-8"))
  }

  test("parseArgs keeps repeated -i occurrences as separate groups") {
    val (tool, flags) = SonarCli.parseArgs(
      Seq("match", "--db", "x", "-i", "A1T", "C2G", "-i", "G3C", "--count"))
    assert(tool == "match")
    assert(flags("i") == Seq(Seq("A1T", "C2G"), Seq("G3C")))
    assert(flags("count") == Seq(Seq()))
  }

  test("add + match --count + empty-match notice") {
    val (_, addErr) = cli("add", "--db", db, "-f", s"${Fixtures.dir}/test.fasta")
    assert(addErr.contains("3 genome(s) added"))
    val (n, planErr) = cli("match", "--db", db, "--count")
    assert(n.trim == "3")
    assert(planErr.linesIterator.exists(_.matches(
      "match plan: tier=full_scan reason=no_include_profile carriers=- bytes_scanned=[1-9][0-9]*")),
      planErr)
    val (csv, _) = cli("match", "--db", db, "--acc", "test2")
    val lines = csv.trim.split("\n")
    assert(lines.head.startsWith("accession,description,lab"))
    assert(lines.length == 2 && lines(1).startsWith("test2,"))
    val (empty, err) = cli("match", "--db", db, "--acc", "nope")
    assert(empty.trim.split("\n").length == 1) // header only
    assert(err.contains("*** no match ***"))
  }

  test("restore prints FASTA and remove deletes (K2/K6)") {
    val (fasta, _) = cli("restore", "--db", db, "--acc", "test1")
    assert(fasta.startsWith(">test1\n"))
    cli("remove", "--db", db, "--acc", "test1")
    val (n, _) = cli("match", "--db", db, "--count")
    assert(n.trim == "2")
  }

  test("with-sublineage worklist closure over the bundled pango map (R5)") {
    val subs = SonarMatch.withSublineages(Seq("B.1.617"))
    assert(subs.head == "B.1.617") // order-preserving dedup, root first
    assert(subs.contains("B.1.617.2"))
    assert(subs.contains("AY.4.2.1")) // reached transitively through AY.4.2
    assert(!subs.contains("B.1.1.7"))
  }

  test("info + var2vcf CLI tools run end to end") {
    val (info, _) = cli("info", "--db", db)
    assert(info.contains("genomes:"))
    assert(info.contains("unique sequences:"))
    assert(info.contains("token index:"), "info must report index freshness")
    val out = Files.createTempDirectory("cli-vcf").toString + "/o.vcf"
    cli("var2vcf", "--db", db, "-o", out)
    val lines = spark.read.text(out).collect().map(_.getString(0))
    assert(lines.head == "##fileformat=VCFv4.2")
    assert(lines.exists(!_.startsWith("#")))
  }

  test("optimize CLI flags rewrite the store clustered and build a fresh token index") {
    cli("optimize", "--db", db, "--files", "2", "--row-group-mb", "4")
    val store = new SonarStore(spark, db)
    assert(TokenIndex.isFresh(store), "optimize must leave a fresh token index")
    assert(store.table("genome").inputFiles.length <= 2,
      "files flag must bound the rewritten file count")
    // the rewritten store still matches (flags change layout, never results)
    val (matchOut, _) = cli("match", "--db", db, "--count")
    assert(matchOut.trim.toLong > 0)
    // the fixture store is far below the index floor: the fresh index is
    // declined before it is read, and the plan line says so
    val (c241t, planErr) = cli("match", "--db", db, "-i", "C241T", "--count")
    assert(c241t.trim.toLong > 0)
    assert(planErr.linesIterator.exists(_.matches(
      "match plan: tier=full_scan reason=below_floor carriers=- bytes_scanned=[1-9][0-9]*")),
      planErr)
    val (_, quietErr) = cli("match", "--db", db, "-i", "C241T", "--count", "--quiet")
    assert(!quietErr.contains("match plan:"), quietErr)
    val (info, _) = cli("info", "--db", db)
    assert(info.contains("token index:                fresh, unused"), info)
  }

  test("store-local lineage closure overrides the bundled map") {
    val dir = Files.createTempDirectory("linstore").toString
    val s2 = new SonarStore(spark, dir)
    Files.write(java.nio.file.Paths.get(s"$dir/lineage.all.tsv"),
      "lineage\tsublineage\nZZ.1\tZZ.1.1,ZZ.1.2\n".getBytes)
    val m = SonarMatch.lineageMapFor(s2)
    assert(m == Map("ZZ.1" -> "ZZ.1.1,ZZ.1.2"))
    assert(SonarMatch.withSublineages(Seq("ZZ.1"), m) == Seq("ZZ.1", "ZZ.1.1", "ZZ.1.2"))
    // a store without the file falls back to the bundled snapshot
    val bare = new SonarStore(spark, Files.createTempDirectory("linbare").toString)
    assert(SonarMatch.lineageMapFor(bare).contains("B.1.617"))
  }

  test("db-upgrade migrates a v3 store to v4 (migrate/4.sql analog)") {
    val db3 = Files.createTempDirectory("sonar-v3").toString
    cli("add", "--db", db3, "-f", s"${Fixtures.dir}/test.fasta")
    // strip the store back to v3 shape: genome without submission_date
    val store = new SonarStore(spark, db3)
    val tmp = s"$db3/.g3"
    store.rawTable("genome").drop("submission_date")
      .write.parquet(tmp)
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(rmrf)
      p.delete()
    }
    rmrf(new java.io.File(s"$db3/genome"))
    assert(new java.io.File(tmp).renameTo(new java.io.File(s"$db3/genome")))
    store.writeSchemaVersion(3) // via Hadoop FS so the .crc sidecar stays valid
    assert(store.schemaVersion == 3)
    assert(!store.rawTable("genome").columns.contains("submission_date"))

    val (o, _) = cli("db-upgrade", "--db", db3)
    assert(o.contains("Current version: 3"))
    assert(o.contains("Database now version: 4"))
    assert(store.schemaVersion == 4)
    assert(store.rawTable("genome").columns.contains("submission_date"))
    // the migrated store still answers queries
    val (n, _) = cli("match", "--db", db3, "--count")
    assert(n.trim == "3")
    // idempotent on an up-to-date store
    val (o2, _) = cli("db-upgrade", "--db", db3)
    assert(o2.contains("Current version: 4"))
  }

  test("update-lineage-info builds a closure tsv offline (F12)") {
    val dir = Files.createTempDirectory("lin").toString
    Files.write(java.nio.file.Paths.get(s"$dir/alias_key.json"),
      """{"C":"B.1.1.1"}""".getBytes)
    Files.write(java.nio.file.Paths.get(s"$dir/lineages.csv"),
      "taxon,lineage\nt1,B.1\nt2,B.1.1\nt3,C.1\n".getBytes)
    cli("update-lineage-info", "--db", db, "--alias-key", s"$dir/alias_key.json",
      "--lineages", s"$dir/lineages.csv", "--out", s"$dir/lineage.all.tsv")
    val tsv = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/lineage.all.tsv")), "UTF-8")
    assert(tsv.contains("B.1\tB.1.1,C.1"))
    assert(tsv.contains("C.1\tnone"))
  }
}
