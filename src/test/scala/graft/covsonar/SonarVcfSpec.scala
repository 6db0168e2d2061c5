package graft.covsonar

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** VCF export semantics (SURVEY §2.10) against a store built from the
  * reference's own fixtures plus a synthetic multi-allelic site.
  */
class SonarVcfSpec extends SparkSpec {

  private lazy val store = {
    val s = new SonarStore(spark, Files.createTempDirectory("sonar-vcf").toString)
    SonarIngest.add(s, SonarIngest.readFasta(spark, s"${Fixtures.dir}/test.fasta"))
    // two synthetic genomes differing from the reference at one shared site
    // (position 5001 0-based: ref 'G') → multi-allelic VCF row
    val ref = Reference.sarsCov2.refSeq
    val Seq(b1, b2) = "ACG".filterNot(_ == ref.charAt(5000)).take(2).toSeq
    val altA = ref.substring(0, 5000) + b1 + ref.substring(5001)
    val altT = ref.substring(0, 5000) + b2 + ref.substring(5001)
    SonarIngest.add(s, SonarIngest.fromSequences(spark, Seq(
      ("synthA", "synthA", altA), ("synthT", "synthT", altT))))
    s
  }

  private lazy val refBase = Reference.sarsCov2.refSeq.charAt(5000).toString
  private lazy val Seq(alt1, alt2) =
    "ACG".filterNot(_ == Reference.sarsCov2.refSeq.charAt(5000)).take(2).toSeq.map(_.toString)

  test("shared SNP aggregates AN/AC across samples") {
    val row = SonarVcf.vcfSites(store).filter(col("pos") === 241).collect()
    assert(row.length == 1)
    val r = row(0)
    assert(r.getAs[String]("ref") == "C")
    assert(r.getAs[String]("alt") == "T")
    assert(r.getAs[String]("id") == "C241T")
    assert(r.getAs[String]("info") == "AN=2;AC=2")
    val gts = r.getAs[Map[String, String]]("genotypes")
    assert(gts == Map("test1" -> "1", "test2" -> "1"))
  }

  test("multi-allelic site numbers genotypes deterministically") {
    val r = SonarVcf.vcfSites(store).filter(col("pos") === 5001).collect()(0)
    assert(r.getAs[String]("ref") == refBase)
    // synthA sorts before synthT → its alt is GT 1, synthT's alt is GT 2
    assert(r.getAs[String]("alt") == s"$alt1,$alt2")
    assert(r.getAs[String]("id") == s"${refBase}5001${alt1};${refBase}5001${alt2}")
    assert(r.getAs[String]("info") == "AN=2;AC=1,1")
    val gts = r.getAs[Map[String, String]]("genotypes")
    assert(gts == Map("synthA" -> "1", "synthT" -> "2"))
  }

  test("deletions and reference genome are excluded (P9)") {
    // NC_045512.2 aligns to itself → no variant rows at all
    val sites = SonarVcf.vcfSites(store)
    assert(sites.filter(array_contains(map_keys(col("genotypes")), "NC_045512.2")).count() == 0)
    assert(sites.filter(col("alt") === "").count() == 0)
  }

  test("acc/date filters narrow the export (v1 WHERE clause)") {
    val only2 = SonarVcf.vcfSites(store, accessions = Seq("test2"))
    assert(only2.filter(col("pos") === 1820).count() == 1) // test2-private G1820A
    val gts = only2.select(explode(map_keys(col("genotypes")))).distinct()
      .collect().map(_.getString(0)).toSet
    assert(gts == Set("test2"))
  }

  test("export writes a sorted, well-formed VCF file") {
    val out = Files.createTempDirectory("vcf-out").toString + "/all.vcf"
    SonarVcf.exportVcf(store, out)
    val lines = spark.read.text(out).collect().map(_.getString(0))
    val (meta, body) = lines.partition(_.startsWith("#"))
    assert(meta.head == "##fileformat=VCFv4.2")
    val colHeader = meta.last.split("\t")
    assert(colHeader.take(9).toSeq ==
      Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "FORMAT"))
    val samples = colHeader.drop(9)
    assert(samples.sameElements(samples.sorted))
    val poss = body.map(_.split("\t")(1).toInt)
    assert(poss.sameElements(poss.sorted))
    assert(body.forall(_.split("\t").length == 9 + samples.length))
    // every body row's GT columns contain only '.', or digits
    assert(body.forall(_.split("\t").drop(9).forall(g => g == "." || g.forall(_.isDigit))))
    // A8 invariants: AN = called genotypes; AC_k = #(GT == k); |ALT| = |AC|
    body.foreach { line =>
      val f = line.split("\t")
      val Array(anPart, acPart) = f(7).split(";", 2)
      val an = anPart.stripPrefix("AN=").toInt
      val ac = acPart.stripPrefix("AC=").split(",").map(_.toInt)
      val gts = f.drop(9).filter(_ != ".").map(_.toInt)
      assert(gts.length == an, line)
      ac.zipWithIndex.foreach { case (c, i) => assert(gts.count(_ == i + 1) == c, line) }
      assert(f(4).split(",").length == ac.length, line)
    }
  }

  test(".gz export is BGZF: BC-subfield blocks <= 64 KiB, spec EOF marker, gzip-readable, content-identical") {
    val dir = Files.createTempDirectory("vcf-bgzf").toString
    val plain = s"$dir/all.vcf"
    val gz = s"$dir/all.vcf.gz"
    SonarVcf.exportVcf(store, plain)
    SonarVcf.exportVcf(store, gz)
    val part = new java.io.File(gz).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".gz"))
    assert(part.length == 1)
    val bytes = Files.readAllBytes(part.head.toPath)
    // 1. BGZF magic: gzip + FEXTRA flag + the BC subfield at offset 12
    assert((bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b &&
      bytes(2) == 8 && (bytes(3) & 4) == 4, "not gzip+FEXTRA")
    assert(bytes(12) == 'B' && bytes(13) == 'C', "missing BC subfield")
    // 2. the BSIZE chain tiles the file exactly — every block addressable
    //    and <= 64 KiB (the tabix virtual-offset requirement)
    var off = 0
    var blocks = 0
    while (off < bytes.length) {
      assert((bytes(off) & 0xff) == 0x1f && (bytes(off + 1) & 0xff) == 0x8b,
        s"block $blocks at $off lacks gzip magic")
      assert(bytes(off + 12) == 'B' && bytes(off + 13) == 'C')
      val bsize = ((bytes(off + 16) & 0xff) | ((bytes(off + 17) & 0xff) << 8)) + 1
      assert(bsize <= 65536, s"block $blocks size $bsize > 64 KiB")
      off += bsize
      blocks += 1
    }
    assert(off == bytes.length, "BSIZE chain does not tile the file")
    // 3. ends with the spec's fixed 28-byte EOF block
    assert(bytes.takeRight(28).sameElements(BgzfOutputStream.EofBlock),
      "missing BGZF EOF marker")
    // 4. BGZF is valid multi-member gzip: the JDK reader inflates it to
    //    exactly the uncompressed export
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes), 1 << 16)
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 16)
    var r = in.read(buf)
    while (r >= 0) { out.write(buf, 0, r); r = in.read(buf) }
    val gotLines = new String(out.toByteArray, "UTF-8").split("\n", -1).filter(_.nonEmpty)
    val plainLines = spark.read.text(plain).collect().map(_.getString(0))
    assert(gotLines.sameElements(plainLines), "BGZF content diverged from plain export")
  }

  test("multi-block BGZF reads back intact through the HADOOP codec-factory path and spark.read.text, not just the JDK reader") {
    // The read side relies on Hadoop's gzip decompressor handling
    // multi-member concatenated gzip (BuiltInGzipDecompressor does; a
    // deployment whose codec factory resolves a native single-member
    // zlib path would silently truncate to the first ~64 KiB block —
    // this pins the full chain on THIS runtime and documents the
    // requirement). ~300 KiB of lines forces >= 4 BGZF blocks.
    val dir = Files.createTempDirectory("bgzf-hadoop").toString
    val f = new java.io.File(s"$dir/multi.gz")
    val expected = (0 until 20000).map(i => f"line-$i%06d-${"x" * 8}")
    val bgzf = new BgzfOutputStream(new java.io.FileOutputStream(f))
    expected.foreach(l => bgzf.write((l + "\n").getBytes("UTF-8")))
    bgzf.close()
    assert(f.length > 3 * 65536 / 4, s"fixture too small: ${f.length}")
    // 1. the Hadoop codec factory must resolve a codec for .gz and
    //    inflate ALL members
    val conf = spark.sparkContext.hadoopConfiguration
    val factory = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
    val hPath = new org.apache.hadoop.fs.Path(f.getAbsolutePath)
    val codec = factory.getCodec(hPath)
    assert(codec != null, "no codec for .gz")
    val fs = hPath.getFileSystem(conf)
    val in = codec.createInputStream(fs.open(hPath))
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 16)
    var r = in.read(buf)
    while (r >= 0) { out.write(buf, 0, r); r = in.read(buf) }
    in.close()
    val hadoopLines = new String(out.toByteArray, "UTF-8")
      .split("\n", -1).filter(_.nonEmpty).toSeq
    assert(hadoopLines == expected,
      s"Hadoop codec path truncated/diverged: got ${hadoopLines.size} of ${expected.size} lines")
    // 2. the full Spark scan path (what a downstream job actually runs)
    val sparkLines = spark.read.text(f.getAbsolutePath)
      .collect().map(_.getString(0)).toSeq
    assert(sparkLines == expected,
      s"spark.read.text truncated/diverged: got ${sparkLines.size} of ${expected.size} lines")
  }

  test("sharded export: byte-concat of header + range-ordered body shards equals the single-file export") {
    val dir = Files.createTempDirectory("vcf-shard").toString
    val plain = s"$dir/all.vcf"
    val sharded = s"$dir/sharded"
    SonarVcf.exportVcf(store, plain)
    SonarVcf.exportVcfSharded(store, sharded, shards = 4)
    def parts(sub: String): Seq[java.io.File] =
      new java.io.File(s"$sharded/$sub").listFiles()
        .filter(f => f.getName.startsWith("part-")).sortBy(_.getName).toSeq
    val body = parts("01-body")
    assert(body.count(_.length > BgzfOutputStream.EofBlock.length) >= 2,
      s"no real sharding: ${body.map(_.length)}")
    // every part is independently valid BGZF (ends with the EOF block)
    (parts("00-header") ++ body).foreach { f =>
      val b = Files.readAllBytes(f.toPath)
      assert(b.takeRight(28).sameElements(BgzfOutputStream.EofBlock), f.getName)
    }
    // THE MERGE: pure byte concatenation in lexicographic part order
    val cat = new java.io.ByteArrayOutputStream()
    (parts("00-header") ++ body).foreach(f => cat.write(Files.readAllBytes(f.toPath)))
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(cat.toByteArray), 1 << 16)
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 16)
    var r = in.read(buf)
    while (r >= 0) { out.write(buf, 0, r); r = in.read(buf) }
    val gotLines = new String(out.toByteArray, "UTF-8").split("\n", -1).filter(_.nonEmpty)
    val plainLines = spark.read.text(plain).collect().map(_.getString(0))
    assert(gotLines.sameElements(plainLines),
      "concatenated shards diverged from the single-file export")
  }

  test("tabix: .tbi over the exported BGZF answers region queries exactly (reference's tabix -p vcf contract)") {
    // ref: lib/sonartoVCF.py:100 runs `tabix -p vcf` on its bgzip output —
    // the export contract includes indexed regional access. We emit the
    // public .tbi format ourselves and prove it by random-accessing
    // regions through the index and matching a full-scan filter.
    val dir = Files.createTempDirectory("vcf-tabix").toString
    SonarVcf.exportVcf(store, s"$dir/all.vcf.gz")
    val part = new java.io.File(s"$dir/all.vcf.gz").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".gz")).head
    val vcfGz = s"$dir/merged.vcf.gz"
    Files.copy(part.toPath, java.nio.file.Paths.get(vcfGz))
    val n = Tabix.indexVcf(vcfGz, s"$vcfGz.tbi")
    assert(n > 0, "no records indexed")
    val idx = Tabix.readTbi(s"$vcfGz.tbi")
    assert(idx.names == Seq("NC_045512.2"))
    // ground truth: full decode, data lines only
    val all = {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(Files.readAllBytes(java.nio.file.Paths.get(vcfGz))), 1 << 16)
      val bo = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](1 << 16); var r = in.read(buf)
      while (r >= 0) { bo.write(buf, 0, r); r = in.read(buf) }
      new String(bo.toByteArray, "UTF-8").split("\n").filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    }
    assert(all.size.toLong == n)
    def truth(beg: Int, end: Int): Seq[String] = all.filter { l =>
      val c = l.split("\t", 5)
      val b = c(1).toLong - 1; val e = b + math.max(1, c(3).length)
      b < end && e > beg
    }
    // regions: whole genome, a narrow window around the synthetic site,
    // an empty window, and prefix/suffix slices
    for ((beg, end) <- Seq((0, 30000), (4990, 5010), (29990, 30000), (0, 100), (240, 245))) {
      val got = Tabix.query(vcfGz, idx, "NC_045512.2", beg, end)
      assert(got.sorted == truth(beg, end).sorted, s"region [$beg,$end) diverged")
    }
    assert(Tabix.query(vcfGz, idx, "NO_SUCH_CHROM", 0, 100).isEmpty)
  }

  test("tabix: multi-block BGZF with block-spanning lines indexes and queries exactly") {
    // synthetic VCF big enough for many BGZF blocks, with long ALT payloads
    // so lines straddle block boundaries — exercises cross-block line
    // reassembly, chunk merging, and the linear index
    val dir = Files.createTempDirectory("vcf-tabix-big").toString
    val vcfGz = s"$dir/big.vcf.gz"
    val pad = "A" * 400
    val lines = (1 to 4000).map { i =>
      val pos = i * 7 % 29903 + 1
      s"NC_045512.2\t$pos\t.\tG\t$pad\t.\t.\t.\tGT\t1"
    }
    val fo = new java.io.FileOutputStream(vcfGz)
    val bg = new BgzfOutputStream(fo)
    bg.write(("##fileformat=VCFv4.0\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1\n" +
      lines.mkString("", "\n", "\n")).getBytes("US-ASCII"))
    bg.close()
    // blocks split on UNCOMPRESSED size (0xff00), so count BGZF members
    val fixtureBytes = Files.readAllBytes(java.nio.file.Paths.get(vcfGz))
    var bOff = 0; var nBlocks = 0
    while (bOff < fixtureBytes.length) {
      bOff += ((fixtureBytes(bOff + 16) & 0xff) | ((fixtureBytes(bOff + 17) & 0xff) << 8)) + 1
      nBlocks += 1
    }
    assert(nBlocks >= 5, s"fixture too small to be multi-block ($nBlocks blocks)")
    val n = Tabix.indexVcf(vcfGz, s"$vcfGz.tbi")
    assert(n == 4000L)
    val idx = Tabix.readTbi(s"$vcfGz.tbi")
    def truth(beg: Int, end: Int): Seq[String] = lines.filter { l =>
      val p = l.split("\t", 3)(1).toLong - 1
      p < end && p + 1 > beg
    }
    for ((beg, end) <- Seq((0, 29903), (1000, 1100), (0, 1), (29000, 29903), (14000, 14001))) {
      val got = Tabix.query(vcfGz, idx, "NC_045512.2", beg, end)
      assert(got.sorted == truth(beg, end).sorted, s"region [$beg,$end): got ${got.size}, want ${truth(beg, end).size}")
    }
    // reg2bin consistency: the record's own bin is always a candidate bin
    val rnd = new scala.util.Random(11)
    (1 to 500).foreach { _ =>
      val b = rnd.nextInt(1 << 28); val e = b + 1 + rnd.nextInt(1 << 10)
      assert(Tabix.reg2bins(b, e).contains(Tabix.reg2bin(b, e)), s"($b,$e)")
    }
  }

  test("tabix: the sharded export's byte-concatenated parts stay indexable") {
    val dir = Files.createTempDirectory("vcf-tabix-shard").toString
    SonarVcf.exportVcfSharded(store, s"$dir/sharded", shards = 4)
    def parts(sub: String): Seq[java.io.File] =
      new java.io.File(s"$dir/sharded/$sub").listFiles()
        .filter(f => f.getName.startsWith("part-")).sortBy(_.getName).toSeq
    val vcfGz = s"$dir/merged.vcf.gz"
    val out = new java.io.FileOutputStream(vcfGz)
    (parts("00-header") ++ parts("01-body")).foreach(f => out.write(Files.readAllBytes(f.toPath)))
    out.close()
    val n = Tabix.indexVcf(vcfGz, s"$vcfGz.tbi")
    assert(n > 0)
    val idx = Tabix.readTbi(s"$vcfGz.tbi")
    val got = Tabix.query(vcfGz, idx, "NC_045512.2", 0, 30000)
    assert(got.size.toLong == n, "whole-range query through the index must see every record")
  }

  test("tabix: final data line without trailing newline is still indexed") {
    val dir = Files.createTempDirectory("vcf-tabix-noeol").toString
    val vcfGz = s"$dir/noeol.vcf.gz"
    val bg = new BgzfOutputStream(new java.io.FileOutputStream(vcfGz))
    bg.write(("#CHROM\tPOS\tID\tREF\tALT\n" +
      "NC_045512.2\t100\t.\tA\tT\n" +
      "NC_045512.2\t200\t.\tG\tC").getBytes("US-ASCII")) // no trailing \n
    bg.close()
    val n = Tabix.indexVcf(vcfGz, s"$vcfGz.tbi")
    assert(n == 2L, "the unterminated final record must be counted")
    val idx = Tabix.readTbi(s"$vcfGz.tbi")
    val got = Tabix.query(vcfGz, idx, "NC_045512.2", 150, 250)
    assert(got == Seq("NC_045512.2\t200\t.\tG\tC"))
  }

  test("tabix: genuinely identical data lines at different file positions both survive a region query") {
    // htslib tabix returns every record instance; a content-based dedup
    // would collapse these two into one
    val dir = Files.createTempDirectory("vcf-tabix-dup").toString
    val vcfGz = s"$dir/dup.vcf.gz"
    val line = "NC_045512.2\t500\t.\tA\tT\t.\t.\t.\tGT\t1"
    val bg = new BgzfOutputStream(new java.io.FileOutputStream(vcfGz))
    bg.write(s"#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1\n$line\n$line\n"
      .getBytes("US-ASCII"))
    bg.close()
    assert(Tabix.indexVcf(vcfGz, s"$vcfGz.tbi") == 2L)
    val idx = Tabix.readTbi(s"$vcfGz.tbi")
    assert(Tabix.query(vcfGz, idx, "NC_045512.2", 0, 1000) == Seq(line, line))
  }

  test("tabix: corrupt BGZF trailer (ISIZE out of range, CRC mismatch) fails loudly, not with OOM/NASE") {
    val dir = Files.createTempDirectory("vcf-tabix-corrupt").toString
    val clean = s"$dir/clean.vcf.gz"
    val bg = new BgzfOutputStream(new java.io.FileOutputStream(clean))
    bg.write("#CHROM\tPOS\tID\tREF\tALT\nNC_045512.2\t100\t.\tA\tT\n".getBytes("US-ASCII"))
    bg.close()
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(clean))
    // first block length from its BC subfield (BSIZE at member offset 16)
    val blockLen = ((bytes(16) & 0xff) | ((bytes(17) & 0xff) << 8)) + 1
    def corrupted(mutate: Array[Byte] => Unit): String = {
      val b = bytes.clone(); mutate(b)
      val p = s"$dir/corrupt-${b.hashCode}.vcf.gz"
      Files.write(java.nio.file.Paths.get(p), b)
      p
    }
    // ISIZE = 0xFFFFFFFF (negative as int): must not NegativeArraySizeException
    val neg = corrupted { b => (1 to 4).foreach(i => b(blockLen - i) = 0xff.toByte) }
    // ISIZE = 2 MiB: over the 64 KiB BGZF cap, must not allocate it
    val huge = corrupted { b =>
      b(blockLen - 4) = 0; b(blockLen - 3) = 0; b(blockLen - 2) = 0x20; b(blockLen - 1) = 0
    }
    // flipped CRC byte with intact payload: must be detected
    val badCrc = corrupted { b => b(blockLen - 8) = (b(blockLen - 8) ^ 0x5a).toByte }
    for (p <- Seq(neg, huge, badCrc))
      intercept[IllegalArgumentException] { Tabix.indexVcf(p, s"$p.tbi") }
  }
}
