package graft.covsonar

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-sample VCF export (reference: lib/sonartoVCF.py / sonartoVCF_v2.py —
  * SURVEY §2.10, operators K3/K4 with aggregate A8 and filter P9).
  *
  * The reference writes one VCF per accession in a process pool, then folds
  * them through `bcftools merge` 500 files at a time with a two-file
  * ping-pong accumulator. Spark-native, that entire merge tree is a single
  * shuffle: group variant rows by (POS, REF), number the alternate alleles,
  * and carry per-sample genotypes as a map column. Sample-major text layout
  * only happens at the sink.
  *
  * Semantics follow v1 (normative) with v2's multi-sample shape:
  *  - POS is start+1 (VCF is 1-based; the store is 0-based).
  *  - deletions (alt = "") and out-of-range positions are dropped
  *    (lib/sonartoVCF_v2.py:429-438, P9).
  *  - ID is the `ref POS alt` token list, ';'-joined and deduplicated (F11,
  *    lib/sonartoVCF.py:318-322).
  *  - genotype numbers are per-(POS,REF) alt indexes; the reference numbers
  *    by order of first appearance during its pandas iteration
  *    (lib/sonartoVCF_v2.py:225-252), which depends on accession iteration
  *    order — we use (first accession, alt) ordering, which is deterministic
  *    and matches the reference whenever accessions are processed in sorted
  *    order.
  *  - INFO carries AN/AC (A8): AN = called alleles at the site, AC = count
  *    per alt in genotype order (lib/sonartoVCF_v2.py:99-118).
  */
object SonarVcf {

  /** One row per variant site: CHROM, POS, ID, REF, ALT (comma-list), QUAL,
    * FILTER, INFO, FORMAT plus a `genotypes` map accession→GT-number.
    * Columns before `genotypes` are exactly the VCF fixed fields.
    */
  def vcfSites(
      store: SonarStore,
      accessions: Seq[String] = Nil,
      dates: Seq[String] = Nil): DataFrame = {
    val ref = Reference.sarsCov2
    val chrom = ref.refDescr.split("\\s+")(0)

    var rows = store.dnaView.filter(col("start").isNotNull)
    if (accessions.nonEmpty) rows = SonarOps.filterByList(rows, "accession", accessions)
    if (dates.nonEmpty) {
      val cond = dates.map { d =>
        if (d.contains(":")) { val Array(a, b) = d.split(":", 2); col("date").between(a, b) }
        else col("date") === d
      }.reduce(_ || _)
      rows = rows.filter(cond)
    }

    val sited = rows
      .select(col("accession"), (col("start") + 1).as("pos"), col("ref"), col("alt"))
      // P9: VCF range filter + deletion drop (alt = '' rows)
      .filter(col("alt") =!= "" && col("pos").between(1, ref.length))

    // one row per (site, alt): allele count + the samples carrying it
    val perAllele = sited
      .groupBy(col("pos"), col("ref"), col("alt"))
      .agg(
        count(lit(1)).as("ac"),
        sort_array(collect_set(col("accession"))).as("accs"),
        min(col("accession")).as("first_acc"))

    // GT numbering within a site (the v2 multi-allelic index)
    val w = Window.partitionBy(col("pos"), col("ref")).orderBy(col("first_acc"), col("alt"))
    val numbered = perAllele.withColumn("gt", row_number().over(w))

    // collapse to one row per site
    val perSite = numbered
      .groupBy(col("pos"), col("ref"))
      .agg(
        sort_array(collect_list(struct(col("gt"), col("alt"), col("ac"), col("accs"))))
          .as("alleles"),
        sum(col("ac")).as("an"))

    val alleleAlt = transform(col("alleles"), a => a.getField("alt"))
    val idTokens = transform(col("alleles"),
      a => concat(col("ref"), col("pos").cast("string"), a.getField("alt")))
    val genotypeEntries = flatten(transform(col("alleles"),
      a => transform(a.getField("accs"), acc => struct(acc.as("key"),
        a.getField("gt").cast("string").as("value")))))

    perSite.select(
      lit(chrom).as("chrom"),
      col("pos"),
      // F11: ';'-joined, deduplicated ID list
      array_join(array_distinct(idTokens), ";").as("id"),
      col("ref"),
      array_join(alleleAlt, ",").as("alt"),
      lit(".").as("qual"),
      lit(".").as("filter"),
      concat(lit("AN="), col("an").cast("string"), lit(";AC="),
        array_join(transform(col("alleles"), a => a.getField("ac").cast("string")), ","))
        .as("info"),
      lit("GT").as("format"),
      map_from_entries(genotypeEntries).as("genotypes"))
  }

  /** VCF 4.2 header (reference: create_fix_vcf_header, lib/sonartoVCF.py:22-34). */
  def header(sampleIds: Seq[String], refDescr: String): String = {
    "##fileformat=VCFv4.2\n" +
      "##poweredby=covsonarspark\n" +
      s"##reference=$refDescr\n" +
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">\n" +
      "##INFO=<ID=AC,Number=.,Type=Integer,Description=\"Allele count in genotypes, " +
      "for each ALT allele, in the same order as listed\">\n" +
      "##INFO=<ID=AN,Number=1,Type=Integer,Description=\"Total number of alleles " +
      "in called genotypes\">\n" +
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t" +
      sampleIds.mkString("\t")
  }

  /** Render sites as VCF body lines for the given sample column order —
    * absent genotypes print '.', like a bcftools-merged matrix. Stays fully
    * distributed AND cohort-scale; two shapes were measured and rejected at
    * a 10⁴-sample cohort (SonarVcfVolumeSpec pins this size):
    *  - one Column per sample (3·10⁴ expression nodes) OOMs codegen;
    *  - a constant-size transform over a sample-array literal survives, but
    *    each `element_at(map)` is a LINEAR scan of the site's genotype map
    *    — O(sites × samples × carriers) ≈ 6·10⁹ comparisons here.
    * So the matrix row is scattered imperatively per partition (the one
    * place mapPartitions beats expressions: dense O(samples + carriers)
    * fill against a broadcast sample→column index). The global sort matches
    * the reference's POS-sorted output (lib/sonartoVCF_v2.py:338).
    */
  def vcfLines(sites: DataFrame, sampleIds: Seq[String]): DataFrame =
    // (pos, ref) — not pos alone: sites are one row per (pos, ref), and a
    // same-pos SNV/MNV tie under a non-stable sort would order
    // engine-arbitrarily, breaking the sharded export's byte-concat
    // equivalence with this single-file form
    formatLines(sites.orderBy(col("pos"), col("ref")), sampleIds)

  /** Formats already-ordered site rows into VCF body lines (one narrow
    * pass; ordering is the caller's contract — global orderBy for the
    * single-file export, range-partition + intra-shard sort for the
    * sharded one).
    */
  private def formatLines(sites: DataFrame, sampleIds: Seq[String]): DataFrame = {
    val spark = sites.sparkSession
    import spark.implicits._
    val bcIdx = spark.sparkContext.broadcast(sampleIds.zipWithIndex.toMap)
    sites
      .select(col("chrom"), col("pos").cast("long"), col("id"), col("ref"),
        col("alt"), col("qual"), col("filter"), col("info"), col("format"),
        col("genotypes"))
      .as[(String, Long, String, String, String, String, String, String, String,
        Map[String, String])]
      .mapPartitions { it =>
        val idx = bcIdx.value
        it.map { case (chrom, pos, id, ref, alt, qual, filt, info, format, gts) =>
          val cells = Array.fill(idx.size)(".")
          gts.foreach { case (acc, gt) => idx.get(acc).foreach(i => cells(i) = gt) }
          (Iterator(chrom, pos.toString, id, ref, alt, qual, filt, info, format) ++
            cells.iterator).mkString("\t")
        }
      }.toDF("line")
  }

  /** Full export: header + body written as one text dataset (the Spark analog
    * of the reference's merged `.vcf` file). A `.gz` path compresses through
    * [[BgzfCodec]] — BGZF blocked gzip, byte-compatible with plain gzip
    * readers AND tabix/bcftools-indexable, matching the reference's bgzip
    * output (ref: lib/sonartoVCF.py:92-129) instead of round-8's plain
    * whole-stream gzip.
    */
  def exportVcf(
      store: SonarStore,
      path: String,
      accessions: Seq[String] = Nil,
      dates: Seq[String] = Nil): Unit =
    withSites(store, accessions, dates) { (sites, sampleIds, head) =>
      val writer = head.coalesce(1)
        .union(vcfLines(sites, sampleIds).coalesce(1))
        .write.mode(SaveMode.Overwrite)
      (if (path.endsWith(".gz"))
         writer.option("compression", classOf[BgzfCodec].getName)
       else writer)
        .text(path)
    }

  /** Population-scale export — removes [[exportVcf]]'s inherent
    * single-task coalesce(1) (fine at reference parity, a bottleneck for
    * a many-sample population export): the body is RANGE-partitioned by
    * position into `shards` BGZF part files written in parallel, the
    * header its own part. Because BGZF concatenates soundly (an interior
    * EOF block is just an empty member) and `repartitionByRange` assigns
    * ascending position ranges to ascending partition ids, the single
    * merged, sorted, tabix-indexable VCF is a pure BYTE CONCATENATION in
    * lexicographic part order —
    * `cat 00-header/part-* 01-body/part-* > all.vcf.gz`, or an
    * object-store compose — with no recompression and no single writer
    * task anywhere. Spec-pinned: concat-of-shards gunzips to exactly the
    * single-file export's lines.
    */
  def exportVcfSharded(
      store: SonarStore,
      path: String,
      shards: Int,
      accessions: Seq[String] = Nil,
      dates: Seq[String] = Nil): Unit = {
    require(shards >= 1, s"shards must be positive, got $shards")
    withSites(store, accessions, dates) { (sites, sampleIds, head) =>
      val bgzf = classOf[BgzfCodec].getName
      head.coalesce(1).write.mode(SaveMode.Overwrite)
        .option("compression", bgzf).text(s"$path/00-header")
      formatLines(
          sites.repartitionByRange(shards, col("pos"))
            .sortWithinPartitions("pos", "ref"),
          sampleIds)
        .write.mode(SaveMode.Overwrite)
        .option("compression", bgzf).text(s"$path/01-body")
    }
  }

  /** The prologue both exports share: the cached site table, its sample ids
    * in column order and the header lines, handed to `write`; the sites are
    * unpersisted after it.
    */
  private def withSites(store: SonarStore, accessions: Seq[String], dates: Seq[String])(
      write: (DataFrame, Seq[String], DataFrame) => Unit): Unit = {
    val spark = store.spark
    import spark.implicits._
    val sites = vcfSites(store, accessions, dates).cache()
    try {
      val sampleIds = sites
        .select(explode(map_keys(col("genotypes"))).as("acc"))
        .distinct().orderBy("acc").as[String].collect().toSeq
      val head = spark.createDataset(header(sampleIds, Reference.sarsCov2.refDescr)
        .split("\n").toSeq).toDF("line")
      write(sites, sampleIds, head)
    } finally sites.unpersist()
  }
}
