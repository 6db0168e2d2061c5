package graft.covsonar

import scala.io.Source

/** A single CDS annotation (possibly multi-exon, e.g. ORF1b's ribosomal
  * slippage which repeats one genomic position).
  *
  * Coordinates are 0-based, [start, end) half-open, exactly as the reference
  * engine models them (rki-mf1/covsonar lib/sonardb.py:86-330, sonarCDS).
  * `codingPositions` keeps duplicates across overlapping exons — frameshift
  * math depends on that (lib/sonardb.py:270-282, 420-497).
  */
final case class Cds(
    locus: String,
    symbol: String,
    coords: List[(Int, Int)],
    seqs: List[String],
    strand: String) {

  val start: Int = coords.head._1 // inclusive
  val end: Int = coords.last._2   // exclusive

  @transient lazy val codingPositions: Array[Int] =
    coords.iterator.flatMap { case (s, e) => s until e }.toArray

  @transient lazy val codingPositionsSet: Set[Int] = codingPositions.toSet

  def nuc: String = seqs.mkString

  def aa: String =
    Genetics.translate(if (strand == "+") nuc else Genetics.reverseComplement(nuc))

  /** CDS overlap by outer range (lib/sonardb.py:385-416). */
  def isCds(x: Int, y: Int): Boolean = y >= start && end >= x

  /** A deletion of genomic [x, y) shifts this CDS's frame iff the count of
    * surviving coding positions is not a multiple of 3 (lib/sonardb.py:420-462).
    */
  def isFrameshiftDel(x: Int, y: Int): Boolean =
    isCds(x, y) && codingPositions.count(z => z < x || z >= y) % 3 != 0

  /** An insertion of length l (excluding anchor) at coding position x shifts
    * the frame iff l % 3 != 0 (lib/sonardb.py:464-497).
    */
  def isFrameshiftIns(x: Int, l: Int): Boolean =
    l % 3 != 0 && codingPositionsSet.contains(x)
}

/** Immutable, broadcast-friendly bundle of the reference genome + annotation.
  * ~30 kb of sequence and 12 CDS records — broadcast to every executor once,
  * never a DataFrame (SURVEY §2.1 S5/S6).
  */
final case class RefModel(refSeq: String, refDescr: String, cds: List[Cds]) {
  @transient lazy val length: Int = refSeq.length
}

object Reference {

  /** Parse a multi-record FASTA string into (id, description, rawSeq).
    * id = first whitespace-delimited token of the header, description = full
    * header line (reference: Biopython SeqIO semantics used at sonar.py:572).
    */
  def parseFasta(text: String): List[(String, String, String)] = {
    val out = List.newBuilder[(String, String, String)]
    var id: String = null
    var descr: String = null
    val seq = new StringBuilder
    def flush(): Unit = if (id != null) out += ((id, descr, seq.toString))
    text.linesIterator.foreach { line =>
      if (line.startsWith(">")) {
        flush()
        descr = line.substring(1).trim
        id = descr.split("\\s+", 2)(0)
        seq.clear()
      } else if (id != null) seq ++= line.trim
    }
    flush()
    out.result()
  }

  private val symbolRe = "gene=([^;]+)(?:;|$)".r
  private val locusRe = "locus_tag=([^;]+)(?:;|$)".r
  private val idRe = "ID=([^;]+)(?:;|$)".r

  /** Parse CDS features from GFF3 text, grouping multi-exon features by their
    * ID attribute and slicing exon sequences from the genome
    * (reference semantics: lib/sonardb.py:669-749, process_gff3).
    */
  def parseGff3(gffText: String, genomeSeq: String): List[Cds] = {
    val gseq = genomeSeq.toUpperCase
    // LinkedHashMap preserves file order inside each feature id
    val acc = scala.collection.mutable.LinkedHashMap
      .empty[String, (String, String, String, List[(Int, Int)])]
    gffText.linesIterator.foreach { line =>
      val f = line.stripLineEnd.split("\t")
      if (!line.startsWith("#") && f.length >= 7 && f(2) == "CDS") {
        val attrs = f.last
        val id = idRe.findFirstMatchIn(attrs).map(_.group(1)).getOrElse("")
        val symbol = symbolRe.findFirstMatchIn(attrs).map(_.group(1)).getOrElse("")
        val locus = locusRe.findFirstMatchIn(attrs).map(_.group(1)).getOrElse("")
        val strand = f(6)
        val s = f(3).toInt - 1
        val e = f(4).toInt
        acc.get(id) match {
          case None => acc(id) = (locus, symbol, strand, List((s, e)))
          case Some((l0, sym0, str0, cs)) =>
            require(sym0 == symbol, s"gff3 error: multiple symbols for locus $locus")
            require(str0 == strand, s"gff3 error: different strands for locus $locus")
            acc(id) = (l0, sym0, str0, cs :+ ((s, e)))
        }
      }
    }
    acc.valuesIterator.map { case (locus, symbol, strand, coords) =>
      val seqs = coords.map { case (s, e) =>
        val exon = gseq.substring(s, e)
        if (strand == "+") exon else Genetics.reverseComplement(exon)
      }
      Cds(locus, symbol, coords, seqs, strand)
    }.toList.sortBy(_.start)
  }

  private def readResource(path: String): String = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"missing resource $path")
    try Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** The bundled SARS-CoV-2 NC_045512.2 reference (ref.fna + ref.gff3). */
  lazy val sarsCov2: RefModel = {
    val (_, descr, raw) = parseFasta(readResource("/covsonar/ref.fna")).head
    val seq = Genetics.harmonize(raw)
    RefModel(seq, descr, parseGff3(readResource("/covsonar/ref.gff3"), seq))
  }

  /** Bundled pango lineage → comma-joined sublineages map (lineage.all.tsv,
    * built by the reference's Lineages_UPDATER; "none" marks a leaf).
    */
  lazy val lineageSublineages: Map[String, String] =
    parseLineageTsv(readResource("/covsonar/lineage.all.tsv"))

  /** `lineage\tsublineages` rows after a header line; short rows are skipped. */
  def parseLineageTsv(text: String): Map[String, String] =
    text.linesIterator.drop(1).flatMap { line =>
      val f = line.split("\t")
      if (f.length >= 2) Some(f(0) -> f(1)) else None
    }.toMap
}
