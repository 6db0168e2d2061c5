package graft.covsonar

import graft.Ckpt._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One FASTA record, already harmonized (upper-case, U→T) and hashed. */
final case class FastaRecord(accession: String, description: String, seqhash: String, seq: String)

/** Per-unique-sequence alignment output, profile arrays split for the store's
  * `array<string>` model.
  */
final case class ProcessedSeqRow(
    seqhash: String,
    dnaDiff: Seq[Variant],
    aaDiff: Seq[Variant],
    dna_profile: Seq[String],
    aa_profile: Seq[String],
    fs_profile: Seq[String])

final case class AddReport(
    genomesAdded: Long,
    sequencesAdded: Long,
    descriptionsUpdated: Long,
    skippedExisting: Long,
    skippedInvalid: Seq[String])

/** The `add` ingest pipeline (reference: sonar.py:511-702 + sonardb
  * process_fasta/import_genome, lib/sonardb.py:2508-2714), re-expressed as a
  * set-based Spark job:
  *
  *   FASTA source → harmonize+SEGUID → per-accession dedup/conflict check →
  *   per-seqhash dedup (anti-join against `sequence`) → alignment+variant
  *   calling in `mapPartitions` with the 30 kb reference broadcast →
  *   paranoid roundtrip *inside the task* (§2.9, stronger than the
  *   reference: nothing is written unless every restore matches) → appends.
  *
  * The seqhash-dedup-before-alignment is the workload optimization the whole
  * reference data model exists for (sonar.py:607-611): at 100 TB the
  * alignment flatMap only ever sees *new unique* sequences, and everything
  * else is hash joins + appends.
  */
object SonarIngest {

  /** Distributed FASTA source (S1): one input split per `\n>`-delimited
    * record via lineSep, so multi-GB multi-record FASTA files parallelize
    * without whole-file reads. Gzip input works transparently through the
    * Hadoop codec; xz input (reference: `sonar.py:496-509` opens gz/xz/plain
    * by extension, S2) goes through a per-file XZ stream — xz is a
    * non-splittable format, so one-task-per-file is exactly the parallelism
    * a Hadoop codec would yield.
    */
  def readFasta(spark: SparkSession, path: String): Dataset[FastaRecord] = {
    import spark.implicits._
    if (path.endsWith(".xz")) {
      spark.sparkContext.binaryFiles(path)
        .flatMap { case (_, pds) =>
          val in = new org.tukaani.xz.XZInputStream(
            new java.io.BufferedInputStream(pds.open()))
          val text = try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8) finally in.close()
          text.split("\n>", -1).iterator.flatMap(parseRecord)
        }.toDS()
    } else
      spark.read.option("lineSep", "\n>").text(path).as[String].flatMap(parseRecord _)
  }

  /** One `>`-header FASTA chunk (leading `>` optional) → harmonized record. */
  private[covsonar] def parseRecord(chunk0: String): Option[FastaRecord] = {
    val chunk = if (chunk0.startsWith(">")) chunk0.substring(1) else chunk0
    val nl = chunk.indexOf('\n')
    if (nl < 0 || chunk.trim.isEmpty) None
    else {
      val header = chunk.substring(0, nl).trim
      val seq = Genetics.harmonize(
        chunk.substring(nl + 1).filterNot(c => c == '\n' || c == '\r'))
      val id = header.split("\\s+", 2)(0)
      if (seq.isEmpty) None // zero-length records are skipped (sonar.py:577-578)
      else Some(FastaRecord(id, header, Genetics.seguid(seq), seq))
    }
  }

  def fromSequences(spark: SparkSession, recs: Seq[(String, String, String)]): Dataset[FastaRecord] = {
    import spark.implicits._
    recs.map { case (acc, descr, raw) =>
      val seq = Genetics.harmonize(raw)
      FastaRecord(acc, descr, Genetics.seguid(seq), seq)
    }.filter(_.seq.nonEmpty).toDS()
  }

  def add(
      store: SonarStore,
      records: Dataset[FastaRecord],
      force: Boolean = false,
      paranoid: Boolean = true,
      updates: Map[String, String] = Map.empty): AddReport = {
    val spark = store.spark
    import spark.implicits._

    // One checkpointed pass materializes parse + harmonize + SEGUID + IUPAC
    // validation (F3, sonar.py:617-628) + the conflict join against existing
    // genomes (sonar.py:586-605); every count/collect/filter below is a cheap
    // local scan of that checkpoint instead of its own recomputation job —
    // and, being lineage-free, none of it can be invalidated by the appends.
    val existing = store.table("genome")
      .select(col("accession"), col("seqhash").as("old_seqhash"),
        col("description").as("old_descr"))
    val joined = records.dropDuplicates("accession")
      .map(r => (r.accession, r.description, r.seqhash, r.seq,
        Genetics.invalidNtChars(r.seq).nonEmpty))
      .toDF("accession", "description", "seqhash", "seq", "is_invalid")
      .join(existing, Seq("accession"), "left") // join strategy left to AQE
      .lossTolerantCheckpoint()

    // One aggregation pass over the checkpoint yields every happy-path
    // count; the rare-path collects (conflict samples, invalid accession
    // list, replacement list) run only when their count is non-zero, so a
    // clean bulk ingest pays 1 stats job here instead of 5.
    val validC = !col("is_invalid")
    val seqConfC = validC && col("old_seqhash").isNotNull &&
      col("old_seqhash") =!= col("seqhash")
    val descrConfC = validC && col("old_seqhash") === col("seqhash") &&
      !(col("old_descr") <=> col("description"))
    val toInsertC = validC && (col("old_seqhash").isNull ||
      (if (force) col("old_seqhash") =!= col("seqhash") else lit(false)))
    val st = joined.agg(
      count(when(col("is_invalid"), 1)).as("n_invalid"),
      count(when(validC, 1)).as("n_valid"),
      count(when(seqConfC, 1)).as("n_seqconf"),
      count(when(descrConfC, 1)).as("n_descrconf"),
      count(when(toInsertC, 1)).as("n_toinsert")).first()
    def stat(name: String): Long = st.getAs[Long](name)

    val skippedInvalid =
      if (stat("n_invalid") == 0) Seq.empty[String]
      else joined.filter(col("is_invalid")).select("accession").as[String].collect().toSeq

    if (!force) {
      if (stat("n_seqconf") > 0) {
        val c = joined.filter(seqConfC).select("accession").as[String].take(1)
        require(c.isEmpty, s"database error: ${c.headOption.getOrElse("")} exists in the " +
          "database with a different sequence (use force to allow updating)")
      }
      if (stat("n_descrconf") > 0) {
        val d = joined.filter(descrConfC).select("accession").as[String].take(1)
        require(d.isEmpty, s"database error: ${d.headOption.getOrElse("")} exists in the " +
          "database with a different description (use force to allow updating)")
      }
    }

    // force path: replaced genomes are fully removed first (delete+GC, K6)
    val replacedAccs = if (force && stat("n_seqconf") > 0)
      joined.filter(seqConfC).select("accession").as[String].collect().toSeq
      else Seq.empty
    if (replacedAccs.nonEmpty) SonarOps.remove(store, replacedAccs)

    // derives from the checkpoint — no extra caching needed
    val nDescrUpdates = if (force && stat("n_descrconf") > 0) {
      SonarOps.updateMetadata(store, joined.filter(descrConfC)
        .select("accession", "description")
        .withColumnRenamed("description", "new_description"))
      stat("n_descrconf")
    } else 0L

    val toInsert = joined.filter(toInsertC)
      .select("accession", "description", "seqhash", "seq")
    val nGenomes = stat("n_toinsert")
    val skippedExisting = stat("n_valid") - nGenomes

    // new unique sequences only: dedup by hash, anti-join known sequences
    val newSeqs = toInsert.dropDuplicates("seqhash")
      .join(store.table("sequence"), Seq("seqhash"), "left_anti")
      .select("seqhash", "seq").as[(String, String)]
      .repartition(spark.sparkContext.defaultParallelism)

    val refB = spark.sparkContext.broadcast(Reference.sarsCov2)
    val doParanoid = paranoid
    val processed: Dataset[ProcessedSeqRow] = newSeqs.mapPartitions { it =>
      val ref = refB.value
      it.map { case (seqhash, seq) =>
        val p = VariantCaller.processSequence(seq, ref)
        if (doParanoid) {
          // §2.9 paranoid roundtrip, run before anything is written
          val fromVars = SonarRestore.applyVariants(p.dnaDiff, ref.refSeq)
          require(fromVars == seq,
            s"paranoid: $seqhash restored from dna variants diverges from input")
          val fromProfile = SonarRestore.applyProfile(p.dnaProfile, ref.refSeq)
          require(fromProfile == seq,
            s"paranoid: $seqhash restored from dna profile diverges from input")
        }
        ProcessedSeqRow(seqhash, p.dnaDiff, p.aaDiff,
          splitProfile(p.dnaProfile), splitProfile(p.aaProfile), splitProfile(p.fsProfile))
      }
    }.lossTolerantCheckpoint() // eager: aligns once, fails fast on paranoid errors

    val nNewSeqs = processed.count()

    // ---- writes (K5) ----
    // Crash-safety ordering: per-sequence tables, then `sequence`, then
    // `genome`. `sequence` is the dedup sentinel that makes a retry skip
    // alignment for a seqhash, so it follows every per-sequence table.
    // `genome` comes last: a retry skips an accession already in `genome`,
    // so a genome row written before `sequence` would never heal, and a
    // later accession sharing its seqhash would be aligned again and its
    // profile and bridge rows appended twice. A crash between `sequence`
    // and `genome` heals: the retry finds the accessions missing, skips
    // their alignment through `sequence` and writes `genome`.
    // The five per-sequence appends are mutually independent, so they run as
    // concurrent Spark jobs (all read the same lineage-free checkpoint).
    // On local disk this is time-neutral — the box is CPU-bound — but
    // against object storage each append's commit latency overlaps the
    // others' instead of summing.
    val dnaRows = processed
      .select(col("seqhash"), explode(col("dnaDiff")).as("v"))
      .select(col("seqhash"), col("v.start").as("start"),
        coalesce(col("v.end"), col("v.start") + 1).as("end"),
        col("v.ref").as("ref"), col("v.alt").as("alt"))
      .withColumn("varid", SonarStore.dnaVarId)
      .cache()
    val protRows = processed
      .select(col("seqhash"), explode(col("aaDiff")).as("v"))
      .select(col("seqhash"), col("v.protein").as("protein"), col("v.locus").as("locus"),
        col("v.start").as("start"), coalesce(col("v.end"), col("v.start") + 1).as("end"),
        col("v.ref").as("ref"), col("v.alt").as("alt"))
      .withColumn("varid", SonarStore.protVarId)
      .cache()
    // Pre-append profile signature: the proof TokenIndex.merge needs that
    // the live index covers exactly the table the increment lands on. On a
    // fresh store (no profile yet) the signature is the empty-dir form;
    // merge will simply find no META and skip.
    val preIdxSig = scala.util.Try(
      graft.Tables.listingSignature(spark, store.tableLocation("profile"))).getOrElse("")
    // the bridge appends need no dedup: processed rows are unique per
    // seqhash and each carries distinct varids (SonarBridgeSpec)
    locally {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      Await.result(Future.sequence(Seq(
        Future(store.append("profile", processed.select(
          col("seqhash"), col("dna_profile"), col("aa_profile"), col("fs_profile")))),
        Future {
          appendNewDimRows(store, "dna",
            dnaRows.select("varid", "start", "end", "ref", "alt"))
          store.append("sequence2dna", dnaRows.select("seqhash", "varid"))
        },
        Future {
          appendNewDimRows(store, "prot",
            protRows.select("varid", "protein", "locus", "start", "end", "ref", "alt"))
          store.append("sequence2prot", protRows.select("seqhash", "varid"))
        })), Duration.Inf)
    }

    val genomeRows = toInsert.drop("seq")
      .withColumn("lineage", lit(null: String))
      .withColumn("zip", lit(null: String))
      .withColumn("date", lit(null: String))
      .withColumn("submission_date", lit(null: String))
      .withColumn("gisaid", lit(null: String))
      .withColumn("ena", lit(null: String))
      // DEFAULT '' columns (lib/db.sqlite:19-28)
      .withColumn("source", lit("")).withColumn("collection", lit(""))
      .withColumn("lab", lit("")).withColumn("technology", lit(""))
      .withColumn("platform", lit("")).withColumn("chemistry", lit(""))
      .withColumn("software", lit("")).withColumn("software_version", lit(""))
      .withColumn("material", lit(""))
      .withColumn("ct", lit(null: java.lang.Double))
      .withColumn("imported", current_timestamp())
    // Incremental token-index maintenance: without this, the first nightly
    // append silently degrades every rare-variant `match` to a full scan
    // until the next full-store `optimize` (a complete corpus rewrite).
    // The merge reads only the lineage-free `processed` checkpoint (exactly
    // the rows the profile append wrote) plus the vocabulary-sized tokens
    // table; on a store without a live fresh index it is one file-existence
    // check, and when the append left the listing untouched it is a no-op.
    // Unconditional — even an all-duplicates batch may have appended empty
    // part files, and re-stamping the signature there is what keeps the
    // index fresh. Runs after the profile append it indexes, before
    // `sequence` — the crash-ordering sentinel — so a retried batch redoes
    // it coherently.
    TokenIndex.merge(store,
      processed.select(col("seqhash"), col("dna_profile"), col("aa_profile")),
      preIdxSig)

    store.append("sequence", processed.select(col("seqhash")))
    store.append("genome", genomeRows)

    // global metadata updates from add's --source/--lab/--collection flags
    // (sonar.py:536-543, 677-685) apply to every accession in the input
    if (updates.nonEmpty) {
      var upd = joined.select("accession")
      updates.foreach { case (field, value) => upd = upd.withColumn(s"new_$field", lit(value)) }
      SonarOps.updateMetadata(store, upd)
    }

    dnaRows.unpersist(); protRows.unpersist()
    AddReport(nGenomes, nNewSeqs, nDescrUpdates, skippedExisting, skippedInvalid)
  }

  private def splitProfile(p: String): Seq[String] =
    if (p.trim.isEmpty) Seq.empty else p.split(" ").toSeq.filter(_.nonEmpty)

  /** UNIQUE-constraint emulation: only variant-dimension rows whose varid is
    * unseen are appended (INSERT OR IGNORE, lib/sonardb.py:1442-1466).
    */
  private def appendNewDimRows(store: SonarStore, name: String, rows: DataFrame): Unit =
    store.append(name,
      rows.dropDuplicates("varid")
        .join(store.table(name).select("varid"), Seq("varid"), "left_anti"))
}
