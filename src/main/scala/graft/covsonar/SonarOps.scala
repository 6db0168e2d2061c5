package graft.covsonar

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Database info report (reference: `sonar.py show_db_info`, sonar.py:875-922 +
  * count queries lib/sonardb.py:1552-1595 — SURVEY §2.5 A2-A7).
  */
final case class InfoReport(
    genomes: Long,
    uniqueSequences: Long,
    labs: Long,
    earliestImport: String,
    latestImport: String,
    earliestDate: String,
    latestDate: String,
    metadataCoverage: Map[String, Long])

/** Mutation + stats operators over a [[SonarStore]]: delete with orphan GC
  * (K6), metadata update (K7), TSV/pangolin metadata import (S3/S4), info
  * stats (A2-A7) and compaction (`optimize`).
  */
object SonarOps {

  /** Membership predicate that stays scalable for file-sized lists: short
    * lists become an `isin`, which pushes into the parquet scan (range-
    * clustered row groups + sized blooms skip granules holding no listed
    * value); long ones a semi/anti join against a broadcast DataFrame. A
    * giant In literal would blow up Catalyst analysis and codegen, and
    * between the pushdown cap and ~1000 values the pushed filter degrades
    * to a vacuous min/max range (random hashes span everything) whose
    * filtered read path MEASURED 5× the bytes of a plain scan.
    */
  private[covsonar] def filterByList(
      df: DataFrame, field: String, values: Seq[String], negate: Boolean = false): DataFrame =
    if (values.size <= SonarStore.CarrierPushdownCap) {
      // The pushed IN must arrive at parquet as an In filter: above
      // `spark.sql.parquet.pushdown.inFilterThreshold` (default 10) it
      // degrades to a min/max range, vacuous for hash keys. Raised here,
      // where the filtered plan is built — and deliberately as a
      // SESSION-level setting (Spark reads it at scan planning, which
      // happens lazily at action time, so a set-and-restore around this
      // builder would be a race). It only changes pushdown shape, never
      // results, and 512-value INs stay ≥2× under the parquet filter
      // visitor's measured stack bound.
      val spark = df.sparkSession
      val th = "spark.sql.parquet.pushdown.inFilterThreshold"
      if (spark.conf.get(th, "10").toInt < SonarStore.CarrierPushdownCap)
        spark.conf.set(th, SonarStore.CarrierPushdownCap.toString)
      val c = col(field).isin(values: _*)
      df.filter(if (negate) !c else c)
    } else {
      val spark = df.sparkSession
      import spark.implicits._
      val list = values.distinct.toDF(field)
      df.join(broadcast(list), Seq(field), if (negate) "left_anti" else "left_semi")
    }

  /** Remove genomes by accession (reference: delete_genome,
    * lib/sonardb.py:1470-1504 + CLI sonar.py:704-710 — SURVEY §2.1 K6).
    *
    * Spark re-expression: the per-accession delete loop becomes one anti-join
    * rewrite of `genome`, and the per-seqhash orphan check becomes a single
    * left-anti join: a seqhash is orphaned iff it belonged to a removed
    * accession and no surviving accession references it. Dependent tables are
    * rewritten before `genome` so every orphan computation reads live data.
    */
  def remove(store: SonarStore, accessions: Seq[String]): Unit = {
    if (accessions.isEmpty) return
    val genome = store.table("genome")
    def removed = filterByList(genome, "accession", accessions)
    def surviving = filterByList(genome, "accession", accessions, negate = true)

    val orphaned = removed.select("seqhash")
      .join(surviving.select("seqhash"), Seq("seqhash"), "left_anti")
      .distinct().cache()
    orphaned.count() // materialize before any table is swapped out

    // Pre-rewrite profile signature: the proof TokenIndex.restamp needs
    // that the live index covered the pre-remove table. Removal-only
    // rewrites keep the index exact (carriers stay supersets), so the
    // index survives a delete with a driver-side stamp instead of the
    // full-store optimize it would otherwise force.
    val preSig = scala.util.Try(
      graft.Tables.listingSignature(store.spark, store.tableLocation("profile")))
      .getOrElse("")

    Seq("sequence", "profile", "sequence2dna", "sequence2prot").foreach { t =>
      store.replace(t, store.table(t).join(orphaned, Seq("seqhash"), "left_anti"))
    }
    store.replace("genome", surviving)
    orphaned.unpersist()
    TokenIndex.restamp(store, preSig)
  }

  /** Apply metadata updates (reference: update_genome,
    * lib/sonardb.py:2010-2087 — SURVEY §2.1 K7). `updates` must carry an
    * `accession` column plus `new_<field>` columns for any subset of the
    * updatable fields; a NULL new value leaves the old value in place
    * (reference semantics: only explicitly-passed fields are SET).
    *
    * The per-accession UPDATE loop becomes one joined rewrite. The patch can
    * be anything from a CLI-sized list to a full pangolin run over every
    * accession, so join strategy is left to AQE's size statistics rather
    * than forced broadcast.
    */
  def updateMetadata(store: SonarStore, updates: DataFrame): Unit = {
    val fields = SonarStore.updatableFields.filter(f => updates.columns.contains(s"new_$f"))
    require(fields.nonEmpty, "no new_<field> columns in updates")
    val genome = store.table("genome")
    val patch = updates
      .select(col("accession") +: fields.map(f => col(s"new_$f")): _*)
      .dropDuplicates("accession")
    val joined = genome.join(patch, Seq("accession"), "left")
    val out = SonarStore.schemas("genome").fieldNames.toSeq.map {
      case f if fields.contains(f) => coalesce(col(s"new_$f"), col(f)).as(f)
      case f => col(f)
    }
    store.replace("genome", joined.select(out: _*))
  }

  /** Field-mapped CSV/TSV metadata import (reference: update_metadata,
    * sonar.py:770-853 — SURVEY §2.1 S3). `mapping` maps standard field names
    * (accession, lineage, zip, date, submission_date, gisaid, ena, lab,
    * source, collection, technology, platform, chemistry, software, version,
    * material, ct) to the file's column names.
    *
    * Reference semantics preserved: categorical fields are upper-cased;
    * empty values do not overwrite (except lineage and material, which the
    * reference assigns unconditionally); ct is parsed as a float.
    */
  def importMetadataCsv(
      store: SonarStore,
      path: String,
      mapping: Map[String, String],
      sep: String = ","): Unit = {
    require(mapping.contains("accession"), "an accession column has to be defined.")
    val spark = store.spark
    val raw = spark.read.option("sep", sep).option("header", "true").csv(path)

    val upperFields = Set("lineage", "collection", "source", "lab", "technology",
      "chemistry", "platform", "software", "version", "material")
    def std(field: String): String = if (field == "version") "software_version" else field

    val cols = col(mapping("accession")).as("accession") +:
      mapping.toSeq.filter(_._1 != "accession").map { case (field, fileCol) =>
        val base = coalesce(col(fileCol), lit(""))
        val v0 = if (upperFields.contains(field)) upper(base) else base
        val v = field match {
          case "lineage" | "material" => v0 // assigned even when empty
          case "ct" => when(base =!= "", base.cast("double"))
          case _ => when(base =!= "", v0)
        }
        v.as(s"new_${std(field)}")
      }
    updateMetadata(store, raw.select(cols: _*))
  }

  /** Pangolin-output lineage import (reference: sonar.py:795-802 — SURVEY
    * §2.1 S4): accession = `Sequence name` up to the first space, lineage =
    * `Lineage` verbatim — deliberately NOT upper-cased: the reference's
    * pangolin branch assigns `line["Lineage"]` as-is, unlike the TSV path
    * (pangolin lineage designations are upper-case by convention anyway).
    */
  def importPangolin(store: SonarStore, path: String): Unit = {
    val raw = store.spark.read.option("header", "true").csv(path)
    val nameCol = raw.columns.find(_.endsWith("Sequence name")) // tolerate a BOM prefix
      .getOrElse("Sequence name")
    updateMetadata(store, raw.select(
      split(col(s"`$nameCol`"), " ").getItem(0).as("accession"),
      col("Lineage").as("new_lineage")))
  }

  private val coverageFields = Seq("lab", "source", "collection", "technology",
    "platform", "chemistry", "software", "software_version", "material", "ct",
    "gisaid", "ena", "lineage", "zip", "date", "submission_date")

  /** Store statistics (SURVEY §2.5 A2-A7) computed in two passes total: one
    * aggregate over `genome` covering counts, min/max and all 16 coverage
    * counters (the reference runs 20+ separate SELECTs), one count over
    * `sequence`.
    */
  def info(store: SonarStore): InfoReport = {
    val genome = store.table("genome")
    val covAggs = coverageFields.map { f =>
      count(when(col(f).isNotNull && col(f).cast("string") =!= "", 1)).as(s"cov_$f")
    }
    val aggs = Seq(
      count(col("accession")).as("genomes"),
      countDistinct(when(col("lab") =!= "", col("lab"))).as("labs"),
      date_format(min(col("imported")), "yyyy-MM-dd HH:mm:ss").as("earliest_import"),
      date_format(max(col("imported")), "yyyy-MM-dd HH:mm:ss").as("latest_import"),
      min(when(col("date").isNotNull, col("date"))).as("earliest_date"),
      max(col("date")).as("latest_date")) ++ covAggs
    val row = genome.agg(aggs.head, aggs.tail: _*).collect()(0)
    val nSeqs = store.table("sequence").count()
    InfoReport(
      genomes = row.getAs[Long]("genomes"),
      uniqueSequences = nSeqs,
      labs = row.getAs[Long]("labs"),
      earliestImport = Option(row.getAs[String]("earliest_import")).getOrElse(""),
      latestImport = Option(row.getAs[String]("latest_import")).getOrElse(""),
      earliestDate = Option(row.getAs[String]("earliest_date")).getOrElse(""),
      latestDate = Option(row.getAs[String]("latest_date")).getOrElse(""),
      metadataCoverage = coverageFields.map(f => f -> row.getAs[Long](s"cov_$f")).toMap)
  }

  /** Genome counts per (source, collection) — SURVEY §2.5 A5 (reference:
    * info_data_types, lib/sonardb.py:1567-1569).
    */
  def infoDataTypes(store: SonarStore): DataFrame =
    store.table("genome")
      .groupBy("source", "collection")
      .agg(count(col("accession")).as("genome_count"))
      .orderBy("source", "collection")

  /** Latest schema version this library writes (SUPPORTED_DB_VERSION analog,
    * lib/sonardb.py).
    */
  val SupportedSchemaVersion = 4

  /** Schema migration (reference: `upgrade_db`, lib/sonardb.py:1383-1421,
    * which applies `lib/migrate/<v>.sql` scripts in sequence until the DB
    * reaches the supported version). The only shipped migration is v3→v4
    * (lib/migrate/4.sql): add `submission_date` to `genome` and rebuild the
    * three views. Our views are derived DataFrames rebuilt on every read, so
    * the view DDL half is a no-op; the `ALTER TABLE ADD` half becomes a
    * one-time conforming rewrite (immutable Parquet has no in-place DDL —
    * one bounded rewrite per major version is the storage-level cost of that
    * trade, and it parallelizes like any other table rewrite).
    *
    * Returns the version the store ends at.
    */
  def dbUpgrade(store: SonarStore, log: String => Unit = _ => ()): Int = {
    var v = store.schemaVersion
    log(s"Current version: $v  Upgrade to: $SupportedSchemaVersion")
    while (v < SupportedSchemaVersion) {
      v += 1
      v match {
        case 4 =>
          if (store.exists("genome")) {
            val g = store.rawTable("genome")
            if (!g.columns.contains("submission_date"))
              store.replace("genome",
                g.withColumn("submission_date", lit(null).cast("string")))
          }
        case other => sys.error(s"upgrade error: no migration to version $other")
      }
      store.writeSchemaVersion(v)
    }
    log(s"Database now version: $v")
    v
  }

  /** Per-table clustering key: the column every big join/lookup hits. */
  private val clusterKey = Map(
    "genome" -> "seqhash", "sequence" -> "seqhash", "profile" -> "seqhash",
    "sequence2dna" -> "seqhash", "sequence2prot" -> "seqhash",
    "dna" -> "varid", "prot" -> "varid")

  /** Compaction (reference: VACUUM, lib/sonardb.py:2090-2093): rewrite each
    * table repartitioned to a bounded file count AND RANGE-clustered +
    * sorted on its join key — the WITHOUT ROWID clustered-PK analog from
    * SURVEY §4. Range (not hash) clustering is what makes point lookups
    * prunable: under hash clustering every file spans the full key range,
    * so row-group min/max never prunes and a carrier IN-list must consult
    * the BLOOM of every group (O(groups) reads per query — measured 46 MB
    * of bloom traffic at 10⁷ genomes); under range clustering footer
    * min/max eliminates all but the matched groups first and blooms are
    * only read where they can still say no. The essence join is
    * indifferent — plain parquet has no bucketing metadata either way, so
    * the join shuffles both layouts identically.
    *
    * Each rewrite also writes a native parquet bloom filter on the cluster
    * key and (optionally) bounded row groups, then rebuilds the
    * [[TokenIndex]]: together these are what turn a rare-variant `match`
    * from a full scan into a carrier lookup. `rowGroupBytes` trades
    * metadata volume for skip granularity: at point-lookup shapes scanned
    * bytes ≈ carriers × row-group size, so population-scale stores want
    * ~8–16 MB groups rather than the 128 MB default.
    */
  def optimize(store: SonarStore, maxFilesPerTable: Int = 8,
      rowGroupBytes: Option[Long] = None): Unit = {
    SonarStore.schemas.keys.foreach { t =>
      if (store.exists(t)) {
        val key = clusterKey(t)
        // Bloom sizing: without expected NDV parquet-mr writes its max-size
        // (1 MiB) bloom PER ROW GROUP — a 5-seqhash lookup then read 34 MB
        // of blooms over 32 files. Size to the rows one row group will
        // hold: rows/file ÷ estimated groups/file (from the current
        // on-disk bytes, same compression either side of the rewrite).
        val rows = graft.Tables.rowCount(store.spark, store.tableLocation(t))
        val bytes = store.tableBytes(t)
        val rowsPerFile = math.max(1L, rows / maxFilesPerTable)
        val groupsPerFile = rowGroupBytes match {
          case Some(b) => math.max(1L, (bytes / maxFilesPerTable) / math.max(1L, b))
          case None => math.max(1L, (bytes / maxFilesPerTable) >> 27) // 128 MB default groups
        }
        val ndv = math.max(1L, rowsPerFile / groupsPerFile)
        val opts = Map(
          s"parquet.bloom.filter.enabled#$key" -> "true",
          s"parquet.bloom.filter.expected.ndv#$key" -> ndv.toString) ++
          rowGroupBytes.map(b => "parquet.block.size" -> b.toString)
        store.replace(t, store.table(t)
          .repartitionByRange(maxFilesPerTable, col(key))
          .sortWithinPartitions(key), opts)
      }
    }
    TokenIndex.build(store, maxFilesPerTable)
  }
}
