package graft.covsonar

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet-backed store mirroring the reference engine's five base tables +
  * profile denormalization (rki-mf1/covsonar lib/db.sqlite:6-93) and its three
  * query views (essence / dna_view / prot_view, lib/db.sqlite:95-189).
  *
  * Spark-first re-modeling decisions:
  *  - profiles are `array<string>` instead of space-padded strings, so the
  *    reference's `LIKE '% x %'` token matching becomes `array_contains`
  *    (codegen'd, no regex/LIKE scan) — SURVEY §1.3.
  *  - `varid` is a deterministic `xxhash64` of the variant's natural key
  *    instead of an autoincrement surrogate, so variant-dimension dedup and
  *    bridge building need no read-back round trip and stay embarrassingly
  *    parallel (SURVEY §2.3 J4).
  *  - mutations (delete/update) rewrite a table through a staging directory
  *    with an atomic rename swap — job-level atomicity in place of SQLite
  *    transactions (SURVEY §4).
  *
  * At cluster scale the store directory lives on a distributed FS; every
  * table is a multi-file parquet dataset and `essence`'s genome⋈profile join
  * shuffles on seqhash (or is co-partitioned if both sides were bucketed by
  * seqhash at write time — the write path sorts within partitions by seqhash
  * to keep row groups clustered for that join).
  */
final class SonarStore(val spark: SparkSession, val dir: String) {

  import SonarStore._

  private val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  locally {
    val root = new Path(dir)
    if (!fs.exists(root)) fs.mkdirs(root)
    // matches PRAGMA user_version=4 (lib/db.sqlite:1)
    if (!fs.exists(versionPath)) writeSchemaVersion(4)
  }

  private def versionPath = new Path(new Path(dir), "SCHEMA_VERSION")

  /** Schema version from the store's SCHEMA_VERSION marker — the analog of
    * SQLite's `PRAGMA user_version` (lib/db.sqlite:1, checked at
    * lib/sonardb.py:1372-1381).
    */
  def schemaVersion: Int = {
    val in = fs.open(versionPath)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
    finally in.close()
  }

  private[covsonar] def writeSchemaVersion(v: Int): Unit = {
    val out = fs.create(versionPath, true)
    out.write(s"$v\n".getBytes("UTF-8"))
    out.close()
  }

  private def tablePath(name: String) = new Path(new Path(dir), name)

  private[covsonar] def tableLocation(name: String): String = tablePath(name).toString

  def exists(name: String): Boolean = {
    val p = tablePath(name)
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))
  }

  /** On-disk bytes of a table's parquet files (0 when absent), from one
    * directory listing: no footer read and no Spark job.
    */
  private[covsonar] def tableBytes(name: String): Long = {
    val p = tablePath(name)
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
  }

  /** A table exactly as stored on disk, schema un-coerced — what migrations
    * inspect to decide whether a column rewrite is needed.
    */
  private[covsonar] def rawTable(name: String): DataFrame =
    spark.read.parquet(tablePath(name).toString)

  /** Read a table; an absent table reads as an empty DataFrame with the
    * canonical schema, so every operator works on a fresh store.
    */
  def table(name: String): DataFrame =
    if (exists(name)) spark.read.schema(schemas(name)).parquet(tablePath(name).toString)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schemas(name))

  /** Project onto the canonical schema, casting each column to its declared
    * type (guards against NullType literals and widened numerics sneaking
    * into the parquet footer with a different physical type).
    */
  private def conform(name: String, df: DataFrame): DataFrame =
    df.select(schemas(name).fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)

  /** Append rows to a table (covers the reference's INSERT path K5). */
  def append(name: String, df: DataFrame): Unit =
    conform(name, df).write.mode("append").parquet(tablePath(name).toString)

  /** Atomically replace a table's contents (covers UPDATE/DELETE rewrites,
    * K6/K7). Writes to a staging dir, then swaps it in via
    * [[SonarStore.swapIn]].
    */
  def replace(name: String, df: DataFrame): Unit = replace(name, df, Map.empty)

  /** `replace` with parquet writer options (e.g. per-column bloom filters,
    * row-group size) — used by `optimize`'s clustered rewrites.
    */
  def replace(name: String, df: DataFrame, options: Map[String, String]): Unit = {
    val live = tablePath(name)
    val staging = new Path(new Path(dir), s".staging-$name-${java.util.UUID.randomUUID}")
    conform(name, df).write.options(options).mode("overwrite").parquet(staging.toString)
    SonarStore.swapIn(fs, staging, live, s"new data for table $name")
  }

  /** essence = genome ⟕ profile USING(seqhash) — the target of every match
    * query (lib/db.sqlite:95-123; the vestigial `sequence` join adds no
    * columns and is elided, as Catalyst would anyway after pruning).
    */
  def essence: DataFrame =
    table("genome").join(table("profile"), Seq("seqhash"), "left")
      .select(essenceColumns.map(col): _*)

  /** essence restricted to a known carrier-seqhash superset (the token-index
    * pruned match path — see [[TokenIndex]]). Both scan sides are filtered
    * by [[SonarOps.filterByList]]: up to the pushdown cap an IN predicate
    * that pushes into parquet (row-group bloom / min-max / page-index
    * skipping), above it a broadcast semi-join. The join then runs over the
    * carrier slice only, which AQE turns into a broadcast at any realistic
    * carrier cap.
    */
  def essenceForSeqhashes(seqhashes: Seq[String]): DataFrame =
    if (seqhashes.isEmpty) essence.filter(lit(false)) // folds to an empty LocalRelation
    else SonarOps.filterByList(table("genome"), "seqhash", seqhashes)
      .join(SonarOps.filterByList(table("profile"), "seqhash", seqhashes), Seq("seqhash"), "left")
      .select(essenceColumns.map(col): _*)

  /** dna_view = genome ⟕ sequence2dna ⟕ dna (lib/db.sqlite:125-155). */
  def dnaView: DataFrame =
    table("genome")
      .join(table("sequence2dna"), Seq("seqhash"), "left")
      .join(table("dna"), Seq("varid"), "left")
      .select((metaColumns ++ Seq("seqhash", "start", "end", "ref", "alt")).map(col): _*)

  /** prot_view = genome ⟕ sequence2prot ⟕ prot (lib/db.sqlite:157-189). */
  def protView: DataFrame =
    table("genome")
      .join(table("sequence2prot"), Seq("seqhash"), "left")
      .join(table("prot"), Seq("varid"), "left")
      .select((metaColumns ++ Seq("seqhash", "protein", "locus", "start", "end", "ref", "alt"))
        .map(col): _*)

  /** Register the five base tables and the three reference views as temp
    * views, making the store's whole schema addressable through
    * `spark.sql(...)` — the analog of opening the reference's SQLite file
    * and querying `essence`/`dna_view`/`prot_view` directly.
    */
  def createViews(): Unit = {
    SonarStore.schemas.keys.foreach(t => table(t).createOrReplaceTempView(t))
    essence.createOrReplaceTempView("essence")
    dnaView.createOrReplaceTempView("dna_view")
    protView.createOrReplaceTempView("prot_view")
  }
}

object SonarStore {

  /** The one rename-swap protocol of the store: move the live directory
    * aside, rename `staging` into its place, roll the old data back if that
    * fails, and only then delete the old copy. Hadoop rename reports
    * failure via its boolean (it rarely throws), so both renames are
    * checked: a failed swap rolls the old data back instead of deleting the
    * only surviving copy. `label` names the data in the error messages.
    */
  private[covsonar] def swapIn(fs: FileSystem, staging: Path, live: Path, label: String): Unit = {
    val trash = new Path(live.getParent, s".old-${live.getName}-${java.util.UUID.randomUUID}")
    val hadLive = fs.exists(live)
    if (hadLive)
      require(fs.rename(live, trash), s"store error: cannot move $live aside to activate $label")
    if (!fs.rename(staging, live)) {
      if (hadLive) fs.rename(trash, live) // roll back; best-effort
      throw new IllegalStateException(
        s"store error: cannot activate $label (staging left at $staging)")
    }
    if (hadLive) fs.delete(trash, true)
  }

  /** Carrier IN-lists up to this size push into parquet scans as row-group
    * filters. Spark lowers a pushed `In` to a left-deep OR chain whose
    * parquet-mr visitor recurses once per value: a measured probe on this
    * JVM (default task stack) overflows between 1000 and 1500 values, so
    * 512 keeps ≥2× headroom. Larger carrier sets still take the pruned
    * broadcast-join plan (up to [[CarrierPlanCap]]); they just decode the
    * scan without byte skipping — the InSet row filter runs in codegen.
    */
  val CarrierPushdownCap = 512

  /** Carrier sets up to this size switch `match` onto the pruned plan.
    * Above it, a full essence scan is the right plan anyway: 10⁴ point
    * lookups stop being "rare".
    */
  val CarrierPlanCap = 10000

  /** `profile` tables smaller than this many on-disk bytes skip the token
    * index: `match` takes the full essence scan. Below it the whole scan
    * costs less than the index probe plus the pruned plan it buys, for
    * every include-profile shape. Set just above the largest measured
    * store where no shape wins with the index (MatchVolumeRehearsal,
    * three runs per size, SCALING.md): at 12.1 MB of profile the point
    * lookup reads 0.91× the full scan's speed and the other shapes
    * 0.41–0.64×; at 16.6 MB the point lookup wins (1.09×).
    */
  val IndexMinProfileBytes: Long = 12L << 20

  /** genome columns in essence/view order (lib/db.sqlite:97-119). */
  val metaColumns: Seq[String] = Seq(
    "accession", "description", "lab", "source", "collection", "technology",
    "platform", "chemistry", "material", "ct", "software", "software_version",
    "gisaid", "ena", "zip", "date", "submission_date", "lineage")

  val essenceColumns: Seq[String] =
    metaColumns ++ Seq("seqhash", "dna_profile", "aa_profile", "fs_profile")

  /** Metadata fields updatable via `update` (lib/sonardb.py:2010-2087) —
    * everything except the identity columns.
    */
  val updatableFields: Seq[String] = Seq(
    "description", "lineage", "zip", "date", "submission_date", "gisaid", "ena",
    "source", "collection", "lab", "technology", "platform", "chemistry",
    "software", "software_version", "material", "ct")

  private val arr = ArrayType(StringType)

  val schemas: Map[String, StructType] = Map(
    "sequence" -> StructType(Seq(StructField("seqhash", StringType, nullable = false))),
    "genome" -> StructType(Seq(
      StructField("accession", StringType, nullable = false),
      StructField("description", StringType),
      StructField("seqhash", StringType, nullable = false),
      StructField("lineage", StringType),
      StructField("zip", StringType),
      StructField("date", StringType),
      StructField("submission_date", StringType),
      StructField("gisaid", StringType),
      StructField("ena", StringType),
      // DEFAULT '' columns (lib/db.sqlite:19-28) — empty string, not NULL,
      // which is what makes NOT IN / != predicates behave two-valued.
      StructField("source", StringType),
      StructField("collection", StringType),
      StructField("lab", StringType),
      StructField("technology", StringType),
      StructField("platform", StringType),
      StructField("chemistry", StringType),
      StructField("software", StringType),
      StructField("software_version", StringType),
      StructField("material", StringType),
      StructField("ct", DoubleType),
      StructField("imported", TimestampType))),
    "profile" -> StructType(Seq(
      StructField("seqhash", StringType, nullable = false),
      StructField("dna_profile", arr),
      StructField("aa_profile", arr),
      StructField("fs_profile", arr))),
    "dna" -> StructType(Seq(
      StructField("varid", LongType, nullable = false),
      StructField("start", IntegerType, nullable = false),
      StructField("end", IntegerType),
      StructField("ref", StringType, nullable = false),
      StructField("alt", StringType, nullable = false))),
    "prot" -> StructType(Seq(
      StructField("varid", LongType, nullable = false),
      StructField("protein", StringType, nullable = false),
      StructField("locus", StringType, nullable = false),
      StructField("start", IntegerType, nullable = false),
      StructField("end", IntegerType),
      StructField("ref", StringType, nullable = false),
      StructField("alt", StringType, nullable = false))),
    "sequence2dna" -> StructType(Seq(
      StructField("seqhash", StringType, nullable = false),
      StructField("varid", LongType, nullable = false))),
    "sequence2prot" -> StructType(Seq(
      StructField("seqhash", StringType, nullable = false),
      StructField("varid", LongType, nullable = false))))

  /** Deterministic varid: xxhash64 of the natural key, replacing SQLite's
    * autoincrement+read-back (lib/sonardb.py:1442-1466). Collision risk over
    * the variant dimension (≪ 2^32 rows) is negligible and checked nowhere
    * cheaper than at import counts.
    */
  def dnaVarId = xxhash64(lit("dna"), col("start"), col("end"), col("ref"), col("alt"))
  def protVarId = xxhash64(lit("prot"), col("protein"), col("locus"),
    col("start"), col("end"), col("ref"), col("alt"))
}
