package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loader for the driver-generated testdata tables (TESTDATA.md).
  *
  * Each table is one parquet file under the scale-factor dir. At 100 TB these
  * would be multi-file partitioned datasets; `spark.read.parquet` handles both
  * shapes identically, and every query in this library addresses tables through
  * this single chokepoint so a production deployment can swap in catalog tables
  * (or bucketed / partitioned layouts) without touching operator code.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Runtime confs every session (GraftSession, ClusterHarness, specs) sets at
    * construction. events.ts is parquet TIMESTAMP(NANOS), which Spark's
    * vectorized reader rejects; this reads it as raw long nanos instead.
    * Also registers the library's native Catalyst expressions.
    */
  def configure(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Parquet TIMESTAMP(isAdjustedToUTC=false) would otherwise load as
    // TIMESTAMP_NTZ, which unix_micros()/window() reject. With inference
    // off the same stored int64 micros load as plain TIMESTAMP (epoch
    // micros — exactly how DuckDB's epoch functions read the file), which
    // is tz-independent for every registered query.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    graft.functions.VectorExpressions.register(spark)
  }

  /** Driver-side row count from parquet FOOTER metadata — no Spark job, no
    * shuffle, milliseconds. Volume-adaptive operators (g1/g2's aggregation
    * sizing) need the input's order of magnitude, not a distributed count;
    * paying a count() job per query run was measured as ~0.5 s of pure
    * probe overhead per graph query at bench scale. Cached per listing
    * signature (path + file names/mtimes/lengths): the same table sized by
    * several queries in one session reads its footers once, but a rewrite or
    * append at the same path invalidates naturally. Handles the single-file
    * testdata shape and a flat directory of part-files; refuses nested
    * (partitioned) layouts and empty directories rather than undercounting.
    */
  private val rowCountCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Long]()

  /** Flat-layout file listing for a parquet table path (single file, or a
    * directory of .parquet part-files). Refuses nested/partitioned layouts
    * and empty directories — the shared precondition of every consumer
    * below (a non-recursive scan over those would silently miss data).
    */
  private def flatParquetFiles(spark: SparkSession,
      path: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fsPath = new org.apache.hadoop.fs.Path(path)
    val fs = fsPath.getFileSystem(conf)
    val files: Seq[org.apache.hadoop.fs.FileStatus] =
      if (fs.getFileStatus(fsPath).isDirectory) {
        val entries = fs.listStatus(fsPath).toSeq
        val subdirs = entries.filter(s =>
          s.isDirectory && !s.getPath.getName.startsWith("_"))
        require(subdirs.isEmpty,
          s"flat listing of $path: nested/partitioned layout (subdirs " +
            s"${subdirs.map(_.getPath.getName).take(3).mkString(",")}…) — a " +
            "non-recursive scan would silently miss data; read the " +
            "partitioned dataset through Spark instead")
        entries.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      } else Seq(fs.getFileStatus(fsPath))
    require(files.nonEmpty,
      s"flat listing of $path: no .parquet files found — refusing to treat " +
        "an empty table as a valid vintage")
    files
  }

  /** Content-vintage signature of a flat parquet table: file count, then
    * per-file path, mtime, length, and the 4-byte footer-metadata length
    * read from each file's tail — sorted and joined. ONE definition shared
    * by every cache / persisted-state keying decision (rowCount's
    * invalidation, k10b's seed vintage), so a hardening fix to the
    * signature rule lands everywhere.
    *
    * The footer-length discriminator closes the residual staleness window
    * of (mtime, length) alone: a rewrite producing equal-length files
    * within the filesystem's mtime resolution still almost surely changes
    * the footer's thrift-serialized metadata size (row-group offsets,
    * stats). It costs one 8-byte ranged read per file — the same order as
    * the footer read a rowCount cache MISS performs anyway, and a HEAD-
    * sized request on object stores.
    */
  private[graft] def listingSignature(spark: SparkSession, path: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = flatParquetFiles(spark, path)
    val parts = files.map { s =>
      val fs = s.getPath.getFileSystem(conf)
      val in = fs.open(s.getPath)
      val footerLen =
        try {
          // parquet tail: ...[4-byte footer length][PAR1]
          in.seek(s.getLen - 8)
          val b = new Array[Byte](4)
          in.readFully(b)
          (b(0) & 0xff) | ((b(1) & 0xff) << 8) | ((b(2) & 0xff) << 16) |
            ((b(3) & 0xff) << 24)
        } finally in.close()
      s"${s.getPath}#${s.getModificationTime}#${s.getLen}#$footerLen"
    }
    s"n=${files.size};" + parts.sorted.mkString(";")
  }

  def rowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    // Resolve the listing FIRST and key the cache on (path, files, mtimes,
    // lengths): a table rewritten or appended at the same path within one
    // session must not return the stale count (the adaptive operators would
    // silently mis-size, and d4b's oracle — which recomputes count(*) live —
    // would hash-diverge rather than fail loudly).
    val files = flatParquetFiles(spark, path)
    // composite (path, signature) key — never string concatenation, so a
    // path whose own name contains the old '|' separator cannot alias or
    // evict an unrelated path's entries
    val key = (path, listingSignature(spark, path))
    // evict superseded vintages of this path: a long-lived session that
    // rewrites the same table repeatedly must not grow the cache unboundedly
    rowCountCache.keySet.removeIf(k => k._1 == path && k != key)
    rowCountCache.computeIfAbsent(key, { _ =>
      files.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try reader.getRecordCount finally reader.close()
      }.sum
    })
  }

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      configure(spark) // defensive for externally-built sessions; idempotent
      val raw = spark.read.parquet(s"$sfDir/$name.parquet")
      // Schema-adaptive `ts`: datasets written as parquet TIMESTAMP(NANOS)
      // arrive as raw long nanos (via nanosAsLong above) and need converting;
      // TIMESTAMP(MICROS)/(MILLIS) datasets arrive as plain TimestampType
      // (NTZ inference is off, see configure) and pass through. Branching on
      // the loaded dtype keeps both vintages readable without a config flip.
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // Integer `div` (not `/`, which is double division: epoch nanos
          // exceed double's 2^53 exact range and would round ~12% of rows
          // 1µs off vs exact truncation). Micros truncation itself is
          // lossless for every registered query (no sub-µs semantics).
          raw.withColumn("ts", org.apache.spark.sql.functions.expr(
            "timestamp_micros(ts div 1000L)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // defensive: only reachable on a session that resolved the scan
          // before configure() ran. cast(NTZ as TIMESTAMP) interprets the
          // wall-clock in the SESSION timezone, which is the identity epoch
          // mapping only under UTC — on any other tz it would silently shift
          // every event timestamp, so refuse instead of guessing.
          val tz = spark.conf.get("spark.sql.session.timeZone")
          require(tz == "UTC",
            s"events.ts resolved as TIMESTAMP_NTZ on a non-UTC session (tz=$tz); " +
              "call Tables.configure(spark) before the first read so the scan " +
              "resolves as TimestampType, or set spark.sql.session.timeZone=UTC")
          raw.withColumn("ts",
            org.apache.spark.sql.functions.col("ts").cast("timestamp"))
        case _ => raw
      }
    } else spark.read.parquet(s"$sfDir/$name.parquet")
}
