package graft.covsonar

import java.io.PrintStream
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Command-line surface mirroring the reference's `sonar.py` tools
  * (add / remove / match / restore / update / info / optimize / db-upgrade /
  * var2vcf / update-lineage-info — sonar.py:31-486), so a covSonar user can
  * run the same workflows against the Spark store.
  *
  * `--db` names the store directory. Output parity bits ported from
  * `rows_to_csv` (sonar.py:924-931): CSV to stdout or `--out`, `--tsv`
  * switches the delimiter, an empty match prints `*** no match ***` to
  * stderr, and count mode prints a bare integer.
  */
object SonarCli {

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession("covsonarspark")
    try run(spark, args.toSeq, System.out, System.err)
    finally spark.stop()
  }

  /** Parse `argv` into (positional tool, flag → values). Flags may repeat;
    * repeated occurrences append (argparse action="append" for -i/-e).
    */
  private[covsonar] def parseArgs(argv: Seq[String]): (String, Map[String, Seq[Seq[String]]]) = {
    require(argv.nonEmpty, "no tool given")
    val tool = argv.head
    val flags = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Seq[String]]]
    var i = 1
    var current: String = null
    var bucket = List.newBuilder[String]
    def flush(): Unit = if (current != null) {
      flags(current) = flags.getOrElse(current, Seq.empty) :+ bucket.result()
      bucket = List.newBuilder[String]
    }
    while (i < argv.length) {
      val a = argv(i)
      if (a.startsWith("--") || (a.startsWith("-") && a.length == 2 && !a(1).isDigit)) {
        flush(); current = a.dropWhile(_ == '-')
      } else {
        require(current != null, s"unexpected positional argument: $a")
        bucket += a
      }
      i += 1
    }
    flush()
    (tool, flags.toMap)
  }

  /** S8: one accession per line, `@file` syntax and `--file` options
    * (sonar.py:1032-1037, 1139-1147).
    */
  private def readAccessionFile(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.map(_.trim).filter(_.nonEmpty)

  private def expandAccessions(vals: Seq[String], files: Seq[String]): Seq[String] =
    vals.flatMap(v => if (v.startsWith("@")) readAccessionFile(v.substring(1)) else Seq(v)) ++
      files.flatMap(readAccessionFile)

  def run(spark: SparkSession, argv: Seq[String], out: PrintStream, err: PrintStream): Unit = {
    val (tool, flags) = parseArgs(argv)
    def all(k: String): Seq[String] = flags.getOrElse(k, Seq.empty).flatten
    def groups(k: String): Seq[Seq[String]] = flags.getOrElse(k, Seq.empty).filter(_.nonEmpty)
    def one(k: String): Option[String] = all(k).lastOption
    def isSet(k: String): Boolean = flags.contains(k)
    lazy val store = new SonarStore(spark,
      one("db").getOrElse(sys.error("input error: no database defined (--db)")))

    tool match {
      case "add" =>
        val files = all("file") ++ all("f")
        val dirs = all("dir") ++ all("d")
        val exts = Seq(".fasta", ".fna", ".fasta.gz", ".fna.gz", ".fasta.xz", ".fna.xz")
        val fastas = files ++ dirs.flatMap { d =>
          val s = Files.list(Paths.get(d))
          try s.iterator().asScala.map(_.toString)
            .filter(p => exts.exists(p.endsWith)).toList
          finally s.close()
        }
        require(fastas.nonEmpty, "input error: nothing to add")
        val updates = Seq("source", "collection", "lab")
          .flatMap(f => one(f).map(f -> _.toUpperCase)).toMap
        val report = SonarIngest.add(store,
          fastas.map(SonarIngest.readFasta(spark, _)).reduce(_ union _),
          force = isSet("force"), updates = updates)
        if (!isSet("quiet"))
          err.println(s"${report.genomesAdded} genome(s) added, " +
            s"${report.sequencesAdded} new unique sequence(s), " +
            s"${report.skippedExisting} skipped")

      case "remove" =>
        val accs = expandAccessions(all("acc"), all("file"))
        if (accs.isEmpty) err.println("nothing to delete.")
        else SonarOps.remove(store, accs.distinct)

      case "match" =>
        val margs = MatchArgs(
          profiles = groups("include") ++ groups("i"),
          excludeProfiles = groups("exclude") ++ groups("e"),
          accessions = expandAccessions(all("acc"), Nil),
          lineages = all("lineage"),
          withSublineage = isSet("with-sublineage"),
          zips = all("zip"),
          dates = all("date"),
          submissionDates = all("submission_date"),
          labs = all("lab"),
          sources = all("source"),
          collections = all("collection"),
          technologies = all("technology"),
          platforms = all("platform"),
          chemistries = all("chemistry"),
          materials = all("material"),
          software = one("software"),
          softwareVersion = one("version"),
          minCt = one("min_ct").map(_.toDouble),
          maxCt = one("max_ct").map(_.toDouble),
          seqhashes = all("seqhash"),
          ambig = isSet("ambig"),
          frameshifts =
            if (isSet("no_frameshifts")) -1 else if (isSet("only_frameshifts")) 1 else 0)
        // the plan line's bytes cover the index probe and the match itself
        val meter = graft.TaskTotals.attach(spark.sparkContext)
        try {
          val plan = meter.within("match") {
            val (df, plan) = SonarMatch.matchWithPlan(store, margs)
            if (isSet("count")) out.println(df.count())
            else writeCsv(df, one("out"), tsv = isSet("tsv"), out, err)
            plan
          }
          if (!isSet("quiet")) {
            meter.settle()
            err.println(s"match plan: $plan bytes_scanned=${meter("match").inputBytes}")
          }
        } finally meter.detach()

      case "restore" =>
        val accs = expandAccessions(all("acc"), all("file")).distinct
        // stream to stdout — bulk restores must not materialize on the driver
        SonarRestore.restore(store, accs).toLocalIterator().asScala.foreach { r =>
          out.println(r.getAs[String]("header"))
          out.println(r.getAs[String]("sequence"))
        }

      case "update" =>
        one("pangolin") match {
          case Some(p) => SonarOps.importPangolin(store, p)
          case None =>
            val src = one("tsv").orElse(one("csv"))
              .getOrElse(sys.error("input error: no update source (--pangolin/--tsv/--csv)"))
            val mapping = all("fields").map { expr =>
              val kv = expr.split("=", 2)
              require(kv.length == 2, s"input error: $expr is not a valid expression")
              kv(0) -> kv(1)
            }.toMap
            require(mapping.contains("accession"),
              "input error: an accession column has to be defined.")
            SonarOps.importMetadataCsv(store, src, mapping,
              sep = if (one("tsv").isDefined) "\t" else ",")
        }

      case "info" =>
        val r = SonarOps.info(store)
        out.println("genomes:                    " + r.genomes)
        out.println("unique sequences:           " + r.uniqueSequences)
        out.println("labs:                       " + r.labs)
        out.println("earliest genome import:     " + r.earliestImport)
        out.println("latest genome import:       " + r.latestImport)
        out.println("earliest sampling date:     " + r.earliestDate)
        out.println("latest sampling date:       " + r.latestDate)
        r.metadataCoverage.toSeq.sortBy(_._1).foreach { case (f, c) =>
          val pct = if (r.genomes == 0) 0.0 else c.toDouble / r.genomes * 100
          out.println(f"   $f%-17s information: $c ($pct%.2f%%)")
        }
        // beyond the reference's report: whether rare-variant matches are
        // currently index-accelerated, and the actionable fix when not
        out.println("token index:                " +
          (if (!TokenIndex.isFresh(store)) "stale or absent (run optimize to rebuild)"
           else if (TokenIndex.belowFloor(store))
             "fresh, unused: the store is below the index floor (full scans are cheaper)"
           else "fresh (rare-variant match accelerated)"))

      case "optimize" =>
        // tuning knobs beyond the reference's bare VACUUM: file count per
        // table and row-group size (point-lookup bytes ≈ carriers × group
        // size — see SCALING.md); defaults match SonarOps.optimize
        SonarOps.optimize(store,
          maxFilesPerTable = one("files").map(_.toInt).getOrElse(8),
          rowGroupBytes = one("row-group-mb").map(_.toLong << 20))

      case "db-upgrade" => SonarOps.dbUpgrade(store, out.println)

      case "var2vcf" =>
        val output = one("output").orElse(one("o"))
          .getOrElse(sys.error("input error: no output defined (-o)"))
        SonarVcf.exportVcf(store, output,
          accessions = expandAccessions(all("acc"), all("file")),
          dates = all("date"))

      case "view" =>
        val acc = one("acc").getOrElse(sys.error("input error: no accession defined"))
        import org.apache.spark.sql.functions.col
        writeCsv(store.dnaView.filter(col("accession") === acc)
          .select("description", "start", "end", "alt", "ref"),
          one("out"), tsv = isSet("tsv"), out, err, na = "*** no data ***")

      case "update-lineage-info" =>
        val aliasJson = one("alias-key").getOrElse(sys.error("--alias-key required"))
        val lineagesCsv = one("lineages").getOrElse(sys.error("--lineages required"))
        // default: write into the store so --with-sublineage picks it up,
        // like the reference updater overwriting lib/lineage.all.tsv
        val outPath = one("out").orElse(one("db").map(_ + "/lineage.all.tsv"))
          .getOrElse(sys.error("--out or --db required"))
        val lineages = Files.readAllLines(Paths.get(lineagesCsv)).asScala.toSeq
          .drop(1).map(_.split(",")(1).trim).filter(_.nonEmpty)
        val closure = Lineages.buildClosure(
          Lineages.parseAliasKey(
            new String(Files.readAllBytes(Paths.get(aliasJson)), "UTF-8")),
          lineages)
        Files.write(Paths.get(outPath), Lineages.toTsv(closure).getBytes("UTF-8"))

      case other => sys.error(s"input error: unknown tool $other")
    }
  }

  /** K1 CSV/TSV sink with the reference's quoting and empty-result notice. */
  private[covsonar] def writeCsv(
      df: DataFrame,
      outFile: Option[String],
      tsv: Boolean,
      out: PrintStream,
      err: PrintStream,
      na: String = "*** no match ***"): Unit = {
    val sep = if (tsv) "\t" else ","
    def fmt(v: Any): String = {
      val s = v match {
        case null => ""
        case d: Double => d.toString
        case x => x.toString
      }
      if (s.contains(sep) || s.contains("\"") || s.contains("\n"))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    }
    val sink = outFile.map(f => new PrintStream(f)).getOrElse(out)
    try {
      val it = df.toLocalIterator()
      var empty = true
      sink.println(df.columns.mkString(sep))
      it.asScala.foreach { row =>
        empty = false
        sink.println(row.toSeq.map(fmt).mkString(sep))
      }
      if (empty) err.println(na)
    } finally if (outFile.isDefined) sink.close()
  }
}
