package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [name,name,…]")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args.take(2)
    // optional dev-loop filter; the driver's 2-arg invocation runs everything
    val only: String => Boolean =
      if (args.length == 3) args(2).split(',').toSet else (_: String) => true
    val spark = GraftSession("graft.Verify")
    new java.io.File(outDir).mkdirs()
    var nFailed = 0
    SparkEntry.queries.filter(kv => only(kv._1)).foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // deliberately oracle-less queries carry their rationale INSIDE the
        // result dir too, so a reader browsing the artifacts (or a driver
        // surfacing marker files) sees why this row has no DuckDB compare
        SparkEntry.noOracleRationale.get(name).foreach { why =>
          Files.writeString(
            Paths.get(s"$outDir/$name").resolve("_NO_ORACLE_RATIONALE"),
            why + "\n")
        }
      }
      catch { case e: Throwable =>
        // Loud failure: a marker file the driver (and a human) can see, so a
        // broken query shows up as an explicit FAILED row rather than a
        // silently absent one in the round's correctness artifact.
        nFailed += 1
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        val dir = Paths.get(s"$outDir/$name")
        try {
          Files.createDirectories(dir)
          Files.writeString(dir.resolve("_FAILED"),
            Option(e.getMessage).getOrElse(e.getClass.getName) + "\n")
        } catch { case _: Throwable => }
      }
    }
    if (nFailed > 0) System.err.println(s"[verify] $nFailed queries FAILED")
    val json = SparkEntry.oracleSql.filter(kv => only(kv._1))
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Self-explaining correctness artifact: each deliberately oracle-less
    // query (sketches — see SparkEntry.noOracleRationale) records WHY it has
    // no DuckDB row and which spec pins its error contract instead.
    val rationale = SparkEntry.noOracleRationale.filter(kv => only(kv._1))
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/no_oracle_rationale.json"), rationale)
    spark.stop()
  }
}
