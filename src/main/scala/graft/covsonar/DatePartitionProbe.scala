package graft.covsonar

import org.apache.spark.sql.functions._

/** Measure the ADR's deployment knob (SCALING.md, "one clustering
  * dimension"): DATE PARTITIONING of the genome table for time-windowed
  * surveillance queries.
  *
  * The store's single clustering dimension is seqhash (carrier pruning +
  * exchange-free essence join — the flagship trades). Metadata-date
  * queries therefore scan the full genome table today. The 100 TB answer
  * is a directory-level `partitionBy(month)` ORTHOGONAL to in-partition
  * clustering: partition pruning serves the date range before the scan
  * starts. This probe proves the claim with numbers instead of argument:
  * the same synthesized population (MatchVolumeRehearsal's generator)
  * written flat vs month-partitioned, the same date-range + lab query on
  * both (min-of-2 after a warm pass), rows asserted identical, task input
  * bytes from a listener.
  *
  * Exactness of the month pre-filter: months derive from zero-padded ISO
  * dates by `substring(date,1,7)`, whose string order matches date order,
  * so `date ∈ [a,b] ⇒ month ∈ [a.take(7), b.take(7)]` and the exact date
  * predicate still runs on top. Rows with NULL date fail every range
  * predicate in `match` (reference semantics), so skipping a
  * null-partition is exact for this query family too.
  *
  * Run: `sbt "runMain graft.covsonar.DatePartitionProbe [n] [dir]"`.
  * Exits 1 on row divergence or a non-pruned partitioned plan.
  */
object DatePartitionProbe {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(10000000L)
    val dir = args.lift(1).getOrElse("target/date-partition-probe")
    val spark = graft.GraftSession("graft.covsonar.DatePartitionProbe")

    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val (genomes, _, _) = MatchVolumeRehearsal.synthesize(spark, n)

    val flatDir = s"$dir/flat"
    val partDir = s"$dir/bymonth"
    genomes.write.parquet(flatDir)
    // month is DERIVED, not stored twice in the files: partitionBy lifts it
    // into the directory structure and drops it from the data pages.
    // The repartition matters as much as the partitionBy — measured here:
    // without it every writer task emits a sliver into every month dir
    // (tasks × months small files) and the per-file overhead (footers,
    // per-file dictionaries, lost encoding runs) made the PRUNED read
    // 1.4× the flat scan's bytes at 10⁷. Shuffling rows to their month
    // first writes one well-formed file per partition and the pruning win
    // appears. At 100 TB this is the difference between a partitioned
    // table and a small-files incident.
    genomes.withColumn("month", substring(col("date"), 1, 7))
      .repartition(col("month"))
      .write.partitionBy("month").parquet(partDir)

    val meter = graft.TaskTotals.attach(spark.sparkContext)

    // the reference's commonest surveillance shape: a season + a lab
    val (d0, d1) = ("2020-06-01", "2020-08-31")
    val datePred = col("date") >= d0 && col("date") <= d1 && col("lab") === "LAB7"

    def timed(label: String, df: org.apache.spark.sql.DataFrame): (Long, Double, Long) = {
      df.count() // warm
      def once(run: Int): (Long, Double) = {
        val t = System.nanoTime()
        val rows = meter.within(s"$label#$run")(df.count())
        (rows, (System.nanoTime() - t) / 1e9)
      }
      val (r1, s1) = once(1); val (r2, s2) = once(2)
      require(r1 == r2)
      meter.settle()
      val b = math.min(meter(s"$label#1").inputBytes, meter(s"$label#2").inputBytes)
      println(f"$label%-12s rows=$r1%9d  wall ${math.min(s1, s2)}%6.2f s  read ${b / 1e6}%8.1f MB")
      (r1, math.min(s1, s2), b)
    }

    val flat = timed("flat", spark.read.parquet(flatDir).filter(datePred))
    // month range derived from the date range; Spark prunes the directories
    // at planning time, before any file is opened
    val monthPred = col("month") >= d0.take(7) && col("month") <= d1.take(7)
    val partDf = spark.read.parquet(partDir).filter(monthPred && datePred)
    val prunedPartitions = partDf.queryExecution.executedPlan.toString
    val part = timed("partitioned", partDf)

    require(flat._1 == part._1,
      s"layouts diverged: flat ${flat._1} vs partitioned ${part._1}")
    // the partitioned plan must actually prune: 3 months of 30 in the
    // synthesized range (2020-01..2022-06) → it must read well under half
    // the flat bytes, and the scan must carry a partition filter
    require(prunedPartitions.contains("PartitionFilters"),
      s"partitioned scan lost its partition filter:\n$prunedPartitions")
    require(part._3 * 2 < flat._3,
      s"partition pruning did not materialize: ${part._3} vs ${flat._3} bytes")
    println(f"DATE-PARTITION WIN wall ${flat._2 / part._2}%4.2fx  bytes ${flat._3.toDouble / math.max(part._3, 1)}%4.2fx")
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    spark.stop()
  }
}
