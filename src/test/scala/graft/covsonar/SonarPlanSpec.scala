package graft.covsonar

import java.nio.file.Files
import graft.SparkSpec

/** Physical-plan quality checks for the covsonar store — the properties that
  * matter at 100 TB: metadata predicates must reach the parquet scan of
  * `genome` (PushedFilters), unused profile columns must be pruned out of
  * the scan (ReadSchema), and the whole match filter chain must stay inside
  * whole-stage codegen.
  */
class SonarPlanSpec extends SparkSpec {

  private lazy val store = {
    val s = new SonarStore(spark, Files.createTempDirectory("sonar-plan").toString)
    SonarIngest.add(s, SonarIngest.readFasta(spark, s"${Fixtures.dir}/test.fasta"))
    s
  }

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("metadata predicates push down to the genome parquet scan") {
    val df = SonarMatch.matchGenomes(store,
      MatchArgs(accessions = Seq("test2"), zips = Seq("0177")))
    val p = plan(df)
    assert(p.contains("PushedFilters:"), p.take(500))
    assert(p.contains("IsNotNull(accession)") || p.contains("EqualTo(accession,test2)"),
      "accession predicate did not reach the scan:\n" + p.take(2000))
    assert(p.contains("StringStartsWith(zip,0177)"),
      "zip prefix predicate did not reach the scan:\n" + p.take(2000))
  }

  test("count-style metadata query prunes profile columns from the genome scan") {
    val df = SonarMatch.matchGenomes(store, MatchArgs(labs = Seq("L1")))
      .select("accession")
    val genomeScan = plan(df)
      .linesIterator.filter(l => l.contains("ReadSchema") || l.contains("Location"))
      .mkString("\n")
    // the genome scan must not read the 17 metadata columns it doesn't need
    assert(genomeScan.nonEmpty)
    assert(!genomeScan.contains("chemistry"),
      "unneeded metadata columns not pruned:\n" + genomeScan)
  }

  test("profile membership compiles to an array_contains filter on the join input") {
    val df = SonarMatch.matchGenomes(store, MatchArgs(profiles = Seq(Seq("C241T"))))
    val p = df.queryExecution.optimizedPlan.toString
    // token predicate runs as codegen'd set membership below the join...
    assert(p.contains("array_contains(dna_profile"), p.take(2000))
    // ...and the null-rejecting filter lets Catalyst turn the left join inner
    assert(p.contains("Join Inner"), p.take(2000))
  }

  test("createViews exposes the store schema through spark.sql") {
    store.createViews()
    val rows = spark.sql(
      "SELECT accession, size(dna_profile) AS nvars FROM essence ORDER BY accession")
      .collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("NC_045512.2", "test1", "test2"))
    val viaView = spark.sql(
      "SELECT count(*) FROM dna_view WHERE accession = 'test2' AND start IS NOT NULL")
      .collect()(0).getLong(0)
    assert(viaView > 0)
  }

  test("match plan keeps whole-stage codegen over the filter chain") {
    val df = SonarMatch.matchGenomes(store,
      MatchArgs(labs = Seq("L1"), minCt = Some(1.0), maxCt = Some(50.0)))
    val codegen = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(codegen.contains("WholeStageCodegen subtree"), codegen.take(500))
  }
}
