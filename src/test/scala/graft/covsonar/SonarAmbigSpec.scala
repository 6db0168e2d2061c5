package graft.covsonar

import java.nio.file.Files
import graft.SparkSpec

/** Ambiguity-expansion semantics (SURVEY §2.4 R2/R3) against the reference's
  * own doctest goldens (lib/sonardb.py:3044-3049) plus functional matches on
  * a fixture store.
  */
class SonarAmbigSpec extends SparkSpec {

  test("pinpoint_mutation doctest golden: A5001N expands to 15 variants") {
    val got = SonarMatch.pinpointMutation("A5001N", Genetics.iupacNt)
    val expected = Set("A5001A", "A5001B", "A5001C", "A5001D", "A5001G", "A5001H",
      "A5001K", "A5001M", "A5001N", "A5001R", "A5001S", "A5001T", "A5001V",
      "A5001W", "A5001Y")
    assert(got == expected)
  }

  test("pinpoint_mutation doctest golden: unambiguous aa variant is itself") {
    assert(SonarMatch.pinpointMutation("N501Y", Genetics.iupacAa) == Set("N501Y"))
  }

  test("deletions and numeric tails never expand") {
    assert(SonarMatch.pinpointMutation("del:11288:9", Genetics.iupacNt) == Set("del:11288:9"))
  }

  test("_fix_X_N_search appends each expansion as its own OR group") {
    val groups = SonarMatch.fixXNSearch(Seq(Seq("C241N", "G1820A")))
    // original group survives
    assert(groups.contains(Seq("C241N", "G1820A")))
    // every expansion of the trailing-N token becomes a singleton group
    assert(groups.contains(Seq("C241T")))
    assert(groups.contains(Seq("C241A")))
    assert(groups.count(_.length == 1) == 15)
    // aa trailing-X triggers too, but only for aa-level variants
    val aa = SonarMatch.fixXNSearch(Seq(Seq("S:N501X")))
    assert(aa.contains(Seq("S:N501Y")) && aa.contains(Seq("S:N501X")))
  }

  test("makeExplicit splits mixed groups by level and expands") {
    val g = SonarMatch.makeExplicit(Seq("C241N", "S:N501Y"))
    assert(g.aa == Seq("S:N501Y"))
    assert(g.dna.toSet.contains("C241T") && g.dna.length == 15)
  }

  private lazy val store = {
    val s = new SonarStore(spark, Files.createTempDirectory("sonar-ambig").toString)
    SonarIngest.add(s, SonarIngest.readFasta(spark, s"${Fixtures.dir}/test.fasta"))
    s
  }

  test("functional: trailing-N include matches any base at the site") {
    // test1 and test2 both carry C241T; C241N must match them via OR expansion
    assert(SonarMatch.matchGenomes(store,
      MatchArgs(profiles = Seq(Seq("C241N")))).count() == 2)
    // excluding the explicit variant then removes both
    assert(SonarMatch.matchGenomes(store,
      MatchArgs(profiles = Seq(Seq("C241N")),
        excludeProfiles = Seq(Seq("C241T")))).count() == 0)
  }

  test("functional: invalid tokens abort with the reference's error") {
    val e = intercept[IllegalArgumentException] {
      SonarMatch.matchGenomes(store, MatchArgs(profiles = Seq(Seq("NotAVariant"))))
    }
    assert(e.getMessage.contains("Non-valid variant expression"))
  }
}
