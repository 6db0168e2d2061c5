package graft.covsonar

import java.nio.file.Paths

/** The covSonar `test/` fixtures (FASTA inputs, metadata, golden CSVs) as
  * committed under `src/test/resources/covsonar/`. Specs that hand a file
  * path to Spark or the CLI take it from [[dir]], which resolves where the
  * build put those resources on the test classpath.
  */
object Fixtures {

  private val anchor = "/covsonar/test.fasta"

  /** Absolute directory holding the fixtures; fails naming the anchor
    * resource if it is missing or not a plain file (e.g. inside a jar).
    */
  lazy val dir: String = {
    val url = getClass.getResource(anchor)
    require(url != null, s"fixture resource $anchor is not on the test classpath")
    require(url.getProtocol == "file", s"fixture resource $anchor is not a plain file: $url")
    Paths.get(url.toURI).getParent.toString
  }
}
