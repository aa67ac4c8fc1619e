package graft

import java.nio.file.{Files, Paths}

/** Locator for the reference project's checkout: the CatAtom2Osm test
  * fixtures and municipality tables the golden specs replay. The root is
  * `$GRAFT_REFERENCE_DIR` when set, else the default checkout location. A
  * missing file fails the calling test with one message naming its path
  * (the lookup is lazy, at the call, so a suite never aborts on it). */
object RefFixtures {
  val root: String = sys.env.getOrElse("GRAFT_REFERENCE_DIR", "/root/reference")

  /** Path of `rel` under the reference root; throws when it is missing. */
  def apply(rel: String): String = {
    val p = Paths.get(root, rel)
    if (!Files.exists(p))
      throw new java.io.FileNotFoundException(
        s"reference file missing: $p (set GRAFT_REFERENCE_DIR to the reference checkout)")
    p.toString
  }

  /** A file of the reference's `test/fixtures` directory. */
  def fixture(name: String): String = apply(s"test/fixtures/$name")

  /** A file of the reference's `catatom2osm` package directory. */
  def pkg(name: String): String = apply(s"catatom2osm/$name")
}
