package graft

import java.nio.file.{Files, Path, Paths}

/** The reference connector's own config files (`config/cloudsolr.conf`,
  * `config/morphlines.conf`, and `producer.conf` / `identity.conf` /
  * `transform.conf` under its test resources), read from a checkout of
  * the reference repository named `reference` beside this one. The files
  * are not committed here, so a test that compiles them verbatim fails
  * with the checkout and file it looked for when the checkout is absent.
  */
object ReferenceConf {

  val checkout: Path =
    Paths.get("").toAbsolutePath.getParent.resolve("reference").normalize

  private val testResources =
    "src/test/resources/com/github/epheatt/kafka/connect/morphlines"

  /** Absolute path of `rel` inside the reference checkout. */
  def path(rel: String): String = {
    val p = checkout.resolve(rel)
    if (!Files.isRegularFile(p))
      throw new java.io.FileNotFoundException(
        s"reference checkout missing: $p not found (these tests compile the " +
          s"reference connector's own configs, read from a checkout at $checkout)")
    p.toString
  }

  /** Path of a config under the reference's test resources. */
  def testConf(name: String): String = path(s"$testResources/$name")

  def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
}
