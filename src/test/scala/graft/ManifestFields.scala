package graft

import scala.jdk.CollectionConverters._

import org.scalatest.Assertions

/** Pins the on-disk format of the durable artifacts: reads an artifact's
  * `_MANIFEST.properties` as a key -> value map with plain
  * `java.util.Properties`, which skips the `#` comment and date lines, so
  * the map is exactly what a reader of the format sees. The specs compare
  * it against a literal map after `write` and after each maintenance op,
  * so artifacts written by one build reopen in any other. */
object ManifestFields extends Assertions {
  def apply(path: String): Map[String, String] = {
    val props = new java.util.Properties()
    val in = new java.io.FileInputStream(s"$path/_MANIFEST.properties")
    try props.load(in) finally in.close()
    props.stringPropertyNames().asScala.map(k => k -> props.getProperty(k)).toMap
  }

  /** Assert the manifest at `path` holds exactly `expected`. */
  def pin(path: String, expected: Map[String, String]): Unit = {
    val actual = apply(path)
    assert(actual == expected,
      s"manifest at $path: expected $expected, found $actual")
  }

  /** Overwrite fields of the manifest at `path`, keeping the others. The
    * local file system's checksum sidecar is dropped with the old bytes,
    * or the next read would fail on the checksum instead of the fields. */
  def rewrite(path: String, updates: (String, String)*): Unit = {
    val props = new java.util.Properties()
    (apply(path) ++ updates).foreach { case (k, v) => props.setProperty(k, v) }
    val out = new java.io.FileOutputStream(s"$path/_MANIFEST.properties")
    try props.store(out, null) finally out.close()
    new java.io.File(s"$path/._MANIFEST.properties.crc").delete()
  }
}
