package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The query counts the docs state, derived from the row tables: the row
  * total (`SparkEntry.queries`), the oracle-checked rows (those with an
  * entry in `SparkEntry.oracleSql`) and the rows-only rest. Each stated
  * count must equal its derivation, and every row must have a line in
  * ARCHITECTURE.md's query tables. No Spark session: only the row tables'
  * names are read. */
class QueryCountsSpec extends AnyFunSuite {
  private val names = SparkEntry.queries.keySet
  private val total = names.size
  private val checked = names.count(SparkEntry.oracleSql.contains)
  private val rowsOnly = total - checked

  private def read(file: String): String =
    new String(Files.readAllBytes(Paths.get(file)), "UTF-8")

  /** Every number `pattern` captures in `file`, at least one match. */
  private def stated(file: String, pattern: String): Seq[Seq[Int]] = {
    val found = pattern.r.findAllMatchIn(read(file))
      .map(m => m.subgroups.map(_.toInt)).toSeq
    assert(found.nonEmpty, s"$file no longer states /$pattern/")
    found
  }

  test("every oracle belongs to a row") {
    assert(SparkEntry.oracleSql.keySet.diff(names).isEmpty)
  }

  test("ARCHITECTURE.md and README.md state the derived counts") {
    val expected = Seq(
      ("ARCHITECTURE.md", """public surface is the\s+(\d+)\s+driver queries""",
        Seq(total)),
      ("ARCHITECTURE.md", """`SparkEntry\.oracleSql`\s+\((\d+)\s+queries\)""",
        Seq(checked)),
      ("ARCHITECTURE.md", """exact twin\s+\((\d+)\s+queries\)""", Seq(rowsOnly)),
      ("ARCHITECTURE.md",
        """(\d+)\s+checked queries\s+\(\+\s+(\d+)\s+rows-only""",
        Seq(checked, rowsOnly)),
      ("README.md", """(\d+)\s+driver queries in one table""", Seq(total)))
    for ((file, pattern, counts) <- expected; found <- stated(file, pattern))
      assert(found === counts, s"$file /$pattern/ states $found, rows give $counts")
  }

  test("ARCHITECTURE.md's query tables have a line for every row and no other") {
    val named = """`([^`]+)`""".r
    var inTable = false
    val listed = Files.readAllLines(Paths.get("ARCHITECTURE.md")).asScala.flatMap {
      line =>
        if (line.startsWith("| Query |")) { inTable = true; Nil }
        else if (!line.startsWith("|")) { inTable = false; Nil }
        else if (!inTable || line.startsWith("|---")) Nil
        else named.findAllMatchIn(line.split('|')(1)).map(_.group(1)).toSeq
    }.toSet
    assert(names.diff(listed).isEmpty, "rows without a table line")
    assert(listed.diff(names).isEmpty, "table lines naming no row")
  }
}
