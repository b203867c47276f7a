package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.json4s._
import org.json4s.jackson.JsonMethods.compact

import org.apache.spark.sql.{DataFrame, Row}

/** Writes a query result as JSON lines for the DuckDB oracle compare in
  * `check.py`: the first line holds the column names, each further line
  * one row. Values are rendered in the canonical forms the Python side
  * converts DuckDB's results to: timestamps and dates as epoch microseconds
  * (a date is its midnight, as pandas compares them in `tools/compare.py`),
  * floats widened exactly to double, binary as hex, structs as
  * objects and maps as sorted key/value pairs. */
object Canon {

  def write(df: DataFrame, path: Path): Long = {
    val names = df.columns.toList
    val rows = df.collect()
    val out = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    try {
      out.write(compact(JArray(names.map(JString(_)))))
      out.write('\n')
      rows.foreach { r =>
        out.write(compact(JArray(names.indices.map(i => value(r.get(i))).toList)))
        out.write('\n')
      }
    } finally out.close()
    rows.length.toLong
  }

  private def dbl(d: Double): JValue =
    if (d.isNaN) JString("NaN") else if (d.isInfinite) JString(if (d > 0) "Infinity" else "-Infinity")
    else JDouble(d)

  def value(v: Any): JValue = v match {
    case null => JNull
    case b: Boolean => JBool(b)
    case n: Byte => JLong(n.toLong)
    case n: Short => JLong(n.toLong)
    case n: Int => JLong(n.toLong)
    case n: Long => JLong(n)
    case f: Float => dbl(f.toDouble)
    case d: Double => dbl(d)
    case d: java.math.BigDecimal => JDecimal(BigDecimal(d))
    case d: scala.math.BigDecimal => JDecimal(d)
    case s: String => JString(s)
    case t: java.sql.Timestamp =>
      JLong(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant => JLong(t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      value(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => value(d.toLocalDate)
    case d: java.time.LocalDate => JLong(d.toEpochDay * 86400L * 1000000L)
    case b: Array[Byte] => JString(b.map(x => f"${x & 0xff}%02x").mkString)
    case m: scala.collection.Map[_, _] =>
      JArray(m.toList.map { case (k, x) => (value(k), value(x)) }.sortBy(p => compact(p._1))
        .map { case (k, x) => JArray(List(k, x)) })
    case s: scala.collection.Seq[_] => JArray(s.map(value).toList)
    case r: Row =>
      JObject(r.schema.fieldNames.toList.zipWithIndex.map { case (n, i) => n -> value(r.get(i)) })
    case other => JString(other.toString)
  }
}
