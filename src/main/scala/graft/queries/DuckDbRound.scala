package graft.queries

import org.apache.spark.sql.Column

/** DuckDB-compatible rounding (imported by name, it shadows
  * functions.round): round the scaled double half-away-from-zero, i.e.
  * round(x*10^n)/10^n — the same computation DuckDB's round() performs,
  * so values landing exactly on a scaled .5 boundary agree between
  * engines. */
private[graft] object DuckDbRound {
  def round(c: Column, scale: Int): Column = {
    val p = math.pow(10, scale)
    org.apache.spark.sql.functions.round(c * p, 0) / p
  }
}
