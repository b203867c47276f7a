package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingestion adapter for the testdata lake: session prep + table loading.
  *
  * The fixture generator has shipped the `events.ts` column in multiple
  * physical encodings across regenerations: Parquet TIMESTAMP(NANOS) (which
  * Spark's vectorized reader rejects — we read it as raw nanos via
  * `spark.sql.legacy.parquet.nanosAsLong`), plain `timestamp[us]` with no
  * timezone (read as TIMESTAMP_NTZ), and tz-adjusted micros (read as
  * TIMESTAMP). We normalize all of them to a native TimestampType column at
  * ingest — the standard lakehouse pattern of normalizing source precision
  * and timezone semantics at the boundary so every downstream operator
  * (watermarks, `unix_micros`, window functions) sees one canonical type
  * (codegen-friendly, prunable). The session timezone is pinned UTC, so the
  * NTZ→TIMESTAMP cast is lossless.
  */
object Tables {

  /** Session settings every query path needs; idempotent and cheap. */
  def prepare(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  /** One analyzed lake-table plan per (session, dir, table) — the role a
    * metastore/catalog plays in production: `spark.read.parquet` re-lists
    * the table's files and re-infers its schema from footers on EVERY
    * call (~150-250 ms of driver work + a footer job under interleaved
    * load), and the bench surface calls [[load]] 1-4 times per query per
    * pass. The cached value is a LAZY DataFrame — pure plan metadata
    * (file list + schema), NEVER rows: every action on it still scans
    * the parquet inputs. Lake dirs here are immutable fixtures (tests
    * that write parquet use fresh temp dirs), so the snapshot semantics
    * match a catalog's. Bounded: #tables x #dirs entries per session;
    * nothing to release (no rows are held). */
  private val planCache =
    queries.QueryArtifacts.cache[(SparkSession, String, String), DataFrame]()

  /** Load `<dir>/<name>.parquet`, normalizing known event-time columns. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    prepare(spark)
    planCache((spark, dir, name)) {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      if (name == "events") normalizeEventTime(df, "ts") else df
    }
  }

  /** Normalize an event-time column to TimestampType in place (same name,
    * same column position), whatever physical encoding the fixture shipped:
    *
    *  - LongType (nanos-as-long, from TIMESTAMP(NANOS) +
    *    `nanosAsLong`): floor-divide to micros — floor, not SQL `div`
    *    (truncates toward zero), so pre-epoch nanos round to the earlier
    *    microsecond, agreeing with any floor-semantics oracle; integer
    *    arithmetic throughout, nanos exceed 2^53 so double division would
    *    lose precision.
    *  - TimestampNTZType (plain `timestamp[us]`, no tz): cast to
    *    TimestampType — lossless under the pinned UTC session timezone.
    *  - TimestampType: already canonical, pass through.
    */
  def normalizeEventTime(df: DataFrame, colName: String): DataFrame =
    if (!df.schema.fieldNames.contains(colName)) df
    else df.schema(colName).dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn(colName, timestamp_micros(expr(
          s"($colName div 1000) + (CASE WHEN $colName % 1000 < 0 THEN -1 ELSE 0 END)")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(colName,
          col(colName).cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
}
