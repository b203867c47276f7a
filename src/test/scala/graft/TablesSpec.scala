package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Ingest type-robustness contract for event-time normalization.
  *
  * The fixture generator has already shipped two different physical
  * encodings of `events.ts` across regenerations (TIMESTAMP(NANOS) read as
  * nanos-as-long, then plain `timestamp[us]` read as TIMESTAMP_NTZ) — the
  * second silently broke sessionization and every watermark until ingest
  * caught up. This suite pins the contract: whatever encoding lands in the
  * lake, `Tables.load` must yield a plain TimestampType `ts` with the same
  * instant values, so a future regeneration cannot break downstream
  * operators again.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // one known instant: 2024-03-01 12:34:56.789012 UTC
  private val micros = 1709296496789012L

  private def freshDir(tag: String): String =
    Files.createTempDirectory(Paths.get("target"), s"tables-$tag").toString

  /** Write a single-row events.parquet whose ts column uses the given type. */
  private def writeEvents(dir: String, tsCol: org.apache.spark.sql.Column): Unit = {
    spark.range(1)
      .select(col("id").as("event_id"), tsCol.as("ts"),
        lit(7L).as("user_id"), lit("click").as("event_type"), lit(1.5).as("value"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def loadedTs(dir: String): (DataType, Long) = {
    val df = Tables.load(spark, dir, "events")
    val dt = df.schema("ts").dataType
    val v = df.select(unix_micros(col("ts"))).head().getLong(0)
    (dt, v)
  }

  test("TIMESTAMP (tz-adjusted micros) passes through as TimestampType") {
    val dir = freshDir("tstz")
    writeEvents(dir, timestamp_micros(lit(micros)))
    assert(loadedTs(dir) == (TimestampType, micros))
  }

  test("TIMESTAMP_NTZ (plain timestamp[us]) is cast to TimestampType losslessly") {
    val dir = freshDir("ntz")
    writeEvents(dir, timestamp_micros(lit(micros)).cast(TimestampNTZType))
    // sanity: the fixture really is NTZ on disk before normalization
    val raw = spark.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType == TimestampNTZType)
    assert(loadedTs(dir) == (TimestampType, micros))
  }

  test("INT64 nanos-as-long is floored to micros as TimestampType") {
    val dir = freshDir("nanos")
    writeEvents(dir, lit(micros * 1000L + 999L)) // 999 sub-micro nanos must floor away
    assert(loadedTs(dir) == (TimestampType, micros))
  }

  test("pre-epoch nanos floor toward the earlier microsecond") {
    val dir = freshDir("preepoch")
    writeEvents(dir, lit(-1001L)) // -1001 ns -> floor(-1.001 us) = -2 us
    assert(loadedTs(dir) == (TimestampType, -2L))
  }

  test("the real fixture loads with TimestampType ts and supports a watermark") {
    val df = Tables.load(spark, TestSpark.sfDir, "events")
    assert(df.schema("ts").dataType == TimestampType)
    // withWatermark is the operation the NTZ regression broke first
    df.withWatermark("ts", "10 minutes")
    assert(df.limit(5).count() == 5)
  }
}
