package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CdcChunking, ChunkIndex, Manifest, Multimodal}

/** Durable CDC chunk-index lifecycle: write -> manifest-validated reload
  * with zero chunking jobs, exact table parity, source/param
  * invalidation, idempotent append (replay no-op), and torn-table
  * refusal — the [[graft.operators.IvfIndex]] append semantics applied
  * to the chunk artifact. */
class ChunkIndexPersistSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val docs = Tables.load(spark, TestSpark.sfDir, "documents")
  private def media(df: org.apache.spark.sql.DataFrame) = Multimodal.asMediaTable(df)
  private lazy val corpus = docs.filter(col("doc_id") % 4 =!= 0)
  private lazy val arrivals = docs.filter(col("doc_id") % 4 === 0)
  private val path = "target/cdc-chunk-index-test/idx"

  private def tableRows(idx: ChunkIndex): Set[(Long, Long, Int, Int, String)] =
    idx.chunks.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getString(4)))
      .toSet

  test("written + reloaded index reproduces the in-session chunk table exactly") {
    val built = ChunkIndex.build(media(corpus))
    built.write(path, source = "spec-v1")
    val loaded = ChunkIndex.load(spark, path)
    assert(loaded.maskBits === built.maskBits)
    assert(tableRows(loaded) === tableRows(built))
  }

  test("manifest-validated reload runs zero chunking builds; wrong source/params refuse") {
    ChunkIndex.build(media(corpus)).write(path, source = "spec-v1")
    ManifestFields.pin(path, Map(
      "version" -> "1", "source" -> "spec-v1", "appliedSources" -> "spec-v1",
      "maskBits" -> "6", "rows" -> "1693", "tombRows" -> "0"))
    val before = ChunkIndex.buildCount
    val hit = ChunkIndex.loadIfValid(spark, path, "spec-v1")
    assert(hit.isDefined, "valid manifest refused")
    assert(ChunkIndex.buildCount === before, "reload ran a chunking build")
    assert(hit.get.chunks.count() > 0)
    assert(ChunkIndex.loadIfValid(spark, path, "spec-v2").isEmpty,
      "stale source accepted")
    assert(ChunkIndex.loadIfValid(spark, path, "spec-v1", maskBits = 8).isEmpty,
      "mask-width mismatch accepted")
  }

  test("append adds the arrivals' chunks; a replayed batch tag no-ops") {
    ChunkIndex.build(media(corpus)).write(path, source = "spec-v1")
    val base = ChunkIndex.load(spark, path).chunks.count()
    assert(ChunkIndex.appendTo(spark, path, media(arrivals), "day-1"))
    ManifestFields.pin(path, Map(
      "version" -> "1", "source" -> "day-1",
      "appliedSources" -> "day-1\u0001spec-v1", "maskBits" -> "6",
      "rows" -> "2296", "tombRows" -> "0"))
    val after = ChunkIndex.load(spark, path)
    val expected = CdcChunking.chunkTable(media(arrivals)).count()
    assert(after.chunks.count() === base + expected)
    // the appended table serves the ingest gate: every arrival now reads
    // as already-present (shares ALL its substantial chunks with itself)
    val report = CdcChunking.corpusOverlapReport(
      CdcChunking.chunkTable(media(arrivals)), after.chunks)
    assert(report.filter(col("keep") && col("n_shared") >= 2).count() === 0)
    // replay of the same tag must be a no-op, not a duplicate append
    assert(!ChunkIndex.appendTo(spark, path, media(arrivals), "day-1"))
    assert(ChunkIndex.load(spark, path).chunks.count() === base + expected)
  }

  test("a torn table (data landed, manifest did not) refuses further appends") {
    ChunkIndex.build(media(corpus)).write(path, source = "spec-v1")
    // simulate the crash window: rows land without a manifest refresh
    CdcChunking.chunkTable(media(arrivals.limit(3)))
      .write.mode("append").parquet(s"$path/chunks")
    val e = intercept[IllegalArgumentException] {
      ChunkIndex.appendTo(spark, path, media(arrivals), "day-2")
    }
    assert(e.getMessage.contains("torn table"))
    // recovery: rebuild + overwrite, then appends work again
    ChunkIndex.build(media(corpus)).write(path, source = "spec-v1")
    assert(ChunkIndex.appendTo(spark, path, media(arrivals), "day-2"))
  }

  test("excise: tombstoned table == survivors-only chunking; compact drops " +
      "the rows physically; ledger no-op; collision + torn state refused") {
    val path = "target/cdc-chunk-excise-test/idx"
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File("target/cdc-chunk-excise-test"))
    ChunkIndex.build(media(docs)).write(path, source = "base")
    val takedown = docs.filter(col("doc_id") % 3 === 0).select("doc_id")
    assert(ChunkIndex.excise(spark, path, takedown, "takedown-1"))
    ManifestFields.pin(path, Map(
      "version" -> "1", "source" -> "takedown-1",
      "appliedSources" -> "base\u0001takedown-1", "maskBits" -> "6",
      "rows" -> "2296", "tombRows" -> "167"))
    val tombstoned = ChunkIndex.load(spark, path)
    // the baked anti join serves exactly the survivors-only chunk table
    // (chunking is per-doc local, so the oracle is a fresh build)
    val survivors = ChunkIndex.build(media(docs.filter(col("doc_id") % 3 =!= 0)))
    assert(tableRows(tombstoned) === tableRows(survivors),
      "tombstoned chunk table diverged from the survivors-only build")
    // replayed excise no-ops; colliding re-ingest refuses
    assert(!ChunkIndex.excise(spark, path, takedown, "takedown-1"))
    val collide = intercept[IllegalArgumentException] {
      ChunkIndex.appendTo(spark, path,
        media(docs.filter(col("doc_id") % 3 === 0).limit(1)), "re-ingest")
    }
    assert(collide.getMessage.contains("tombstone"))
    // compaction drops the rows physically and clears the list
    val physBefore = spark.read.parquet(s"$path/chunks").count()
    ChunkIndex.compact(spark, path)
    ManifestFields.pin(path, Map(
      "version" -> "1", "source" -> "takedown-1",
      "appliedSources" -> "base\u0001takedown-1", "maskBits" -> "6",
      "rows" -> "1493", "tombRows" -> "0"))
    assert(spark.read.parquet(s"$path/chunks").count() < physBefore)
    assert(!new java.io.File(s"$path/tombstones").exists())
    assert(tableRows(ChunkIndex.load(spark, path)) === tableRows(survivors),
      "compacted chunk table diverged from the tombstoned one")
    assert(ChunkIndex.loadIfValid(spark, path, "takedown-1").isDefined)
    assert(ChunkIndex.loadIfValid(spark, path, "base").isEmpty)
    // torn tombstone list refuses maintenance and the validated reopen
    import spark.implicits._
    Seq(888888L).toDF("doc_id").write.mode("append").parquet(s"$path/tombstones")
    assert(intercept[IllegalArgumentException] {
      ChunkIndex.excise(spark, path, takedown, "takedown-2")
    }.getMessage.contains("manifest"))
    assert(ChunkIndex.loadIfValid(spark, path, "takedown-1").isEmpty)
  }

  test("compact: file count shrinks to nFiles, chunk table unchanged " +
      "bit-for-bit, ledger intact, torn table refused") {
    val cPath = "target/cdc-chunk-index-test/compact"
    ChunkIndex.build(media(corpus)).write(cPath, source = "spec-v1")
    assert(ChunkIndex.appendTo(spark, cPath,
      media(arrivals.filter(col("doc_id") % 8 === 0)), "day-1"))
    assert(ChunkIndex.appendTo(spark, cPath,
      media(arrivals.filter(col("doc_id") % 8 =!= 0)), "day-2"))
    val before = tableRows(ChunkIndex.load(spark, cPath))
    val filesBefore = Manifest.parquetFileCount(spark, s"$cPath/chunks")
    assert(filesBefore > 1, "fixture degenerate: not fragmented")
    ChunkIndex.compact(spark, cPath, nFiles = 1)
    ManifestFields.pin(cPath, Map(
      "version" -> "1", "source" -> "day-2",
      "appliedSources" -> "day-1\u0001day-2\u0001spec-v1", "maskBits" -> "6",
      "rows" -> "2296", "tombRows" -> "0"))
    assert(Manifest.parquetFileCount(spark, s"$cPath/chunks") === 1)
    assert(tableRows(ChunkIndex.load(spark, cPath)) === before,
      "compaction changed the chunk table")
    // ledger survived the rewrite; the latest tag still validates
    assert(!ChunkIndex.appendTo(spark, cPath,
      media(arrivals.filter(col("doc_id") % 8 =!= 0)), "day-2"))
    assert(ChunkIndex.loadIfValid(spark, cPath, "day-2").isDefined)
    // a torn table refuses compaction before any swap
    CdcChunking.chunkTable(media(arrivals.limit(2)))
      .write.mode("append").parquet(s"$cPath/chunks")
    val e = intercept[IllegalArgumentException] {
      ChunkIndex.compact(spark, cPath)
    }
    assert(e.getMessage.contains("manifest"))
  }
}
