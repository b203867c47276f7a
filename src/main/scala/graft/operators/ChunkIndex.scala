package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Durable CDC chunk table — the serving artifact behind chunk-level
  * dedup and the chunk-overlap ingest gate, a build-once / serve-many
  * durable artifact (ARCHITECTURE.md "Durable artifacts"):
  * chunking the corpus is the expensive deterministic pass (one codegen'd
  * scan over every payload byte), while every consumer — duplicate-group
  * audits, pair joins, the stream-static admission join — reads only the
  * (doc_id, offsets, chunk_md5) rows. A long-running ingest reopens the
  * table across sessions with ZERO chunking jobs (`loadIfValid` validates
  * by manifest metadata, never a payload scan) and admits each day's
  * accepted arrivals with an idempotent [[ChunkIndex.appendTo]] — the
  * applied-sources ledger makes a crashed job's retry a no-op instead of
  * a silent double-count, and a torn table (data landed, manifest didn't)
  * is detected by recount and refused (ARCHITECTURE.md "Durable
  * artifacts").
  */
final class ChunkIndex private[operators] (
    /** The chunk table: (doc_id, chunk_no, chunk_start, chunk_len, chunk_md5). */
    val chunks: DataFrame,
    /** Cut-rule mask width the table was built under. */
    val maskBits: Int) {

  /** Durable form: chunk rows + manifest. */
  def write(path: String, source: String = ""): Unit = {
    val spark = chunks.sparkSession
    // rebuild IS the crash recovery: drop any lease a dead maintainer left
    WriterLease.clear(spark, path)
    chunks.write.mode("overwrite").parquet(s"$path/chunks")
    Manifest.writeBuilt(spark, path, ChunkIndex.Format,
      "source" -> source, "appliedSources" -> source, "maskBits" -> maskBits,
      "rows" -> spark.read.parquet(s"$path/chunks").count(), "tombRows" -> 0)
  }
}

object ChunkIndex {
  private val buildsRun = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] def buildCount: Int = buildsRun.get

  private val Format = Manifest.Format("1", "chunk index",
    Seq("rows" -> "chunks"), tombstones = true)

  /** BUILD: chunk a media table (doc_id, payload). One codegen'd pass;
    * the table stays a lazy DataFrame until written or acted on. */
  def build(media: DataFrame, maskBits: Int = 6): ChunkIndex = {
    buildsRun.incrementAndGet()
    new ChunkIndex(CdcChunking.chunkTable(media, maskBits), maskBits)
  }

  /** Reopen a written index ONLY if its manifest proves it complete,
    * current, parameter-compatible, and chunked from the caller's
    * `source` — metadata validation plus one footer-stats recount, zero
    * chunking jobs on a hit. */
  def loadIfValid(spark: SparkSession, path: String, source: String,
      maskBits: Int = 6): Option[ChunkIndex] =
    Manifest.reopen(spark, path, Format, source) { m =>
      if (!m.get("maskBits").contains(maskBits.toString)) None
      else {
        val idx = open(spark, path, m)
        // PHYSICAL row count (the served chunks view already excludes
        // pending tombstones)
        Some(idx).filter(_ =>
          m.counts("rows", spark.read.parquet(s"$path/chunks")))
      }
    }

  /** EXCISE documents' chunk rows from a written index —
    * [[IvfIndex.excise]]'s chunk twin (takedowns must vanish from the
    * ingest gate's overlap checks too, or a removed document keeps
    * rejecting its own re-crawls as duplicates). Tombstone-then-compact:
    * excised doc_ids land in a tombstone list baked into [[load]]'s
    * chunks view as an anti join; the next [[compact]] drops the rows
    * physically. `ids` is a single-column DataFrame named `doc_id`. */
  def excise(spark: SparkSession, path: String, ids: DataFrame,
      newSource: String): Boolean =
    Manifest.excise(spark, path, Format, ids.select(col("doc_id")), newSource)

  /** Reopen a written index: one lazy parquet scan + manifest params;
    * pending tombstones ([[excise]]) are baked into the chunks view. */
  def load(spark: SparkSession, path: String): ChunkIndex =
    open(spark, path, Manifest.read(spark, path))

  private def open(spark: SparkSession, path: String, m: Manifest): ChunkIndex =
    new ChunkIndex(Manifest.withoutTombstones(spark, path, m,
      spark.read.parquet(s"$path/chunks"), "doc_id"), m.long("maskBits").toInt)

  /** Append the chunk rows of newly accepted documents under the EXISTING
    * cut parameters. Ledgered (a replayed batch tag no-ops, returns
    * false) and recounted (a torn table from a crash between data append
    * and manifest refresh is REFUSED; recovery = rebuild + write) as every
    * durable-artifact append. Returns true when the append was applied. */
  def appendTo(spark: SparkSession, path: String, media: DataFrame,
      newSource: String): Boolean =
    Manifest.applyBatch(spark, path, Format, "appending", newSource) { prior =>
      // an appended doc matching a pending tombstone would be served DEAD
      Manifest.refuseTombstoned(spark, path, prior, media.select(col("doc_id")),
        "doc_id")
      CdcChunking.chunkTable(media, prior.long("maskBits").toInt)
        .write.mode("append").parquet(s"$path/chunks")
      Manifest.write(spark, path, Format, prior.applying(newSource,
        "rows" -> spark.read.parquet(s"$path/chunks").count()))
    }

  /** OPTIMIZE: rewrite the fragmented chunks table of a written index
    * into `nFiles` files — the [[PqIndex.compact]] step for this flat
    * table, whose [[appendTo]] adds one parquet file per batch — and
    * physically drop tombstoned rows ([[Manifest.compact]]). */
  def compact(spark: SparkSession, path: String, nFiles: Int = 1): Unit = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    Manifest.compact(spark, path, Format, "chunks", "rows", _ => "doc_id") {
      (survivors, staging) =>
        survivors.repartition(nFiles).write.mode("overwrite").parquet(staging)
    }
  }
}
