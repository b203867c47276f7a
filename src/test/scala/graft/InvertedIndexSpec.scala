package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{InvertedIndex, Manifest, TextAnalysis}

/** Durable inverted index: served BM25 == the fused one-call ranking
  * row-for-row, driver/engine bucket parity, manifest-validated zero-build
  * reopen, and evidence that serving reads only the query terms' buckets
  * (the partition-pruning contract that makes the index an index). */
class InvertedIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val queryTerms = Seq("hash", "join", "vector")

  private def ranked(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "matched_terms", "bm25")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq

  test("served BM25 equals the fused bm25Rank row-for-row") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val idx = InvertedIndex.build(docs, "doc_id", "text")
    val served = ranked(idx.serve(queryTerms))
    val fused = ranked(TextAnalysis.bm25Rank(docs, "doc_id", "text", queryTerms))
    assert(served === fused)
    assert(served.nonEmpty)
  }

  test("null-text rows: served idf N and avgdl keep the fused path's split semantics") {
    // fused bm25Rank: idf's N = count of ALL rows, avgdl = mean over
    // NON-null dl. A single scalar can't serve both; the index carries
    // nDocs and nDl separately — parity must hold on a corpus where they
    // differ
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
      .select("doc_id", "text")
      .unionByName(Seq((900001L, Option.empty[String]),
        (900002L, Option.empty[String])).toDF("doc_id", "text"))
    val idx = InvertedIndex.build(docs, "doc_id", "text")
    assert(idx.nDocs === idx.nDl + 2, "null rows must count toward N only")
    val served = ranked(idx.serve(queryTerms))
    val fused = ranked(TextAnalysis.bm25Rank(docs, "doc_id", "text", queryTerms))
    assert(served === fused,
      "served ranking diverged from fused on a corpus with null texts")
  }

  test("capitalized query terms match the lowercased token stream on both paths") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val cased = Seq("Hash", "JOIN", "Vector")
    val idx = InvertedIndex.build(docs, "doc_id", "text")
    val served = ranked(idx.serve(cased))
    val fused = ranked(TextAnalysis.bm25Rank(docs, "doc_id", "text", cased))
    val lower = ranked(TextAnalysis.bm25Rank(docs, "doc_id", "text", queryTerms))
    assert(served === lower && fused === lower,
      "capitalized query terms must not silently match nothing")
  }

  test("driver-side bucketOf matches the engine-side bucket for every corpus term") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val engine = docs.select(explode(split(lower(col("text")), " ")).as("term"))
      .distinct()
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(64L)).cast("int"))
      .collect().map(r => r.getString(0) -> r.getInt(1))
    assert(engine.nonEmpty)
    engine.foreach { case (term, b) =>
      assert(InvertedIndex.bucketOf(term, 64) === b, s"bucket mismatch for '$term'")
    }
  }

  test("manifest reopen: zero build jobs, identical serving, stale source rejected") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val path = "target/test-inverted-index"
    InvertedIndex.build(docs, "doc_id", "text").write(path, source = "tag-a")
    ManifestFields.pin(path, Map(
      "version" -> "1", "source" -> "tag-a", "idCol" -> "doc_id",
      "nBuckets" -> "64", "nDl" -> "500", "nDocs" -> "500",
      "postRows" -> "11743", "sumDl" -> "27939", "termRows" -> "31",
      "tombRows" -> "0"))
    val builds = InvertedIndex.buildCount
    val reopened = InvertedIndex.loadIfValid(spark, path, source = "tag-a")
    assert(reopened.isDefined, "valid manifest must reopen")
    assert(InvertedIndex.buildCount === builds, "reopen must not rebuild")
    val served = ranked(reopened.get.serve(queryTerms))
    val fused = ranked(TextAnalysis.bm25Rank(docs, "doc_id", "text", queryTerms))
    assert(served === fused)
    // a different source fingerprint must refuse the reopen
    assert(InvertedIndex.loadIfValid(spark, path, source = "tag-b").isEmpty)
  }

  test("serving reads only the query terms' buckets (partition pruning)") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val path = "target/test-inverted-index-prune"
    InvertedIndex.build(docs, "doc_id", "text").write(path, source = "t")
    val idx = InvertedIndex.load(spark, path)
    val totalPostings = idx.postings.count()
    // rows actually in the query terms' buckets — the pruning budget
    val buckets = queryTerms.map(InvertedIndex.bucketOf(_, idx.nBuckets)).distinct
    val inBuckets = idx.postings.filter(col("bucket").isin(buckets: _*)).count()
    assert(inBuckets < totalPostings,
      "fixture degenerate: query buckets cover the whole index")
    val read = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        read.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      idx.serve(queryTerms).collect()
      org.apache.spark.sql.graft.bridge.waitListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    // scan cost = query-bucket postings + the (tiny) terms sidecar, never
    // the full posting table; allow slack for the terms scan
    assert(read.get() <= inBuckets + idx.terms.count() + 16,
      s"serve read ${read.get()} records; bucket budget was $inBuckets " +
        s"of $totalPostings postings")
  }

  test("append merges df and scalars: served == fused over the union corpus; " +
      "ledger makes a retry a no-op; torn table refused") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val base = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val path = "target/test-inverted-index-append"
    InvertedIndex.build(base, "doc_id", "text").write(path, source = "base")
    assert(InvertedIndex.appendTo(spark, path, batch, "text", "day-1"))
    ManifestFields.pin(path, Map(
      "version" -> "1", "source" -> "day-1",
      "appliedSources" -> "base\u0001day-1", "idCol" -> "doc_id",
      "nBuckets" -> "64", "nDl" -> "500", "nDocs" -> "500",
      "postRows" -> "11743", "sumDl" -> "27939", "termRows" -> "31",
      "tombRows" -> "0"))
    val idx = InvertedIndex.load(spark, path)
    // df merged and scalars added: the served ranking over base+batch is
    // bit-identical to a fused pass over the whole corpus
    val served = ranked(idx.serve(queryTerms))
    val fused = ranked(TextAnalysis.bm25Rank(docs, "doc_id", "text", queryTerms))
    assert(served === fused, "appended index diverged from the union corpus")
    // retrying the same batch is a ledger no-op: nothing double-counts
    val postRows = idx.postings.count()
    assert(!InvertedIndex.appendTo(spark, path, batch, "text", "day-1"))
    assert(InvertedIndex.load(spark, path).postings.count() === postRows)
    // the latest source reopens with zero builds; the stale one refuses
    val builds = InvertedIndex.buildCount
    assert(InvertedIndex.loadIfValid(spark, path, "day-1").isDefined)
    assert(InvertedIndex.buildCount === builds)
    assert(InvertedIndex.loadIfValid(spark, path, "base").isEmpty)
    // a torn table (rows landed, manifest didn't) refuses further appends
    Seq((999999L, "zzz", 1L, 1L, 0))
      .toDF("doc_id", "term", "tf", "dl", "bucket")
      .write.mode("append").partitionBy("bucket").parquet(s"$path/postings")
    val e = intercept[IllegalArgumentException] {
      InvertedIndex.appendTo(spark, path, batch, "text", "day-2")
    }
    assert(e.getMessage.contains("manifest"))
  }

  test("compact: file count drops to <= one per bucket, served == fused " +
      "bit-for-bit, ledger carried, torn table refused") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val base = docs.filter(col("doc_id") % 3 === 1)
    val path = "target/test-inverted-index-compact"
    InvertedIndex.build(base, "doc_id", "text").write(path, source = "base")
    // two appended batches fragment the postings (one file per touched
    // bucket per append)
    assert(InvertedIndex.appendTo(spark, path,
      docs.filter(col("doc_id") % 3 === 2), "text", "day-1"))
    assert(InvertedIndex.appendTo(spark, path,
      docs.filter(col("doc_id") % 3 === 0), "text", "day-2"))
    val before = Manifest.parquetFileCount(spark, s"$path/postings")
    val idxBefore = InvertedIndex.load(spark, path)
    assert(before > idxBefore.nBuckets,
      s"fixture degenerate: $before files is not fragmented past one per bucket")
    InvertedIndex.compact(spark, path)
    ManifestFields.pin(path, Map(
      "version" -> "1", "source" -> "day-2",
      "appliedSources" -> "base\u0001day-1\u0001day-2", "idCol" -> "doc_id",
      "nBuckets" -> "64", "nDl" -> "500", "nDocs" -> "500",
      "postRows" -> "11743", "sumDl" -> "27939", "termRows" -> "31",
      "tombRows" -> "0"))
    val after = Manifest.parquetFileCount(spark, s"$path/postings")
    assert(after < before, s"compaction did not shrink the file set ($before -> $after)")
    assert(after <= idxBefore.nBuckets, "compaction must leave <= one file per bucket")
    // served ranking unchanged bit-for-bit (same rows, same scalars)
    val idx = InvertedIndex.load(spark, path)
    val served = ranked(idx.serve(queryTerms))
    val fused = ranked(TextAnalysis.bm25Rank(docs, "doc_id", "text", queryTerms))
    assert(served === fused, "compacted index diverged from the union corpus")
    // the ledger survived the rewrite: a replayed batch is still a no-op,
    // and the latest source still reopens with zero builds
    assert(!InvertedIndex.appendTo(spark, path,
      docs.filter(col("doc_id") % 3 === 0), "text", "day-2"))
    val builds = InvertedIndex.buildCount
    assert(InvertedIndex.loadIfValid(spark, path, "day-2").isDefined)
    assert(InvertedIndex.buildCount === builds)
    // a torn table (rows landed, manifest didn't) refuses compaction
    // BEFORE any swap
    Seq((999999L, "zzz", 1L, 1L, 0))
      .toDF("doc_id", "term", "tf", "dl", "bucket")
      .write.mode("append").partitionBy("bucket").parquet(s"$path/postings")
    val e = intercept[IllegalArgumentException] {
      InvertedIndex.compact(spark, path)
    }
    assert(e.getMessage.contains("manifest"))
  }

  test("excise: tombstoned serve == compacted serve == fused over survivors; " +
      "stats refreshed; ledger no-op; collision + torn state refused") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val survivors = docs.filter(col("doc_id") % 3 =!= 0)
    val takedown = docs.filter(col("doc_id") % 3 === 0)
    val path = "target/test-inverted-index-excise"
    InvertedIndex.build(docs, "doc_id", "text").write(path, source = "base")
    assert(InvertedIndex.excise(spark, path, takedown, "text", "takedown-1"))
    ManifestFields.pin(path, Map(
      "version" -> "1", "source" -> "takedown-1",
      "appliedSources" -> "base\u0001takedown-1", "idCol" -> "doc_id",
      "nBuckets" -> "64", "nDl" -> "333", "nDocs" -> "333",
      "postRows" -> "11743", "sumDl" -> "18028", "termRows" -> "31",
      "tombRows" -> "167"))
    // BEFORE compaction: the tombstone anti-join plus the corrected
    // df/N/avgdl already serve EXACTLY the fresh-build-on-survivors
    // ranking — stale corpus stats are the bug this pin exists to catch
    val tombstoned = InvertedIndex.load(spark, path)
    assert(tombstoned.tombstones.isDefined, "pending tombstones must load")
    val fused = ranked(TextAnalysis.bm25Rank(survivors, "doc_id", "text", queryTerms))
    assert(ranked(tombstoned.serve(queryTerms)) === fused,
      "tombstoned serve diverged from a fresh build over the survivors")
    val freshIdx = InvertedIndex.build(survivors, "doc_id", "text")
    assert(tombstoned.nDocs === freshIdx.nDocs, "idf N not decremented")
    assert(tombstoned.nDl === freshIdx.nDl)
    assert(tombstoned.sumDl === freshIdx.sumDl, "avgdl numerator stale")
    // replayed excise of the same batch is a ledger no-op
    assert(!InvertedIndex.excise(spark, path, takedown, "text", "takedown-1"))
    // re-ingesting a tombstoned id before compaction refuses loudly (the
    // serve anti-join would silently kill the re-ingested doc otherwise)
    val collide = intercept[IllegalArgumentException] {
      InvertedIndex.appendTo(spark, path, takedown.limit(1), "text", "re-ingest")
    }
    assert(collide.getMessage.contains("tombstone"))
    // compaction physically drops the tombstoned rows and clears the list
    val postBefore = tombstoned.postings.count()
    InvertedIndex.compact(spark, path)
    ManifestFields.pin(path, Map(
      "version" -> "1", "source" -> "takedown-1",
      "appliedSources" -> "base\u0001takedown-1", "idCol" -> "doc_id",
      "nBuckets" -> "64", "nDl" -> "333", "nDocs" -> "333",
      "postRows" -> "7714", "sumDl" -> "18028", "termRows" -> "31",
      "tombRows" -> "0"))
    val compacted = InvertedIndex.load(spark, path)
    assert(compacted.tombstones.isEmpty, "compaction must clear tombstones")
    assert(compacted.postings.count() < postBefore,
      "compaction did not drop the excised posting rows")
    assert(compacted.postings
      .join(takedown.select("doc_id"), Seq("doc_id"), "left_semi")
      .count() === 0, "an excised doc survived compaction")
    assert(ranked(compacted.serve(queryTerms)) === fused,
      "compacted serve diverged from the tombstoned serve")
    // the excise tag reopens with zero builds; the pre-excise tag refuses
    val builds = InvertedIndex.buildCount
    assert(InvertedIndex.loadIfValid(spark, path, "takedown-1").isDefined)
    assert(InvertedIndex.buildCount === builds)
    assert(InvertedIndex.loadIfValid(spark, path, "base").isEmpty)
    // a torn excise (tombstones landed, manifest didn't) refuses every
    // maintenance op AND the validated reopen
    Seq(888888L).toDF("doc_id").write.mode("append").parquet(s"$path/tombstones")
    assert(intercept[IllegalArgumentException] {
      InvertedIndex.excise(spark, path, takedown, "text", "takedown-2")
    }.getMessage.contains("manifest"))
    assert(intercept[IllegalArgumentException] {
      InvertedIndex.compact(spark, path)
    }.getMessage.contains("manifest"))
    assert(InvertedIndex.loadIfValid(spark, path, "takedown-1").isEmpty,
      "a torn tombstone list must refuse the validated reopen")
  }

  test("overlapping excise batches never double-subtract df or corpus stats") {
    // two takedown notices naming SOME OF THE SAME documents, applied
    // under different tags (the ledger can't catch this — it's a new
    // batch): ids already tombstoned must contribute nothing to the
    // second batch's df/N/avgdl deltas, or BM25 silently corrupts for
    // every survivor (the pre-r18 failure mode)
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val batch1 = docs.filter(col("doc_id") % 3 === 0)
    val batch2 = docs.filter(col("doc_id") % 2 === 0) // overlaps at %6==0
    val survivors = docs.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 2 =!= 0)
    val path = "target/test-inverted-index-excise-overlap"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    InvertedIndex.build(docs, "doc_id", "text").write(path, source = "base")
    assert(InvertedIndex.excise(spark, path, batch1, "text", "notice-1"))
    assert(InvertedIndex.excise(spark, path, batch2, "text", "notice-2"))
    val served = InvertedIndex.load(spark, path)
    val freshIdx = InvertedIndex.build(survivors, "doc_id", "text")
    assert(served.nDocs === freshIdx.nDocs,
      "overlapped ids double-subtracted the idf N")
    assert(served.nDl === freshIdx.nDl)
    assert(served.sumDl === freshIdx.sumDl,
      "overlapped ids double-subtracted the avgdl numerator")
    val fused = ranked(TextAnalysis.bm25Rank(survivors, "doc_id", "text", queryTerms))
    assert(ranked(served.serve(queryTerms)) === fused,
      "served BM25 diverged from a fresh build over the survivors after " +
        "overlapping excisions")
    // and the same parity survives the physical drop
    InvertedIndex.compact(spark, path)
    assert(ranked(InvertedIndex.load(spark, path).serve(queryTerms)) === fused)
  }
}
