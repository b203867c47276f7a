package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Term-partitioned inverted index with BM25 serving — the text-retrieval
  * member of the durable build-once / serve-many index family
  * ([[IvfIndex]], [[PqIndex]], [[ChunkIndex]], [[BigramLm]]).
  *
  * Building tokenizes the corpus through [[TextAnalysis.tokens]] (the
  * repo's ONE tokenization definition — the same one the fused
  * [[TextAnalysis.bm25Rank]] derives from) into classic posting rows
  * (term, doc, tf, dl — document length denormalized onto the posting so
  * serving never joins a corpus-sized side), plus a per-term document-
  * frequency sidecar and the corpus scalars. Both tables are written
  * PARTITIONED BY a term hash bucket, so a query's scan plans only the
  * buckets its terms hash to — the static partition pruning an IVF probe
  * gets from cells, applied to text: at corpus scale a 3-term query over
  * a 4096-bucket index touches <= 3 buckets of posting files and none of
  * the raw text.
  *
  * Serving scores through [[TextAnalysis.bm25TermScore]] — the SAME
  * expression tree as the fused path, so the served ranking is
  * bit-identical to the one-call form and shares its DuckDB oracle. Two
  * corpus scalars ride the manifest because the fused path's two
  * denominators have different null semantics: idf's N counts EVERY row
  * (`count(lit(1))`) while avgdl's mean skips null-text rows
  * (`avg("dl")`), so the index stores nDocs (all rows) and nDl + sumDl
  * (non-null lengths) separately.
  *
  * Reopen across sessions is manifest-validated metadata only
  * ([[InvertedIndex.loadIfValid]]): zero tokenize/aggregate jobs on a
  * hit (ARCHITECTURE.md "Durable artifacts").
  *
  * Serving lifecycle note: an index that was built but never written
  * serves from the LAZY build plan — each serve re-derives postings and
  * df from the corpus (the parity-check path InvertedIndexSpec uses).
  * Production serving is write() + load(): scans then read the bucketed
  * parquet, and only the query buckets.
  *
  * DELETION lifecycle ([[InvertedIndex.excise]]): excised documents are
  * TOMBSTONED, not rewritten — the corpus-sized postings table stays
  * untouched on disk while the vocab-sized df sidecar and the manifest
  * scalars (the BM25 N/df/avgdl inputs) are corrected immediately from
  * the excised BATCH, so every serve after the excise scores exactly as
  * a fresh build over the surviving corpus would. Serving anti-joins the
  * (small, takedown-sized) tombstone list after bucket pruning; the next
  * [[InvertedIndex.compact]] physically drops the tombstoned posting
  * rows and clears the list.
  */
final class InvertedIndex private[operators] (
    private[operators] val spark: SparkSession,
    /** (idCol, term, tf, dl, bucket) posting rows. */
    val postings: DataFrame,
    /** (term, df, bucket) document frequencies. */
    val terms: DataFrame,
    /** Name of the document id column the index was built over. */
    val idCol: String,
    /** Corpus document count, ALL rows — the BM25 idf N. */
    val nDocs: Long,
    /** Documents with a non-null token list — avgdl's denominator. */
    val nDl: Long,
    /** Sum of document lengths (tokens) over the corpus. */
    val sumDl: Long,
    /** Term hash-bucket count (the partition key space). */
    val nBuckets: Int,
    /** Excised doc ids ([[InvertedIndex.excise]]) not yet physically
      * dropped by [[InvertedIndex.compact]] — None when the index has no
      * pending tombstones (the common case; serve plans are unchanged). */
    val tombstones: Option[DataFrame] = None) {

  /** BM25 score per document containing at least one query term:
    * (idCol, matched_terms, bm25). Query terms are lowercased to match
    * the lowercased token stream. Bucket + term filters restrict the
    * posting scan; on a file-backed index the bucket predicate is a
    * static PARTITION filter — only the query terms' buckets are read. */
  def serve(queryTerms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    require(k1 > 0 && b >= 0 && b <= 1,
      s"need k1 > 0 and 0 <= b <= 1, got k1=$k1 b=$b")
    val termList = queryTerms.map(_.toLowerCase)
    val buckets = termList.map(InvertedIndex.bucketOf(_, nBuckets)).distinct
    // tombstoned docs are excluded AFTER bucket+term pruning (the anti
    // join sees query-bucket posting rows only, never the corpus) and
    // BEFORE scoring — their df/N/avgdl contributions were already
    // removed at excise time, so the scores equal a fresh build over the
    // surviving corpus
    val prunedPost = postings
      .filter(col("bucket").isin(buckets: _*) &&
        col("term").isin(termList: _*))
    val post = tombstones
      .map(t => prunedPost.join(t, Seq(idCol), "left_anti"))
      .getOrElse(prunedPost)
    val df = terms
      .filter(col("bucket").isin(buckets: _*) &&
        col("term").isin(termList: _*))
      .select("term", "df")
    // nDl == 0 (every corpus text null) would make avgdl NaN and poison
    // the scores, where the fused bm25Rank's avg("dl") is null; the
    // fallback is inert — with no tokenized documents the posting table
    // is empty, so serve returns zero rows either way (the same verdict
    // as the fused path on the degenerate corpus) and avgdl never
    // touches an output value
    val avgdl = if (nDl > 0) sumDl.toDouble / nDl else 1.0
    post.join(df, "term")
      .groupBy(idCol)
      .agg(count(lit(1)).as("matched_terms"),
        TextAnalysis.bm25Round6(sum(TextAnalysis.bm25TermScore(
          lit(nDocs), col("df"), col("tf"), col("dl"), lit(avgdl), k1, b)))
          .as("bm25"))
  }

  /** Durable form: bucket-partitioned postings + terms and a validation
    * manifest carrying the corpus scalars. The terms sidecar is derived
    * from the postings JUST WRITTEN (df = posting rows per term — the
    * same aggregate, over the on-disk result), so the corpus-sized
    * tokenize+aggregate plan executes once here, not once per table.
    * Overwrite mode is pinned STATIC: under a session-wide dynamic
    * partition-overwrite setting, a rebuild over a changed corpus would
    * keep stale bucket directories and the recount would then certify
    * the mixed table. */
  def write(path: String, source: String = ""): Unit = {
    // rebuild IS the crash recovery: drop any lease a dead maintainer left
    WriterLease.clear(spark, path)
    postings.write.mode("overwrite")
      .option("partitionOverwriteMode", "static")
      .partitionBy("bucket").parquet(s"$path/postings")
    val written = spark.read.parquet(s"$path/postings")
    written.groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("bucket", InvertedIndex.bucketCol(col("term"), nBuckets))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "static")
      .partitionBy("bucket").parquet(s"$path/terms")
    val postRows = written.count()
    val termRows = spark.read.parquet(s"$path/terms").count()
    Manifest.writeBuilt(spark, path, InvertedIndex.Format,
      "source" -> source, "idCol" -> idCol, "nDocs" -> nDocs, "nDl" -> nDl,
      "sumDl" -> sumDl, "nBuckets" -> nBuckets, "postRows" -> postRows,
      "termRows" -> termRows, "tombRows" -> 0)
  }
}

object InvertedIndex {
  private val buildsRun = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] def buildCount: Int = buildsRun.get

  private val Format = Manifest.Format("1", "inverted index",
    Seq("postRows" -> "postings", "termRows" -> "terms"), tombstones = true)

  /** Largest pending-tombstone count [[excise]] still snapshots by
    * collecting to a driver-side local relation; above it the snapshot
    * is a localCheckpoint (same listing-pinning guarantee, no driver
    * heap). 1M id rows ≈ tens of MB — comfortably driver-sized. */
  private[operators] val SnapshotCollectBound: Long = 1000000L

  /** The engine-side bucket key; [[bucketOf]] is its driver-side twin. */
  private def bucketCol(term: Column, nBuckets: Int): Column =
    pmod(xxhash64(term), lit(nBuckets.toLong)).cast("int")

  /** Driver-side bucket of a term — evaluates the SAME Catalyst xxhash64
    * the build used, so the serve-time literals always land on the
    * partitions the writer created. */
  private[graft] def bucketOf(term: String, nBuckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    // seed 42 = the default the SQL-level xxhash64() builds with
    val h = XxHash64(Seq(Literal(
      org.apache.spark.unsafe.types.UTF8String.fromString(term),
      org.apache.spark.sql.types.StringType)), 42L).eval(null).asInstanceOf[Long]
    (((h % nBuckets) + nBuckets) % nBuckets).toInt
  }

  /** BUILD: one tokenize pass aggregated into postings + term
    * frequencies, plus the bounded corpus-scalars action (the BigramLm
    * vocabulary-count analogue): nDocs counts EVERY row (the idf N of
    * the fused path's count(lit(1))), nDl/sumDl only rows with a token
    * list (the avg("dl") null semantics). The tables stay lazy. */
  def build(df: DataFrame, idCol: String, textCol: String,
      nBuckets: Int = 64): InvertedIndex = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    buildsRun.incrementAndGet()
    val spark = df.sparkSession
    val t = TextAnalysis.tokens(col(textCol))
    val dl = df.select(col(idCol), size(t).cast("long").as("dl"))
    val Array(nDocs, nDl, sumDl) = dl
      .agg(count(lit(1)).cast("long"), count(col("dl")).cast("long"),
        sum("dl").cast("long"))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val postings = df.select(col(idCol), explode(t).as("term"))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
      .join(dl, idCol)
      .withColumn("bucket", bucketCol(col("term"), nBuckets))
    val terms = postings.groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("bucket", bucketCol(col("term"), nBuckets))
    new InvertedIndex(spark, postings, terms, idCol, nDocs, nDl, sumDl,
      nBuckets)
  }

  /** Merge `dfTable` (term, df) into the vocab-sized terms sidecar: write
    * it to a staging dir and swap it in by two renames — the table is
    * never read-and-overwritten in place or half-deleted, and a failed
    * rename refuses instead of leaving the stale sidecar under a freshly
    * committed manifest. */
  private def swapTerms(spark: SparkSession, path: String, nBuckets: Int,
      dfTable: DataFrame): Unit = {
    dfTable.withColumn("bucket", bucketCol(col("term"), nBuckets))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "static")
      .partitionBy("bucket").parquet(s"$path/terms-next")
    WriterLease.swapStaged(Manifest.fileSystem(spark, path), s"$path/terms")
  }

  /** Incrementally index a batch of NEW documents into a written index —
    * the daily-crawl lifecycle ([[ChunkIndex.appendTo]] semantics, with
    * the ledger making a crashed job's retry a no-op):
    *
    *  - posting rows for new documents are disjoint from existing ones
    *    (the caller appends new doc ids, the family's append contract),
    *    so the posting table extends by a pure parquet append;
    *  - per-term document frequencies MERGE (df' = df + delta), so the
    *    vocab-sized terms sidecar is rebuilt into a staging dir and
    *    swapped by two renames — never read-and-overwritten in place;
    *  - the corpus scalars add; the manifest (with the new-source ledger
    *    entry) commits LAST, so a crash at any earlier point leaves a
    *    table the recount checks refuse as torn instead of silently
    *    double-counting.
    *
    * Writer contract (shared with the whole index family): ONE appender
    * at a time per path, and no live readers during the append — the
    * sidecar swap changes the file set under any open handle (reopen
    * after the append; the manifest is the publication point). Returns
    * false (no-op) when `newSource` is already in the ledger. */
  def appendTo(spark: SparkSession, path: String, newDocs: DataFrame,
      textCol: String, newSource: String): Boolean =
    Manifest.applyBatch(spark, path, Format, "appending", newSource) { prior =>
      val idCol = prior("idCol")
      val nBuckets = prior.long("nBuckets").toInt
      // an appended id matching a pending tombstone would be served DEAD
      // (the excision anti-join cannot tell a re-ingest from the excised
      // original until compaction clears the list) — refuse loudly; the
      // operator compacts first, then re-ingests
      Manifest.refuseTombstoned(spark, path, prior, newDocs.select(col(idCol)),
        idCol)
      // same tokenization + null semantics as build, so an appended index
      // can never drift from a fresh build over the union corpus
      val t = TextAnalysis.tokens(col(textCol))
      val dl = newDocs.select(col(idCol), size(t).cast("long").as("dl"))
      val Array(dDocs, dNl, dSumDl) = dl
        .agg(count(lit(1)).cast("long"), count(col("dl")).cast("long"),
          sum("dl").cast("long"))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      // the delta is batch-sized; persist it so the postings append and the
      // df merge don't each re-run the tokenize+aggregate plan
      val deltaPostings = newDocs.select(col(idCol), explode(t).as("term"))
        .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
        .join(dl, idCol)
        .withColumn("bucket", bucketCol(col("term"), nBuckets))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        deltaPostings.write.mode("append").partitionBy("bucket")
          .parquet(s"$path/postings")
        val deltaDf = deltaPostings.groupBy("term").agg(count(lit(1)).as("df"))
        swapTerms(spark, path, nBuckets,
          spark.read.parquet(s"$path/terms").select("term", "df")
            .unionByName(deltaDf)
            .groupBy("term").agg(sum("df").cast("long").as("df")))
      } finally deltaPostings.unpersist()
      // pending excisions (tombRows) survive an append verbatim — dropping
      // the field would resurface every tombstoned document on the next load
      Manifest.write(spark, path, Format, prior.applying(newSource,
        "nDocs" -> (prior.long("nDocs") + dDocs),
        "nDl" -> (prior.long("nDl") + dNl),
        "sumDl" -> (prior.long("sumDl") + dSumDl),
        "postRows" -> spark.read.parquet(s"$path/postings").count(),
        "termRows" -> spark.read.parquet(s"$path/terms").count()))
    }

  /** EXCISE: remove documents from a written index — the takedown /
    * opt-out / decontamination lifecycle, completing the maintenance
    * story (append → compact → DELETE). Tombstone-then-compact, never a
    * corpus-sized rewrite here:
    *
    *  - the excised ids land in a tombstone list the serve path
    *    anti-joins after bucket pruning (metadata-sized write);
    *  - the vocab-sized df sidecar is corrected IMMEDIATELY by
    *    subtracting the excised BATCH's per-term document counts — the
    *    same batch-sized tokenize [[appendTo]] pays, inverted — staged
    *    and swapped by two renames, terms reaching df 0 dropped;
    *  - the corpus scalars (the BM25 N and avgdl inputs) subtract the
    *    batch's stats under build's exact null semantics;
    *
    * so every serve between the excise and the next [[compact]] already
    * scores EXACTLY as a fresh build over the surviving corpus — stale
    * df/N/avgdl is the silent-corruption mode this design exists to
    * prevent. The postings table is untouched until [[compact]]
    * physically drops the tombstoned rows.
    *
    * `excisedDocs` must be the corpus rows being removed (id + the same
    * text column the index was built over) — the usual shape, since a
    * takedown list is resolved against the corpus to delete the rows
    * there too; the batch-derived df/scalar deltas are exact because
    * tokenization is deterministic. IDEMPOTENT via the applied-sources
    * ledger (a replayed excise tag no-ops, returns false), and SAFE
    * under OVERLAPPING batches: ids already tombstoned by an earlier
    * excise are anti-joined out before the deltas, so a second takedown
    * notice naming the same document subtracts nothing twice; a torn state
    * from a crash mid-excise is detected by recount and REFUSED
    * (recovery = rebuild over the surviving corpus). Writer contract as
    * for append: one maintainer at a time, no live readers across the
    * sidecar swap. */
  def excise(spark: SparkSession, path: String, excisedDocs: DataFrame,
      textCol: String, newSource: String): Boolean =
      Manifest.applyBatch(spark, path, Format, "excising", newSource) { prior =>
    val priorTomb = prior.tombRows
    val idCol = prior("idCol")
    val nBuckets = prior.long("nBuckets").toInt
    // OVERLAP GUARD: a second takedown batch under a NEW tag may overlap
    // an earlier one (two notices naming the same document) — ids already
    // tombstoned must NOT contribute to the df/scalar deltas again, or
    // nDocs/avgdl and per-term df double-subtract and BM25 silently
    // corrupts for every survivor until rebuild (and the df>0 filter can
    // drop terms surviving docs still contain). Anti-join the pending
    // tombstone list (metadata-sized) out of the batch — and dedupe
    // within the batch for the same reason — BEFORE computing deltas;
    // the ledger entry still commits so the tag replays as a no-op. Ids
    // never in the index at all remain the caller's contract
    // (`excisedDocs` is corpus rows being removed, and corpus ids are
    // the index's ids) — verifying membership would cost a corpus-sized
    // postings scan per takedown.
    val deduped = excisedDocs.dropDuplicates(idCol)
    // MATERIALIZED snapshot of the pending tombstones, not a lazy scan:
    // every action over `batch` (the dl aggregate, the tombstone append,
    // the df deltas) runs AFTER the append below, and a lazy plan's
    // captured file listing is only stable while nothing refreshes it
    // (spark.sql.metadataCacheTTLSeconds, a REFRESH TABLE, a future
    // listing-cache change). A refreshed listing would make this
    // anti-join exclude the batch's OWN just-appended ids — deltaDf
    // goes empty and a manifest with un-decremented df commits
    // silently. The list is takedown-sized (priorTomb id rows since the
    // last compact), so a local-relation collect is USUALLY bounded —
    // but "usually" is not a discipline: a bulk takedown followed by a
    // second excise before compaction makes priorTomb arbitrarily
    // large, so past SnapshotCollectBound the snapshot pins itself as a
    // localCheckpoint instead (eager — the blocks are materialized
    // before the append, so a refreshed listing cannot move the plan;
    // cost is one cluster-side write of the id list, no driver heap).
    val batch =
      if (priorTomb == 0L) deduped
      else {
        val snap = spark.read.parquet(s"$path/tombstones").select(idCol)
        val pending =
          if (priorTomb <= SnapshotCollectBound)
            spark.createDataFrame(
              java.util.Arrays.asList(snap.collect(): _*), snap.schema)
          else snap.localCheckpoint(true)
        deduped.join(pending, Seq(idCol), "left_anti")
      }
    // batch deltas under build's exact semantics: dDocs counts EVERY
    // excised row (the idf N), dNl/dSumDl only tokenized rows (avgdl)
    val t = TextAnalysis.tokens(col(textCol))
    val dl = batch.select(col(idCol), size(t).cast("long").as("dl"))
    val Array(dDocs, dNl, dSumDl) = dl
      .agg(count(lit(1)).cast("long"), count(col("dl")).cast("long"),
        sum("dl").cast("long"))
      .head().toSeq.map(x => Option(x).fold(0L)(_.asInstanceOf[Long])).toArray
    // tombstones FIRST: a crash after this append is caught by the
    // recount (tombRows off the committed manifest) and refused as torn
    Manifest.appendTombstones(path, batch.select(col(idCol)))
    // df correction is batch-sized (the excised docs' distinct terms),
    // merged into the vocab-sized sidecar and swapped like appendTo's
    val deltaDf = batch.select(col(idCol), explode(t).as("term"))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
      .groupBy("term").agg(count(lit(1)).as("delta"))
    swapTerms(spark, path, nBuckets,
      spark.read.parquet(s"$path/terms").select("term", "df")
        .join(deltaDf, Seq("term"), "left")
        .select(col("term"),
          (col("df") - coalesce(col("delta"), lit(0L))).cast("long").as("df"))
        .filter(col("df") > 0))
    // postRows is untouched until compact drops the tombstoned rows
    Manifest.write(spark, path, Format, prior.applying(newSource,
      "nDocs" -> (prior.long("nDocs") - dDocs),
      "nDl" -> (prior.long("nDl") - dNl),
      "sumDl" -> (prior.long("sumDl") - dSumDl),
      "termRows" -> spark.read.parquet(s"$path/terms").count(),
      "tombRows" -> Manifest.countTombstones(spark, path)))
  }

  /** OPTIMIZE: rewrite the fragmented postings table of a written index
    * into one file per bucket — the [[ZOrderLayout.compact]] step for
    * this family — AND physically drop any posting rows tombstoned by
    * [[excise]] (the rewrite is happening anyway; folding the deletes in
    * means excision never pays a corpus-sized pass of its own). Every
    * [[appendTo]] batch appends one parquet file per touched bucket, so
    * after many daily batches a query bucket's scan opens one small file
    * per append; compaction repartitions the SURVIVING postings by
    * bucket into a STAGED directory (exactly one task — one file — per
    * bucket) and swaps it in by rename.
    *
    * Only the postings fragment: [[appendTo]]/[[excise]] rebuild the
    * terms sidecar wholesale each merge, so it is always one write's
    * worth of files.
    *
    * Crash safety ([[Manifest.compact]]): with NO pending tombstones the
    * committed manifest needs no change — row counts, scalars, and ledger
    * are all layout-invariant. With pending tombstones postRows/tombRows
    * change and commit LAST, so a crash after the swap leaves counts off
    * the manifest, refused as torn everywhere. The staged table is
    * RECOUNTED against its expected row count before the swap. Writer
    * contract as for append: one maintainer at a time, no live readers
    * across the swap. */
  def compact(spark: SparkSession, path: String): Unit =
    Manifest.compact(spark, path, Format, "postings", "postRows", _("idCol")) {
      (survivors, staging) =>
        // one shuffle task per bucket value -> exactly one file per bucket
        survivors
          .repartition(col("bucket"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "static")
          .partitionBy("bucket").parquet(staging)
    }

  /** Reopen a written index ONLY if its manifest proves it complete,
    * current, and built from the caller's `source` — metadata-sized
    * validation, zero build jobs on a hit. */
  def loadIfValid(spark: SparkSession, path: String,
      source: String): Option[InvertedIndex] =
    Manifest.reopen(spark, path, Format, source) { m =>
      val idx = open(spark, path, m)
      Some(idx).filter(_ => m.counts("postRows", idx.postings) &&
        m.counts("termRows", idx.terms))
    }

  /** Reopen a written index: lazy partitioned scans + manifest scalars
    * (+ the pending-tombstone list when excisions await compaction). */
  def load(spark: SparkSession, path: String): InvertedIndex =
    open(spark, path, Manifest.read(spark, path))

  private def open(spark: SparkSession, path: String, m: Manifest): InvertedIndex =
    new InvertedIndex(spark,
      spark.read.parquet(s"$path/postings"),
      spark.read.parquet(s"$path/terms"),
      m("idCol"), m.long("nDocs"), m.long("nDl"), m.long("sumDl"),
      m.long("nBuckets").toInt, Manifest.pendingTombstones(spark, path, m))
}
