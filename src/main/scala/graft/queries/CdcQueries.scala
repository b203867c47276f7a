package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{CdcChunking, Multimodal}

/** Content-defined chunking queries: the Gear-CDC chunk table and the
  * chunk-hash dedup over it. Stateless cut rule (maskBits = 6, expected
  * 64-byte chunks) so the oracle can reproduce every cut with a windowed
  * sum — the rolling hash at position i provably depends on the last 6
  * bytes only (see [[graft.functions.GearChunkEnds]]).
  */
object CdcQueries {

  type Q = (SparkSession, String) => DataFrame

  private def media(spark: SparkSession, dir: String): DataFrame =
    Multimodal.asMediaTable(Tables.load(spark, dir, "documents"))

  private def chunks(spark: SparkSession, dir: String): DataFrame =
    CdcChunking.chunkTable(media(spark, dir), maskBits = 6)

  /** Source tag for the durable chunk index: a digest of the documents
    * parquet's file statuses — any regeneration invalidates the index. */
  private def chunkSourceTag(spark: SparkSession, dir: String): String =
    QueryArtifacts.sourceDigest(spark, dir, "documents")

  /** One durable chunk index per (session, dir) — written once, validated
    * reopens after that (see operators.ChunkIndex); [[RagQueries]]' fresh
    * reopen fence shares it. The capstone probes each chunk index with a
    * bounded chunk lookup. */
  private[queries] val chunkPersisted = QueryArtifacts.durable("chunk_index",
      QueryArtifacts.at("cdc-chunk-index", chunkSourceTag),
      graft.operators.ChunkIndex.loadIfValid(_, _, _)) { (spark, dir, path, tag) =>
    graft.operators.ChunkIndex.build(media(spark, dir), maskBits = 6).write(path, tag)
    graft.operators.ChunkIndex.load(spark, path)
  }(chunkProbe)

  private def chunkProbe(spark: SparkSession, dir: String,
      idx: graft.operators.ChunkIndex): Long = idx.chunks.limit(5).count()

  /** Appended-and-COMPACTED durable chunk index (r17) — the incremental
    * lifecycle driver-gated like [[graft.operators.IvfIndex.appendTo]]'s
    * (`ann_ivf_appended`): built over the odd doc_ids, the even half
    * appended as a daily batch under the ledger (replayed no-op pinned),
    * then compacted to one file. Build-once via the manifest+ledger: a
    * manifest whose source is the APPEND tag proves the chain completed
    * and reopens with zero chunking jobs. */
  private val chunkAppendedCompacted = QueryArtifacts.durable("chunk_index_appended",
      QueryArtifacts.at("cdc-chunk-index-appended", chunkSourceTag, "#append-batch"),
      graft.operators.ChunkIndex.loadIfValid(_, _, _)) { (spark, dir, path, appendTag) =>
    val m = media(spark, dir)
    graft.operators.ChunkIndex
      .build(m.filter(col("doc_id") % 2 === 1), maskBits = 6)
      .write(path, chunkSourceTag(spark, dir) + "#append-base")
    graft.operators.ChunkIndex.appendTo(spark, path,
      m.filter(col("doc_id") % 2 === 0), appendTag)
    val replayed = graft.operators.ChunkIndex.appendTo(spark, path,
      m.filter(col("doc_id") % 2 === 0), appendTag)
    require(!replayed,
      "replaying an already-applied append batch must be a ledger no-op")
    graft.operators.ChunkIndex.compact(spark, path)
    graft.operators.ChunkIndex.load(spark, path)
  }(chunkProbe)

  /** Excision-PLANTED durable chunk index (r17) — the takedown story for
    * the ingest gate's artifact: built over the full corpus, the
    * doc_id%3==0 docs' chunk rows tombstoned (NOT compacted — the served
    * artifact keeps pending tombstones, gating the anti-join view and
    * the tombRows validation; the physical drop is pinned in
    * ChunkIndexPersistSpec). A removed document must vanish from overlap
    * checks too, or it keeps rejecting its own re-crawls forever. */
  private[queries] val chunkExcised = QueryArtifacts.durable("chunk_index_excised",
      QueryArtifacts.at("cdc-chunk-index-excised", chunkSourceTag, "#excise-batch"),
      graft.operators.ChunkIndex.loadIfValid(_, _, _)) { (spark, dir, path, exciseTag) =>
    val takedown = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 3 === 0).select("doc_id")
    // the pre-takedown state IS the persisted full-corpus chunk
    // index (same maskBits) — clone its completed artifact instead
    // of re-running the Gear chunking pass (r18, ensure-phase dedup)
    QueryArtifacts.cloneArtifact(chunkPersisted.builtPath(spark, dir), path)
    graft.operators.ChunkIndex.excise(spark, path, takedown, exciseTag)
    val replayed = graft.operators.ChunkIndex.excise(spark, path,
      takedown, exciseTag)
    require(!replayed,
      "replaying an already-applied excise batch must be a ledger no-op")
    graft.operators.ChunkIndex.load(spark, path)
  }(chunkProbe)

  val queries: ListMap[String, Q] = ListMap(
    // Per-doc CDC chunk table: offsets + md5 per chunk. Cut positions are
    // the codegen'd Gear scan; the oracle recomputes each cut as a
    // windowed sum over the last 6 bytes.
    "cdc_chunks" -> ((spark, dir) =>
      chunks(spark, dir).orderBy("doc_id", "chunk_no")),
    // Chunk-hash dedup: every substantial (>= 16 byte) chunk content shared
    // by more than one occurrence — copied passages and boilerplate surface
    // here even when no two whole documents are byte-equal. Plain
    // hash-shuffle on chunk_md5; nothing all-pairs.
    "cdc_chunk_dedup" -> ((spark, dir) =>
      CdcChunking.dupChunkGroups(chunks(spark, dir))
        .filter(col("chunk_len") >= 16)
        .orderBy(desc("n_occurrences"), col("chunk_md5"))),
    // Doc-pair near-dup by shared chunk content (>= 2 distinct substantial
    // chunks) — the CDC family's winnow_dup_pairs analogue; candidates via
    // a chunk_md5 equi-join, never all-pairs, all-integer output.
    "dedup_chunk_overlap" -> ((spark, dir) =>
      CdcChunking.chunkOverlapPairs(chunks(spark, dir))
        .orderBy("doc_id_1", "doc_id_2")),
    // Ingest admission by corpus chunk overlap (batch form of the
    // streaming gate): the %5==0 slice arrives against the %5!=0 corpus;
    // a doc sharing >= 2 distinct substantial chunk hashes with the
    // corpus is a re-crawl/revision and is dropped. Same TRAIN/SERVE
    // slicing convention as lm_bigram_score_heldout.
    "dedup_ingest_chunk_overlap" -> ((spark, dir) => {
      val all = chunks(spark, dir)
      CdcChunking.corpusOverlapReport(
          all.filter(col("doc_id") % 5 === 0),
          all.filter(col("doc_id") % 5 =!= 0))
        .orderBy("doc_id")
    }),
    // Durable chunk-index PARITY gate (the ann_ivf_persisted pattern):
    // the manifest-reopened file table must equal the in-session chunk
    // table row for row — the table a second session's ingest gate
    // actually serves, on the driver gate clock.
    "cdc_chunks_persisted" -> ((spark, dir) => {
      val cols = Seq("doc_id", "chunk_no", "chunk_start", "chunk_len", "chunk_md5")
      val mem = chunks(spark, dir).withColumn("in_mem", lit(1))
      val file = chunkPersisted(spark, dir).chunks.withColumn("in_file", lit(1))
      mem.join(file, cols, "full_outer")
        .agg(
          coalesce(sum(when(col("in_file").isNull, 1L)), lit(0L))
            .as("missing_from_file"),
          coalesce(sum(when(col("in_mem").isNull, 1L)), lit(0L))
            .as("extra_in_file"))
        .withColumn("parity",
          col("missing_from_file") === 0 && col("extra_in_file") === 0)
    }),
    // Incremental-APPEND parity gate (r17, the ann_ivf_appended pattern
    // for the chunk table): the build-half / append-half / compact chain
    // under the ledger (replayed no-op pinned in chunkAppendedCompacted)
    // must equal the in-session chunk table over the WHOLE corpus row
    // for row — chunking is per-document and deterministic, so
    // append-then-serve and chunk-everything are definitionally the same
    // rows; a lost appended doc, a double-applied batch, or a compaction
    // that dropped rows turns exactly this row red.
    "cdc_chunks_appended" -> ((spark, dir) => {
      val cols = Seq("doc_id", "chunk_no", "chunk_start", "chunk_len", "chunk_md5")
      val mem = chunks(spark, dir).withColumn("in_mem", lit(1))
      val file = chunkAppendedCompacted(spark, dir).chunks
        .withColumn("in_file", lit(1))
      mem.join(file, cols, "full_outer")
        .agg(
          coalesce(sum(when(col("in_file").isNull, 1L)), lit(0L))
            .as("missing_from_file"),
          coalesce(sum(when(col("in_mem").isNull, 1L)), lit(0L))
            .as("extra_in_file"))
        .withColumn("parity",
          col("missing_from_file") === 0 && col("extra_in_file") === 0)
    }),
    // EXCISION parity gate (r17, bm25_excised's chunk twin): the durable
    // chunk table with the doc_id%3==0 docs tombstoned (not compacted —
    // the anti-join view is the gated path) must equal the in-session
    // chunk table over ONLY the survivors row for row — an excised doc's
    // chunks resurfacing in the ingest gate turns this row red.
    "cdc_chunks_excised" -> ((spark, dir) => {
      val cols = Seq("doc_id", "chunk_no", "chunk_start", "chunk_len", "chunk_md5")
      val mem = chunks(spark, dir).filter(col("doc_id") % 3 =!= 0)
        .withColumn("in_mem", lit(1))
      val file = chunkExcised(spark, dir).chunks.withColumn("in_file", lit(1))
      mem.join(file, cols, "full_outer")
        .agg(
          coalesce(sum(when(col("in_file").isNull, 1L)), lit(0L))
            .as("missing_from_file"),
          coalesce(sum(when(col("in_mem").isNull, 1L)), lit(0L))
            .as("extra_in_file"))
        .withColumn("parity",
          col("missing_from_file") === 0 && col("extra_in_file") === 0)
    }))

  /** Shared chunk-table CTE: positions -> gear values -> windowed-sum hash
    * -> cuts -> bounds -> chunk rows. `(b*2654435761) % 64 == (b*49) % 64`
    * and contributions older than 6 bytes vanish mod 2^6, so the windowed
    * sum reproduces the engine's sequential rolling hash exactly. Corpus
    * text is ASCII (pinned by the fixture), so character positions equal
    * byte positions and `ord` equals the byte value. */
  private[queries] val chunksCte: String =
    """WITH m AS (SELECT doc_id, text, length(text) AS n FROM documents),
      |pb AS (SELECT doc_id, n, unnest(range(1, n + 1)) AS i, text FROM m),
      |pg AS (SELECT doc_id, n, i,
      |    (ord(substring(text, CAST(i AS INTEGER), 1)) * 49) % 64 AS g FROM pb),
      |h AS (SELECT p.doc_id, p.i, p.n,
      |    CAST(sum(q.g * (1 << CAST(p.i - q.i AS INTEGER))) % 64 AS BIGINT) AS hv
      |  FROM pg p JOIN pg q ON q.doc_id = p.doc_id AND q.i BETWEEN p.i - 5 AND p.i
      |  GROUP BY p.doc_id, p.i, p.n),
      |cuts AS (SELECT doc_id, i FROM h WHERE hv = 0 AND i < n),
      |bounds AS (SELECT doc_id, e,
      |    lag(e, 1, 0) OVER (PARTITION BY doc_id ORDER BY e) AS prev
      |  FROM (SELECT doc_id, i AS e FROM cuts UNION ALL SELECT doc_id, n AS e FROM m)),
      |chunks AS (SELECT b.doc_id,
      |    CAST(row_number() OVER (PARTITION BY b.doc_id ORDER BY b.e) - 1 AS BIGINT) AS chunk_no,
      |    CAST(b.prev + 1 AS INTEGER) AS chunk_start,
      |    CAST(b.e - b.prev AS INTEGER) AS chunk_len,
      |    md5(substring(m.text, CAST(b.prev + 1 AS INTEGER), CAST(b.e - b.prev AS INTEGER))) AS chunk_md5
      |  FROM bounds b JOIN m USING (doc_id))""".stripMargin

  val oracleSql: ListMap[String, String] = ListMap(
    "cdc_chunks" -> (chunksCte +
      "\nSELECT doc_id, chunk_no, chunk_start, chunk_len, chunk_md5 FROM chunks" +
      "\nORDER BY doc_id, chunk_no"),
    "cdc_chunk_dedup" -> (chunksCte +
      """,
        |g AS (SELECT chunk_md5, count(*) AS n_occurrences,
        |    count(DISTINCT doc_id) AS n_docs, min(chunk_len) AS chunk_len
        |  FROM chunks GROUP BY chunk_md5
        |  HAVING count(*) > 1 AND min(chunk_len) >= 16)
        |SELECT chunk_md5, n_occurrences, n_docs, CAST(chunk_len AS INTEGER) AS chunk_len
        |FROM g ORDER BY n_occurrences DESC, chunk_md5""".stripMargin),
    "dedup_chunk_overlap" -> (chunksCte +
      """,
        |sc AS (SELECT DISTINCT doc_id, chunk_md5 FROM chunks WHERE chunk_len >= 16),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sc GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
        |    count(*) AS n_shared_chunks
        |  FROM sc a JOIN sc b ON a.chunk_md5 = b.chunk_md5 AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT doc_id_1, doc_id_2, n_shared_chunks,
        |  c1.n AS n_chunks_1, c2.n AS n_chunks_2
        |FROM p JOIN cnt c1 ON c1.doc_id = doc_id_1
        |JOIN cnt c2 ON c2.doc_id = doc_id_2
        |ORDER BY doc_id_1, doc_id_2""".stripMargin),
    "dedup_ingest_chunk_overlap" -> (chunksCte +
      """,
        |corpus_set AS (SELECT DISTINCT chunk_md5 FROM chunks
        |  WHERE doc_id % 5 != 0 AND chunk_len >= 16),
        |arr AS (SELECT DISTINCT doc_id, chunk_md5 FROM chunks
        |  WHERE doc_id % 5 = 0 AND chunk_len >= 16),
        |mt AS (SELECT a.doc_id, count(*) AS n_shared FROM arr a
        |  WHERE a.chunk_md5 IN (SELECT chunk_md5 FROM corpus_set)
        |  GROUP BY a.doc_id)
        |SELECT d.doc_id, COALESCE(mt.n_shared, 0) AS n_shared,
        |  COALESCE(mt.n_shared, 0) < 2 AS keep
        |FROM (SELECT DISTINCT doc_id FROM chunks WHERE doc_id % 5 = 0) d
        |LEFT JOIN mt ON mt.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    "cdc_chunks_persisted" ->
      """SELECT CAST(0 AS BIGINT) AS missing_from_file,
        |  CAST(0 AS BIGINT) AS extra_in_file, TRUE AS parity""".stripMargin,
    // append-then-serve must equal chunk-everything — the pinned parity
    "cdc_chunks_appended" ->
      """SELECT CAST(0 AS BIGINT) AS missing_from_file,
        |  CAST(0 AS BIGINT) AS extra_in_file, TRUE AS parity""".stripMargin,
    // excise-then-serve must equal chunk-only-survivors — pinned parity
    "cdc_chunks_excised" ->
      """SELECT CAST(0 AS BIGINT) AS missing_from_file,
        |  CAST(0 AS BIGINT) AS extra_in_file, TRUE AS parity""".stripMargin)
}
