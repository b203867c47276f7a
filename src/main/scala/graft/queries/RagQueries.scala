package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.DuckDbRound.round
import graft.queries.QueryArtifacts.SessionDir

/** The end-to-end RAG SERVING capstone (r18) — the serving twin of
  * `corpus_materialize_full`: one request driven through every retrieval
  * stage a production RAG tier runs, with EVERY stage reading a
  * manifest-reopened durable artifact and ZERO build/train jobs under
  * the operator-counter fence:
  *
  *   1. lexical candidates — BM25 top-20 from the FRESH-reopened
  *      inverted index (term-bucket-pruned serve);
  *   2. dense candidates — exact cosine top-20 for doc 0's embedding
  *      over the FRESH-reopened IVF artifact's cell table, through the
  *      bounded-heap [[graft.plans.CosineTopK]] plan;
  *   3. hybrid fusion — [[graft.operators.Retrieval.rrfFuse]] (k = 60)
  *      to a top-10 shortlist;
  *   4. MMR diversity re-rank — [[graft.operators.Retrieval.mmrRerank]]
  *      (0.7 relevance / 0.3 redundancy, rel = round-6 dense cosine to
  *      the query) picks the final 5;
  *   5. passage provenance — each pick's CDC chunk count from the
  *      FRESH-reopened chunk index (the passage store a chunk-level
  *      server would fetch from; semi-join prunes BEFORE the count);
  *   6. snippets — [[graft.operators.Retrieval.bestWindow]] highlighting
  *      over the broadcast-joined-back picks.
  *
  * Deterministic end to end (round-6 scores, id tie-breaks), so the
  * DuckDB oracle replays the WHOLE chain — BM25 scoring, cosine ranking,
  * RRF, all five unrolled MMR picks, the Gear chunk recomputation, and
  * the window scan — and the row is fully hash-checked at every SF. The
  * `zero_build` column carries the counter fence: the serve path ran
  * zero index builds (ensure-phase builds happen BEFORE the fence, the
  * serve_everything_cold discipline).
  *
  * `rag_serve_excised` (r19) closes the takedown loop at the SERVING
  * tier: excision was proven at each index (`bm25_excised`,
  * `ann_ivf_excised`, `cdc_chunks_excised`), but nothing proved the
  * COMPOSED pipeline cannot surface an excised document. The row
  * tombstones the full pipeline's own TOP pick — a document provably
  * served before the takedown — in dedicated clones of all three
  * artifacts (pre-compact: the anti-join serve path is what's gated),
  * re-runs the six stages over them, and hashes against the oracle's
  * fresh survivor-only derivation: equality proves the tombstoned
  * serving tier is indistinguishable from one rebuilt without the
  * document — the GDPR/opt-out contract a 100 TB serving deployment
  * actually signs.
  */
object RagQueries {

  type Q = (SparkSession, String) => DataFrame

  import graft.functions.functions.{vec_dot, vec_l2norm}

  private val Terms = Seq("hash", "join", "vector")

  /** A FRESH manifest reopen past every session cache of an artifact the
    * ensure phase has built. */
  private def reopened[T](d: QueryArtifacts.Durable[T], spark: SparkSession,
      dir: String): T =
    d.reopen(spark, dir).getOrElse(throw new IllegalStateException(
      s"${d.name} manifest at ${d.location(spark, dir)._1} failed validation after ensure"))

  /** The six serving stages over ALREADY-REOPENED artifacts — shared by
    * the base pipeline and its excised twin, so the takedown row gates
    * the exact code the live pipeline runs, not a reimplementation.
    * `corpusVecs` is the IVF artifact's (tombstone-excluded) cell view;
    * `chunks` the chunk index's served view; `fence` is evaluated right
    * after the MMR collect (the last in-fence action) and lands in the
    * `zero_build` column. */
  private def ragStages(spark: SparkSession, dir: String,
      inv: graft.operators.InvertedIndex, corpusVecs: DataFrame,
      chunks: DataFrame, fence: () => Boolean): DataFrame = {
    // 1. lexical leg: term-bucket-pruned BM25 serve, source doc excluded
    val lex = graft.operators.Retrieval.rankBy(
      inv.serve(Terms).filter(col("doc_id") =!= 0)
        .orderBy(desc("bm25"), col("doc_id")).limit(20),
      "doc_id", "bm25", "lex_rank")
    // 2. dense leg: the request embedding (query-time input) against
    // the reopened IVF artifact's cell table — the exact bounded-heap
    // plan, so ranking is round-6 + id-tie-break deterministic
    val q0 = Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val dense = graft.plans.CosineTopK
      .topK(spark, corpusVecs, Seq((0L, q0)), 20, "vec_id", "embedding")
      .select(col("c_id").as("doc_id"), col("rank").as("dense_rank"))
    // 3. hybrid fusion to the top-10 shortlist (bounded join + window)
    val fused = graft.operators.Retrieval.rrfFuse(lex, dense, "doc_id")
    // 4. MMR re-rank: rel = round-6 dense cosine to the query, vectors
    // from the reopened artifact; the bounded collect happens here,
    // INSIDE the fence window
    val q0n = graft.functions.VectorKernels.l2normFloats(q0)
    val short = fused.select("doc_id")
      .join(corpusVecs.select(col("vec_id").as("doc_id"), col("embedding")),
        "doc_id")
      .withColumn("rel", round(
        vec_dot(typedlit(q0.toSeq), col("embedding"))
          / (lit(q0n) * vec_l2norm(col("embedding"))), 6))
    val picks = graft.operators.Retrieval.mmrRerank(short, "doc_id",
      "rel", "embedding", k = 5, lambdaRel = 0.7, lambdaDiv = 0.3)
    val zeroBuild = fence()
    // 5. passage provenance: the picks' chunk counts from the reopened
    // chunk index — broadcast the 5 ids, prune, THEN count
    val nChunks = chunks
      .join(broadcast(picks.select("doc_id")), Seq("doc_id"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
    // 6. snippets: bounded join-back, stateless window scan on 5 rows
    val hits = Tables.load(spark, dir, "documents")
      .join(broadcast(picks.select("pick_rank", "doc_id")), "doc_id")
    val snip = graft.operators.Retrieval.bestWindow(hits, "doc_id",
      "text", Terms, windowTokens = 8, carryCols = Seq("pick_rank"))
    picks
      .join(snip.select("doc_id", "start_idx", "n_hits", "snippet"), "doc_id")
      .join(nChunks, "doc_id")
      .withColumn("zero_build", lit(zeroBuild))
      .select("pick_rank", "doc_id", "rel", "mmr6", "n_chunks",
        "start_idx", "n_hits", "snippet", "zero_build")
      .orderBy("pick_rank")
  }

  /** The served pipeline result, computed ONCE per (session, dir) — the
    * replay-row discipline: the fence window (fresh reopens + the MMR
    * collect) is a per-session event; both bench passes read the result. */
  private val ragCache = QueryArtifacts.cache[SessionDir, DataFrame]()

  private def ragServed(spark: SparkSession, dir: String): DataFrame =
    ragCache((spark, dir)) {
      // ENSURE: the three durable forms exist (builds are LEGAL here —
      // this is the cross-session precondition, not the serve path)
      TextQueries.invertedIndexPersisted(spark, dir)
      SimilarityQueries.ivfPersisted(spark, dir)
      CdcQueries.chunkPersisted(spark, dir)
      // FENCE + FRESH manifest reopens past every session cache: from
      // here to the MMR collect, zero build/train jobs may run
      val before = QueryArtifacts.buildCounters()
      val inv = reopened(TextQueries.invertedIndexPersisted, spark, dir)
      val ivf = reopened(SimilarityQueries.ivfPersisted, spark, dir)
      val chunkIdx = reopened(CdcQueries.chunkPersisted, spark, dir)
      val corpusVecs = ivf.cells
        .select(col("c_id").as("vec_id"), col("cv").as("embedding"))
      ragStages(spark, dir, inv, corpusVecs, chunkIdx.chunks,
        () => QueryArtifacts.buildCounters() == before)
    }

  /** The excised-serving result, computed ONCE per (session, dir): the
    * base pipeline's top pick tombstoned out of dedicated clones of all
    * three artifacts (pre-compact — the anti-join serve path is what
    * this row gates), then the SAME six stages over the tombstoned
    * artifacts. Ledger-tagged by the excised id, so a stale clone from
    * an older corpus (different top pick) can never reopen valid. */
  private val ragExcisedCache = QueryArtifacts.cache[SessionDir, DataFrame]()

  private def ragExcisedServed(spark: SparkSession, dir: String): DataFrame =
    ragExcisedCache((spark, dir)) {
      // the excised doc: the base pipeline's TOP pick — a document this
      // serving tier PROVABLY retrieves before the takedown (rank 1 of
      // rag_serve_pipeline, which also ensures the source artifacts)
      val x = ragServed(spark, dir).filter(col("pick_rank") === 1)
        .select("doc_id").head().getLong(0)
      val (invPath, invTag) = TextQueries.invertedIndexPersisted.location(spark, dir)
      val (ivfPath, ivfTag) = SimilarityQueries.ivfPersisted.location(spark, dir)
      val (chPath, chTag) = CdcQueries.chunkPersisted.location(spark, dir)
      val invX = QueryArtifacts.path("target/rag-inv-excised", dir)
      val ivfX = QueryArtifacts.path("target/rag-ivf-excised", dir)
      val chX = QueryArtifacts.path("target/rag-chunks-excised", dir)
      def xTag(base: String) = base + s"#rag-excise-$x"
      val xDocs = Tables.load(spark, dir, "documents")
        .filter(col("doc_id") === x)
      // ENSURE: clone each live serving artifact (the production shape —
      // a takedown acts on the serving index's files) and tombstone the
      // pick; NO compact, so every serve below rides the pending-
      // tombstone anti-join. Idempotence pinned via the ledger replay.
      if (graft.operators.InvertedIndex
          .loadIfValid(spark, invX, xTag(invTag)).isEmpty) {
        QueryArtifacts.cloneArtifact(invPath, invX)
        graft.operators.InvertedIndex.excise(spark, invX, xDocs, "text",
          xTag(invTag))
        require(!graft.operators.InvertedIndex.excise(spark, invX, xDocs,
            "text", xTag(invTag)),
          "replaying an already-applied takedown must be a ledger no-op")
      }
      if (graft.operators.IvfIndex
          .loadIfValid(spark, ivfX, xTag(ivfTag)).isEmpty) {
        QueryArtifacts.cloneArtifact(ivfPath, ivfX)
        graft.operators.IvfIndex.excise(spark, ivfX,
          xDocs.select(col("doc_id").as("vec_id")), "vec_id", xTag(ivfTag))
        require(!graft.operators.IvfIndex.excise(spark, ivfX,
            xDocs.select(col("doc_id").as("vec_id")), "vec_id", xTag(ivfTag)),
          "replaying an already-applied takedown must be a ledger no-op")
      }
      if (graft.operators.ChunkIndex
          .loadIfValid(spark, chX, xTag(chTag)).isEmpty) {
        QueryArtifacts.cloneArtifact(chPath, chX)
        graft.operators.ChunkIndex.excise(spark, chX,
          xDocs.select("doc_id"), xTag(chTag))
        require(!graft.operators.ChunkIndex.excise(spark, chX,
            xDocs.select("doc_id"), xTag(chTag)),
          "replaying an already-applied takedown must be a ledger no-op")
      }
      // FENCE + FRESH reopens of the three TOMBSTONED artifacts
      val before = QueryArtifacts.buildCounters()
      val inv2 = graft.operators.InvertedIndex
        .loadIfValid(spark, invX, xTag(invTag))
        .getOrElse(throw new IllegalStateException(
          s"tombstoned inverted-index manifest at $invX failed validation"))
      require(inv2.tombstones.isDefined,
        "the excised serve must ride the PRE-COMPACT tombstone path")
      val ivf2 = graft.operators.IvfIndex
        .loadIfValid(spark, ivfX, xTag(ivfTag))
        .getOrElse(throw new IllegalStateException(
          s"tombstoned IVF manifest at $ivfX failed validation"))
      val ch2 = graft.operators.ChunkIndex
        .loadIfValid(spark, chX, xTag(chTag))
        .getOrElse(throw new IllegalStateException(
          s"tombstoned chunk-index manifest at $chX failed validation"))
      val corpusVecs = ivf2.cells
        .select(col("c_id").as("vec_id"), col("cv").as("embedding"))
      ragStages(spark, dir, inv2, corpusVecs, ch2.chunks,
          () => QueryArtifacts.buildCounters() == before)
        .withColumn("excised_doc", lit(x))
        // structurally true on the oracle side (the survivor derivation
        // cannot pick a filtered-out doc), genuinely computed here: a
        // tombstone missed by ANY stage that surfaces x flips a row
        .withColumn("excised_absent", col("doc_id") =!= x)
        .orderBy("pick_rank")
    }

  /** Release every family's session artifacts ([[QueryArtifacts.clearAll]]). */
  def clearCaches(): Unit = QueryArtifacts.clearAll()

  val queries: ListMap[String, Q] = ListMap(
    "rag_serve_pipeline" -> ((spark, dir) => ragServed(spark, dir)),
    "rag_serve_excised" -> ((spark, dir) => ragExcisedServed(spark, dir)))

  /** rag_serve_pipeline: the full chain re-derived — BM25 CTEs -> lexical
    * top-20, cosine CTE -> dense top-20, RRF fusion -> top-10, five
    * unrolled MMR argmax stages, the Gear chunk recomputation for the
    * picks' chunk counts, and the snippet window comprehension.
    * zero_build is the lifecycle literal (the serve_everything_cold
    * pattern).
    *
    * rag_serve_excised: pass A re-derives just enough of the full chain
    * to name the top pick (lex/dense legs -> RRF shortlist -> the first
    * MMR pick is the max-rel shortlist entry), then pass B re-runs the
    * ENTIRE chain over the corpus minus that document — fresh survivor
    * BM25 stats and all. Hash equality against the engine's tombstoned
    * serve IS the takedown proof. */
  val oracleSql: ListMap[String, String] = ListMap(
    "rag_serve_pipeline" -> (CdcQueries.chunksCte +
      """,
        |tok AS MATERIALIZED (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM tok),
        |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, t.term, count(*) AS tf
        |  FROM tok, unnest(tok.w) AS t(term)
        |  WHERE t.term IN ('hash', 'join', 'vector')
        |  GROUP BY doc_id, t.term),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |scored AS (
        |  SELECT tf.doc_id,
        |    round(sum((n_docs - df + 0.5) / (df + 0.5)
        |      * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))), 6) AS bm25
        |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), stats
        |  WHERE tf.doc_id <> 0
        |  GROUP BY tf.doc_id, n_docs, avgdl),
        |lex AS (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
        |    AS INTEGER) AS lex_rank
        |  FROM scored),
        |e AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
        |  FROM embeddings),
        |dsc AS (
        |  SELECT c.vec_id AS doc_id,
        |    round(list_sum([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)])
        |      / (q.nrm * c.nrm), 6) AS cosine
        |  FROM e q JOIN e c ON q.vec_id = 0 AND c.vec_id <> 0),
        |dense AS (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY cosine DESC, doc_id)
        |    AS INTEGER) AS dense_rank
        |  FROM dsc),
        |fused AS (
        |  SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
        |    round((coalesce(1.0 / (60 + l.lex_rank), 0)
        |         + coalesce(1.0 / (60 + d.dense_rank), 0)) * 1e6) / 1e6 AS rrf6
        |  FROM (SELECT * FROM lex WHERE lex_rank <= 20) l
        |  FULL OUTER JOIN (SELECT * FROM dense WHERE dense_rank <= 20) d
        |    ON l.doc_id = d.doc_id),
        |shortl AS (
        |  SELECT doc_id, rrf6,
        |    CAST(row_number() OVER (ORDER BY rrf6 DESC, doc_id) AS INTEGER)
        |      AS rank
        |  FROM fused QUALIFY rank <= 10),
        |sl AS (
        |  SELECT s.doc_id, d.cosine AS rel, e.v, e.nrm
        |  FROM shortl s JOIN dsc d USING (doc_id)
        |  JOIN e ON e.vec_id = s.doc_id),
        |sim AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    round(list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)])
        |      / (a.nrm * b.nrm), 6) AS s
        |  FROM sl a JOIN sl b ON a.doc_id <> b.doc_id),
        |p1 AS (SELECT doc_id, rel, round(0.7 * rel * 1e6) / 1e6 AS mmr6
        |       FROM sl ORDER BY mmr6 DESC, doc_id LIMIT 1),
        |k1 AS (SELECT doc_id FROM p1),
        |p2 AS (SELECT d.doc_id, d.rel,
        |         round((0.7 * d.rel - 0.3 * max(s.s)) * 1e6) / 1e6 AS mmr6
        |       FROM sl d JOIN sim s ON s.a_id = d.doc_id
        |         AND s.b_id IN (SELECT doc_id FROM k1)
        |       WHERE d.doc_id NOT IN (SELECT doc_id FROM k1)
        |       GROUP BY d.doc_id, d.rel ORDER BY mmr6 DESC, d.doc_id LIMIT 1),
        |k2 AS (SELECT doc_id FROM k1 UNION ALL SELECT doc_id FROM p2),
        |p3 AS (SELECT d.doc_id, d.rel,
        |         round((0.7 * d.rel - 0.3 * max(s.s)) * 1e6) / 1e6 AS mmr6
        |       FROM sl d JOIN sim s ON s.a_id = d.doc_id
        |         AND s.b_id IN (SELECT doc_id FROM k2)
        |       WHERE d.doc_id NOT IN (SELECT doc_id FROM k2)
        |       GROUP BY d.doc_id, d.rel ORDER BY mmr6 DESC, d.doc_id LIMIT 1),
        |k3 AS (SELECT doc_id FROM k2 UNION ALL SELECT doc_id FROM p3),
        |p4 AS (SELECT d.doc_id, d.rel,
        |         round((0.7 * d.rel - 0.3 * max(s.s)) * 1e6) / 1e6 AS mmr6
        |       FROM sl d JOIN sim s ON s.a_id = d.doc_id
        |         AND s.b_id IN (SELECT doc_id FROM k3)
        |       WHERE d.doc_id NOT IN (SELECT doc_id FROM k3)
        |       GROUP BY d.doc_id, d.rel ORDER BY mmr6 DESC, d.doc_id LIMIT 1),
        |k4 AS (SELECT doc_id FROM k3 UNION ALL SELECT doc_id FROM p4),
        |p5 AS (SELECT d.doc_id, d.rel,
        |         round((0.7 * d.rel - 0.3 * max(s.s)) * 1e6) / 1e6 AS mmr6
        |       FROM sl d JOIN sim s ON s.a_id = d.doc_id
        |         AND s.b_id IN (SELECT doc_id FROM k4)
        |       WHERE d.doc_id NOT IN (SELECT doc_id FROM k4)
        |       GROUP BY d.doc_id, d.rel ORDER BY mmr6 DESC, d.doc_id LIMIT 1),
        |picks AS (
        |  SELECT CAST(1 AS INTEGER) AS pick_rank, doc_id, rel, mmr6 FROM p1
        |  UNION ALL SELECT CAST(2 AS INTEGER), doc_id, rel, mmr6 FROM p2
        |  UNION ALL SELECT CAST(3 AS INTEGER), doc_id, rel, mmr6 FROM p3
        |  UNION ALL SELECT CAST(4 AS INTEGER), doc_id, rel, mmr6 FROM p4
        |  UNION ALL SELECT CAST(5 AS INTEGER), doc_id, rel, mmr6 FROM p5),
        |cc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
        |  FROM chunks WHERE doc_id IN (SELECT doc_id FROM picks)
        |  GROUP BY doc_id),
        |win AS (
        |  SELECT picks.pick_rank, picks.doc_id, tok.w AS toks,
        |    [CAST(list_contains(tok.w[i+1:i+8], 'hash') AS INTEGER)
        |     + CAST(list_contains(tok.w[i+1:i+8], 'join') AS INTEGER)
        |     + CAST(list_contains(tok.w[i+1:i+8], 'vector') AS INTEGER)
        |     for i in range(0, greatest(len(tok.w) - 8, 0) + 1)] AS hits
        |  FROM picks JOIN tok USING (doc_id))
        |SELECT p.pick_rank, p.doc_id, p.rel, p.mmr6, cc.n_chunks,
        |  CAST(list_position(w.hits, list_max(w.hits)) - 1 AS INTEGER) AS start_idx,
        |  CAST(list_max(w.hits) AS INTEGER) AS n_hits,
        |  array_to_string(w.toks[list_position(w.hits, list_max(w.hits)):
        |    list_position(w.hits, list_max(w.hits)) + 7], ' ') AS snippet,
        |  TRUE AS zero_build
        |FROM picks p JOIN cc USING (doc_id) JOIN win w USING (doc_id)
        |ORDER BY p.pick_rank""".stripMargin),
    "rag_serve_excised" -> (CdcQueries.chunksCte +
      """,
        |tokA AS MATERIALIZED (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |dlA AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM tokA),
        |statsA AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dlA),
        |tfA AS (
        |  SELECT doc_id, t.term, count(*) AS tf
        |  FROM tokA, unnest(tokA.w) AS t(term)
        |  WHERE t.term IN ('hash', 'join', 'vector')
        |  GROUP BY doc_id, t.term),
        |dfreqA AS (SELECT term, count(*) AS df FROM tfA GROUP BY term),
        |scoredA AS (
        |  SELECT tfA.doc_id,
        |    round(sum((n_docs - df + 0.5) / (df + 0.5)
        |      * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))), 6) AS bm25
        |  FROM tfA JOIN dfreqA USING (term) JOIN dlA USING (doc_id), statsA
        |  WHERE tfA.doc_id <> 0
        |  GROUP BY tfA.doc_id, n_docs, avgdl),
        |lexA AS (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
        |    AS INTEGER) AS lex_rank
        |  FROM scoredA),
        |eA AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
        |  FROM embeddings),
        |dscA AS (
        |  SELECT c.vec_id AS doc_id,
        |    round(list_sum([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)])
        |      / (q.nrm * c.nrm), 6) AS cosine
        |  FROM eA q JOIN eA c ON q.vec_id = 0 AND c.vec_id <> 0),
        |denseA AS (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY cosine DESC, doc_id)
        |    AS INTEGER) AS dense_rank
        |  FROM dscA),
        |fusedA AS (
        |  SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
        |    round((coalesce(1.0 / (60 + l.lex_rank), 0)
        |         + coalesce(1.0 / (60 + d.dense_rank), 0)) * 1e6) / 1e6 AS rrf6
        |  FROM (SELECT * FROM lexA WHERE lex_rank <= 20) l
        |  FULL OUTER JOIN (SELECT * FROM denseA WHERE dense_rank <= 20) d
        |    ON l.doc_id = d.doc_id),
        |shortlA AS (
        |  SELECT doc_id, rrf6,
        |    CAST(row_number() OVER (ORDER BY rrf6 DESC, doc_id) AS INTEGER)
        |      AS rank
        |  FROM fusedA QUALIFY rank <= 10),
        |slA AS MATERIALIZED (
        |  SELECT s.doc_id, d.cosine AS rel
        |  FROM shortlA s JOIN dscA d USING (doc_id)),
        |xdoc AS MATERIALIZED (
        |  SELECT doc_id FROM slA
        |  ORDER BY round(0.7 * rel * 1e6) / 1e6 DESC, doc_id LIMIT 1),
        |tok AS (
        |  SELECT * FROM tokA
        |  WHERE doc_id NOT IN (SELECT doc_id FROM xdoc)),
        |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM tok),
        |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, t.term, count(*) AS tf
        |  FROM tok, unnest(tok.w) AS t(term)
        |  WHERE t.term IN ('hash', 'join', 'vector')
        |  GROUP BY doc_id, t.term),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |scored AS (
        |  SELECT tf.doc_id,
        |    round(sum((n_docs - df + 0.5) / (df + 0.5)
        |      * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))), 6) AS bm25
        |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), stats
        |  WHERE tf.doc_id <> 0
        |  GROUP BY tf.doc_id, n_docs, avgdl),
        |lex AS (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
        |    AS INTEGER) AS lex_rank
        |  FROM scored),
        |e AS (
        |  SELECT * FROM eA
        |  WHERE vec_id NOT IN (SELECT doc_id FROM xdoc)),
        |dsc AS (
        |  SELECT c.vec_id AS doc_id,
        |    round(list_sum([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)])
        |      / (q.nrm * c.nrm), 6) AS cosine
        |  FROM e q JOIN e c ON q.vec_id = 0 AND c.vec_id <> 0),
        |dense AS (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY cosine DESC, doc_id)
        |    AS INTEGER) AS dense_rank
        |  FROM dsc),
        |fused AS (
        |  SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
        |    round((coalesce(1.0 / (60 + l.lex_rank), 0)
        |         + coalesce(1.0 / (60 + d.dense_rank), 0)) * 1e6) / 1e6 AS rrf6
        |  FROM (SELECT * FROM lex WHERE lex_rank <= 20) l
        |  FULL OUTER JOIN (SELECT * FROM dense WHERE dense_rank <= 20) d
        |    ON l.doc_id = d.doc_id),
        |shortl AS (
        |  SELECT doc_id, rrf6,
        |    CAST(row_number() OVER (ORDER BY rrf6 DESC, doc_id) AS INTEGER)
        |      AS rank
        |  FROM fused QUALIFY rank <= 10),
        |sl AS (
        |  SELECT s.doc_id, d.cosine AS rel, e.v, e.nrm
        |  FROM shortl s JOIN dsc d USING (doc_id)
        |  JOIN e ON e.vec_id = s.doc_id),
        |sim AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    round(list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)])
        |      / (a.nrm * b.nrm), 6) AS s
        |  FROM sl a JOIN sl b ON a.doc_id <> b.doc_id),
        |p1 AS (SELECT doc_id, rel, round(0.7 * rel * 1e6) / 1e6 AS mmr6
        |       FROM sl ORDER BY mmr6 DESC, doc_id LIMIT 1),
        |k1 AS (SELECT doc_id FROM p1),
        |p2 AS (SELECT d.doc_id, d.rel,
        |         round((0.7 * d.rel - 0.3 * max(s.s)) * 1e6) / 1e6 AS mmr6
        |       FROM sl d JOIN sim s ON s.a_id = d.doc_id
        |         AND s.b_id IN (SELECT doc_id FROM k1)
        |       WHERE d.doc_id NOT IN (SELECT doc_id FROM k1)
        |       GROUP BY d.doc_id, d.rel ORDER BY mmr6 DESC, d.doc_id LIMIT 1),
        |k2 AS (SELECT doc_id FROM k1 UNION ALL SELECT doc_id FROM p2),
        |p3 AS (SELECT d.doc_id, d.rel,
        |         round((0.7 * d.rel - 0.3 * max(s.s)) * 1e6) / 1e6 AS mmr6
        |       FROM sl d JOIN sim s ON s.a_id = d.doc_id
        |         AND s.b_id IN (SELECT doc_id FROM k2)
        |       WHERE d.doc_id NOT IN (SELECT doc_id FROM k2)
        |       GROUP BY d.doc_id, d.rel ORDER BY mmr6 DESC, d.doc_id LIMIT 1),
        |k3 AS (SELECT doc_id FROM k2 UNION ALL SELECT doc_id FROM p3),
        |p4 AS (SELECT d.doc_id, d.rel,
        |         round((0.7 * d.rel - 0.3 * max(s.s)) * 1e6) / 1e6 AS mmr6
        |       FROM sl d JOIN sim s ON s.a_id = d.doc_id
        |         AND s.b_id IN (SELECT doc_id FROM k3)
        |       WHERE d.doc_id NOT IN (SELECT doc_id FROM k3)
        |       GROUP BY d.doc_id, d.rel ORDER BY mmr6 DESC, d.doc_id LIMIT 1),
        |k4 AS (SELECT doc_id FROM k3 UNION ALL SELECT doc_id FROM p4),
        |p5 AS (SELECT d.doc_id, d.rel,
        |         round((0.7 * d.rel - 0.3 * max(s.s)) * 1e6) / 1e6 AS mmr6
        |       FROM sl d JOIN sim s ON s.a_id = d.doc_id
        |         AND s.b_id IN (SELECT doc_id FROM k4)
        |       WHERE d.doc_id NOT IN (SELECT doc_id FROM k4)
        |       GROUP BY d.doc_id, d.rel ORDER BY mmr6 DESC, d.doc_id LIMIT 1),
        |picks AS (
        |  SELECT CAST(1 AS INTEGER) AS pick_rank, doc_id, rel, mmr6 FROM p1
        |  UNION ALL SELECT CAST(2 AS INTEGER), doc_id, rel, mmr6 FROM p2
        |  UNION ALL SELECT CAST(3 AS INTEGER), doc_id, rel, mmr6 FROM p3
        |  UNION ALL SELECT CAST(4 AS INTEGER), doc_id, rel, mmr6 FROM p4
        |  UNION ALL SELECT CAST(5 AS INTEGER), doc_id, rel, mmr6 FROM p5),
        |cc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
        |  FROM chunks WHERE doc_id IN (SELECT doc_id FROM picks)
        |  GROUP BY doc_id),
        |win AS (
        |  SELECT picks.pick_rank, picks.doc_id, tok.w AS toks,
        |    [CAST(list_contains(tok.w[i+1:i+8], 'hash') AS INTEGER)
        |     + CAST(list_contains(tok.w[i+1:i+8], 'join') AS INTEGER)
        |     + CAST(list_contains(tok.w[i+1:i+8], 'vector') AS INTEGER)
        |     for i in range(0, greatest(len(tok.w) - 8, 0) + 1)] AS hits
        |  FROM picks JOIN tok USING (doc_id))
        |SELECT p.pick_rank, p.doc_id, p.rel, p.mmr6, cc.n_chunks,
        |  CAST(list_position(w.hits, list_max(w.hits)) - 1 AS INTEGER) AS start_idx,
        |  CAST(list_max(w.hits) AS INTEGER) AS n_hits,
        |  array_to_string(w.toks[list_position(w.hits, list_max(w.hits)):
        |    list_position(w.hits, list_max(w.hits)) + 7], ' ') AS snippet,
        |  TRUE AS zero_build,
        |  CAST((SELECT doc_id FROM xdoc) AS BIGINT) AS excised_doc,
        |  TRUE AS excised_absent
        |FROM picks p JOIN cc USING (doc_id) JOIN win w USING (doc_id)
        |ORDER BY p.pick_rank""".stripMargin))
}
