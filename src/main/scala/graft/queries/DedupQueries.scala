package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Dedup
import graft.queries.DuckDbRound.round
import graft.queries.QueryArtifacts.SessionDir
import graft.streaming.StreamingOps

/** Driver-facing dedup queries — thin wrappers over the library operators
  * in `graft.operators.Dedup` (see there for the scale rationale): exact
  * content-hash, n-gram Jaccard (shingle-bucket join), MinHash LSH,
  * SimHash banding, embedding cosine. Thresholds are applied on the
  * DuckDB-rounded value so the oracles agree at boundaries.
  */
object DedupQueries {

  type Q = (SparkSession, String) => DataFrame

  /** The >= 0.8 jaccard pairs back FOUR queries below — derived by a
    * plain filter over the persisted >= 0.6 table ([[jaccardPairs06]]):
    * the exact jaccard value of a pair is threshold-independent (the
    * prefix-filter bound only gates CANDIDATE generation, and 0.5999's
    * candidates are a superset of 0.7999's), so one candidate pipeline
    * serves both operating points instead of two near-identical corpus
    * scans — the recall gate's 0.6 build was the largest cold-pass cost
    * in the dedup family. Assumes the driver contract that a `dir`'s
    * parquet is immutable. */
  private[queries] def jaccardPairs08(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs06Full(spark, dir).filter(col("jaccard") >= 0.8)

  /** Shared minhash candidate pairs at the wider 0.41 distance bound —
    * backs both dedup_minhash_lsh (filtered to <= 0.4) and
    * dedup_minhash_recall (which needs the margin for the round-6
    * boundary at jaccard = 0.6). Same residency rationale as
    * [[jaccardPairs08]]: the result is near-dup-sized. */
  private val minhashCache = QueryArtifacts.cache[SessionDir, DataFrame](_.unpersist())

  private def minhashPairs041(spark: SparkSession, dir: String): DataFrame =
    minhashCache((spark, dir))(Dedup.minhashPairs(Tables.load(spark, dir, "documents"), "doc_id", "text",
          maxJaccardDistance = 0.41)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Exact jaccard >= 0.6 pair table WITH the rounded jaccard column —
    * the ONE persisted n-gram candidate pipeline: the minhash recall
    * gate reads it at 0.6 and the whole 0.8 family filters it (see
    * [[jaccardPairs08]]). The operator deliberately does not persist
    * (see `Dedup.ngramJaccardPairs`) and endorses RESULT-level
    * persistence by callers that reuse the pairs — this is that caller;
    * the result is near-dup-sized (KBs at any SF). */
  private val jaccard06Cache = QueryArtifacts.cache[SessionDir, DataFrame](_.unpersist())

  private def jaccardPairs06Full(spark: SparkSession, dir: String): DataFrame =
    jaccard06Cache((spark, dir)) {
      // prefix-filter threshold strictly below the 0.6 rounding boundary
      // (rounded >= 0.6 iff unrounded >= 0.5999995, so 0.5999 cannot
      // lose a qualifying pair); exact filter on the rounded value
      Dedup.ngramJaccardPairs(Tables.load(spark, dir, "documents"),
          "doc_id", "text", minJaccard = Some(0.5999))
        .withColumn("jaccard", round(col("jaccard"), 6))
        .filter(col("jaccard") >= 0.6)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private def jaccardPairs06(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs06Full(spark, dir).select("doc_id_1", "doc_id_2")

  /** Exact embedding-cosine >= 0.5 pair table, rounded and thresholded —
    * persisted once per (session, dir) (r16: this row carried ~2 s of
    * first-touch cost on every cold pass as a per-call build; with the
    * persist the build runs once, charged to the first row that reads
    * it). Pair-set sized like the other candidate caches. */
  private val cosinePairsCache = QueryArtifacts.cache[SessionDir, DataFrame](_.unpersist())

  private def cosinePairs05(spark: SparkSession, dir: String): DataFrame =
    cosinePairsCache((spark, dir)) {
      // operator pre-filter strictly below the 0.5 rounding boundary (no
      // candidate that could round up is lost; the LSH radius derives
      // from the same bound, so candidate generation can't lose a
      // qualifying pair either); exact threshold on the rounded value
      Dedup.embeddingCosinePairs(Tables.load(spark, dir, "embeddings"),
          "vec_id", "embedding", minCosine = 0.4999)
        .withColumn("cosine", round(col("cosine"), 6))
        .filter(col("cosine") >= 0.5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Cluster-scoped SemDeDup pair set at the documented nAssign=4
    * operating point, rounded and thresholded — persisted once per
    * (session, dir) and shared by `dedup_semantic` (the report) and
    * `dedup_semantic_recall` (the gate), which otherwise both ran the
    * per-cell quadratic. Near-dup-sized like the other pair caches. */
  private val semanticPairsCache = QueryArtifacts.cache[SessionDir, DataFrame](_.unpersist())

  private def semanticPairs05(spark: SparkSession, dir: String): DataFrame =
    semanticPairsCache((spark, dir)) {
      Dedup.semanticPairs(SimilarityQueries.ivfIndex(spark, dir),
          minCosine = 0.4999, nAssign = 4)
        .withColumn("cosine", round(col("cosine"), 6))
        .filter(col("cosine") >= 0.5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Corpus-side serving artifacts for the ingest-dedup family over the
    * %5!=0 reference slice — content hash table + bloom literal (exact
    * stage) and minhash signature table (near-dup stage) — built and
    * PERSISTED once per (session, dir), shared by `dedup_incremental` and
    * `dedup_ingest_neardup`: a stream-static join re-evaluates its static
    * side every micro-batch, and the bloom distillation is a corpus
    * aggregate job, so neither must recur per trigger (or per bench
    * pass). Bloom sized 2^16 (the fixture corpus is thousands of docs;
    * sizing bounds join traffic, never results). */
  private val ingestArtifactsCache =
    QueryArtifacts.cache[SessionDir, graft.streaming.StreamingOps.IngestCorpusArtifacts](
      a => { a.hashes.unpersist(); a.sigs.unpersist() })

  private def ingestArtifacts(spark: SparkSession,
      dir: String): graft.streaming.StreamingOps.IngestCorpusArtifacts =
    ingestArtifactsCache((spark, dir)) {
      val corpus = Tables.load(spark, dir, "documents")
        .filter(col("doc_id") % 5 =!= 0).select("doc_id", "text")
      val hashes = Dedup.corpusContentHashes(corpus, "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sigs = graft.streaming.StreamingOps.corpusNearDupSignatures(corpus, "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // bloom built AFTER the persist marker so its aggregate job also
      // populates the shared hash table
      graft.streaming.StreamingOps.IngestCorpusArtifacts(hashes,
        Dedup.corpusContentBloom(hashes, expectedCorpusItems = 1L << 16), sigs)
    }

  /** Repeat-excision interval table (>= 50-token verbatim repeats),
    * persisted once per (session, dir): detection (`dedup_substring`) and
    * repair (`corpus_excise_repeats`) consume the SAME intervals — the
    * table is excision-sized (rows only where repeats exist), so one
    * persisted copy is the right residency, and a real pipeline reports
    * and applies one interval set, not two computations of it. */
  private val repeatIvCache = QueryArtifacts.cache[SessionDir, DataFrame](_.unpersist())

  private def repeatIntervals(spark: SparkSession, dir: String): DataFrame =
    repeatIvCache((spark, dir))(Dedup.substringRepeatIntervals(Tables.load(spark, dir, "documents"),
          "doc_id", "text", k = 13, minRun = 50)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Corpus duplicate-line table (line_md5, n_occ, first occurrence),
    * persisted once per (session, dir): detection (`dedup_lines`) and
    * repair (`corpus_excise_dup_lines`) consume the SAME table — the
    * repeatIntervals discipline applied to the line family (a real
    * pipeline reports and applies one duplicate-line table, not two
    * corpus-wide aggregations of it). Duplicate-line-sized residency. */
  private val dupLinesCache = QueryArtifacts.cache[SessionDir, DataFrame](_.unpersist())

  private def dupLinesTable(spark: SparkSession, dir: String): DataFrame =
    dupLinesCache((spark, dir))(Dedup.duplicateLines(pagedDocs(spark, dir), "doc_id", "page")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The detection artifact's filter half: the bloom literal over the
    * persisted table's keys, derived once per (session, dir) — table and
    * filter travel together like an index and its manifest. */
  private val dupLinesBloomCache = QueryArtifacts.cache[SessionDir, Option[Array[Byte]]]()

  private def dupLinesBloom(spark: SparkSession, dir: String): Option[Array[Byte]] =
    dupLinesBloomCache((spark, dir))(
      Dedup.dupLinesBloom(dupLinesTable(spark, dir)))

  /** Per-document simhash sketch table, persisted once per (session, dir):
    * the corpus-text scan behind the simhash family, shared by the banded
    * pair query and BOTH sides of the parity gate (which is about band
    * extraction, not sketching — sharing sketches means a sketch
    * difference can't mask an extraction bug). Tiny residency: (id,
    * 8-byte sketch) per doc. */
  private val simhashCacheTbl = QueryArtifacts.cache[SessionDir, DataFrame](_.unpersist())

  private def simhashSketchTable(spark: SparkSession, dir: String): DataFrame =
    simhashCacheTbl((spark, dir))(Dedup.simhashSketches(Tables.load(spark, dir, "documents"), "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The two ingest replays' delivery: `delivered` as three files, the
    * third a VERBATIM re-delivery of the first. */
  private def ingestDeliveries(delivered: DataFrame): Seq[DataFrame] = {
    val half1 = delivered.filter(col("doc_id") % 2 === 0)
    Seq(half1, delivered.filter(col("doc_id") % 2 =!= 0), half1)
  }

  /** EXACT-ingest replay, run once per (session, dir) by the first call
    * of its row; the parquet sink path later calls read. */
  private val ingestReplayCache = QueryArtifacts.cache[SessionDir, String]()

  private def ingestReplaySink(spark: SparkSession, dir: String): String =
    ingestReplayCache((spark, dir)) {
      val docs = Tables.load(spark, dir, "documents")
      // null texts are excluded EXPLICITLY: the rep-selection equi join
      // could never match them (engine side) while the oracle's GROUP BY
      // text keeps a NULL group — one pinned semantic on both sides
      // instead of a latent divergence on a null fixture
      val slice = docs.filter(col("doc_id") % 5 === 0 &&
        col("text").isNotNull)
      val reps = slice.groupBy("text").agg(min("doc_id").as("doc_id"))
      val delivered = slice.join(reps, Seq("doc_id", "text"), "left_semi")
        .select("doc_id", "text")
      val art = ingestArtifacts(spark, dir)
      StreamingOps.replay(spark, "dedup-ingest", dir,
          ingestDeliveries(delivered))(stream =>
        StreamingOps.ingestDedupStreamWith(
          stream, art.hashes, art.bloom, "text"))(StreamingOps.appendParquet)
        .out
    }

  /** NEAR-DUP ingest replay ([[ingestReplaySink]]'s twin). */
  private val neardupReplayCache = QueryArtifacts.cache[SessionDir, String]()

  private def neardupReplaySink(spark: SparkSession, dir: String): String =
    neardupReplayCache((spark, dir)) {
      // null texts excluded like the batch twin (see dedup_ingest_neardup)
      val delivered = Tables.load(spark, dir, "documents")
        .filter(col("doc_id") % 5 === 0 && col("text").isNotNull)
        .select("doc_id", "text")
      val art = ingestArtifacts(spark, dir)
      StreamingOps.replay(spark, "dedup-neardup", dir,
          ingestDeliveries(delivered))(stream =>
        StreamingOps.ingestNearDupStreamWith(stream, art, "text"))(
        StreamingOps.appendParquet).out
    }

  /** Release every family's session artifacts ([[QueryArtifacts.clearAll]]). */
  def clearCaches(): Unit = QueryArtifacts.clearAll()

  val queries: ListMap[String, Q] = ListMap(
    "dedup_exact" -> ((spark, dir) => {
      Dedup.exact(Tables.load(spark, dir, "documents"), "doc_id", "text")
        .orderBy("keep_doc_id")
    }),
    "dedup_ngram_jaccard" -> ((spark, dir) => {
      jaccardPairs08(spark, dir).orderBy("doc_id_1", "doc_id_2")
    }),
    "dedup_minhash_lsh" -> ((spark, dir) => {
      minhashPairs041(spark, dir)
        .filter(col("jaccard_dist") <= 0.4)
        .select(col("doc_id_1"), col("doc_id_2"),
          round(lit(1.0) - col("jaccard_dist"), 6).as("jaccard"))
        .orderBy("doc_id_1", "doc_id_2")
    }),
    "dedup_simhash" -> ((spark, dir) => {
      Dedup.simhashPairsFromSketches(simhashSketchTable(spark, dir))
        .orderBy("doc_id_1", "doc_id_2")
    }),
    "dedup_embedding_cosine" -> ((spark, dir) =>
      // rounding-boundary discipline lives in the shared persisted
      // candidate table (see cosinePairs05)
      cosinePairs05(spark, dir).orderBy("vec_id_1", "vec_id_2")),
    // SemDeDup (cluster-scoped semantic near-dup): all-pairs cosine WITHIN
    // the shared IVF index's k-means cells only — the quadratic term is
    // bounded per cell, never corpus-wide. nAssign=4 soft multi-assignment
    // makes the pair set boundary-robust (a pair is found iff it shares
    // ANY of each vector's 4 closest cells) at ~4x the shuffle — the
    // LOSSLESS operating point for the 0.5-threshold gate at BOTH
    // documented scales (nAssign=2 was full-recall at sf0.01 but missed
    // 7/14 exact pairs at sf0.1: cosine-0.5 pairs sit 90 degrees apart,
    // which is far enough to quantize 2+ cells away under 8 spherical
    // cells; measured nAssign recall at sf0.1: 2 -> 7/14, 3 -> 13/14,
    // 4 -> 14/14). Rows-only (the pair set depends on the seeded
    // clustering); dedup_semantic_recall below is the hash-checked gate.
    // Same rounding-boundary discipline as dedup_embedding_cosine.
    "dedup_semantic" -> ((spark, dir) => {
      semanticPairs05(spark, dir)
        .select("vec_id_1", "vec_id_2", "cosine", "cell")
        .orderBy("vec_id_1", "vec_id_2")
    }),
    // Hash-checked RECALL gate for the semantic path: every exact
    // all-pairs cosine >= 0.5 pair, left-joined against the cluster-scoped
    // pair set. The oracle computes exact-vs-exact (trivially full), so
    // the row hash-matches iff NO qualifying pair escaped every shared
    // soft-assigned cell on the fixture — any quantizer regression that
    // splits a near-dup pair past nAssign=4 turns the row red.
    // (Deterministic: the k-means fit is seed-pinned over an md5-ordered
    // sample.) Green at sf0.01 AND sf0.1 at nAssign=4 (see dedup_semantic).
    "dedup_semantic_recall" -> ((spark, dir) => {
      val exact = Dedup.embeddingCosinePairsExact(
          Tables.load(spark, dir, "embeddings"), "vec_id", "embedding",
          minCosine = 0.4999)
        .withColumn("cosine", round(col("cosine"), 6))
        .filter(col("cosine") >= 0.5)
        .select("vec_id_1", "vec_id_2")
      val sem = semanticPairs05(spark, dir)
        .select(col("vec_id_1"), col("vec_id_2"), lit(1).as("hit"))
      exact.join(sem, Seq("vec_id_1", "vec_id_2"), "left")
        .agg(count(lit(1)).as("n_exact"),
          coalesce(sum("hit"), lit(0L)).as("n_found"))
        // an SF with no qualifying pairs has nothing to miss: recall 1.0
        // (and no ANSI divide-by-zero), same convention as the oracle
        .withColumn("recall", round(when(col("n_exact") === 0, lit(1.0))
          .otherwise(col("n_found") / col("n_exact")), 6))
    }),
    "dedup_cluster_resolve" -> ((spark, dir) => {
      // pairs -> transitive closure -> keep-min-id per cluster, for every
      // corpus row (docs in no pair keep themselves)
      val docs = Tables.load(spark, dir, "documents")
      Dedup.resolveClusters(docs, "doc_id", jaccardPairs08(spark, dir),
          "doc_id_1", "doc_id_2")
        .orderBy("doc_id")
    }),
    // Incremental ingest dedup: the doc_id%5==0 slice plays the "new
    // batch", the rest the existing corpus; Bloom-prefiltered exact
    // anti-join returns batch rows whose content is genuinely new
    "dedup_incremental" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      val newBatch = docs.filter(col("doc_id") % 5 === 0)
      val art = ingestArtifacts(spark, dir)
      Dedup.incrementalNewWith(newBatch, art.hashes, "text", art.bloom)
        .select("doc_id").orderBy("doc_id")
    }),
    // Streaming ingest REPLAY (r12) — the streaming tier's first row on
    // the driver ledger: a real Structured Streaming run (parquet file
    // source, three micro-batches under maxFilesPerTrigger=1, the third
    // file a VERBATIM re-delivery of the first that the cross-batch
    // fingerprint state must swallow) through the SAME
    // ingestDedupStreamWith plan StreamingSpec pins, Trigger.AvailableNow
    // into a parquet sink, sink read back as the result. Delivered rows
    // are the distinct-text representatives (min doc_id per text) of the
    // %5==0 slice, so the surviving ids are deterministic whatever
    // arrival order a re-run produces; the oracle is the batch
    // formulation (new-to-corpus representatives). A streaming
    // regression now turns a CORRECTNESS row red, not only a unit test.
    "streaming_ingest_replay" -> ((spark, dir) => {
      // run-once per (session, dir): the replay is a complete streaming
      // JOB, not a lazy plan — re-running it per bench pass would time
      // query startup, not the operator; the sink parquet is the durable
      // artifact later calls read (the build-once/serve-many pattern the
      // index family uses, applied to a finished stream)
      val sink = ingestReplaySink(spark, dir)
      spark.read.parquet(sink).select("doc_id").orderBy("doc_id")
    }),
    // NEAR-DUP streaming replay (r12) — the second streaming gate on the
    // driver ledger: the full exact+near-dup ingest chain
    // (ingestNearDupStreamWith: fingerprint state, bloom-prefiltered
    // corpus anti join, one banded anti join per hash table with exact
    // jaccard in the condition) run to completion over the same
    // three-file delivery (third file a verbatim re-delivery). Output is
    // CONTENT-keyed like the batch twin (dedup_ingest_neardup — the
    // within-stream exact stage keeps an arbitrary copy of duplicated
    // text; the surviving CONTENT is deterministic), and shares its
    // oracle: survivors = delivered texts new to the corpus with no
    // verified corpus near-dup.
    "streaming_neardup_replay" -> ((spark, dir) => {
      val sink = neardupReplaySink(spark, dir)
      spark.read.parquet(sink)
        .select(md5(col("text")).as("survivor_fp"))
        .orderBy("survivor_fp")
    }),
    // Incremental NEAR-dup ingest filter, batch form — the same operator
    // the streaming tier runs (StreamingOps.ingestNearDupStream is
    // DataFrame-generic; StreamingSpec pins stream==batch), now under the
    // driver's hash gate: arrivals surviving exact dedup AND a banded
    // minhash + exact-jaccard >= 0.6 check against the corpus. The oracle
    // recomputes the survivor set banding-free (exact all-pairs jaccard),
    // so the row hash-matches iff banding loses NOTHING here — the same
    // full-recall fact dedup_minhash_recall pins for this (family, seed,
    // threshold). Survivors are keyed by content fingerprint, not doc_id:
    // the within-stream exact-dedup stage keeps an arbitrary copy of
    // duplicated text (any copy is correct), while the surviving CONTENT
    // is deterministic.
    "dedup_ingest_neardup" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      // null texts excluded explicitly: the operator would keep them (a
      // null payload has no content to near-duplicate) but the oracle's
      // `text NOT IN (...)` drops a NULL — one pinned semantic on both
      // sides (the streaming replay twin makes the same choice)
      val stream = docs.filter(col("doc_id") % 5 === 0 &&
        col("text").isNotNull).select("doc_id", "text")
      graft.streaming.StreamingOps.ingestNearDupStreamWith(stream,
          ingestArtifacts(spark, dir), "text")
        .select(md5(col("text")).as("survivor_fp"))
        .orderBy("survivor_fp")
    }),
    // Keep-BEST-per-cluster resolution: longest text survives (ties by
    // min id) — the realistic policy when duplicates differ in
    // completeness
    "dedup_cluster_keep_best" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      Dedup.resolveClustersBy(docs, "doc_id", length(col("text")).cast("long"),
          jaccardPairs08(spark, dir), "doc_id_1", "doc_id_2")
        .orderBy("doc_id")
    }),
    // Leakage-safe corpus split: every document inherits the
    // train/val/test assignment of its near-dup CLUSTER representative,
    // so two near-identical documents can never land on opposite sides of
    // a split boundary — the eval-contamination mode a naive per-doc hash
    // split allows whenever the dedup stage keeps both members. Same
    // md5-range rule as doc_split_assign, applied to the cluster rep id;
    // leak_repaired marks the docs whose naive per-doc assignment the
    // cluster rule overrode. Scale: resolveClusters' adaptive connected
    // components over the bounded pair set + one stateless hash
    // projection — no new corpus-sized shuffle beyond the cluster join.
    "split_leakage_safe" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      def splitOf(c: Column): Column = {
        val d1 = substring(md5(c.cast("string")), 1, 1)
        when(d1 <= "9", "train").when(d1 <= "c", "val").otherwise("test")
      }
      Dedup.resolveClusters(docs, "doc_id", jaccardPairs08(spark, dir),
          "doc_id_1", "doc_id_2")
        .select(col("doc_id"), col("keep_doc_id").as("cluster_rep"),
          splitOf(col("keep_doc_id")).as("split"),
          (splitOf(col("keep_doc_id")) =!= splitOf(col("doc_id")))
            .as("leak_repaired"))
        .orderBy("doc_id")
    }),
    // Edit-distance verification stage over candidate pairs: exact
    // levenshtein + normalized similarity computed ONLY on the bounded
    // candidate set (never all-pairs — O(len^2) per pair is affordable
    // exactly because candidates are bucket-generated)
    "dedup_fuzzy_verify" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      val pairs = jaccardPairs08(spark, dir)
      val t1 = docs.select(col("doc_id").as("doc_id_1"), col("text").as("t1"))
      val t2 = docs.select(col("doc_id").as("doc_id_2"), col("text").as("t2"))
      val lev = levenshtein(col("t1"), col("t2"))
      pairs.join(t1, Seq("doc_id_1")).join(t2, Seq("doc_id_2"))
        .select(col("doc_id_1"), col("doc_id_2"), col("jaccard"),
          lev.as("edit_dist"),
          round(lit(1.0) - lev / greatest(length(col("t1")), length(col("t2")))
            .cast("double"), 6).as("edit_sim"))
        .orderBy("doc_id_1", "doc_id_2")
    }),
    // Driver-visible recall gate for the MinHash banding path: the exact
    // jaccard >= 0.6 pair set (prefix-filtered — recall-exact by
    // pigeonhole) left-joined against the banding candidates, recall
    // computed INSIDE Spark. The oracle computes exact-vs-exact (trivially
    // full recall), so the row hash-matches iff banding loses NOTHING on
    // the fixture — seed-pinned and deterministic, a red row on any
    // banding regression. The 0.41 distance margin covers the round-6
    // boundary at jaccard = 0.6.
    "dedup_minhash_recall" -> ((spark, dir) => {
      val exact = jaccardPairs06(spark, dir)
      val approx = minhashPairs041(spark, dir)
        .select(col("doc_id_1"), col("doc_id_2"), lit(1).as("hit"))
      exact.join(approx, Seq("doc_id_1", "doc_id_2"), "left")
        .agg(count(lit(1)).as("n_exact"),
          coalesce(sum("hit"), lit(0L)).as("n_found"))
        .withColumn("recall", round(col("n_found") / col("n_exact"), 6))
    }),
    // Driver-visible PARITY gate for the simhash banding: the 4x16-bit
    // band scheme has provably exact recall at hamming <= 3 (any pair
    // differing in <= 3 bits leaves >= 1 band untouched, by pigeonhole)
    // and emits nothing beyond the radius, so the banded pair set must
    // EQUAL the exact formulation over the same sketches. The exact side
    // (simhashPairsExact) derives the same set through an INDEPENDENT
    // band split — interleaved bits, different extraction code — which
    // the pigeonhole proof covers equally, so both sides are exact-at-
    // radius yet share no banding code path and the check stays a plain
    // shuffle equi-join (no O(n^2) all-pairs join). The emitted row is
    // the symmetric difference, which parity pins to exactly
    // (0, 0, true) — the oracle states those literals, so ANY banding
    // bug (lost or spurious pair) turns this row red.
    "dedup_simhash_parity" -> ((spark, dir) => {
      // both generators band over the SAME persisted sketch table — the
      // parity property is about band EXTRACTION, so sharing the sketches
      // strengthens the check (a sketch difference can't mask an
      // extraction bug) while the corpus is scanned once, not twice
      val sketches = simhashSketchTable(spark, dir)
      val banded = Dedup.simhashPairsFromSketches(sketches)
        .select("doc_id_1", "doc_id_2").withColumn("in_banded", lit(1))
      val exact = Dedup.simhashPairsExactFromSketches(sketches)
        .select("doc_id_1", "doc_id_2").withColumn("in_exact", lit(1))
      exact.join(banded, Seq("doc_id_1", "doc_id_2"), "full_outer")
        .agg(
          coalesce(sum(when(col("in_banded").isNull, 1L)), lit(0L))
            .as("missing_from_banded"),
          coalesce(sum(when(col("in_exact").isNull, 1L)), lit(0L))
            .as("extra_in_banded"))
        .withColumn("parity",
          col("missing_from_banded") === 0 && col("extra_in_banded") === 0)
    }),
    // Winnowing fingerprints (Schleimer et al., SIGMOD 2003): per-window
    // minimum of ordered k-gram hashes — the position-robust local
    // fingerprinting with a sharing GUARANTEE (any w+k-1-token shared run
    // yields a shared fingerprint). Built entirely from the portable
    // md5-prefix hash, so the selected set — unlike the seeded
    // minhash/simhash sketches — is HASH-CHECKED end-to-end.
    "winnow_fingerprint_stats" -> ((spark, dir) => {
      Dedup.winnowFingerprints(Tables.load(spark, dir, "documents"),
          "doc_id", "text", k = 3, w = 4)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_fingerprints"),
          min("fp").as("min_fp"), max("fp").as("max_fp"))
        .orderBy("doc_id")
    }),
    // Winnowing-based near-dup pairs: docs sharing >= 3 selected
    // fingerprints — a grouped equi-join on the fingerprint key (the
    // same bucketed-candidate shape as every other pair generator) that
    // is fully exact and oracle-reproducible.
    "winnow_dup_pairs" -> ((spark, dir) => {
      Dedup.winnowPairs(Tables.load(spark, dir, "documents"),
          "doc_id", "text", k = 3, w = 4, minShared = 3)
        .orderBy("doc_id_1", "doc_id_2")
    }),
    // Exact substring dedup (Lee et al., ACL 2022): verbatim >= 50-token
    // runs repeated anywhere in the corpus, as per-doc excision intervals
    // keeping the globally first occurrence — 13-gram md5 anchors ->
    // first-occurrence aggregate -> gaps-and-islands interval merge, all
    // engine-portable arithmetic so the interval table hash-checks.
    "dedup_substring" -> ((spark, dir) => {
      repeatIntervals(spark, dir).orderBy("doc_id", "start_pos")
    }),
    // The applied form: every document with its >= 50-token verbatim
    // repeats removed, as counts + an md5 fingerprint of the cleaned
    // token stream (hash-checkable without shipping cleaned bodies).
    // Excises by the SAME persisted interval table the detection query
    // reports — one interval computation serves both stages.
    "corpus_excise_repeats" -> ((spark, dir) => {
      Dedup.exciseByIntervals(Tables.load(spark, dir, "documents"),
          "doc_id", "text", repeatIntervals(spark, dir))
        .orderBy("doc_id")
    }),
    // Line-level exact dedup (the CCNet/RefinedWeb boilerplate-line
    // step). The corpus has no newlines, so both engines derive the SAME
    // line structure first — fixed 10-token segments per doc (the
    // doc_chunks segmentation shape) rejoined on \n — and the operator
    // then runs end-to-end over the multi-line pages: split, md5 line
    // keys, first-occurrence aggregate, corpus-wide counts.
    "dedup_lines" -> ((spark, dir) => {
      dupLinesTable(spark, dir).orderBy("line_md5")
    }),
    // The applied form: every page with its corpus-duplicated lines
    // removed (globally first occurrence kept), as counts + an md5
    // fingerprint of the kept-line stream.
    "corpus_excise_dup_lines" -> ((spark, dir) => {
      Dedup.exciseDupLinesWith(pagedDocs(spark, dir), "doc_id", "page",
          dupLinesTable(spark, dir),
          bloom = Some(dupLinesBloom(spark, dir)))
        .orderBy("doc_id")
    }))

  /** Documents as multi-line pages: fixed 10-token lines joined on \n —
    * the deterministic line structure both engines can derive (the corpus
    * text itself has no newlines). */
  private[queries] def pagedDocs(spark: SparkSession, dir: String): DataFrame = {
    val w = split(lower(col("text")), " ")
    Tables.load(spark, dir, "documents").select(col("doc_id"),
      concat_ws("\n", transform(
        sequence(lit(1), floor((size(w) + lit(9)) / lit(10)).cast("int")),
        i => concat_ws(" ", slice(w, (i - lit(1)) * lit(10) + lit(1), lit(10)))))
        .as("page"))
  }

  private val duckShinglesBody =
    """tok AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      |  WHERE len(string_split(lower(text), ' ')) >= 3),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                   for i in range(1, len(w) - 1)]) AS shingles
      |  FROM tok),
      |ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh)""".stripMargin

  private val duckShingles = "WITH " + duckShinglesBody

  /** Winnowing selection in DuckDB: same ordered k-gram md5-prefix
    * hashes, same per-window list_min, same short-doc degeneration. */
  private val duckWinnowBody =
    """d AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
      |  WHERE len(string_split(lower(text), ' ')) >= 3),
      |g AS (
      |  SELECT doc_id,
      |    [CAST(('0x' || substring(md5(array_to_string(t[i:i+2], ' ')), 1, 15))::BIGINT AS BIGINT)
      |     for i in range(1, len(t) - 1)] AS grams
      |  FROM d),
      |f AS (
      |  SELECT doc_id,
      |    CASE WHEN len(grams) >= 4 THEN
      |      list_distinct([list_min(grams[j:j+3]) for j in range(1, len(grams) - 2)])
      |    ELSE [list_min(grams)] END AS fps
      |  FROM g),
      |e AS (SELECT DISTINCT doc_id, unnest(fps) AS fp FROM f)""".stripMargin

  /** Substring-repeat intervals in DuckDB: same 13-gram md5 anchors, same
    * first-occurrence rule (window rank == the min-(doc_id,pos) aggregate),
    * same gaps-and-islands merge at minRun = 50. */
  private val duckSubstringBody =
    """tok AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      |  WHERE len(string_split(lower(text), ' ')) >= 13),
      |occ AS (
      |  SELECT doc_id, i AS pos, md5(array_to_string(w[i:i+12], ' ')) AS g
      |  FROM tok CROSS JOIN unnest(range(1, len(w) - 11)) AS t(i)),
      |dup AS (
      |  SELECT doc_id, pos FROM (
      |    SELECT doc_id, pos,
      |      row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
      |    FROM occ) WHERE rn > 1),
      |mk AS (
      |  SELECT doc_id, pos, pos + 12 AS e,
      |    max(pos + 12) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |  FROM dup),
      |isl AS (
      |  SELECT doc_id, pos, e,
      |    sum(CASE WHEN pm IS NULL OR pos > pm + 1 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
      |  FROM mk),
      |iv0 AS (
      |  SELECT doc_id, min(pos) AS s, max(e) AS e
      |  FROM isl GROUP BY doc_id, island
      |  HAVING max(e) - min(pos) + 1 >= 50)""".stripMargin

  /** The paged-line derivation shared by the line-dedup oracles: the same
    * fixed 10-token segmentation the Spark side builds (`pagedDocs`),
    * with per-line md5 keys, corpus counts, and first-occurrence rank. */
  private val duckPagedLinesBody =
    """d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |seg AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS line_idx,
      |    array_to_string(list_slice(w, (i - 1) * 10 + 1, i * 10), ' ') AS line
      |  FROM d, unnest(range(1, CAST(ceil(len(w) / 10.0) AS INT) + 1)) AS t(i)),
      |r AS (
      |  SELECT md5(line) AS line_md5, doc_id, line_idx,
      |    row_number() OVER (PARTITION BY md5(line)
      |                       ORDER BY doc_id, line_idx) AS rn,
      |    count(*) OVER (PARTITION BY md5(line)) AS n_occ
      |  FROM seg WHERE len(line) > 0)""".stripMargin

  /** Banding-free exact survivor set of the %5==0 delivery against the
    * %5!=0 corpus (exact dedup + exact-jaccard near-dup) — shared by the
    * batch presentation (`dedup_ingest_neardup`) and the completed-stream
    * replay (`streaming_neardup_replay`): both must emit this content
    * set, and hash-matching it also re-certifies banding's full recall at
    * this (family, seed, threshold). */
  private val neardupSurvivorOracle: String =
    """WITH s0 AS (SELECT DISTINCT text FROM documents WHERE doc_id % 5 = 0),
      |cx AS (SELECT DISTINCT text FROM documents WHERE doc_id % 5 <> 0),
      |sx AS (SELECT text FROM s0 WHERE text NOT IN (SELECT text FROM cx)),
      |ssh AS (
      |  SELECT text,
      |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                   for i in range(1, len(w) - 1)]) AS sh
      |  FROM (SELECT text, string_split(lower(text), ' ') AS w FROM sx
      |        WHERE len(string_split(lower(text), ' ')) >= 3)),
      |csh AS (
      |  SELECT list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                        for i in range(1, len(w) - 1)]) AS sh
      |  FROM (SELECT string_split(lower(text), ' ') AS w FROM cx
      |        WHERE len(string_split(lower(text), ' ')) >= 3)),
      |dropped AS (
      |  SELECT DISTINCT a.text
      |  FROM ssh a JOIN csh b ON
      |    len(list_intersect(a.sh, b.sh)) * 1.0
      |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.6)
      |SELECT md5(text) AS survivor_fp FROM sx
      |WHERE text NOT IN (SELECT text FROM dropped)
      |ORDER BY survivor_fp""".stripMargin

  val oracleSql: ListMap[String, String] = ListMap(
    "dedup_substring" ->
      ("WITH " + duckSubstringBody + """
        |SELECT doc_id, CAST(s AS BIGINT) AS start_pos, CAST(e AS BIGINT) AS end_pos,
        |  CAST(e - s + 1 AS BIGINT) AS span_tokens
        |FROM iv0 ORDER BY doc_id, start_pos""".stripMargin),
    "corpus_excise_repeats" ->
      ("WITH " + duckSubstringBody + """,
        |iv AS (SELECT doc_id, list({'s': s, 'e': e} ORDER BY s) AS ivs
        |       FROM iv0 GROUP BY doc_id),
        |alltok AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |cl AS (
        |  SELECT t.doc_id, t.w,
        |    CASE WHEN v.ivs IS NULL THEN t.w
        |         ELSE list_filter(t.w, (x, i) ->
        |           len(list_filter(v.ivs, b -> i >= b.s AND i <= b.e)) = 0)
        |    END AS kept
        |  FROM alltok t LEFT JOIN iv v ON t.doc_id = v.doc_id)
        |SELECT doc_id, CAST(len(w) AS INTEGER) AS n_tokens,
        |  CAST(len(w) - len(kept) AS INTEGER) AS excised_tokens,
        |  CAST(len(kept) AS INTEGER) AS kept_tokens,
        |  md5(coalesce(array_to_string(kept, ' '), '')) AS cleaned_fingerprint
        |FROM cl ORDER BY doc_id""".stripMargin),
    "dedup_lines" ->
      ("WITH " + duckPagedLinesBody + """
        |SELECT line_md5, CAST(n_occ AS BIGINT) AS n_occ,
        |  CAST(doc_id AS BIGINT) AS first_doc_id,
        |  CAST(line_idx AS BIGINT) AS first_line_idx
        |FROM r WHERE rn = 1 AND n_occ >= 2 ORDER BY line_md5""".stripMargin),
    "corpus_excise_dup_lines" ->
      ("WITH " + duckPagedLinesBody + """,
        |drops AS (SELECT doc_id, line_idx FROM r WHERE n_occ >= 2 AND rn > 1),
        |dl AS (SELECT doc_id, list(line_idx ORDER BY line_idx) AS idxs
        |       FROM drops GROUP BY doc_id),
        |pages AS (SELECT doc_id, list(line ORDER BY line_idx) AS ls
        |          FROM seg GROUP BY doc_id),
        |cl AS (
        |  SELECT p.doc_id, len(p.ls) AS n_lines,
        |    CASE WHEN d.idxs IS NULL THEN p.ls
        |         ELSE list_filter(p.ls, (x, i) -> NOT list_contains(d.idxs, i))
        |    END AS kept
        |  FROM pages p LEFT JOIN dl d ON p.doc_id = d.doc_id)
        |SELECT doc_id, CAST(n_lines AS INTEGER) AS n_lines,
        |  CAST(n_lines - len(kept) AS INTEGER) AS excised_lines,
        |  CAST(len(kept) AS INTEGER) AS kept_lines,
        |  md5(coalesce(array_to_string(kept, chr(10)), '')) AS cleaned_fingerprint
        |FROM cl ORDER BY doc_id""".stripMargin),
    "winnow_fingerprint_stats" ->
      ("WITH " + duckWinnowBody + """
        |SELECT doc_id, count(*) AS n_fingerprints,
        |  min(fp) AS min_fp, max(fp) AS max_fp
        |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "winnow_dup_pairs" ->
      ("WITH " + duckWinnowBody + """
        |SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
        |  count(*) AS n_shared
        |FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY doc_id_1, doc_id_2""".stripMargin),
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_doc_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      (duckShingles +
        """
          |SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
          |  round(count(*) * 1.0 / (any_value(a.n) + any_value(b.n) - count(*)), 6) AS jaccard
          |FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
          |GROUP BY 1, 2
          |HAVING round(count(*) * 1.0 / (any_value(a.n) + any_value(b.n) - count(*)), 6) >= 0.8
          |ORDER BY doc_id_1, doc_id_2""".stripMargin),
    "dedup_embedding_cosine" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
        |  FROM embeddings)
        |SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
        |  round(list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)])
        |    / (a.nrm * b.nrm), 6) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)])
        |    / (a.nrm * b.nrm), 6) >= 0.5
        |ORDER BY vec_id_1, vec_id_2""".stripMargin,
    // exact-vs-exact: n_found == n_exact and recall == 1.0 by
    // construction, so the Spark row hash-matches iff the cluster-scoped
    // pair set achieved FULL recall against the exact all-pairs set
    "dedup_semantic_recall" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
        |  FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE round(list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)])
        |      / (a.nrm * b.nrm), 6) >= 0.5)
        |SELECT CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(count(*) AS BIGINT) AS n_found,
        |  round(CASE WHEN count(*) = 0 THEN 1.0
        |        ELSE count(*) * 1.0 / count(*) END, 6) AS recall
        |FROM p""".stripMargin,
    "dedup_cluster_resolve" ->
      ("WITH RECURSIVE " + duckShinglesBody +
        """,
          |pairs AS (
          |  SELECT a.doc_id AS u, b.doc_id AS v
          |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2
          |  HAVING round(count(*) * 1.0 / (any_value(a.n) + any_value(b.n) - count(*)), 6) >= 0.8),
          |edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
          |reach(id, r) AS (
          |  SELECT u, u FROM edges
          |  UNION
          |  SELECT r.id, e.v FROM reach r JOIN edges e ON e.u = r.r),
          |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
          |SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS keep_doc_id
          |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
          |ORDER BY doc_id""".stripMargin),
    // the batch formulation of the replayed stream: distinct-text
    // representatives of the delivered slice whose content is new to the
    // corpus (the re-delivered third file must contribute nothing)
    "streaming_ingest_replay" ->
      """SELECT n.doc_id FROM documents n
        |WHERE n.doc_id % 5 = 0 AND n.text IS NOT NULL
        |  AND n.doc_id IN (SELECT min(doc_id) FROM documents
        |                   WHERE doc_id % 5 = 0 AND text IS NOT NULL
        |                   GROUP BY text)
        |  AND NOT EXISTS (SELECT 1 FROM documents c
        |                  WHERE c.doc_id % 5 <> 0 AND c.text = n.text)
        |ORDER BY doc_id""".stripMargin,
    "dedup_incremental" ->
      """SELECT n.doc_id FROM documents n
        |WHERE n.doc_id % 5 = 0
        |  AND NOT EXISTS (SELECT 1 FROM documents c
        |                  WHERE c.doc_id % 5 <> 0 AND c.text = n.text)
        |ORDER BY doc_id""".stripMargin,
    // banding-free reformulation: exact all-pairs jaccard >= 0.6 between
    // the deduped stream slice and the corpus — hash-matches iff the
    // banded path loses nothing (full recall at this family/seed/threshold)
    "dedup_ingest_neardup" -> neardupSurvivorOracle,
    // the replay emits the SAME survivor content set as the batch form —
    // one oracle, two presentation paths (batch plan vs completed stream)
    "streaming_neardup_replay" -> neardupSurvivorOracle,
    "dedup_cluster_keep_best" ->
      ("WITH RECURSIVE " + duckShinglesBody +
        """,
          |pairs AS (
          |  SELECT a.doc_id AS u, b.doc_id AS v
          |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2
          |  HAVING round(count(*) * 1.0 / (any_value(a.n) + any_value(b.n) - count(*)), 6) >= 0.8),
          |edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
          |reach(id, r) AS (
          |  SELECT u, u FROM edges
          |  UNION
          |  SELECT r.id, e.v FROM reach r JOIN edges e ON e.u = r.r),
          |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
          |ranked AS (
          |  SELECT c.comp, c.id,
          |    row_number() OVER (PARTITION BY c.comp
          |      ORDER BY length(d.text) DESC, c.id) AS rn
          |  FROM comp c JOIN documents d ON c.id = d.doc_id),
          |keepers AS (SELECT comp, id AS keep_id FROM ranked WHERE rn = 1)
          |SELECT d.doc_id,
          |  CAST(coalesce(k.keep_id, d.doc_id) AS BIGINT) AS keep_doc_id
          |FROM documents d
          |LEFT JOIN comp c ON d.doc_id = c.id
          |LEFT JOIN keepers k ON c.comp = k.comp
          |ORDER BY doc_id""".stripMargin),
    // same transitive closure as dedup_cluster_resolve, then the
    // doc_split_assign md5-range rule applied to the cluster rep
    "split_leakage_safe" ->
      ("WITH RECURSIVE " + duckShinglesBody +
        """,
          |pairs AS (
          |  SELECT a.doc_id AS u, b.doc_id AS v
          |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2
          |  HAVING round(count(*) * 1.0 / (any_value(a.n) + any_value(b.n) - count(*)), 6) >= 0.8),
          |edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
          |reach(id, r) AS (
          |  SELECT u, u FROM edges
          |  UNION
          |  SELECT r.id, e.v FROM reach r JOIN edges e ON e.u = r.r),
          |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
          |res AS (
          |  SELECT d.doc_id,
          |    CAST(coalesce(c.comp, d.doc_id) AS BIGINT) AS cluster_rep
          |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
          |sp AS (
          |  SELECT doc_id, cluster_rep,
          |    CASE WHEN substring(md5(CAST(cluster_rep AS VARCHAR)), 1, 1) <= '9' THEN 'train'
          |         WHEN substring(md5(CAST(cluster_rep AS VARCHAR)), 1, 1) <= 'c' THEN 'val'
          |         ELSE 'test' END AS split,
          |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '9' THEN 'train'
          |         WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'c' THEN 'val'
          |         ELSE 'test' END AS naive_split
          |  FROM res)
          |SELECT doc_id, cluster_rep, split,
          |  split <> naive_split AS leak_repaired
          |FROM sp ORDER BY doc_id""".stripMargin),
    "dedup_fuzzy_verify" ->
      (duckShingles +
        """,
          |p AS (
          |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
          |    round(count(*) * 1.0 / (any_value(a.n) + any_value(b.n) - count(*)), 6) AS jaccard
          |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2
          |  HAVING round(count(*) * 1.0 / (any_value(a.n) + any_value(b.n) - count(*)), 6) >= 0.8)
          |SELECT p.doc_id_1, p.doc_id_2, p.jaccard,
          |  CAST(levenshtein(d1.text, d2.text) AS INTEGER) AS edit_dist,
          |  round(1.0 - levenshtein(d1.text, d2.text) * 1.0
          |    / greatest(length(d1.text), length(d2.text)), 6) AS edit_sim
          |FROM p JOIN documents d1 ON p.doc_id_1 = d1.doc_id
          |       JOIN documents d2 ON p.doc_id_2 = d2.doc_id
          |ORDER BY doc_id_1, doc_id_2""".stripMargin),
    // exact-vs-exact: hash-matches the Spark row iff minhash banding
    // achieves FULL recall on this (seed-pinned, deterministic) fixture
    "dedup_minhash_recall" ->
      (duckShingles +
        """,
          |p AS (
          |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
          |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2
          |  HAVING round(count(*) * 1.0 / (any_value(a.n) + any_value(b.n) - count(*)), 6) >= 0.6)
          |SELECT count(*) AS n_exact, CAST(count(*) AS BIGINT) AS n_found,
          |  round(count(*) * 1.0 / count(*), 6) AS recall
          |FROM p""".stripMargin),
    // exact-vs-exact: the banding's symmetric difference against the
    // all-pairs formulation is provably empty (pigeonhole at hamming <= 3
    // over 4x16-bit bands), so the oracle states the pinned literals; any
    // lost or spurious banded pair makes the Spark row diverge
    "dedup_simhash_parity" ->
      """SELECT CAST(0 AS BIGINT) AS missing_from_banded,
        |  CAST(0 AS BIGINT) AS extra_in_banded, TRUE AS parity""".stripMargin)
}
