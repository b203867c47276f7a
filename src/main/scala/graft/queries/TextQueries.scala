package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.DuckDbRound.round
import graft.queries.QueryArtifacts.SessionDir
import graft.streaming.StreamingOps

/** Text-analysis operators for a training-data pipeline: token/char stats,
  * n-gram-heuristic language ID, quality scoring, regex tokenization,
  * document fingerprinting.
  *
  * All heuristics are expressed purely in deterministic arithmetic +
  * codegen'd built-ins (no UDFs, no transcendentals), so (a) they stay
  * inside whole-stage codegen at 100 TB and (b) the DuckDB oracles can
  * mirror them exactly.
  */
object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  import graft.operators.TextAnalysis
  import TextAnalysis.{enMarkers => enM, esMarkers => esM, frMarkers => frM,
    deMarkers => deM, stopwords}

  private def toks(c: Column): Column = TextAnalysis.tokens(c)
  private def score(tokens: Column, markers: Seq[String]): Column =
    size(filter(tokens, t => t.isInCollection(markers)))

  /** The composite round-4 quality score over the `text` column — the
    * cross-engine reproducibility contract (text_quality proves it
    * bit-identical against the DuckDB oracle; the soft sampler and the
    * corpus report reuse it by reference). One underlying definition in
    * [[TextAnalysis.qualityScoreRaw]], shared with the batch filter chain
    * and the streaming gate's integer-scaled forms. */
  private def quality4: Column =
    round(TextAnalysis.qualityScoreRaw(col("text")), 4)

  /** One DURABLE trained BPE merge table per (session, dir) — the same
    * build-once file lifecycle as the bigram LM and the classifier: a
    * later session reopens the manifest-validated merge table with zero
    * training jobs (BpeSpec asserts the skip) and encodes under the
    * IDENTICAL vocabulary, which is the contract a tokenizer must keep
    * anyway. Training scans the corpus once for the bounded top-word
    * sample (see BpeTokenizer.train). */
  private[queries] val bpeMerges = QueryArtifacts.durable("bpe",
      QueryArtifacts.at("bpe-merges", lmSourceTag),
      graft.operators.BpeTokenizer.loadIfValid) { (spark, dir, path, tag) =>
    val merges = graft.operators.BpeTokenizer.train(
      Tables.load(spark, dir, "documents"), "text",
      nMerges = 200, vocabWords = 5000)
    graft.operators.BpeTokenizer.write(spark, path, merges, tag)
    merges
  } { (spark, _, merges) =>
    // one literal encode under the reopened merge table
    spark.range(1).select(
      size(graft.operators.BpeTokenizer.encode(
        lit("the quick brown fox"), merges)).cast("long").as("n"))
      .head().getLong(0)
  }

  /** One persisted bigram-LM score table per (session, dir), shared by
    * lm_bigram_quality and perplexity_buckets — the bucketing query reads
    * the scored table TWICE (histogram pass + assignment pass), so without
    * result-level persistence the whole LM training shuffle family would
    * re-run per consumer (and twice inside one consumer). The result is
    * one row per document with three numeric columns — far smaller than
    * the corpus text it derives from. Same residency rationale and
    * lifecycle as DedupQueries' pair caches. */
  private val bigramScoresCache = QueryArtifacts.cache[SessionDir, DataFrame](_.unpersist())

  private def bigramScores(spark: SparkSession, dir: String): DataFrame =
    bigramScoresCache((spark, dir))(TextAnalysis.bigramLm(Tables.load(spark, dir, "documents"),
          "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** One persisted corpus-internal TRIGRAM-LM score table per (session,
    * dir) — the interpolated absolute-discount trigram chain
    * ([[graft.operators.TrigramLm]]) trained on the whole corpus and
    * scoring it, the model the perplexity partition now stands on (the
    * CCNet reference LM is a 5-gram; the bigram table above remains as
    * the lighter signal). Same residency rationale as [[bigramScores]]:
    * the bucketing consumer reads it twice. */
  private val trigramScoresCache = QueryArtifacts.cache[SessionDir, DataFrame](_.unpersist())

  private def trigramScores(spark: SparkSession, dir: String): DataFrame =
    trigramScoresCache((spark, dir)) {
      val docs = Tables.load(spark, dir, "documents")
      graft.operators.TrigramLm.train(docs, "text")
        .score(docs, "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** The perplexity-tercile bucket table, shared by perplexity_buckets
    * and curriculum_order (same residency rationale as the LM scores it
    * derives from: one row per document, three narrow columns; the
    * bucketing pass otherwise re-runs its histogram + threshold
    * aggregates per consumer). Since r12 the score underneath is the
    * interpolated TRIGRAM LM — a sharper fluency signal than the add-one
    * bigram, same deterministic-rational discipline. */
  private val bucketsCache = QueryArtifacts.cache[SessionDir, DataFrame](_.unpersist())

  private def perplexityBuckets(spark: SparkSession, dir: String): DataFrame =
    bucketsCache((spark, dir))(TextAnalysis.quantileBuckets(
          trigramScores(spark, dir).select(col("doc_id"), col("pred_prob")),
          "doc_id", "pred_prob", Seq("tail", "middle", "head"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The capstone's three-stage SURVIVOR MANIFEST (dedup semi +
    * blocklist/decontamination antis + length gate), one narrow
    * (doc_id, lang, n_tokens) row per survivor, persisted per (session,
    * dir): the waterfill fold, the mixture filter, and the downstream
    * double-reading two-level scans all read ONE materialization — and
    * so does the row's min-of-2 second pass, which previously re-ran the
    * whole dedup + bloom-join subtree into a fresh localCheckpoint every
    * pass (r14 measured the warm pass SLOWER than the cold one from the
    * rebuild competing with resident caches). A plain persist (not
    * localCheckpoint) so the teardown can release it explicitly. */
  private val fullSurvCache = QueryArtifacts.cache[SessionDir, DataFrame](_.unpersist())

  private def fullSurvivors(spark: SparkSession, dir: String): DataFrame =
    fullSurvCache((spark, dir)) {
      val docs = Tables.load(spark, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val evalSet = docs.filter(col("doc_id") % 5 === 0)
      val keepers = graft.operators.Dedup.exact(corpus, "doc_id", "text")
        .select(col("keep_doc_id").as("doc_id"))
      val blocked = TextAnalysis.blocklistSignals(corpus, "doc_id", "text",
          blockedTokens = Seq("dup"), blockedPhrases = Seq("slow scan"))
        .filter(!col("keep")).select("doc_id")
      val contaminated = graft.operators.Dedup.ngramContamination(corpus,
          evalSet, "doc_id", "text", n = 13, expectedEvalNgrams = 1L << 16)
        .select("doc_id")
      corpus
        .join(keepers, Seq("doc_id"), "left_semi")
        .join(blocked, Seq("doc_id"), "left_anti")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        .filter(col("n_tokens") >= 20)
        .select("doc_id", "lang", "n_tokens")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** corpus_materialize_curriculum's survivor manifest (exact-dedup semi +
    * length gate over the WHOLE corpus — no blocklist/decontamination
    * stages, unlike [[fullSurvivors]]'), persisted once per (session,
    * dir) for the same r14 reason documented there: the waterfill fold,
    * the mixture filter, and the min-of-2 second pass previously re-ran
    * the dedup subtree into a fresh per-pass localCheckpoint every pass.
    * Same narrow (doc_id, lang, n_tokens) row, same teardown leg. */
  private val currSurvCache = QueryArtifacts.cache[SessionDir, DataFrame](_.unpersist())

  private def curriculumSurvivors(spark: SparkSession, dir: String): DataFrame =
    currSurvCache((spark, dir)) {
      val docs = Tables.load(spark, dir, "documents")
      val keepers = graft.operators.Dedup.exact(docs, "doc_id", "text")
        .select(col("keep_doc_id").as("doc_id"))
      docs.join(keepers, Seq("doc_id"), "left_semi")
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        .filter(col("n_tokens") >= 20)
        .select("doc_id", "lang", "n_tokens")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** The waterfill RATE MAP over a session-cached survivor manifest —
    * a pure |strata|-row function of (manifest, weights, budget), so one
    * fold per (session, dir, budget) serves every pass of both
    * materialize capstones (the fold's collect barrier was otherwise the
    * dominant per-pass driver round-trip). Bounded: five (lang -> rate)
    * doubles per entry, the metadata-contract of the mixing samplers. */
  private val waterfillRatesCache =
    QueryArtifacts.cache[(SparkSession, String, String), Map[String, Double]]()

  private def waterfillRates(surv: DataFrame, spark: SparkSession,
      dir: String, manifestTag: String, budget: Long): Map[String, Double] =
    waterfillRatesCache((spark, dir, s"$manifestTag:$budget"))(
      graft.operators.Sampling.waterfillAllocation(surv, "lang",
          "n_tokens", Map("de" -> 2L, "en" -> 1L, "es" -> 2L, "fr" -> 2L,
            "zh" -> 2L), budget = budget)
        .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap)

  /** Drift-monitor replay, run once per (session, dir) by the first call
    * of its row; the result is feature-count-sized, bounded by the
    * category codomain. */
  private val driftReplayCache = QueryArtifacts
    .cache[SessionDir, Array[StreamingOps.DriftRow]]()

  private def driftReplay(spark: SparkSession,
      dir: String): Array[StreamingOps.DriftRow] =
    driftReplayCache((spark, dir)) {
      import spark.implicits._
      val docs = Tables.load(spark, dir, "documents")
      val ref = StreamingOps.driftReferenceCounts(
        docs.filter(col("doc_id") % 5 =!= 0))
      val slice = docs.filter(col("doc_id") % 5 === 0)
      val run = StreamingOps.replay(spark, "text-drift", dir,
          (0 until 3).map(i => slice.filter(col("doc_id") % 3 === i)))(
        StreamingOps.driftMonitorStream(spark, _, ref))(
        (w, r) => w.outputMode("update").format("memory").queryName(r.table))
      val all = spark.table(run.table)
        .as[StreamingOps.DriftRow].collect()
      all.groupBy(_.feature).map { case (_, rs) => rs.maxBy(_.n_new) }
        .toArray
    }

  /** Stateless GATE-CHAIN replay, run once per (session, dir) by the
    * first call of its row: the whole documents table delivered in three
    * doc_id-sharded micro-batches through the composed quality ->
    * blocklist -> trained-classifier ingest chain
    * ([[graft.streaming.StreamingOps.qualityGateStream]] ->
    * `blocklistGateStream` -> `classifierGateStream` under the
    * manifest-reopened durable model — serve-on-the-stream), survivors
    * appended to a parquet sink; returns the sink path. Every gate is a
    * stateless per-row projection, so the survivor SET is
    * delivery-invariant under any sharding — the batch keep-set
    * derivation the three batch rows share is the oracle, and any
    * stream/batch verdict drift (a score expression forked, a threshold
    * compared off-scale, a gate reordered into a stateful shape) turns
    * the row red. */
  private val gateChainReplayCache = QueryArtifacts.cache[SessionDir, String]()

  private def gateChainReplaySink(spark: SparkSession, dir: String): String =
    gateChainReplayCache((spark, dir)) {
      val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
      val clf = clfPersisted(spark, dir)
      StreamingOps.replay(spark, "gate-chain", dir,
          (0 until 3).map(i => docs.filter(col("doc_id") % 3 === i)))(stream =>
        StreamingOps.classifierGateStream(
          StreamingOps.blocklistGateStream(
            StreamingOps.qualityGateStream(stream, "text"), "text",
            blockedTokens = Seq("dup"), blockedPhrases = Seq("slow scan")),
          clf, "text").select("doc_id"))(StreamingOps.appendParquet).out
    }

  /** The labeled %5==0 SEED SLICE every classifier train reads —
    * (doc_id, lang, text), persisted once per (session, dir): the
    * word-feature quality/domain train (in-session and durable-miss) and
    * the char-trigram language-ID train each tokenize it their own way,
    * but the parquet scan + filter materializes ONCE instead of once per
    * train (r14's only reproducible warm-cost growth was this family's
    * duplicate corpus scans). */
  private val seedSliceCache = QueryArtifacts.cache[SessionDir, DataFrame](_.unpersist())

  private def seedSlice(spark: SparkSession, dir: String): DataFrame =
    seedSliceCache((spark, dir))(
      Tables.load(spark, dir, "documents")
        .filter(col("doc_id") % 5 === 0)
        .select("doc_id", "lang", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** One IN-SESSION word-feature NB model per (session, dir) — the mem
    * side of classifier_persisted's parity gate, trained once on the
    * shared seed slice with its bounded model tables persisted (scoring
    * twice per bench row re-ran the whole train before r15). */
  private val memClfCache =
    QueryArtifacts.cache[SessionDir, graft.operators.QualityClassifier](_.unpersistTables())

  private def memClf(spark: SparkSession,
      dir: String): graft.operators.QualityClassifier =
    memClfCache((spark, dir))(
      graft.operators.QualityClassifier
        .train(seedSlice(spark, dir), "text", "lang").cacheTables())

  /** The durable classifier's scored HELD-OUT table (%5!=0 under the
    * frozen %5==0-trained model), persisted once per (session, dir) —
    * score-once / consume-many, the trigramScores discipline:
    * classifier_train_score IS this table, classifier_persisted's file
    * side compares against it, and corpus_filter_classifier reuses it for
    * the held-out 80% of its corpus-wide scoring, so the word-feature
    * serve scan runs ONCE instead of three times. */
  private val clfHeldScoresCache = QueryArtifacts.cache[SessionDir, DataFrame](_.unpersist())

  private def clfHeldScores(spark: SparkSession, dir: String): DataFrame =
    clfHeldScoresCache((spark, dir))(
      clfPersisted(spark, dir).score(
          Tables.load(spark, dir, "documents")
            .filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Release every family's session artifacts ([[QueryArtifacts.clearAll]]). */
  def clearCaches(): Unit = QueryArtifacts.clearAll()

  val queries: ListMap[String, Q] = ListMap(
    // Char/token statistics per document
    "text_stats" -> ((spark, dir) => {
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).as("n_chars"),
          size(toks(col("text"))).as("n_tokens"),
          size(array_distinct(toks(col("text")))).as("n_distinct_tokens"),
          round(length(regexp_replace(col("text"), " ", ""))
            / size(toks(col("text"))), 4).as("avg_token_len"))
        .orderBy("doc_id")
    }),
    // Language ID: n-gram/stopword-marker heuristic with a fixed priority
    // argmax (en > es > fr > de > und)
    "lang_id" -> ((spark, dir) => {
      val t = toks(col("text"))
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          score(t, enM).as("s_en"), score(t, esM).as("s_es"),
          score(t, frM).as("s_fr"), score(t, deM).as("s_de"),
          TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),
    // Quality score: linear blend of stopword ratio, length saturation and
    // token-length shape; clamped to [0,1]. Arithmetic only — no exp/ln —
    // so the oracle is bit-identical.
    "text_quality" -> ((spark, dir) => {
      val t = toks(col("text"))
      val nTok = size(t).cast("double")
      val stopRatio = score(t, stopwords) / nTok
      val avgLen = length(regexp_replace(col("text"), " ", "")) / nTok
      val lenShape = lit(1.0) - least(abs(avgLen - 5.0) / 5.0, lit(1.0))
      val sizeSat = least(nTok / 100.0, lit(1.0))
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          round(stopRatio, 4).as("stopword_ratio"),
          round(sizeSat, 4).as("size_saturation"),
          round(lenShape, 4).as("len_shape"),
          quality4.as("quality"))
        .orderBy("doc_id")
    }),
    // Per-language lexical-diversity report (TextAnalysis
    // .diversityReport): type/token ratio + Simpson repeat-rate (both
    // pure integer arithmetic until one division) and unigram Shannon
    // entropy in QUANTIZED micro-nats — every ln rounds to an integer
    // the instant it is computed (the TrigramLm p14 discipline), so the
    // entropy mass is an exact order-free integer sum on both sides —
    // the dashboard that catches a stratum being flooded by templated
    // text between snapshots.
    "corpus_diversity_report" -> ((spark, dir) =>
      graft.operators.TextAnalysis.diversityReport(
        Tables.load(spark, dir, "documents"), "lang", "text")),
    // Corpus health report (r11): the per-language dashboard a pipeline
    // checks before training — doc/token totals, mean quality, and
    // exact-duplicate counts in ONE aggregate pass. Mean quality sums the
    // x1e4 integer-scaled round-4 scores (integer sums are
    // order-independent, so the mean is bit-reproducible — a double sum's
    // last-ulp would depend on aggregation order) and divides once.
    "corpus_stats_report" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      val q4 = quality4
      val keepers = graft.operators.Dedup.exact(docs, "doc_id", "text")
        .select(col("keep_doc_id").as("doc_id")).withColumn("__keep", lit(1))
      docs
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        .withColumn("q4s", org.apache.spark.sql.functions
          .round(q4 * 10000, 0).cast("long"))
        .join(keepers, Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          round(sum(col("q4s")).cast("double")
            / (lit(10000.0) * count(lit(1)).cast("double")), 6).as("mean_quality"),
          sum(when(col("__keep").isNull, 1L).otherwise(0L)).as("n_dup_docs"))
        .orderBy("lang")
    }),
    // Snapshot drift report (r11): distribution shift between the
    // %5==0 "new crawl" slice and the %5!=0 reference corpus over three
    // categorical features (language, source, length bucket) — the check
    // a pipeline runs before admitting a new snapshot into the training
    // mix. Per feature: total-variation distance and the largest single
    // category gap. Both stats are computed as INTEGER cross-multiplied
    // numerators (c_ref*n_new - c_new*n_ref) summed/maxed exactly —
    // order-independent like corpus_stats_report's scaled-integer mean —
    // with ONE correctly-rounded division at the end, so the oracle is
    // bit-identical. Shape: one explode to (feature, category), two
    // key-partitioned aggregations, a broadcast join of the 3-row totals
    // table — no windows, no driver state, nothing corpus-sized moves.
    "corpus_drift_report" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      val cat = TextAnalysis.docCategoryPairs(
        docs.withColumn("is_new", col("doc_id") % 5 === 0), Seq("is_new"))
      val perCat = cat.groupBy("feature", "category").agg(
        sum(when(col("is_new"), 1L).otherwise(0L)).as("c_new"),
        sum(when(!col("is_new"), 1L).otherwise(0L)).as("c_ref"))
      val totals = perCat.groupBy("feature")
        .agg(sum("c_ref").as("n_ref"), sum("c_new").as("n_new"))
      // exact integer numerator of (c_ref/n_ref - c_new/n_new) over the
      // common denominator n_ref*n_new
      val num = col("c_ref") * col("n_new") - col("c_new") * col("n_ref")
      perCat.join(broadcast(totals), Seq("feature"))
        .withColumn("anum", abs(num))
        .groupBy("feature").agg(
          count(lit(1)).as("n_categories"),
          min("n_ref").as("n_ref"), min("n_new").as("n_new"),
          round(sum("anum").cast("double")
            / (lit(2.0) * min("n_ref") * min("n_new")), 6).as("tv_dist"),
          round(max("anum").cast("double")
            / (lit(1.0) * min("n_ref") * min("n_new")), 6).as("max_gap"))
        .orderBy("feature")
    }),
    // Streaming drift-monitor REPLAY (r12) — the flatMapGroupsWithState
    // custom-state family's row on the driver ledger: the %5==0 slice
    // streams in three micro-batches through StreamingOps
    // .driftMonitorStream (state = per-feature category histogram,
    // bounded by the category codomain) against reference counts frozen
    // from the %5!=0 slice; after the final batch each feature's LAST
    // emission (the one with the full n_new — counts only grow) must
    // equal the batch corpus_drift_report's row, so the oracle is that
    // report's derivation minus its n_categories column. Update-mode
    // memory sink (a monitor has no append semantics); the collected
    // sink is 3 rows per feature — bounded by construction.
    "streaming_drift_replay" -> ((spark, dir) => {
      import spark.implicits._
      driftReplay(spark, dir).toSeq.toDF()
        .select("feature", "n_ref", "n_new", "tv_dist", "max_gap")
        .orderBy("feature")
    }),
    // Per-language token-length quantile report (r11): exact discrete
    // p25/p50/p75/p95 of tokens-per-document by language — the dashboard
    // that sets packing budgets and truncation policy. Same
    // histogram-not-sort shape as perplexity_buckets, partitioned by
    // language: window partitions are bounded by DISTINCT LENGTHS, never
    // rows, and the quantile thresholds are pure integer arithmetic —
    // bit-identical in the oracle.
    "token_quantiles_report" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
        .select(col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      TextAnalysis.groupedQuantiles(docs, "lang", "n_tokens",
          Seq(("p25", 25, 100), ("p50", 50, 100), ("p75", 75, 100),
            ("p95", 95, 100)))
        .orderBy("lang")
    }),
    // Score-PROPORTIONAL soft sampling (r11): keep probability = the
    // composite quality score itself, instead of a hard threshold — the
    // DCLM-style soft filter that keeps a graded mix (high-quality docs
    // almost surely, mediocre ones at their score) rather than a cliff.
    // The keep decision is the same deterministic per-row md5 fraction as
    // every sampler here, compared against the round-4 score that
    // text_quality already proves bit-identical across engines — so
    // membership is exactly reproducible, no RNG anywhere. One scan, the
    // filter is a pure projection.
    "sample_quality_weighted" -> ((spark, dir) => {
      Tables.load(spark, dir, "documents")
        .withColumn("quality", quality4)
        .filter(graft.operators.Sampling.hashFraction(col("doc_id")) < col("quality"))
        .select("doc_id", "quality")
        .orderBy("doc_id")
    }),
    // Regex tokenizer (BPE-ish classes: letter runs, single digits, other)
    "token_count_regex" -> ((spark, dir) => {
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          expr("size(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9 ]', 0))")
            .as("n_tokens_regex"),
          expr("size(regexp_extract_all(lower(text), '[a-z]+', 0))").as("n_word_tokens"),
          expr("size(regexp_extract_all(lower(text), '[0-9]', 0))").as("n_digit_tokens"))
        .orderBy("doc_id")
    }),
    // Array/higher-order ops over the token array (outputs scalarized so
    // the oracle hash compare stays type-simple)
    "array_ops_docs" -> ((spark, dir) => {
      val t = toks(col("text"))
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          array_join(slice(t, 1, 3), " ").as("first3"),
          array_join(array_sort(slice(t, 1, 3)), " ").as("first3_sorted"),
          array_contains(t, "the").as("has_the"),
          size(array_distinct(t)).as("n_distinct"),
          element_at(t, -1).as("last_token"))
        .orderBy("doc_id")
    }),
    // Content fingerprint: md5 of whitespace-normalized lowercase text
    "doc_fingerprint" -> ((spark, dir) => {
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    }),
    // Corpus term statistics for frequency-based filtering: document
    // frequency, total term frequency, and a pure-arithmetic inverse
    // document frequency (N+1)/(df+1) — the log is deliberately omitted so
    // the oracle is bit-identical (callers compose log() trivially). The
    // N-docs scalar rides in as a 1-row broadcast, not a collected literal.
    // Sketch-then-verify heavy hitters: the frequency-filtering stage every
    // corpus pipeline runs ("terms above phi of all tokens"). Pass 1 is ONE
    // SpaceSaving aggregate (fixed k=512 counters per partition, counter-
    // wise mergeable partials — no per-term shuffle); every term with true
    // frequency > n/k is guaranteed tracked with count_est >= true, and
    // phi = 1% > 1/512, so filtering candidates at count_est > phi*n cannot
    // lose a qualifying term. Pass 2 exact-counts ONLY the <= k candidate
    // terms (broadcast join) — so the output is EXACT and oracle-checkable
    // while the full-corpus GROUP BY is replaced by sketch + bounded
    // recount. At 100 TB this is the difference between shuffling every
    // token and shuffling k counters per partition.
    "heavy_hitters" -> ((spark, dir) => {
      import graft.functions.SpaceSaving.space_saving
      val terms = Tables.load(spark, dir, "documents")
        .select(explode(toks(col("text"))).as("term"))
      val sketch = terms.agg(space_saving(col("term"), 512).as("hh"),
        count(lit(1)).as("n"))
      val cand = sketch.select(col("n"), explode(col("hh")).as("c"))
        .filter(col("c.count_est") > col("n") * 0.01)
        .select(col("c.item").as("term"), col("n"))
      terms.join(broadcast(cand), Seq("term"))
        .groupBy("term")
        .agg(count(lit(1)).as("cnt"), first("n").as("n"))
        .filter(col("cnt") > col("n") * 0.01)
        .select("term", "cnt")
        .orderBy("term")
    }),
    "term_stats" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      val terms = docs.select(col("doc_id"), explode(toks(col("text"))).as("term"))
      val total = docs.agg(count(lit(1)).as("n_docs"))
      // two-level aggregate instead of countDistinct: count(distinct)
      // plans an Expand that doubles the exploded rows before the shuffle;
      // grouping by (term, doc_id) first lets the map-side partial
      // aggregate collapse repeats, so only distinct pairs shuffle
      terms.groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
        .groupBy("term")
        .agg(count(lit(1)).as("df"), sum("tf").as("tf_total"))
        .crossJoin(broadcast(total))
        .filter(col("df") >= 2)
        .select(col("term"), col("df"), col("tf_total"),
          round((col("n_docs") + 1).cast("double") / (col("df") + 1), 6)
            .as("inv_doc_freq"),
          round(col("tf_total") * (col("n_docs") + 1).cast("double") / (col("df") + 1), 6)
            .as("tfidf_total"))
        .orderBy(desc("df"), col("term"))
        .limit(100)
    }),
    // Composed C4/CCNet-style quality FILTER CHAIN: the per-doc keep/drop
    // verdict a web-corpus cleaner actually applies — length, composite
    // quality, repetition and language gates fused into one corpus scan
    // (Catalyst collapses the per-row signals; only the repetition
    // aggregate adds a doc-keyed shuffle, joined back on the doc key).
    // Scores are emitted as INTEGER-scaled values (x1e4 / x1e6) so the
    // threshold booleans — the actual output of a filter — are bit-exact
    // across engines, never a double-rounding coin flip at the boundary.
    // C4 "bad words" blocklist stage (Raffel et al. 2020): docs flagged
    // by a blocked token (word-boundary exact, multiplicity counted) or a
    // blocked phrase (substring). On the fixture 'dup' hits 25 docs and
    // 'slow scan' 23, so kept and dropped rows — and both trigger kinds —
    // all appear. A pure stateless projection; fully hash-checked.
    "blocklist_filter" -> ((spark, dir) => {
      TextAnalysis.blocklistSignals(Tables.load(spark, dir, "documents"),
          "doc_id", "text",
          blockedTokens = Seq("dup"), blockedPhrases = Seq("slow scan"))
        .orderBy("doc_id")
    }),
    "corpus_quality_filter" -> ((spark, dir) => {
      val t = toks(col("text"))
      val quality4 = org.apache.spark.sql.functions.round(
        TextAnalysis.qualityScoreRaw(col("text")) * 1e4, 0).cast("long")
      val docs = Tables.load(spark, dir, "documents")
      val perRow = docs.select(col("doc_id"),
        size(t).cast("long").as("n_tokens"),
        quality4.as("quality4"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
      val rep = docs.select(col("doc_id"), explode(t).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .groupBy("doc_id")
        .agg(org.apache.spark.sql.functions.round(
          count(lit(1)) * 1e6 / sum("tf"), 0).cast("long").as("distinct_ratio6"))
      perRow.join(rep, "doc_id")
        .withColumn("keep_length", col("n_tokens") >= 20)
        .withColumn("keep_quality", col("quality4") >= 4000)
        .withColumn("keep_repetition", col("distinct_ratio6") >= 300000)
        .withColumn("keep_lang", col("lang_pred") === "en")
        .withColumn("keep", col("keep_length") && col("keep_quality") &&
          col("keep_repetition") && col("keep_lang"))
        .orderBy("doc_id")
    }),
    // Curation FUNNEL report — the standard pipeline-debugging artifact:
    // for every document, the FIRST stage that rejects it (exact-dup ->
    // blocklist -> quality) or 'kept'. Each verdict is the stage's own
    // operator reused verbatim (the quality stage literally calls the
    // corpus_quality_filter entry), so the funnel can never disagree
    // with the stages it reports on; the oracle shares the quality CTEs
    // the same way. Three doc_id-keyed joins — co-partitioned shuffles,
    // no new corpus-sized state.
    "corpus_funnel_report" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      val keepers = graft.operators.Dedup.exact(docs, "doc_id", "text")
        .select(col("keep_doc_id").as("doc_id"), lit(true).as("is_keeper"))
      val bl = TextAnalysis.blocklistSignals(docs, "doc_id", "text",
          Seq("dup"), Seq("slow scan"))
        .select(col("doc_id"), col("keep").as("bl_keep"))
      val q = queries("corpus_quality_filter")(spark, dir)
        .select(col("doc_id"), col("keep").as("q_keep"))
      docs.select("doc_id")
        .join(keepers, Seq("doc_id"), "left")
        .join(bl, "doc_id")
        .join(q, "doc_id")
        .select(col("doc_id"),
          when(col("is_keeper").isNull, "duplicate")
            .when(!col("bl_keep"), "blocklist")
            .when(!col("q_keep"), "quality")
            .otherwise("kept").as("drop_stage"))
        .orderBy("doc_id")
    }),
    // Gopher quality rule set (Rae et al. 2021, appendix A1.1): the
    // MassiveWeb repetition + heuristic filter — word-count/word-shape
    // rules, symbol and bullet/ellipsis line rules, within-doc duplicate
    // lines, and the full {2..10}-gram char-fraction ladder — over the
    // paged view (deterministic 10-token lines; the corpus has no
    // newlines), with a corpus-appropriate stop list ("the"/"a" are the
    // only function words in the synthetic vocabulary). All fractions
    // integer-scaled x1e6 so the keep verdict is bit-exact.
    "gopher_quality_filter" -> ((spark, dir) => {
      TextAnalysis.gopherSignals(DedupQueries.pagedDocs(spark, dir),
          "doc_id", "page",
          stops = Seq("the", "a", "be", "to", "of", "and", "that", "have"))
        .orderBy("doc_id")
    }),
    // BM25 keyword retrieval (seed-retrieval curation primitive): top-20
    // docs for a 3-term query, rational-odds idf so the score is
    // hash-checkable (see TextAnalysis.bm25Rank). Deterministic: rounded
    // score with a doc_id tie-break gives a total order before the limit.
    "bm25_rank" -> ((spark, dir) => {
      graft.operators.TextAnalysis.bm25Rank(
          Tables.load(spark, dir, "documents"), "doc_id", "text",
          Seq("hash", "join", "vector"))
        .orderBy(desc("bm25"), col("doc_id"))
        .limit(20)
    }),
    // The SAME ranking served from the durable term-partitioned inverted
    // index (build-once/serve-many; only the query terms' hash buckets
    // are read — static partition pruning, the IVF probe posture applied
    // to text). Shares bm25_rank's oracle: served == fused bit-for-bit.
    "bm25_served" -> ((spark, dir) => {
      invertedIndexPersisted(spark, dir)
        .serve(Seq("hash", "join", "vector"))
        .orderBy(desc("bm25"), col("doc_id"))
        .limit(20)
    }),
    // Append + COMPACT lifecycle on the driver gate (r16): the same
    // 3-term ranking served from an index that was built on half the
    // corpus, extended by a daily append batch (df merge + ledger), and
    // then compacted back to one file per bucket — hash-checked against
    // the SAME fused-derivation oracle as bm25_rank/bm25_served, so a
    // lost posting row, a double-counted df, or a compaction that
    // dropped/duplicated rows turns exactly this row red while the
    // build-once row stays green.
    "bm25_compacted" -> ((spark, dir) => {
      invAppendedCompacted(spark, dir)
        .serve(Seq("hash", "join", "vector"))
        .orderBy(desc("bm25"), col("doc_id"))
        .limit(20)
    }),
    // EXCISION lifecycle on the driver gate (r17) — the takedown story:
    // the same 3-term ranking served from an index built on the FULL
    // corpus from which the doc_id%3==0 slice was then excised
    // (tombstone + df/N/avgdl correction) and compacted (tombstoned rows
    // physically dropped) — hash-checked against a FRESH BM25 derivation
    // over only the surviving corpus, so a stale df, an undecremented N,
    // a wrong avgdl, or an excised doc resurfacing in the ranking turns
    // exactly this row red. The stats refresh is the point: BM25 weights
    // every survivor by corpus-level statistics the excision changed.
    "bm25_excised" -> ((spark, dir) => {
      invExcisedCompacted(spark, dir)
        .serve(Seq("hash", "join", "vector"))
        .orderBy(desc("bm25"), col("doc_id"))
        .limit(20)
    }),
    // HYBRID retrieval (the RAG first-stage ranker): the same 3-term
    // keyword query served from the term-pruned inverted index, fused by
    // reciprocal rank (k=60, Cormack et al. 2009) with the exact dense
    // top-20 for doc 0's embedding from the bounded-heap CosineTopK plan
    // — doc 0 is the request's source doc, excluded from both lists.
    // Corpus-sized work happens only in the two upstream operators
    // (pruned posting scan; one heap scan); the fusion join and both
    // rank windows touch <= 40 rows by construction (Retrieval.rrfFuse).
    // A doc surfaced by only one signal keeps a NULL rank for the other.
    "retrieval_hybrid_rrf" -> ((spark, dir) => {
      val lex = graft.operators.Retrieval.rankBy(
        invertedIndexPersisted(spark, dir)
          .serve(Seq("hash", "join", "vector"))
          .filter(col("doc_id") =!= 0)
          .orderBy(desc("bm25"), col("doc_id")).limit(20),
        "doc_id", "bm25", "lex_rank")
      val emb = Tables.load(spark, dir, "embeddings")
      val q0 = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      val dense = graft.plans.CosineTopK
        .topK(spark, emb, Seq((0L, q0)), 20, "vec_id", "embedding")
        .select(col("c_id").as("doc_id"), col("rank").as("dense_rank"))
      graft.operators.Retrieval.rrfFuse(lex, dense, "doc_id")
    }),
    // PRF query expansion (Rocchio/RM3-lite, the classic second-pass
    // retrieval refinement): BM25 top-10 feedback docs for the seed
    // query, top-3 non-seed terms by total feedback term frequency
    // (bounded collect — 3 strings, so the expanded serve still prunes
    // to the query terms' buckets), then the SAME served scoring over
    // seed + expansion. The synthetic corpus's flat 31-term vocabulary
    // makes the chosen terms semantically arbitrary, so — the
    // lang_id_trained pattern — this row gates the two-pass lifecycle
    // and arithmetic at all three SFs while RetrievalSpec gates the
    // discrimination (df-capped expansion on a planted fixture where
    // expansion surfaces a doc the seed query cannot reach).
    "retrieval_prf_expand" -> ((spark, dir) => {
      val idx = invertedIndexPersisted(spark, dir)
      val expanded = graft.operators.Retrieval.prfExpandedQuery(
        idx, Tables.load(spark, dir, "documents"), "doc_id", "text",
        Seq("hash", "join", "vector"))
      graft.operators.Retrieval.rankBy(
          idx.serve(expanded)
            .orderBy(desc("bm25"), col("doc_id")).limit(20),
          "doc_id", "bm25", "rank")
        .select("rank", "doc_id", "matched_terms", "bm25")
        .orderBy("rank")
    }),
    // Result-page snippet extraction (Retrieval.bestWindow): the served
    // BM25 top-5 for the standing query, each document highlighted at
    // its best 8-token window — max DISTINCT query-term hits, leftmost
    // tie-break, selected by one codegen'd (hits, -start) struct-max so
    // the whole pass is a stateless projection over the 5 joined-back
    // rows. Fully hash-checked: the oracle replays the window scan with
    // list comprehensions and takes the same leftmost max.
    "retrieval_snippets" -> ((spark, dir) => {
      val idx = invertedIndexPersisted(spark, dir)
      val terms = Seq("hash", "join", "vector")
      val top = graft.operators.Retrieval.rankBy(
          idx.serve(terms).orderBy(desc("bm25"), col("doc_id")).limit(5),
          "doc_id", "bm25", "rank")
        .select("rank", "doc_id")
      val hits = Tables.load(spark, dir, "documents")
        .join(broadcast(top), "doc_id")
      graft.operators.Retrieval.bestWindow(hits, "doc_id", "text", terms,
          windowTokens = 8, carryCols = Seq("rank"))
        .orderBy("rank")
    }),
    // "Did you mean" query correction against the served index's term
    // sidecar (Retrieval.correctionReport): each query term maps to the
    // vocab term minimizing (levenshtein asc, df desc, term asc) within
    // 2 edits — 'join' is its own distance-0 argmin, 'haash'/'qery'
    // correct to 'hash'/'query', and 'zzzzzz' has no candidate so it
    // passes through with NULL dist/df. One scan of the BOUNDED vocab
    // sidecar against the broadcast query set; levenshtein is the same
    // unit-cost edit distance in Spark and DuckDB, so the whole report
    // is hash-checked.
    "retrieval_fuzzy_correct" -> ((spark, dir) => {
      val idx = invertedIndexPersisted(spark, dir)
      graft.operators.Retrieval.correctionReport(
        idx, Seq("haash", "join", "qery", "zzzzzz"))
    }),
    // ...and the corrected query served end to end: the fuzzy-corrected
    // term list feeds the SAME term-bucket-pruned BM25 serving as
    // bm25_served, so this row pins the full did-you-mean lifecycle
    // (correct -> serve) — scores certify exactly the corrected term set
    // {hash, join, query} (the unmatched passthrough contributes no
    // postings).
    "retrieval_fuzzy_serve" -> ((spark, dir) => {
      val idx = invertedIndexPersisted(spark, dir)
      val corrected = graft.operators.Retrieval.correctTerms(
        idx, Seq("haash", "join", "qery", "zzzzzz"))
      graft.operators.Retrieval.rankBy(
          idx.serve(corrected)
            .orderBy(desc("bm25"), col("doc_id")).limit(20),
          "doc_id", "bm25", "rank")
        .select("rank", "doc_id", "matched_terms", "bm25")
        .orderBy("rank")
    }),
    // Term-PROXIMITY scoring (r15): for every document containing BOTH
    // query terms, the minimum token distance between an occurrence of
    // each — the phrase/nearness signal a ranker layers over BM25 (bag-
    // of-words can't tell "hash join" from "hash ... 500 tokens ... join").
    // Stateless per-row projection: positions via an indexed transform +
    // filter, the min over the |p1|x|p2| pair distances as one codegen'd
    // nested-array expression — bounded by the document's own occurrence
    // counts, no shuffle, no UDF; at scale the caller runs it on the
    // bounded top-k join-back (the bestWindow snippet contract), the
    // full-corpus form here is the oracle-checkable stress shape.
    "retrieval_proximity" -> ((spark, dir) => {
      val t = toks(col("text"))
      def positions(term: String) = filter(
        transform(t, (w, i) => when(w === term, i).otherwise(lit(-1))),
        x => x >= 0)
      val p1 = positions("hash")
      val p2 = positions("join")
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), size(p1).as("n_a"), size(p2).as("n_b"),
          array_min(flatten(transform(p1,
            a => transform(p2, b => abs(a - b))))).as("min_dist"))
        .filter(col("n_a") >= 1 && col("n_b") >= 1)
        .orderBy("doc_id")
    }),
    // Collocation mining (r15): top-20 bigram collocations by DICE
    // coefficient 2·n_ab/(n_a+n_b) — the phrase-mining signal feeding
    // tokenizer vocabularies (multi-word entries), stop-phrase lists, and
    // boilerplate dashboards; Dice keeps the estimator EXACT under the
    // oracle discipline (two integer counts, one rounded division — no
    // corpus total, no log, unlike PMI). Shape: adjacent pairs from one
    // indexed transform (docs under 2 tokens guarded out — sequence()
    // would count DOWN and fabricate phantom pairs, the charNgrams
    // lesson), counts shuffle at bigram-vocab size with map-side combine,
    // unigram counts join at vocab size, and the top-20 runs as
    // TakeOrderedAndProject — never a global sort materialization.
    "collocation_dice" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
        .filter(col("text").isNotNull)
        .select(toks(col("text")).as("tk"))
      val bigrams = docs.filter(size(col("tk")) >= 2)
        .select(explode(expr("transform(sequence(0, size(tk) - 2), " +
          "i -> struct(tk[i] AS w1, tk[i + 1] AS w2))")).as("b"))
        .select("b.w1", "b.w2")
      val bc = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 5)
      val uc = docs.select(explode(col("tk")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
      bc.join(uc.select(col("w").as("w1"), col("n").as("n1")), "w1")
        .join(uc.select(col("w").as("w2"), col("n").as("n2")), "w2")
        .select(col("w1"), col("w2"), col("n_ab"),
          round(lit(2.0) * col("n_ab") / (col("n1") + col("n2")), 6)
            .as("dice"))
        .orderBy(col("dice").desc, col("w1"), col("w2"))
        .limit(20)
    }),
    // PII scrubbing: count + redact emails / URLs / long digit runs — the
    // compliance-filtering stage of a training-data pipeline. Patterns are
    // dialect-portable (same semantics in Java regex and DuckDB's RE2);
    // the scrubbed text is fingerprinted rather than emitted so the result
    // stays hash-compact.
    "text_scrub_pii" -> ((spark, dir) => {
      // DataFrame-API regex calls ONLY: routing the pattern through
      // expr()/SQL would strip the \. escape at string-literal parse time
      // (SQL unescaping), silently turning the dot into a wildcard and
      // desynchronizing the counts from the replace path and the oracle
      val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val urlRe = "https?://[^ ]+"
      val numRe = "[0-9]{7,}"
      val low = lower(col("text"))
      def nMatches(re: String): org.apache.spark.sql.Column =
        size(regexp_extract_all(low, lit(re), lit(0)))
      val scrubbed = regexp_replace(regexp_replace(regexp_replace(low,
        emailRe, "[EMAIL]"), urlRe, "[URL]"), numRe, "[NUM]")
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          nMatches(emailRe).as("n_emails"),
          nMatches(urlRe).as("n_urls"),
          nMatches(numRe).as("n_long_nums"),
          md5(scrubbed).as("scrubbed_fingerprint"))
        .orderBy("doc_id")
    }),
    // Deterministic corpus split + sampling: md5-range assignment — the
    // reproducible-at-scale alternative to Bernoulli sampling (stable
    // under reruns, partition layout, and engine: both engines hash the
    // same bytes). First hex digit: 0-9 train (~62.5%), a-c val (~18.75%),
    // d-f test (~18.75%); sampled flag = first two digits < '1a' (~10%).
    "doc_split_assign" -> ((spark, dir) => {
      val h = md5(col("doc_id").cast("string"))
      val d1 = substring(h, 1, 1)
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), h.as("split_hash"),
          when(d1 <= "9", "train").when(d1 <= "c", "val").otherwise("test")
            .as("split"),
          (substring(h, 1, 2) < "1a").as("in_10pct_sample"))
        .orderBy("doc_id")
    }),
    // Unicode canonicalization fingerprints (NFC + accent-strip via the
    // native codegen'd kernel): visually-identical strings with different
    // codepoint sequences must fingerprint identically before dedup
    "text_normalize" -> ((spark, dir) => {
      import graft.functions.functions.{nfc_normalize, strip_accents}
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          md5(nfc_normalize(col("text"))).as("nfc_fingerprint"),
          length(strip_accents(col("text"))).as("len_no_accents"))
        .orderBy("doc_id")
    }),
    // Repetition / boilerplate detection: most-common-token share and
    // distinct-token share per document (high top_token_ratio or low
    // distinct_ratio flags templated/spammy text)
    "text_repetition" -> ((spark, dir) => {
      val ex = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      ex.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .groupBy("doc_id")
        .agg(sum("tf").as("n_tokens"), max("tf").as("max_tf"),
          count(lit(1)).as("n_distinct"))
        .select(col("doc_id"), col("n_tokens"), col("max_tf"), col("n_distinct"),
          round(col("max_tf") / col("n_tokens"), 6).as("top_token_ratio"),
          round(col("n_distinct") / col("n_tokens"), 6).as("distinct_ratio"))
        .orderBy("doc_id")
    }),
    // Corpus-level boilerplate mining: the 13-grams shared by the most
    // documents (C4-style repeated-span detection at corpus granularity —
    // headers, disclaimers, navigation chrome — complementing the per-doc
    // text_repetition score). One explode through the codegen'd shingle
    // kernel -> partial-aggregated groupBy keyed by the n-gram -> top-25;
    // the shuffle carries (ngram, partial distinct state), never
    // documents, and the top-k is a TakeOrdered, not a global sort.
    "boilerplate_ngrams" -> ((spark, dir) => {
      graft.operators.Dedup.withShingles(
          Tables.load(spark, dir, "documents"), "text", 13)
        .select(col("doc_id"), explode(col("shingles")).as("ngram"))
        // the shingle kernel emits a per-doc DISTINCT set, so every
        // (ngram, doc_id) row is unique and count(1) IS the distinct doc
        // count — same n_docs, one aggregation exchange instead of the
        // two countDistinct plans (partial-distinct regroup + final)
        .groupBy("ngram")
        .agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 2)
        .orderBy(desc("n_docs"), col("ngram"))
        .limit(25)
    }),
    // REAL byte-pair encoding (not the regex proxy): merges trained once
    // per (session, dir) on the bounded top-word sample, encode runs in
    // whole-stage codegen (functions.BpeEncode). Rows-only — the learned
    // merge table is engine-private — gated by hash-checked bpe_gate
    // below.
    "bpe_tokenize" -> ((spark, dir) => {
      val t = graft.operators.BpeTokenizer.encode(col("text"), bpeMerges(spark, dir))
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          size(t).as("n_bpe_tokens"),
          round(length(regexp_replace(lower(col("text")), " ", ""))
            .cast("double") / greatest(size(t), lit(1)), 4).as("chars_per_token"))
        .orderBy("doc_id")
    }),
    // Tokenizer gate: BPE merges only ever CONCATENATE within a word, so
    // (a) concat(tokens) must reproduce the space-stripped lowercase text
    // exactly and (b) the token count is bounded by words below and
    // non-space chars above. Both booleans are computed in-engine over
    // every document and pinned TRUE by the oracle (n_docs is genuine) —
    // a dropped char, a cross-word merge, or a count regression turns
    // the row red.
    "bpe_gate" -> ((spark, dir) => {
      val t = graft.operators.BpeTokenizer.encode(col("text"), bpeMerges(spark, dir))
      val words = filter(split(lower(col("text")), " "), w => w =!= "")
      val noSpace = regexp_replace(lower(col("text")), " ", "")
      Tables.load(spark, dir, "documents")
        .select(
          (size(words) <= size(t) && size(t) <= length(noSpace)).as("b"),
          (concat_ws("", t) === noSpace).as("r"))
        .agg(count(lit(1)).as("n_docs"),
          bool_and(col("b")).as("bounds_ok"),
          bool_and(col("r")).as("roundtrip_ok"))
    }),
    // Durable-tokenizer PARITY gate (the classifier_persisted pattern for
    // BPE): a merge table re-trained in-session must encode every doc
    // IDENTICALLY to the manifest-reopened durable table — training is
    // deterministic (ties break lexicographically) and strings round-trip
    // parquet exactly, so any divergence (rank-order loss, truncation, a
    // stale manifest accepted) turns the row red. Puts the tokenizer's
    // TRAIN/SERVE lifecycle on the driver's gate and bench clock.
    "bpe_persisted" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      val fresh = graft.operators.BpeTokenizer.train(docs, "text",
        nMerges = 200, vocabWords = 5000)
      val durable = bpeMerges(spark, dir)
      val same = graft.operators.BpeTokenizer.encode(col("text"), fresh) ===
        graft.operators.BpeTokenizer.encode(col("text"), durable)
      docs.select(same.as("same"))
        .agg(count(lit(1)).as("n_docs"), bool_and(col("same")).as("parity"))
    }),
    // Corpus-trained bigram language model as a quality/novelty signal
    // (the CCNet-style perplexity filter re-expressed in RATIONAL
    // arithmetic — no log/exp, per this file's no-transcendentals rule, so
    // the DuckDB oracle is bit-identical). "Training" is the same shuffle
    // family as term_stats: per-doc bigram counts (map-side combinable),
    // then global bigram totals c12 + context totals c1 + a 1-row
    // broadcast vocabulary size V. Each doc is scored by its expected
    // add-one-smoothed continuation probability
    //   pred_prob = sum_k k * (c12+1)/(c1+V) / sum_k k
    // (low = surprising/garbled text) and by novel_rate, the fraction of
    // its distinct bigrams appearing in NO other document (high = unique
    // content; boilerplate scores near 0). At 100 TB: two key-partitioned
    // aggregations + two co-partitioned shuffle joins on the bigram/w1
    // keys; no windows, no driver-side state.
    "lm_bigram_quality" -> ((spark, dir) =>
      bigramScores(spark, dir).orderBy("doc_id")),
    // CCNet-style perplexity partition of the corpus: every scored doc
    // lands in head/middle/tail by exact corpus-wide terciles of the
    // bigram-LM expected continuation probability (high prob = fluent =
    // head). The thresholds come from TextAnalysis.quantileBuckets's
    // histogram shape — never an unpartitioned ntile sort — so the
    // partition holds its plan at 100 TB; the scores come from the shared
    // persisted LM table above. Tie groups never straddle buckets (equal
    // quality, equal treatment), which also makes the assignment
    // bit-reproducible in the oracle.
    "perplexity_buckets" -> ((spark, dir) =>
      perplexityBuckets(spark, dir).orderBy("doc_id")),
    // Anneal-to-quality curriculum order (r11): every document gets a
    // global training position — phase 0 (tail) streams first, the head
    // phase last, and within a phase the order is the seed-keyed md5
    // shuffle — composing the perplexity terciles above with
    // Packing.curriculumOrder's two-level prefix scan (equivalent to one
    // global row_number over (phase, order_key), without the single-task
    // corpus sort). Docs the LM cannot score (under two tokens) default
    // to phase 0.
    "curriculum_order" -> ((spark, dir) => {
      val phases = perplexityBuckets(spark, dir)
        .select(col("doc_id"),
          when(col("bucket") === "tail", 0)
            .when(col("bucket") === "middle", 1).otherwise(2).as("phase"))
      val docs = Tables.load(spark, dir, "documents").select("doc_id")
      val phased = docs.join(phases, Seq("doc_id"), "left")
        .withColumn("phase", coalesce(col("phase"), lit(0)))
      graft.operators.Packing.curriculumOrder(phased, "doc_id", "phase",
          seed = "cur1")
        .orderBy("doc_id")
    }),
    // The round-11 assembly capstone — the full planning chain a staged
    // training run consumes, as ONE lazy DAG (plus the two bounded
    // driver folds its operators document): exact-dedup survivors ->
    // length gate -> budget-WATERFILLED language mixture (rates from the
    // survivors' own token mass, kept by the md5 filter) -> corpus-level
    // perplexity phases -> curriculum positions (two-level scan) ->
    // 512-token sequence packing OVER THE CURRICULUM ORDER, so the
    // packed stream is phase-ordered: generic tail sequences first, the
    // head phase last. Every stage is the scale-shaped operator from its
    // own query; composition adds no new shuffle beyond the position
    // scan.
    "corpus_materialize_curriculum" -> ((spark, dir) => {
      // the survivor manifest is referenced by the waterfill fold AND the
      // downstream two-level scans (each reads its input twice): the
      // session-cached persist pins it to a single evaluation of the
      // dedup/gate subtree — (doc_id, lang, n_tokens) rows only
      val surv = curriculumSurvivors(spark, dir)
      val rates = waterfillRates(surv, spark, dir, "curr", budget = 8000L)
      val mixed = graft.operators.Sampling.stratifiedSample(surv, "doc_id",
        "lang", rates, defaultRate = 0.0)
      val phases = perplexityBuckets(spark, dir)
        .select(col("doc_id"),
          when(col("bucket") === "tail", 0)
            .when(col("bucket") === "middle", 1).otherwise(2).as("phase"))
      val phased = mixed.join(phases, Seq("doc_id"), "left")
        .withColumn("phase", coalesce(col("phase"), lit(0)))
      val positioned = graft.operators.Packing.curriculumOrder(phased,
          "doc_id", "phase", seed = "mat1",
          carryCols = Seq("lang", "n_tokens"))
        .withColumnRenamed("doc_id", "orig_doc_id")
        .localCheckpoint() // packSequences reads its input twice
      graft.operators.Packing.packSequences(positioned, "pos", "n_tokens",
          budget = 512, blockSize = 100,
          carryCols = Seq("orig_doc_id", "lang", "phase"))
        .select(col("orig_doc_id").as("doc_id"), col("lang"), col("phase"),
          col("doc_id").as("pos"), col("n_tokens"),
          col("seq_id"), col("seq_offset"))
        .orderBy("doc_id")
    }),
    // The FULL-pipeline capstone (r14) — corpus_materialize_curriculum
    // with the two stages a real training run inserts spliced in: exact
    // dedup -> C4 BLOCKLIST -> benchmark DECONTAMINATION (13-gram overlap
    // with the held-out %5==0 eval slice, the decontaminate_ngram
    // operator verbatim) -> length gate -> budget-waterfilled language
    // mixture -> corpus-level perplexity phases -> curriculum positions
    // -> 512-token packing over the curriculum order. Runs over the
    // TRAINING slice (%5!=0) since decontamination is against the eval
    // slice. One DAG with two materialized cut points — the survivor
    // manifest (session-cached, see [[fullSurvivors]]) and the
    // per-pass positioned order (localCheckpoint: packSequences reads it
    // twice) — plus the documented bounded waterfill driver fold; the
    // blocklist is a stateless projection and the decontamination
    // verdict one bloom-prefiltered shingle equi-join, so the two
    // spliced stages add no unbounded state. Budget 13000 exercises BOTH
    // waterfill regimes at
    // sf0.001/0.01 (one stratum saturates, the rest rate-limit) and the
    // all-rate-limited regime at sf0.1. CurationOpsSpec pins
    // stage-vs-component agreement against the standalone stage queries.
    "corpus_materialize_full" -> ((spark, dir) => {
      val surv = fullSurvivors(spark, dir)
      val rates = waterfillRates(surv, spark, dir, "full", budget = 13000L)
      val mixed = graft.operators.Sampling.stratifiedSample(surv, "doc_id",
        "lang", rates, defaultRate = 0.0)
      val phases = perplexityBuckets(spark, dir)
        .select(col("doc_id"),
          when(col("bucket") === "tail", 0)
            .when(col("bucket") === "middle", 1).otherwise(2).as("phase"))
      val phased = mixed.join(phases, Seq("doc_id"), "left")
        .withColumn("phase", coalesce(col("phase"), lit(0)))
      val positioned = graft.operators.Packing.curriculumOrder(phased,
          "doc_id", "phase", seed = "matf",
          carryCols = Seq("lang", "n_tokens"))
        .withColumnRenamed("doc_id", "orig_doc_id")
        .localCheckpoint() // packSequences reads its input twice
      graft.operators.Packing.packSequences(positioned, "pos", "n_tokens",
          budget = 512, blockSize = 100,
          carryCols = Seq("orig_doc_id", "lang", "phase"))
        .select(col("orig_doc_id").as("doc_id"), col("lang"), col("phase"),
          col("doc_id").as("pos"), col("n_tokens"),
          col("seq_id"), col("seq_offset"))
        .orderBy("doc_id")
    }),
    // TRAIN/SERVE split of the bigram LM (the CCNet lifecycle): the model
    // is trained ONCE on the %5!=0 slice, written durable with a manifest
    // (build-once/serve-many — a later session reopens it with zero
    // training jobs; BigramLmPersistSpec asserts the skip), and the
    // held-out %5==0 slice is scored UNDER the loaded model — add-one
    // smoothed expected probability + out-of-vocabulary bigram rate, all
    // rational arithmetic so the oracle composes both halves exactly.
    "lm_bigram_score_heldout" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      bigramLmPersisted(spark, dir)
        .score(docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .orderBy("doc_id")
    }),
    // EXCISE lifecycle for the reference LM (r19) — exact unlearning of
    // the CCNet filter model: the held-out slice scored under a model
    // from which the doc_id%3==0 training documents were SUBTRACTED
    // (BigramLm.exciseFrom — cloned artifact, staged swap, batch ledger,
    // subset refusal, replayed no-op pinned) must equal scoring under a
    // fresh train over only the surviving training docs EXACTLY. The
    // oracle re-derives model/ctx/v from the survivor slice, so a stale
    // bigram count, a lost context, or — the subtle one — an
    // un-refreshed vocabulary scalar (v sits in EVERY add-one smoothing
    // denominator, the BM25-stats-refresh analogue) turns exactly this
    // row red while the build-once rows stay green.
    "lm_bigram_excised" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      bigramLmExcised(spark, dir)
        .score(docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .orderBy("doc_id")
    }),
    // Corpus-internal interpolated-trigram LM score (r12): the CCNet-style
    // perplexity signal upgraded from add-one bigram to a real backoff
    // chain — absolute discounting with the dyadic D = 1/2, so c - D and
    // D*n are exact doubles and the only roundings are the per-level
    // divisions (see TrigramLm scaladoc). Per-trigram probabilities are
    // quantized to exact integer p14 = round(p3*1e14) and summed as
    // integers (order-independent), so the doc score is bit-identical in
    // the oracle. Training is three key-partitioned n-gram aggregations;
    // scoring is five co-partitioned joins on n-gram/context keys —
    // nothing corpus-sized collected, no windows.
    "lm_trigram_quality" -> ((spark, dir) =>
      trigramScores(spark, dir).orderBy("doc_id")),
    // TRAIN/SERVE split of the trigram LM (the lm_bigram_score_heldout
    // lifecycle one order up): trained ONCE on the %5!=0 slice, written
    // durable with a manifest (build-once/serve-many — TextLmSpec asserts
    // a reopen runs zero training jobs), held-out %5==0 docs scored UNDER
    // the frozen counts. Unseen trigrams discount to the interpolation
    // mass; unseen contexts back off a level (bigram, then add-one
    // unigram) — the oracle replays every backoff branch exactly.
    "lm_trigram_score_heldout" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      trigramLmPersisted(spark, dir)
        .score(docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .orderBy("doc_id")
    }),
    // EXCISE lifecycle for the trigram LM (r20) — the lm_bigram_excised
    // unlearning gate one order up, completing exact unlearning for the
    // whole reference-LM family: the held-out slice scored under a model
    // from which the doc_id%3==0 training documents were SUBTRACTED
    // (TrigramLm.exciseFrom — cloned artifact, staged swap, batch
    // ledger, subset refusal, replayed no-op pinned) must equal scoring
    // under a fresh train over only the surviving training docs
    // EXACTLY. The oracle re-derives all three n-gram tables and both
    // scalars from the survivor slice, so a stale count at ANY backoff
    // level — or an un-refreshed v/nTok (they sit in the add-one
    // unigram base every backoff chain bottoms out in) or a stale
    // continuation statistic (re-derived from the subtracted tables) —
    // turns exactly this row red while the build-once rows stay green.
    "lm_trigram_excised" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      trigramLmExcised(spark, dir)
        .score(docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .orderBy("doc_id")
    }),
    // TRAINED quality/domain classifier (the DCLM/FineWeb-Edu curation
    // step): Naive-Bayes sufficient statistics fitted ONCE on the labeled
    // %5==0 seed slice (label = the fixture's lang column), written
    // durable with a manifest (build-once/serve-many — a later session
    // reopens it with zero training jobs; QualityClassifierSpec asserts
    // the skip), and every held-out %5!=0 doc is scored UNDER the frozen
    // model. The decision rule is the prior-weighted expected token
    // probability — exact integer numerators over class-constant
    // denominators, one correctly-rounded division (see QualityClassifier
    // scaladoc) — so the oracle composes train + serve bit-exactly with
    // no transcendentals.
    "classifier_train_score" -> ((spark, dir) =>
      clfHeldScores(spark, dir).orderBy("doc_id")),
    // EXCISE lifecycle for the trained curation classifier (r20) — exact
    // unlearning for the DCLM/FineWeb-Edu filter model, completing the
    // takedown story for every trained durable artifact: every held-out
    // doc scored under a model from which the doc_id%3==0 labeled seed
    // documents were SUBTRACTED (QualityClassifier.exciseFrom — cloned
    // artifact, staged swap, batch ledger, subset refusal, replayed
    // no-op pinned) must equal scoring under a fresh train over only the
    // surviving seeds EXACTLY — priors, smoothing denominators, argmax
    // tie-breaks and all. The oracle re-derives counts/classes/v from
    // the survivor seed slice, so a stale per-class count, an
    // un-shrunk prior, or an un-refreshed vocabulary scalar (v sits in
    // every class's smoothing denominator) turns exactly this row red
    // while the build-once rows stay green.
    "classifier_excised" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      clfExcised(spark, dir)
        .score(docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
        .orderBy("doc_id")
    }),
    // Classifier as a FILTER — the step a curation pipeline actually runs
    // with a trained quality/domain model (DCLM keeps docs the classifier
    // scores as reference-like): EVERY doc scored under the frozen
    // %5==0-trained model, kept iff predicted domain is 'en' with enough
    // expected-probability mass and enough tokens. The confidence
    // threshold compares the INTEGER-scaled score (x1e6), so the keep
    // booleans — the filter's real output — are bit-exact across engines,
    // never a double-rounding coin flip at the boundary.
    "corpus_filter_classifier" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      // corpus-wide scoring = the shared held-out score table UNION the
      // seed slice scored under the same frozen model (scoring is
      // per-row, so the split is exact) — only the 20% seed slice pays a
      // fresh serve scan
      clfHeldScores(spark, dir).unionByName(
          clfPersisted(spark, dir).score(
            docs.filter(col("doc_id") % 5 === 0), "doc_id", "text"))
        .withColumn("expected_p6",
          org.apache.spark.sql.functions.round(col("expected_p") * 1e6, 0)
            .cast("long"))
        .withColumn("keep_domain", col("pred_label") === "en")
        .withColumn("keep_confidence", col("expected_p6") >= 15000L)
        .withColumn("keep_length", col("n_tokens") >= 20)
        .withColumn("keep", col("keep_domain") && col("keep_confidence") &&
          col("keep_length"))
        .select("doc_id", "n_tokens", "pred_label", "expected_p6",
          "keep_domain", "keep_confidence", "keep_length", "keep")
        .orderBy("doc_id")
    }),
    // Streaming GATE-CHAIN replay (r16): the stateless ingest-filter
    // family on the driver ledger — the documents table delivered in
    // three micro-batches through the composed quality -> blocklist ->
    // trained-classifier chain (every gate a per-row projection; the
    // classifier serves the manifest-reopened durable model on the
    // stream), survivors appended to a parquet sink; the row is the
    // surviving doc_id set. The oracle is the three batch keep rules
    // composed (quality CTEs, blocklist verdict, classifier train+serve
    // +threshold — each SHARED with its batch row's oracle derivation),
    // so stream/batch keep-set divergence on ANY gate turns the row red.
    "streaming_gate_replay" -> ((spark, dir) => {
      spark.read.parquet(gateChainReplaySink(spark, dir))
        .select("doc_id").orderBy("doc_id")
    }),
    // TRAINED language ID (r14) — the fastText-lid shape of the curation
    // step: the SAME NB sufficient-statistics machinery as
    // classifier_train_score, but over CHAR-TRIGRAM features
    // (TextAnalysis.charNgrams) — the feature space that actually
    // separates real languages, where the marker-argmax `lang_id` is a
    // fixed four-list heuristic. Trained ONCE on the labeled %5==0 seed
    // slice (label = lang), every held-out %5!=0 doc scored UNDER the
    // frozen counts: exact integer numerators over class-constant
    // denominators, one correctly-rounded division (see QualityClassifier
    // scaladoc), so the oracle composes train + serve bit-exactly.
    // LangIdTrainedSpec pins hand-computed scores and trained-vs-marker
    // agreement on a real multi-language fixture (the synthetic corpus's
    // text is deliberately lang-uncorrelated, so the driver row gates the
    // lifecycle + arithmetic, the spec the discrimination).
    "lang_id_trained" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      langIdClassifier(spark, dir)
        .scoreFeatures(docs.filter(col("doc_id") % 5 =!= 0), "doc_id",
          TextAnalysis.charNgrams(col("text"), 3))
        .withColumnRenamed("n_tokens", "n_grams")
        .orderBy("doc_id")
    }),
    // Durable-classifier PARITY gate (the ann_*_persisted pattern): a
    // model trained in-session must score every held-out doc IDENTICALLY
    // to the manifest-reopened durable model — integer counts round-trip
    // parquet exactly and the one division is deterministic, so any
    // divergence (count drift, truncated tables, manifest accepting a
    // stale model) is a real bug. Puts the TRAIN/SERVE lifecycle on the
    // driver's correctness gate and bench clock, not just in the spec.
    "classifier_persisted" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      val held = docs.filter(col("doc_id") % 5 =!= 0)
      val mem = memClf(spark, dir)
        .score(held, "doc_id", "text").withColumn("in_mem", lit(1))
      // the file side IS the shared held-out score table — comparing the
      // in-session model against the same rows every consumer reads
      val file = clfHeldScores(spark, dir).withColumn("in_file", lit(1))
      mem.join(file, Seq("doc_id", "n_tokens", "pred_label", "expected_p"),
          "full_outer")
        .agg(
          coalesce(sum(when(col("in_file").isNull, 1L)), lit(0L))
            .as("missing_from_file"),
          coalesce(sum(when(col("in_mem").isNull, 1L)), lit(0L))
            .as("extra_in_file"))
        .withColumn("parity",
          col("missing_from_file") === 0 && col("extra_in_file") === 0)
    }))

  private def lmSourceTag(spark: SparkSession, dir: String): String =
    dir + "#" + QueryArtifacts.sourceDigest(spark, dir, "documents")

  /** The capstone's bounded request against a reopened LM or classifier:
    * three docs to score. */
  private def docs3(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents").filter(col("doc_id") < 3)

  /** The capstone's bounded request against a reopened inverted index:
    * the three-term bucket-pruned BM25 probe. */
  private def invProbe(spark: SparkSession, dir: String,
      idx: graft.operators.InvertedIndex): Long =
    idx.serve(Seq("hash", "join", "vector")).count()

  /** One durable bigram LM per (session, dir), trained on the %5!=0 slice
    * — the same build-once file lifecycle as SimilarityQueries'
    * ivfPersisted (manifest-validated reopen, path keyed by a digest of
    * the dir, source tag from the documents table's file metadata). */
  private[queries] val bigramLmPersisted = QueryArtifacts.durable("bigram_lm",
      QueryArtifacts.at("bigram-lm", lmSourceTag),
      graft.operators.BigramLm.loadIfValid) { (spark, dir, path, tag) =>
    val docs = Tables.load(spark, dir, "documents")
    graft.operators.BigramLm.train(docs.filter(col("doc_id") % 5 =!= 0), "text")
      .write(path, tag)
    graft.operators.BigramLm.load(spark, path)
  }((spark, dir, m) => m.score(docs3(spark, dir), "doc_id", "text").count())

  /** Excised twin of [[bigramLmPersisted]] — EXACT UNLEARNING for the
    * reference LM (r19, the MarkovModel excise recipe on the CCNet
    * lifecycle): the %5!=0-trained durable model is cloned and the
    * doc_id%3==0 slice of its TRAINING corpus subtracted by
    * [[graft.operators.BigramLm.exciseFrom]] — bigram/context/word
    * counts are additive over the doc-disjoint split and the smoothing
    * scalar v re-derives as the surviving vocab rows, so held-out docs
    * scored under the excised model must hash against a fresh
    * survivor-only train; replayed-ledger no-op pinned. */
  private[queries] val bigramLmExcised = QueryArtifacts.durable("bigram_lm_excised",
      QueryArtifacts.at("bigram-lm-excised", lmSourceTag, "#excise-batch"),
      graft.operators.BigramLm.loadIfValid) { (spark, dir, path, exciseTag) =>
    QueryArtifacts.cloneArtifact(bigramLmPersisted.builtPath(spark, dir), path)
    val takedown = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 3 === 0)
    graft.operators.BigramLm.exciseFrom(spark, path, takedown, "text",
      exciseTag)
    require(!graft.operators.BigramLm.exciseFrom(spark, path, takedown,
        "text", exciseTag),
      "replaying an already-applied excise batch must be a ledger no-op")
    graft.operators.BigramLm.load(spark, path)
  }((spark, dir, m) => m.score(docs3(spark, dir), "doc_id", "text").count())

  /** One durable trigram LM per (session, dir), trained on the %5!=0
    * slice — the [[bigramLmPersisted]] lifecycle for the interpolated
    * trigram model (manifest-validated reopen, zero training jobs on a
    * hit). */
  private[queries] val trigramLmPersisted = QueryArtifacts.durable("trigram_lm",
      QueryArtifacts.at("trigram-lm", lmSourceTag),
      graft.operators.TrigramLm.loadIfValid) { (spark, dir, path, tag) =>
    val docs = Tables.load(spark, dir, "documents")
    graft.operators.TrigramLm.train(docs.filter(col("doc_id") % 5 =!= 0), "text")
      .write(path, tag)
    graft.operators.TrigramLm.load(spark, path)
  }((spark, dir, m) => m.score(docs3(spark, dir), "doc_id", "text").count())

  /** Excised twin of [[trigramLmPersisted]] — EXACT UNLEARNING for the
    * interpolated trigram LM (r20, the [[bigramLmExcised]] chain one
    * order up): the %5!=0-trained durable model is cloned and the
    * doc_id%3==0 slice of its TRAINING corpus subtracted by
    * [[graft.operators.TrigramLm.exciseFrom]] — all three n-gram tables
    * are additive over the doc-disjoint split and both scalars (v,
    * nTok) re-derive from the surviving unigram table, so held-out docs
    * scored under the excised model must hash against a fresh
    * survivor-only train; replayed-ledger no-op pinned. */
  private[queries] val trigramLmExcised = QueryArtifacts.durable("trigram_lm_excised",
      QueryArtifacts.at("trigram-lm-excised", lmSourceTag, "#excise-batch"),
      graft.operators.TrigramLm.loadIfValid) { (spark, dir, path, exciseTag) =>
    QueryArtifacts.cloneArtifact(trigramLmPersisted.builtPath(spark, dir), path)
    val takedown = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 3 === 0)
    graft.operators.TrigramLm.exciseFrom(spark, path, takedown, "text",
      exciseTag)
    require(!graft.operators.TrigramLm.exciseFrom(spark, path, takedown,
        "text", exciseTag),
      "replaying an already-applied excise batch must be a ledger no-op")
    graft.operators.TrigramLm.load(spark, path)
  }((spark, dir, m) => m.score(docs3(spark, dir), "doc_id", "text").count())

  /** One durable inverted index per (session, dir) — same build-once file
    * lifecycle as [[bigramLmPersisted]] (manifest-validated reopen, zero
    * tokenize jobs on a hit); serving reads only the query terms' hash
    * buckets via static partition pruning. [[RagQueries]]' fresh-reopen
    * fence shares it. */
  private[queries] val invertedIndexPersisted = QueryArtifacts.durable("inverted_index",
      QueryArtifacts.at("inverted-index", lmSourceTag),
      graft.operators.InvertedIndex.loadIfValid) { (spark, dir, path, tag) =>
    graft.operators.InvertedIndex
      .build(Tables.load(spark, dir, "documents"), "doc_id", "text")
      .write(path, tag)
    graft.operators.InvertedIndex.load(spark, path)
  }(invProbe)

  /** Appended-and-COMPACTED durable inverted index — the index family's
    * full maintenance lifecycle on one artifact: built over the odd
    * doc_ids, the even half appended as a daily batch (df merge + ledger),
    * then [[graft.operators.InvertedIndex.compact]]ed back to one file
    * per bucket. Build-once via the manifest+ledger (the driftIndex
    * discipline): a manifest whose source is the APPEND tag proves the
    * whole chain completed, so a later session reopens with zero
    * tokenize/aggregate jobs; anything else (absent, torn, stale
    * fixture) rebuilds the chain from scratch. */
  private[queries] val invAppendedCompacted = QueryArtifacts.durable("inverted_index_appended",
      QueryArtifacts.at("inverted-index-appended", lmSourceTag, "#append-batch"),
      graft.operators.InvertedIndex.loadIfValid) { (spark, dir, path, appendTag) =>
    val docs = Tables.load(spark, dir, "documents")
    graft.operators.InvertedIndex
      .build(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      .write(path, lmSourceTag(spark, dir) + "#append-base")
    graft.operators.InvertedIndex.appendTo(spark, path,
      docs.filter(col("doc_id") % 2 === 0), "text", appendTag)
    graft.operators.InvertedIndex.compact(spark, path)
    graft.operators.InvertedIndex.load(spark, path)
  }(invProbe)

  /** Excised-and-COMPACTED durable inverted index — the DELETE chapter of
    * the index-maintenance story (r17): built over the FULL corpus, the
    * doc_id%3==0 slice excised as a takedown batch (tombstones + df/scalar
    * correction — see [[graft.operators.InvertedIndex.excise]]), the
    * replayed-excise ledger no-op pinned, then compacted so the
    * tombstoned posting rows are physically gone. Build-once via the
    * manifest+ledger (the [[invAppendedCompacted]] discipline): a
    * manifest whose source is the EXCISE tag proves the whole chain
    * completed and reopens with zero tokenize jobs. */
  private[queries] val invExcisedCompacted = QueryArtifacts.durable("inverted_index_excised",
      QueryArtifacts.at("inverted-index-excised", lmSourceTag, "#excise-batch"),
      graft.operators.InvertedIndex.loadIfValid) { (spark, dir, path, exciseTag) =>
    val docs = Tables.load(spark, dir, "documents")
    val takedown = docs.filter(col("doc_id") % 3 === 0)
    // the pre-takedown state IS the persisted full-corpus index —
    // clone its completed artifact instead of re-tokenizing the
    // whole corpus a second time (r18, ensure-phase dedup); a
    // takedown acts on the live serving index, so starting from its
    // files is the production shape
    QueryArtifacts.cloneArtifact(invertedIndexPersisted.builtPath(spark, dir), path)
    graft.operators.InvertedIndex.excise(spark, path, takedown, "text",
      exciseTag)
    // crashed-job-retry protection, pinned on the driver path: a
    // replayed excise of the same batch must be a ledger no-op
    val replayed = graft.operators.InvertedIndex.excise(spark, path,
      takedown, "text", exciseTag)
    require(!replayed,
      "replaying an already-applied excise batch must be a ledger no-op")
    graft.operators.InvertedIndex.compact(spark, path)
    graft.operators.InvertedIndex.load(spark, path)
  }(invProbe)

  /** One durable quality classifier per (session, dir), trained on the
    * %5==0 labeled seed slice — same build-once file lifecycle as
    * [[bigramLmPersisted]]. */
  private[queries] val clfPersisted = QueryArtifacts.durable("classifier",
      QueryArtifacts.at("quality-clf", lmSourceTag),
      graft.operators.QualityClassifier.loadIfValid) { (spark, dir, path, tag) =>
    graft.operators.QualityClassifier
      .train(seedSlice(spark, dir), "text", "lang")
      .write(path, tag)
    graft.operators.QualityClassifier.load(spark, path)
  }((spark, dir, m) => m.score(docs3(spark, dir), "doc_id", "text").count())

  /** Excised twin of [[clfPersisted]] — EXACT UNLEARNING for the trained
    * curation classifier (r20, the [[bigramLmExcised]] chain on the
    * DCLM lifecycle): the %5==0-trained durable model is cloned and the
    * doc_id%3==0 slice of its SEED set subtracted by
    * [[graft.operators.QualityClassifier.exciseFrom]] — all NB
    * sufficient statistics are additive over the doc-disjoint split and
    * the vocabulary scalar v re-derives as the distinct surviving count
    * words, so held-out docs scored under the excised model must hash
    * against a fresh survivor-only train; replayed-ledger no-op
    * pinned. */
  private[queries] val clfExcised = QueryArtifacts.durable("classifier_excised",
      QueryArtifacts.at("quality-clf-excised", lmSourceTag, "#excise-batch"),
      graft.operators.QualityClassifier.loadIfValid) { (spark, dir, path, exciseTag) =>
    QueryArtifacts.cloneArtifact(clfPersisted.builtPath(spark, dir), path)
    val takedown = seedSlice(spark, dir)
      .filter(col("doc_id") % 3 === 0)
    graft.operators.QualityClassifier.exciseFrom(spark, path, takedown,
      "text", "lang", exciseTag)
    require(!graft.operators.QualityClassifier.exciseFrom(spark, path,
        takedown, "text", "lang", exciseTag),
      "replaying an already-applied excise batch must be a ledger no-op")
    graft.operators.QualityClassifier.load(spark, path)
  }((spark, dir, m) => m.score(docs3(spark, dir), "doc_id", "text").count())

  /** One TRAINED char-trigram language-ID model per (session, dir) —
    * the same NB sufficient statistics as [[clfPersisted]] but over the
    * [[TextAnalysis.charNgrams]] feature space (fastText-lid's), fitted
    * on the labeled %5==0 seed slice. The bounded model tables (|L| +
    * vocab×|L| rows) are persisted so repeat scoring doesn't re-run the
    * training aggregates. */
  private val langClfCache =
    QueryArtifacts.cache[SessionDir, graft.operators.QualityClassifier](_.unpersistTables())

  private def langIdClassifier(spark: SparkSession,
      dir: String): graft.operators.QualityClassifier =
    langClfCache((spark, dir))(
      graft.operators.QualityClassifier.trainFeatures(
        seedSlice(spark, dir),
        TextAnalysis.charNgrams(col("text"), 3), "lang").cacheTables())

  /** Shared quality CTEs (per-doc signals + repetition ratio) — the ONE
    * SQL definition behind both corpus_quality_filter's keep verdict and
    * the funnel report's quality stage. */
  private lazy val qualityCtes =
    s"""b AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
      |    CAST(round(least(
      |      0.3 * (${duckScore(stopwords)} * 1.0 / len(string_split(lower(text), ' ')))
      |      + 0.3 * least(len(string_split(lower(text), ' ')) / 100.0, 1.0)
      |      + 0.4 * (1.0 - least(abs(length(replace(text, ' ', '')) * 1.0
      |          / len(string_split(lower(text), ' ')) - 5.0) / 5.0, 1.0)),
      |      1.0) * 1e4) AS BIGINT) AS quality4,
      |    CASE
      |      WHEN ${duckScore(enM)} > 0 AND ${duckScore(enM)} >= ${duckScore(esM)}
      |        AND ${duckScore(enM)} >= ${duckScore(frM)} AND ${duckScore(enM)} >= ${duckScore(deM)} THEN 'en'
      |      WHEN ${duckScore(esM)} > 0 AND ${duckScore(esM)} >= ${duckScore(frM)}
      |        AND ${duckScore(esM)} >= ${duckScore(deM)} THEN 'es'
      |      WHEN ${duckScore(frM)} > 0 AND ${duckScore(frM)} >= ${duckScore(deM)} THEN 'fr'
      |      WHEN ${duckScore(deM)} > 0 THEN 'de'
      |      ELSE 'und' END AS lang_pred
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, term, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      |        FROM documents) GROUP BY doc_id, term),
      |r AS (SELECT doc_id, CAST(round(count(*) * 1e6 / sum(tf)) AS BIGINT)
      |        AS distinct_ratio6
      |      FROM g GROUP BY doc_id)""".stripMargin

  /** One BM25 oracle for the fused (`bm25_rank`) and index-served
    * (`bm25_served`) rows — the two engines and the two in-repo
    * formulations must all agree on the same ranking — parametrized by
    * the corpus relation so the excised row's oracle is the SAME
    * derivation over only the surviving documents (a fresh build on the
    * survivors, which is exactly what serve-after-excise must equal). */
  private def bm25OracleOver(rel: String) =
      s"""WITH tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM $rel),
        |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM tok),
        |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, t.term, count(*) AS tf
        |  FROM tok, unnest(tok.w) AS t(term)
        |  WHERE t.term IN ('hash', 'join', 'vector')
        |  GROUP BY doc_id, t.term),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
        |SELECT tf.doc_id, CAST(count(*) AS BIGINT) AS matched_terms,
        |  round(sum((n_docs - df + 0.5) / (df + 0.5)
        |    * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))), 6) AS bm25
        |FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), stats
        |GROUP BY tf.doc_id, n_docs, avgdl
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin

  private val bm25Oracle = bm25OracleOver("documents")

  /** The train/serve trigram oracle parametrized by the TRAINING-slice
    * filter — ONE derivation shared by lm_trigram_score_heldout (the
    * full %5!=0 train) and lm_trigram_excised (the survivor-only train
    * the excised model must hash against): the LEFT-JOIN variant of the
    * corpus-internal chain, every backoff branch of TrigramLm.score
    * replayed exactly. */
  /** The NB train+serve oracle parametrized by the SEED-slice filter —
    * ONE derivation shared by classifier_train_score (the full %5==0
    * seed set) and classifier_excised (the survivor-only train the
    * excised model must hash against): sufficient statistics from the
    * filtered seeds, prior-weighted expected-probability argmax over
    * the %5!=0 docs, ties broken by label order (see QualityClassifier
    * scaladoc). */
  private def duckClassifierOracle(seedFilter: String): String =
    s"""WITH seedtok AS (
        |  SELECT doc_id, lang AS label,
        |    unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents WHERE $seedFilter),
        |counts AS (SELECT label, w, CAST(count(*) AS BIGINT) AS c
        |           FROM seedtok GROUP BY label, w),
        |classes AS (SELECT label,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS BIGINT) AS tot
        |  FROM seedtok GROUP BY label),
        |voc AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM seedtok),
        |doctok AS (
        |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS k
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |        FROM documents WHERE doc_id % 5 <> 0)
        |  GROUP BY doc_id, w),
        |docn AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens
        |         FROM doctok GROUP BY doc_id),
        |hits AS (
        |  SELECT t.doc_id, c.label, CAST(sum(t.k * c.c) AS BIGINT) AS s
        |  FROM doctok t JOIN counts c USING (w) GROUP BY t.doc_id, c.label),
        |scored AS (
        |  SELECT d.doc_id, d.n_tokens, cl.label,
        |    coalesce(h.s, 0) + d.n_tokens AS num,
        |    cl.tot + voc.v AS den,
        |    CAST(cl.n_docs * (coalesce(h.s, 0) + d.n_tokens) AS DOUBLE)
        |      / CAST(cl.tot + voc.v AS DOUBLE) AS dscore
        |  FROM docn d CROSS JOIN classes cl CROSS JOIN voc
        |  LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.label = cl.label),
        |best AS (
        |  SELECT doc_id, n_tokens, label AS pred_label,
        |    round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1e6) / 1e6
        |      AS expected_p,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY dscore DESC, label) AS rk
        |  FROM scored)
        |SELECT doc_id, n_tokens, pred_label, expected_p
        |FROM best WHERE rk = 1 ORDER BY doc_id""".stripMargin

  private def duckTrigramHeldoutOracle(trainFilter: String): String =
    s"""WITH tr AS (
        |  SELECT string_split(lower(text), ' ') AS t FROM documents
        |  WHERE $trainFilter),
        |ev AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        |  WHERE doc_id % 5 = 0),
        |tri AS (SELECT tg, CAST(count(*) AS BIGINT) AS c123 FROM (
        |    SELECT unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |                   for i in range(1, len(t) - 1)]) AS tg FROM tr)
        |  GROUP BY tg),
        |ctx2 AS (
        |  SELECT split_part(tg, ' ', 1) || ' ' || split_part(tg, ' ', 2) AS bg12,
        |    CAST(sum(c123) AS BIGINT) AS c12, CAST(count(*) AS BIGINT) AS n3
        |  FROM tri GROUP BY 1),
        |bi AS (SELECT bg, CAST(count(*) AS BIGINT) AS c23 FROM (
        |    SELECT unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bg
        |    FROM tr)
        |  GROUP BY bg),
        |ctx1 AS (
        |  SELECT split_part(bg, ' ', 1) AS w2c, CAST(sum(c23) AS BIGINT) AS c2,
        |    CAST(count(*) AS BIGINT) AS n2
        |  FROM bi GROUP BY 1),
        |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c1u
        |        FROM (SELECT unnest(t) AS w FROM tr) GROUP BY w),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS ntok,
        |    CAST(count(DISTINCT w) AS BIGINT) AS v
        |  FROM (SELECT unnest(t) AS w FROM tr)),
        |doctg AS (SELECT doc_id, tg, count(*) AS k FROM (
        |    SELECT doc_id,
        |      unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |              for i in range(1, len(t) - 1)]) AS tg
        |    FROM ev)
        |  GROUP BY doc_id, tg),
        |tj AS (
        |  SELECT b.doc_id, b.k, tri.c123, x2.c12, x2.n3, bi.c23, x1.c2, x1.n2,
        |    u.c1u, tot.ntok, tot.v
        |  FROM doctg b
        |  LEFT JOIN tri ON b.tg = tri.tg
        |  LEFT JOIN ctx2 x2
        |    ON split_part(b.tg, ' ', 1) || ' ' || split_part(b.tg, ' ', 2) = x2.bg12
        |  LEFT JOIN bi ON split_part(b.tg, ' ', 2) || ' ' || split_part(b.tg, ' ', 3) = bi.bg
        |  LEFT JOIN ctx1 x1 ON split_part(b.tg, ' ', 2) = x1.w2c
        |  LEFT JOIN uni u ON split_part(b.tg, ' ', 3) = u.w, tot),
        |p1s AS (SELECT *, (coalesce(c1u, 0) + 1.0) / (ntok + v) AS p1 FROM tj),
        |p2s AS (SELECT *, CASE WHEN c2 IS NULL THEN p1
        |    ELSE (greatest(coalesce(c23, 0) - 0.5, 0.0) + 0.5 * n2 * p1) / c2
        |    END AS p2 FROM p1s),
        |p3s AS (SELECT *, CASE WHEN c12 IS NULL THEN p2
        |    ELSE (greatest(coalesce(c123, 0) - 0.5, 0.0) + 0.5 * n3 * p2) / c12
        |    END AS p3 FROM p2s),
        |ps AS (SELECT doc_id, k, c123,
        |    CAST(round(p3 * 1e14) AS BIGINT) AS p14 FROM p3s)
        |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_trigrams,
        |  round(CAST(sum(CAST(k AS HUGEINT) * p14) AS DOUBLE) / sum(k) / 1e14, 6) AS pred_prob,
        |  round(avg(CASE WHEN c123 IS NULL THEN 1.0 ELSE 0.0 END), 6) AS oov_rate
        |FROM ps GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private def duckScore(markers: Seq[String]): String =
    s"len(list_filter(string_split(lower(text), ' '), x -> x IN (${markers.map(m => s"'$m'").mkString(",")})))"

  /** The ONE corpus-internal interpolated-trigram score derivation (ends
    * in `score(doc_id, n_trigrams, pred_prob)`), shared verbatim by the
    * lm_trigram_quality, perplexity_buckets, curriculum_order and
    * corpus_materialize_curriculum oracles — the staged p1 -> p2 -> p3
    * CTEs mirror TrigramLm.score's withColumn chain expression for
    * expression, so every intermediate double is bit-identical. Model
    * trained on the WHOLE corpus, so every join matches (inner joins;
    * the heldout oracle is the LEFT-JOIN variant with the backoff
    * CASEs). */
  private val duckTrigramScoreCtes: String =
    """d AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |tocc AS (
      |  SELECT doc_id,
      |    unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |            for i in range(1, len(t) - 1)]) AS tg
      |  FROM d),
      |doctg AS (SELECT doc_id, tg, count(*) AS k FROM tocc GROUP BY doc_id, tg),
      |tri AS (SELECT tg, CAST(sum(k) AS BIGINT) AS c123 FROM doctg GROUP BY tg),
      |ctx2 AS (
      |  SELECT split_part(tg, ' ', 1) || ' ' || split_part(tg, ' ', 2) AS bg12,
      |    CAST(sum(c123) AS BIGINT) AS c12, CAST(count(*) AS BIGINT) AS n3
      |  FROM tri GROUP BY 1),
      |bocc AS (
      |  SELECT unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bg
      |  FROM d),
      |bi AS (SELECT bg, CAST(count(*) AS BIGINT) AS c23 FROM bocc GROUP BY bg),
      |ctx1 AS (
      |  SELECT split_part(bg, ' ', 1) AS w2c, CAST(sum(c23) AS BIGINT) AS c2,
      |    CAST(count(*) AS BIGINT) AS n2
      |  FROM bi GROUP BY 1),
      |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c1u
      |        FROM (SELECT unnest(t) AS w FROM d) GROUP BY w),
      |lmtot AS (SELECT CAST(count(*) AS BIGINT) AS ntok,
      |    CAST(count(DISTINCT w) AS BIGINT) AS v
      |  FROM (SELECT unnest(t) AS w FROM d)),
      |tj AS (
      |  SELECT b.doc_id, b.k, tri.c123, x2.c12, x2.n3, bi.c23, x1.c2, x1.n2,
      |    u.c1u, lmtot.ntok, lmtot.v
      |  FROM doctg b
      |  JOIN tri ON b.tg = tri.tg
      |  JOIN ctx2 x2
      |    ON split_part(b.tg, ' ', 1) || ' ' || split_part(b.tg, ' ', 2) = x2.bg12
      |  JOIN bi ON split_part(b.tg, ' ', 2) || ' ' || split_part(b.tg, ' ', 3) = bi.bg
      |  JOIN ctx1 x1 ON split_part(b.tg, ' ', 2) = x1.w2c
      |  JOIN uni u ON split_part(b.tg, ' ', 3) = u.w, lmtot),
      |p1s AS (SELECT *, (coalesce(c1u, 0) + 1.0) / (ntok + v) AS p1 FROM tj),
      |p2s AS (SELECT *, CASE WHEN c2 IS NULL THEN p1
      |    ELSE (greatest(coalesce(c23, 0) - 0.5, 0.0) + 0.5 * n2 * p1) / c2
      |    END AS p2 FROM p1s),
      |p3s AS (SELECT *, CASE WHEN c12 IS NULL THEN p2
      |    ELSE (greatest(coalesce(c123, 0) - 0.5, 0.0) + 0.5 * n3 * p2) / c12
      |    END AS p3 FROM p2s),
      |ps AS (SELECT doc_id, k, c123,
      |    CAST(round(p3 * 1e14) AS BIGINT) AS p14 FROM p3s),
      |score AS (
      |  SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_trigrams,
      |    round(CAST(sum(CAST(k AS HUGEINT) * p14) AS DOUBLE) / sum(k) / 1e14, 6) AS pred_prob
      |  FROM ps GROUP BY doc_id)""".stripMargin

  val oracleSql: ListMap[String, String] = ListMap(
    "text_stats" ->
      """SELECT doc_id,
        |  CAST(length(text) AS INTEGER) AS n_chars,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct_tokens,
        |  round(length(replace(text, ' ', '')) * 1.0 / len(string_split(text, ' ')), 4) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "lang_id" ->
      (s"""SELECT doc_id,
        |  CAST(${duckScore(enM)} AS INTEGER) AS s_en,
        |  CAST(${duckScore(esM)} AS INTEGER) AS s_es,
        |  CAST(${duckScore(frM)} AS INTEGER) AS s_fr,
        |  CAST(${duckScore(deM)} AS INTEGER) AS s_de,
        |  CASE
        |    WHEN ${duckScore(enM)} > 0 AND ${duckScore(enM)} >= ${duckScore(esM)}
        |      AND ${duckScore(enM)} >= ${duckScore(frM)} AND ${duckScore(enM)} >= ${duckScore(deM)} THEN 'en'
        |    WHEN ${duckScore(esM)} > 0 AND ${duckScore(esM)} >= ${duckScore(frM)}
        |      AND ${duckScore(esM)} >= ${duckScore(deM)} THEN 'es'
        |    WHEN ${duckScore(frM)} > 0 AND ${duckScore(frM)} >= ${duckScore(deM)} THEN 'fr'
        |    WHEN ${duckScore(deM)} > 0 THEN 'de'
        |    ELSE 'und' END AS lang_pred
        |FROM documents ORDER BY doc_id""".stripMargin),
    "text_quality" ->
      (s"""WITH b AS (
        |  SELECT doc_id,
        |    ${duckScore(stopwords)} * 1.0 / len(string_split(lower(text), ' ')) AS stop_ratio,
        |    least(len(string_split(lower(text), ' ')) / 100.0, 1.0) AS size_sat,
        |    1.0 - least(abs(length(replace(text, ' ', '')) * 1.0
        |      / len(string_split(lower(text), ' ')) - 5.0) / 5.0, 1.0) AS len_shape
        |  FROM documents)
        |SELECT doc_id,
        |  round(stop_ratio, 4) AS stopword_ratio,
        |  round(size_sat, 4) AS size_saturation,
        |  round(len_shape, 4) AS len_shape,
        |  round(least(0.3 * stop_ratio + 0.3 * size_sat + 0.4 * len_shape, 1.0), 4) AS quality
        |FROM b ORDER BY doc_id""".stripMargin),
    // integer-scaled quality sums (order-independent), single division
    // integer TTR/Simpson re-derived exactly; entropy through the SAME
    // micro-nat quantization — q(c) = round(ln(c)*1e6) per count class,
    // exact HUGEINT mass sum, one final division of exact integers
    "corpus_diversity_report" ->
      """WITH tok AS (
        |  SELECT lang, unnest(string_split(lower(text), ' ')) AS term
        |  FROM documents WHERE lang IS NOT NULL),
        |cnt AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS c
        |        FROM tok GROUP BY 1, 2),
        |agg AS (
        |  SELECT lang,
        |    CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(sum(c * (c - 1)) AS BIGINT) AS pairsum,
        |    sum(CAST(c AS HUGEINT)
        |        * CAST(round(ln(CAST(c AS DOUBLE)) * 1e6) AS HUGEINT)) AS s_micro
        |  FROM cnt GROUP BY lang),
        |d AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |      FROM documents WHERE lang IS NOT NULL GROUP BY lang)
        |SELECT d.lang, n_docs, n_tokens, n_types,
        |  round(n_types / CAST(n_tokens AS DOUBLE) * 1e6) / 1e6 AS ttr6,
        |  CASE WHEN n_tokens > 1 THEN round(pairsum
        |    / (CAST(n_tokens AS DOUBLE) * (CAST(n_tokens AS DOUBLE) - 1.0))
        |    * 1e6) / 1e6 ELSE 0.0 END AS simpson6,
        |  round(CAST(CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1e6) AS HUGEINT)
        |      * n_tokens - s_micro AS DOUBLE)
        |    / (CAST(n_tokens AS DOUBLE) * 1e6) * 1e6) / 1e6 AS entropy6
        |FROM d JOIN agg USING (lang) ORDER BY lang""".stripMargin,
    // for the mean; dup docs = non-min-id members of each text group
    "corpus_stats_report" ->
      (s"""WITH q AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(round(round(least(
        |      0.3 * (${duckScore(stopwords)} * 1.0 / len(string_split(lower(text), ' ')))
        |      + 0.3 * least(len(string_split(lower(text), ' ')) / 100.0, 1.0)
        |      + 0.4 * (1.0 - least(abs(length(replace(text, ' ', '')) * 1.0
        |          / len(string_split(lower(text), ' ')) - 5.0) / 5.0, 1.0)),
        |      1.0), 4) * 10000, 0) AS BIGINT) AS q4s,
        |    doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text) AS is_keep
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  round(CAST(sum(q4s) AS DOUBLE) / (10000.0 * count(*)), 6) AS mean_quality,
        |  CAST(sum(CASE WHEN is_keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_docs
        |FROM q GROUP BY lang ORDER BY lang""".stripMargin),
    // independent re-derivation of the drift stats: same integer
    // cross-multiplied numerators, same single rounded division
    "corpus_drift_report" ->
      """WITH cat AS (
        |  SELECT (doc_id % 5 = 0) AS is_new, 'lang' AS feature,
        |    lang AS category FROM documents
        |  UNION ALL
        |  SELECT (doc_id % 5 = 0), 'source', source FROM documents
        |  UNION ALL
        |  SELECT (doc_id % 5 = 0), 'len_bucket',
        |    CAST(least(n_chars // 200, 20) AS VARCHAR) FROM documents),
        |per_cat AS (
        |  SELECT feature, category,
        |    sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS c_new,
        |    sum(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS c_ref
        |  FROM cat GROUP BY 1, 2),
        |tot AS (SELECT feature, sum(c_ref) AS n_ref, sum(c_new) AS n_new
        |        FROM per_cat GROUP BY 1),
        |j AS (
        |  SELECT p.feature, t.n_ref, t.n_new,
        |    abs(p.c_ref * t.n_new - p.c_new * t.n_ref) AS anum
        |  FROM per_cat p JOIN tot t USING (feature))
        |SELECT feature, CAST(count(*) AS BIGINT) AS n_categories,
        |  CAST(min(n_ref) AS BIGINT) AS n_ref,
        |  CAST(min(n_new) AS BIGINT) AS n_new,
        |  round(CAST(sum(anum) AS DOUBLE) / (2.0 * min(n_ref) * min(n_new)), 6)
        |    AS tv_dist,
        |  round(CAST(max(anum) AS DOUBLE) / (1.0 * min(n_ref) * min(n_new)), 6)
        |    AS max_gap
        |FROM j GROUP BY feature ORDER BY feature""".stripMargin,
    // the batch drift derivation minus its n_categories column — the
    // monitor's final per-feature emission must equal the batch report
    "streaming_drift_replay" ->
      """WITH cat AS (
        |  SELECT (doc_id % 5 = 0) AS is_new, 'lang' AS feature,
        |    lang AS category FROM documents
        |  UNION ALL
        |  SELECT (doc_id % 5 = 0), 'source', source FROM documents
        |  UNION ALL
        |  SELECT (doc_id % 5 = 0), 'len_bucket',
        |    CAST(least(n_chars // 200, 20) AS VARCHAR) FROM documents),
        |per_cat AS (
        |  SELECT feature, category,
        |    sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS c_new,
        |    sum(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS c_ref
        |  FROM cat GROUP BY 1, 2),
        |tot AS (SELECT feature, sum(c_ref) AS n_ref, sum(c_new) AS n_new
        |        FROM per_cat GROUP BY 1),
        |j AS (
        |  SELECT p.feature, t.n_ref, t.n_new,
        |    abs(p.c_ref * t.n_new - p.c_new * t.n_ref) AS anum
        |  FROM per_cat p JOIN tot t USING (feature))
        |SELECT feature,
        |  CAST(min(n_ref) AS BIGINT) AS n_ref,
        |  CAST(min(n_new) AS BIGINT) AS n_new,
        |  round(CAST(sum(anum) AS DOUBLE) / (2.0 * min(n_ref) * min(n_new)), 6)
        |    AS tv_dist,
        |  round(CAST(max(anum) AS DOUBLE) / (1.0 * min(n_ref) * min(n_new)), 6)
        |    AS max_gap
        |FROM j GROUP BY feature ORDER BY feature""".stripMargin,
    // independent re-derivation: same per-language histogram, same
    // cumulative counts, same ceil(num*n/den) discrete-quantile read-off
    "token_quantiles_report" ->
      """WITH d AS (
        |  SELECT lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS v
        |  FROM documents),
        |hist AS (SELECT lang, v, count(*) AS cnt FROM d GROUP BY 1, 2),
        |cum AS (
        |  SELECT lang, v,
        |    sum(cnt) OVER (PARTITION BY lang ORDER BY v) AS cum,
        |    sum(cnt) OVER (PARTITION BY lang) AS n
        |  FROM hist)
        |SELECT lang, CAST(max(n) AS BIGINT) AS n_rows,
        |  min(CASE WHEN cum >= (25 * n + 99) // 100 THEN v END) AS p25,
        |  min(CASE WHEN cum >= (50 * n + 99) // 100 THEN v END) AS p50,
        |  min(CASE WHEN cum >= (75 * n + 99) // 100 THEN v END) AS p75,
        |  min(CASE WHEN cum >= (95 * n + 99) // 100 THEN v END) AS p95
        |FROM cum GROUP BY lang ORDER BY lang""".stripMargin,
    // same score derivation as text_quality; membership = md5 fraction
    // below the round-4 score, both sides bit-identical
    "sample_quality_weighted" ->
      (s"""WITH b AS (
        |  SELECT doc_id,
        |    ${duckScore(stopwords)} * 1.0 / len(string_split(lower(text), ' ')) AS stop_ratio,
        |    least(len(string_split(lower(text), ' ')) / 100.0, 1.0) AS size_sat,
        |    1.0 - least(abs(length(replace(text, ' ', '')) * 1.0
        |      / len(string_split(lower(text), ' ')) - 5.0) / 5.0, 1.0) AS len_shape
        |  FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    round(least(0.3 * stop_ratio + 0.3 * size_sat + 0.4 * len_shape, 1.0), 4)
        |      AS quality
        |  FROM b)
        |SELECT doc_id, quality FROM q
        |WHERE (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
        |      / 1152921504606846976.0 < quality
        |ORDER BY doc_id""".stripMargin),
    "token_count_regex" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9 ]')) AS INTEGER) AS n_tokens_regex,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS INTEGER) AS n_word_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[0-9]')) AS INTEGER) AS n_digit_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "array_ops_docs" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
        |SELECT doc_id,
        |  array_to_string(w[1:3], ' ') AS first3,
        |  array_to_string(list_sort(w[1:3]), ' ') AS first3_sorted,
        |  list_contains(w, 'the') AS has_the,
        |  CAST(len(list_distinct(w)) AS INTEGER) AS n_distinct,
        |  w[-1] AS last_token
        |FROM t ORDER BY doc_id""".stripMargin,
    "doc_fingerprint" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "heavy_hitters" ->
      """WITH t AS (
        |  SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |n AS (SELECT count(*) AS n FROM t)
        |SELECT term, count(*) AS cnt FROM t, n
        |GROUP BY term, n.n HAVING count(*) > n.n * 0.01
        |ORDER BY term""".stripMargin,
    "term_stats" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (SELECT term, count(DISTINCT doc_id) AS df, count(*) AS tf_total
        |      FROM t GROUP BY term)
        |SELECT term, CAST(df AS BIGINT) AS df, CAST(tf_total AS BIGINT) AS tf_total,
        |  round((n.n_docs + 1) * 1.0 / (df + 1), 6) AS inv_doc_freq,
        |  round(tf_total * (n.n_docs + 1) * 1.0 / (df + 1), 6) AS tfidf_total
        |FROM s, n WHERE df >= 2
        |ORDER BY df DESC, term LIMIT 100""".stripMargin,
    "blocklist_filter" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split(lower(text), ' '),
        |    t -> t IN ('dup'))) AS BIGINT) AS token_hits,
        |  CAST(CASE WHEN contains(lower(text), 'slow scan') THEN 1 ELSE 0 END
        |    AS BIGINT) AS phrase_hits,
        |  len(list_filter(string_split(lower(text), ' '), t -> t IN ('dup'))) = 0
        |    AND NOT contains(lower(text), 'slow scan') AS keep
        |FROM documents ORDER BY doc_id""".stripMargin,
    "corpus_quality_filter" ->
      (s"""WITH $qualityCtes
        |SELECT b.doc_id, n_tokens, quality4, lang_pred, distinct_ratio6,
        |  n_tokens >= 20 AS keep_length,
        |  quality4 >= 4000 AS keep_quality,
        |  distinct_ratio6 >= 300000 AS keep_repetition,
        |  lang_pred = 'en' AS keep_lang,
        |  n_tokens >= 20 AND quality4 >= 4000 AND distinct_ratio6 >= 300000
        |    AND lang_pred = 'en' AS keep
        |FROM b JOIN r ON b.doc_id = r.doc_id ORDER BY b.doc_id""".stripMargin),
    // the funnel replays the exact-dup, blocklist, and quality verdicts
    // (the quality CTEs are SHARED with corpus_quality_filter's oracle,
    // so the two rows can never disagree on the quality stage)
    "corpus_funnel_report" ->
      (s"""WITH $qualityCtes,
        |k AS (SELECT min(doc_id) AS keep_id FROM documents GROUP BY md5(text)),
        |bl AS (SELECT doc_id,
        |  len(list_filter(string_split(lower(text), ' '), t -> t IN ('dup'))) = 0
        |    AND NOT contains(lower(text), 'slow scan') AS bl_keep
        |  FROM documents),
        |q AS (SELECT b.doc_id,
        |    n_tokens >= 20 AND quality4 >= 4000 AND distinct_ratio6 >= 300000
        |      AND lang_pred = 'en' AS q_keep
        |  FROM b JOIN r ON b.doc_id = r.doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN k.keep_id IS NULL THEN 'duplicate'
        |       WHEN NOT bl.bl_keep THEN 'blocklist'
        |       WHEN NOT q.q_keep THEN 'quality'
        |       ELSE 'kept' END AS drop_stage
        |FROM documents d
        |LEFT JOIN k ON d.doc_id = k.keep_id
        |JOIN bl ON d.doc_id = bl.doc_id
        |JOIN q ON d.doc_id = q.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    // Gopher rules: the oracle rebuilds the SAME paged view (10-token
    // lines), then replays every signal — per-token shape rules over a
    // whitespace re-split of the page, line rules over the segment list,
    // and the full {2..10}-gram ladder via the positional-gram idiom.
    "gopher_quality_filter" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |seg AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS line_idx,
        |    array_to_string(list_slice(w, (i - 1) * 10 + 1, i * 10), ' ') AS line
        |  FROM d, unnest(range(1, CAST(ceil(len(w) / 10.0) AS INT) + 1)) AS t(i)),
        |pg AS (
        |  SELECT doc_id, list(line ORDER BY line_idx) AS ls,
        |    array_to_string(list(line ORDER BY line_idx), chr(10)) AS page
        |  FROM seg GROUP BY doc_id),
        |tk AS (
        |  SELECT doc_id, ls, page, CAST(length(page) AS BIGINT) AS text_chars,
        |    regexp_split_to_array(page, '\s+') AS t
        |  FROM pg),
        |rowsig AS (
        |  SELECT doc_id, text_chars,
        |    CAST(len(t) AS BIGINT) AS n_words,
        |    CAST(round(list_sum(list_transform(t, x -> length(x))) * 1e6 / len(t)) AS BIGINT) AS mean_word_chars6,
        |    CAST(round(len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) * 1e6 / len(t)) AS BIGINT) AS alpha_word_frac6,
        |    CAST(len(list_filter(['the','a','be','to','of','and','that','have'],
        |      s -> list_contains(t, s))) AS BIGINT) AS stop_hits,
        |    CAST(round(len(regexp_extract_all(page, '#|\.\.\.|…')) * 1e6 / len(t)) AS BIGINT) AS symbol_frac6,
        |    CAST(round(len(list_filter(ls, l -> l LIKE '•%' OR l LIKE '-%' OR l LIKE '*%')) * 1e6 / len(ls)) AS BIGINT) AS bullet_line_frac6,
        |    CAST(round(len(list_filter(ls, l -> l LIKE '%…' OR l LIKE '%...')) * 1e6 / len(ls)) AS BIGINT) AS ellipsis_line_frac6,
        |    CAST(round((len(ls) - len(list_distinct(ls))) * 1e6 / len(ls)) AS BIGINT) AS dup_line_frac6,
        |    CAST(round((list_sum(list_transform(ls, l -> length(l)))
        |        - list_sum(list_transform(list_distinct(ls), l -> length(l)))) * 1e6
        |      / greatest(list_sum(list_transform(ls, l -> length(l))), 1)) AS BIGINT) AS dup_line_char_frac6
        |  FROM tk),
        |g AS (
        |  SELECT doc_id, n, array_to_string(t[i:i+n-1], ' ') AS gram
        |  FROM tk, unnest(range(2, 11)) AS nn(n), unnest(range(1, len(t) + 1)) AS ii(i)
        |  WHERE i + n - 1 <= len(t)),
        |gc AS (SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3),
        |ga AS (
        |  SELECT doc_id, n, max(c * length(gram)) AS top_chars,
        |    sum(CASE WHEN c >= 2 THEN c * length(gram) ELSE 0 END) AS dup_chars
        |  FROM gc GROUP BY 1, 2),
        |gp AS (
        |  SELECT doc_id,
        |    coalesce(max(CASE WHEN n = 2 THEN top_chars END), 0) AS top2,
        |    coalesce(max(CASE WHEN n = 3 THEN top_chars END), 0) AS top3,
        |    coalesce(max(CASE WHEN n = 4 THEN top_chars END), 0) AS top4,
        |    coalesce(max(CASE WHEN n = 5 THEN dup_chars END), 0) AS dup5,
        |    coalesce(max(CASE WHEN n = 6 THEN dup_chars END), 0) AS dup6,
        |    coalesce(max(CASE WHEN n = 7 THEN dup_chars END), 0) AS dup7,
        |    coalesce(max(CASE WHEN n = 8 THEN dup_chars END), 0) AS dup8,
        |    coalesce(max(CASE WHEN n = 9 THEN dup_chars END), 0) AS dup9,
        |    coalesce(max(CASE WHEN n = 10 THEN dup_chars END), 0) AS dup10
        |  FROM ga GROUP BY doc_id)
        |SELECT CAST(r.doc_id AS BIGINT) AS doc_id, r.n_words, r.mean_word_chars6,
        |  r.alpha_word_frac6, r.stop_hits, r.symbol_frac6, r.bullet_line_frac6,
        |  r.ellipsis_line_frac6, r.dup_line_frac6, r.dup_line_char_frac6,
        |  CAST(round(coalesce(gp.top2, 0) * 1e6 / greatest(r.text_chars, 1)) AS BIGINT) AS top2gram_frac6,
        |  CAST(round(coalesce(gp.top3, 0) * 1e6 / greatest(r.text_chars, 1)) AS BIGINT) AS top3gram_frac6,
        |  CAST(round(coalesce(gp.top4, 0) * 1e6 / greatest(r.text_chars, 1)) AS BIGINT) AS top4gram_frac6,
        |  CAST(round(coalesce(gp.dup5, 0) * 1e6 / greatest(r.text_chars, 1)) AS BIGINT) AS dup5gram_frac6,
        |  CAST(round(coalesce(gp.dup6, 0) * 1e6 / greatest(r.text_chars, 1)) AS BIGINT) AS dup6gram_frac6,
        |  CAST(round(coalesce(gp.dup7, 0) * 1e6 / greatest(r.text_chars, 1)) AS BIGINT) AS dup7gram_frac6,
        |  CAST(round(coalesce(gp.dup8, 0) * 1e6 / greatest(r.text_chars, 1)) AS BIGINT) AS dup8gram_frac6,
        |  CAST(round(coalesce(gp.dup9, 0) * 1e6 / greatest(r.text_chars, 1)) AS BIGINT) AS dup9gram_frac6,
        |  CAST(round(coalesce(gp.dup10, 0) * 1e6 / greatest(r.text_chars, 1)) AS BIGINT) AS dup10gram_frac6,
        |  r.n_words >= 50 AND r.n_words <= 100000
        |    AND r.mean_word_chars6 >= 3000000 AND r.mean_word_chars6 <= 10000000
        |    AND r.symbol_frac6 <= 100000
        |    AND r.bullet_line_frac6 < 900000 AND r.ellipsis_line_frac6 < 300000
        |    AND r.alpha_word_frac6 >= 800000 AND r.stop_hits >= 2
        |    AND r.dup_line_frac6 <= 300000 AND r.dup_line_char_frac6 <= 200000
        |    AND CAST(round(coalesce(gp.top2, 0) * 1e6 / greatest(r.text_chars, 1)) AS BIGINT) <= 200000
        |    AND CAST(round(coalesce(gp.top3, 0) * 1e6 / greatest(r.text_chars, 1)) AS BIGINT) <= 180000
        |    AND CAST(round(coalesce(gp.top4, 0) * 1e6 / greatest(r.text_chars, 1)) AS BIGINT) <= 160000
        |    AND CAST(round(coalesce(gp.dup5, 0) * 1e6 / greatest(r.text_chars, 1)) AS BIGINT) <= 150000
        |    AND CAST(round(coalesce(gp.dup6, 0) * 1e6 / greatest(r.text_chars, 1)) AS BIGINT) <= 140000
        |    AND CAST(round(coalesce(gp.dup7, 0) * 1e6 / greatest(r.text_chars, 1)) AS BIGINT) <= 130000
        |    AND CAST(round(coalesce(gp.dup8, 0) * 1e6 / greatest(r.text_chars, 1)) AS BIGINT) <= 120000
        |    AND CAST(round(coalesce(gp.dup9, 0) * 1e6 / greatest(r.text_chars, 1)) AS BIGINT) <= 110000
        |    AND CAST(round(coalesce(gp.dup10, 0) * 1e6 / greatest(r.text_chars, 1)) AS BIGINT) <= 100000
        |    AS keep
        |FROM rowsig r LEFT JOIN gp ON r.doc_id = gp.doc_id
        |ORDER BY doc_id""".stripMargin,
    "bm25_rank" -> bm25Oracle,
    // the served path must reproduce the fused ranking bit-for-bit, so
    // the two rows share ONE oracle — an index/serve divergence turns
    // exactly one of them red
    "bm25_served" -> bm25Oracle,
    // the appended+compacted index must rank the UNION corpus exactly —
    // same oracle as the fused and build-once forms
    "bm25_compacted" -> bm25Oracle,
    // serve-after-excise == fresh-build-on-survivors: the SAME BM25
    // derivation over only the docs the takedown left standing
    "bm25_excised" ->
      bm25OracleOver("(SELECT * FROM documents WHERE doc_id % 3 <> 0)"),
    // both passes re-derived from the bm25 CTEs: seed scoring -> top-10
    // feedback docs -> non-seed term mass -> top-3 expansion (mass desc,
    // term asc) -> the same scoring over seed UNION expansion
    // bm25 CTEs -> top-5 -> the window scan replayed with list
    // comprehensions; list_position takes the FIRST max = the engine's
    // (hits, -start) struct-max leftmost tie-break
    "retrieval_snippets" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM tok),
        |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tfall AS (
        |  SELECT doc_id, t.term, count(*) AS tf
        |  FROM tok, unnest(tok.w) AS t(term) GROUP BY doc_id, t.term),
        |dfreq AS (SELECT term, count(*) AS df FROM tfall GROUP BY term),
        |scored AS (
        |  SELECT tfall.doc_id,
        |    round(sum((n_docs - df + 0.5) / (df + 0.5)
        |      * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))), 6) AS bm25
        |  FROM tfall JOIN dfreq USING (term) JOIN dl USING (doc_id), stats
        |  WHERE term IN ('hash', 'join', 'vector')
        |  GROUP BY tfall.doc_id, n_docs, avgdl),
        |top AS (
        |  SELECT CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
        |    AS INTEGER) AS rank, doc_id
        |  FROM scored ORDER BY bm25 DESC, doc_id LIMIT 5),
        |win AS (
        |  SELECT top.rank, top.doc_id, tok.w AS toks,
        |    [CAST(list_contains(tok.w[i+1:i+8], 'hash') AS INTEGER)
        |     + CAST(list_contains(tok.w[i+1:i+8], 'join') AS INTEGER)
        |     + CAST(list_contains(tok.w[i+1:i+8], 'vector') AS INTEGER)
        |     for i in range(0, greatest(len(tok.w) - 8, 0) + 1)] AS hits
        |  FROM top JOIN tok USING (doc_id))
        |SELECT rank, doc_id,
        |  CAST(list_position(hits, list_max(hits)) - 1 AS INTEGER) AS start_idx,
        |  CAST(list_max(hits) AS INTEGER) AS n_hits,
        |  array_to_string(toks[list_position(hits, list_max(hits)):
        |    list_position(hits, list_max(hits)) + 7], ' ') AS snippet
        |FROM win ORDER BY rank""".stripMargin,
    // the argmin correction rule re-derived over the df table:
    // candidates within 2 edits (length gap pre-filter is implied by the
    // distance filter), best by (dist, df desc, term), passthrough via
    // the left join
    "retrieval_fuzzy_correct" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |tfall AS (
        |  SELECT doc_id, t.term, count(*) AS tf
        |  FROM tok, unnest(tok.w) AS t(term) GROUP BY doc_id, t.term),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfall GROUP BY term),
        |q AS (SELECT unnest(['haash', 'join', 'qery', 'zzzzzz']) AS qterm),
        |cand AS (
        |  SELECT q.qterm, d.term, d.df,
        |    CAST(levenshtein(q.qterm, d.term) AS INTEGER) AS dist
        |  FROM q, dfreq d
        |  WHERE abs(length(q.qterm) - length(d.term)) <= 2
        |    AND levenshtein(q.qterm, d.term) <= 2),
        |best AS (
        |  SELECT qterm, term, dist, df FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qterm
        |      ORDER BY dist, df DESC, term) AS rn FROM cand) WHERE rn = 1)
        |SELECT q.qterm, coalesce(b.term, q.qterm) AS corrected, b.dist, b.df
        |FROM q LEFT JOIN best b USING (qterm) ORDER BY qterm""".stripMargin,
    // the correction CTEs feeding the bm25 scoring verbatim — the
    // corrected term set {hash, join, query} (zzzzzz matches nothing)
    // 1-based comprehension indices vs the engine's 0-based transform
    // indices: pairwise DIFFERENCES are shift-invariant
    "retrieval_proximity" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS tk
        |           FROM documents),
        |p AS (SELECT doc_id,
        |        [i for i in range(1, len(tk) + 1) if tk[i] = 'hash'] AS p1,
        |        [i for i in range(1, len(tk) + 1) if tk[i] = 'join'] AS p2
        |      FROM t)
        |SELECT doc_id, CAST(len(p1) AS INTEGER) AS n_a,
        |  CAST(len(p2) AS INTEGER) AS n_b,
        |  CAST(list_min(flatten([[abs(a - b) for a in p1] for b in p2]))
        |    AS INTEGER) AS min_dist
        |FROM p WHERE len(p1) >= 1 AND len(p2) >= 1
        |ORDER BY doc_id""".stripMargin,
    // same adjacent-pair comprehension, counts, Dice, (dice desc, w1, w2)
    // top-20 — the ORDER BY reads the ROUNDED alias on both sides, so the
    // cut point can never disagree on sub-round-6 noise
    "collocation_dice" ->
      """WITH t AS (SELECT string_split(lower(text), ' ') AS tk
        |           FROM documents WHERE text IS NOT NULL),
        |bg AS (SELECT unnest([{'w1': tk[i], 'w2': tk[i+1]}
        |                      for i in range(1, len(tk))],
        |         recursive := true)
        |       FROM t WHERE len(tk) >= 2),
        |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_ab
        |       FROM bg GROUP BY 1, 2 HAVING count(*) >= 5),
        |ug AS (SELECT unnest(tk) AS w FROM t),
        |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM ug GROUP BY 1)
        |SELECT b.w1, b.w2, b.n_ab,
        |  round(2.0 * b.n_ab / (a.n + c.n), 6) AS dice
        |FROM bc b JOIN uc a ON b.w1 = a.w JOIN uc c ON b.w2 = c.w
        |ORDER BY dice DESC, w1, w2 LIMIT 20""".stripMargin,
    "retrieval_fuzzy_serve" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM tok),
        |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tfall AS (
        |  SELECT doc_id, t.term, count(*) AS tf
        |  FROM tok, unnest(tok.w) AS t(term) GROUP BY doc_id, t.term),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfall GROUP BY term),
        |q AS (SELECT unnest(['haash', 'join', 'qery', 'zzzzzz']) AS qterm),
        |cand AS (
        |  SELECT q.qterm, d.term, d.df,
        |    CAST(levenshtein(q.qterm, d.term) AS INTEGER) AS dist
        |  FROM q, dfreq d
        |  WHERE abs(length(q.qterm) - length(d.term)) <= 2
        |    AND levenshtein(q.qterm, d.term) <= 2),
        |best AS (
        |  SELECT qterm, term FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qterm
        |      ORDER BY dist, df DESC, term) AS rn FROM cand) WHERE rn = 1),
        |corrected AS (
        |  SELECT DISTINCT coalesce(b.term, q.qterm) AS term
        |  FROM q LEFT JOIN best b USING (qterm)),
        |scored AS (
        |  SELECT tfall.doc_id, CAST(count(*) AS BIGINT) AS matched_terms,
        |    round(sum((n_docs - df + 0.5) / (df + 0.5)
        |      * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))), 6) AS bm25
        |  FROM tfall JOIN dfreq USING (term) JOIN dl USING (doc_id), stats
        |  WHERE term IN (SELECT term FROM corrected)
        |  GROUP BY tfall.doc_id, n_docs, avgdl),
        |ranked AS (
        |  SELECT CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
        |    AS INTEGER) AS rank, doc_id, matched_terms, bm25
        |  FROM scored)
        |SELECT rank, doc_id, matched_terms, bm25
        |FROM ranked WHERE rank <= 20 ORDER BY rank""".stripMargin,
    "retrieval_prf_expand" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM tok),
        |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tfall AS (
        |  SELECT doc_id, t.term, count(*) AS tf
        |  FROM tok, unnest(tok.w) AS t(term) GROUP BY doc_id, t.term),
        |dfreq AS (SELECT term, count(*) AS df FROM tfall GROUP BY term),
        |s1 AS (
        |  SELECT tfall.doc_id,
        |    round(sum((n_docs - df + 0.5) / (df + 0.5)
        |      * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))), 6) AS bm25
        |  FROM tfall JOIN dfreq USING (term) JOIN dl USING (doc_id), stats
        |  WHERE term IN ('hash', 'join', 'vector')
        |  GROUP BY tfall.doc_id, n_docs, avgdl),
        |fb AS (SELECT doc_id FROM s1 ORDER BY bm25 DESC, doc_id LIMIT 10),
        |mass AS (
        |  SELECT term, CAST(sum(tf) AS BIGINT) AS mass
        |  FROM tfall JOIN fb USING (doc_id)
        |  WHERE term NOT IN ('hash', 'join', 'vector')
        |  GROUP BY term),
        |exp3 AS (SELECT term FROM mass ORDER BY mass DESC, term LIMIT 3),
        |qterms AS (SELECT term FROM exp3
        |           UNION SELECT unnest(['hash', 'join', 'vector']) AS term),
        |s2 AS (
        |  SELECT tfall.doc_id, CAST(count(*) AS BIGINT) AS matched_terms,
        |    round(sum((n_docs - df + 0.5) / (df + 0.5)
        |      * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))), 6) AS bm25
        |  FROM tfall JOIN dfreq USING (term) JOIN dl USING (doc_id), stats
        |  WHERE term IN (SELECT term FROM qterms)
        |  GROUP BY tfall.doc_id, n_docs, avgdl),
        |ranked AS (
        |  SELECT CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
        |    AS INTEGER) AS rank, doc_id, matched_terms, bm25
        |  FROM s2)
        |SELECT rank, doc_id, matched_terms, bm25
        |FROM ranked WHERE rank <= 20 ORDER BY rank""".stripMargin,
    // the bm25 CTEs verbatim (stats over the FULL corpus — the index is
    // built before the request excludes its source doc), the dense
    // cosine re-derived with the usual list comprehension, RRF = sum of
    // 1/(60+rank) in lex-then-dense order, scaled-rounded like every
    // engine score
    "retrieval_hybrid_rrf" ->
      """WITH tok AS (
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
        |e AS (
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
        |    l.lex_rank, d.dense_rank,
        |    round((coalesce(1.0 / (60 + l.lex_rank), 0)
        |         + coalesce(1.0 / (60 + d.dense_rank), 0)) * 1e6) / 1e6 AS rrf6
        |  FROM (SELECT * FROM lex WHERE lex_rank <= 20) l
        |  FULL OUTER JOIN (SELECT * FROM dense WHERE dense_rank <= 20) d
        |    ON l.doc_id = d.doc_id),
        |ranked AS (
        |  SELECT CAST(row_number() OVER (ORDER BY rrf6 DESC, doc_id)
        |    AS INTEGER) AS rank, doc_id, lex_rank, dense_rank, rrf6
        |  FROM fused)
        |SELECT rank, doc_id, lex_rank, dense_rank, rrf6
        |FROM ranked WHERE rank <= 10 ORDER BY rank""".stripMargin,
    "text_scrub_pii" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(lower(text), 'https?://[^ ]+')) AS INTEGER) AS n_urls,
        |  CAST(len(regexp_extract_all(lower(text), '[0-9]{7,}')) AS INTEGER) AS n_long_nums,
        |  md5(regexp_replace(regexp_replace(regexp_replace(lower(text),
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
        |    'https?://[^ ]+', '[URL]', 'g'),
        |    '[0-9]{7,}', '[NUM]', 'g')) AS scrubbed_fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_split_assign" ->
      """SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS split_hash,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '9' THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'c' THEN 'val'
        |       ELSE 'test' END AS split,
        |  substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a' AS in_10pct_sample
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_normalize" ->
      """SELECT doc_id,
        |  md5(nfc_normalize(text)) AS nfc_fingerprint,
        |  CAST(length(strip_accents(text)) AS INTEGER) AS len_no_accents
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |g AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
        |d AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |        CAST(max(tf) AS BIGINT) AS max_tf, count(*) AS n_distinct
        |      FROM g GROUP BY doc_id)
        |SELECT doc_id, n_tokens, max_tf, n_distinct,
        |  round(max_tf * 1.0 / n_tokens, 6) AS top_token_ratio,
        |  round(n_distinct * 1.0 / n_tokens, 6) AS distinct_ratio
        |FROM d ORDER BY doc_id""".stripMargin,
    "boilerplate_ngrams" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 13),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([list_reduce(w[i:i+12], (a, b) -> a || ' ' || b)
        |                   for i in range(1, len(w) - 11)]) AS shingles
        |  FROM tok),
        |ex AS (SELECT doc_id, unnest(shingles) AS ngram FROM sh)
        |SELECT ngram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM ex GROUP BY ngram HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n_docs DESC, ngram LIMIT 25""".stripMargin,
    // the booleans are engine-private invariants pinned TRUE (roundtrip
    // holds by construction of BPE — red means a real encoder bug);
    // n_docs is genuinely recomputed
    "bpe_gate" ->
      """SELECT count(*) AS n_docs, TRUE AS bounds_ok, TRUE AS roundtrip_ok
        |FROM documents""".stripMargin,
    // parity literal: deterministic retraining must equal the durable
    // merge table on every document; n_docs is genuinely recomputed
    "bpe_persisted" ->
      """SELECT count(*) AS n_docs, TRUE AS parity FROM documents""".stripMargin,
    // independent re-derivation of the bigram LM: same counts, same
    // add-one smoothing, same rational score — no transcendentals
    "lm_bigram_quality" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |occ AS (
        |  SELECT doc_id,
        |    unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bg
        |  FROM d),
        |doc_bg AS (SELECT doc_id, bg, count(*) AS k FROM occ GROUP BY doc_id, bg),
        |model AS (SELECT bg, sum(k) AS c12, count(*) AS df FROM doc_bg GROUP BY bg),
        |ctx AS (SELECT split_part(bg, ' ', 1) AS w1, sum(k) AS c1
        |        FROM doc_bg GROUP BY 1),
        |voc AS (SELECT count(DISTINCT w) AS v
        |        FROM (SELECT unnest(t) AS w FROM d)),
        |j AS (
        |  SELECT b.doc_id, b.k, m.c12, m.df, c.c1, voc.v
        |  FROM doc_bg b
        |  JOIN model m ON b.bg = m.bg
        |  JOIN ctx c ON split_part(b.bg, ' ', 1) = c.w1, voc)
        |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
        |  round(sum(k * ((CAST(c12 AS DOUBLE) + 1.0) / (c1 + v))) / sum(k), 6)
        |    AS pred_prob,
        |  round(avg(CASE WHEN df = 1 THEN 1.0 ELSE 0.0 END), 6) AS novel_rate
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the trigram LM score derivation (shared CTEs — since r12 the
    // perplexity partition stands on the interpolated trigram, not the
    // add-one bigram), then exact discrete terciles via the same
    // histogram-cumulative shape: cut j = smallest score whose cumulative
    // count reaches ceil(j*n/3)
    "perplexity_buckets" ->
      (s"WITH $duckTrigramScoreCtes,\n" +
      """hist AS (SELECT pred_prob AS s, count(*) AS cnt FROM score GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM score),
        |cum AS (SELECT s, sum(cnt) OVER (ORDER BY s) AS cum FROM hist),
        |thr AS (
        |  SELECT min(CASE WHEN cum >= (1 * tot.n + 2) // 3 THEN s END) AS t1,
        |         min(CASE WHEN cum >= (2 * tot.n + 2) // 3 THEN s END) AS t2
        |  FROM cum, tot)
        |SELECT doc_id, pred_prob,
        |  CASE WHEN pred_prob <= t1 THEN 'tail'
        |       WHEN pred_prob <= t2 THEN 'middle'
        |       ELSE 'head' END AS bucket
        |FROM score, thr ORDER BY doc_id""".stripMargin),
    // the perplexity-tercile derivation above (trigram LM since r12),
    // then the two-level prefix scan's single-window reformulation: one
    // global row_number over (phase, order_key, doc_id)
    "curriculum_order" ->
      (s"WITH $duckTrigramScoreCtes,\n" +
      """hist AS (SELECT pred_prob AS s, count(*) AS cnt FROM score GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM score),
        |cum AS (SELECT s, sum(cnt) OVER (ORDER BY s) AS cum FROM hist),
        |thr AS (
        |  SELECT min(CASE WHEN cum >= (1 * tot.n + 2) // 3 THEN s END) AS t1,
        |         min(CASE WHEN cum >= (2 * tot.n + 2) // 3 THEN s END) AS t2
        |  FROM cum, tot),
        |bk AS (
        |  SELECT doc_id,
        |    CASE WHEN pred_prob <= t1 THEN 0
        |         WHEN pred_prob <= t2 THEN 1 ELSE 2 END AS phase
        |  FROM score, thr),
        |al AS (
        |  SELECT doc.doc_id, coalesce(bk.phase, 0) AS phase,
        |    md5('cur1:' || CAST(doc.doc_id AS VARCHAR)) AS order_key
        |  FROM documents doc LEFT JOIN bk USING (doc_id))
        |SELECT doc_id, phase, order_key,
        |  CAST(row_number() OVER (ORDER BY phase, order_key, doc_id) - 1
        |    AS BIGINT) AS pos
        |FROM al ORDER BY doc_id""".stripMargin),
    // the full chain re-derived: dedup + gate, waterfilled rates over the
    // survivors' token mass, md5-filter mixture, trigram-LM tercile
    // phases, single-window curriculum positions, running-sum packing in
    // that order
    "corpus_materialize_curriculum" ->
      (s"WITH $duckTrigramScoreCtes,\n" +
      """hist AS (SELECT pred_prob AS s, count(*) AS cnt FROM score GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM score),
        |cum AS (SELECT s, sum(cnt) OVER (ORDER BY s) AS cum FROM hist),
        |thr AS (
        |  SELECT min(CASE WHEN cum >= (1 * tot.n + 2) // 3 THEN s END) AS t1,
        |         min(CASE WHEN cum >= (2 * tot.n + 2) // 3 THEN s END) AS t2
        |  FROM cum, tot),
        |bk AS (
        |  SELECT doc_id,
        |    CASE WHEN pred_prob <= t1 THEN 0
        |         WHEN pred_prob <= t2 THEN 1 ELSE 2 END AS phase
        |  FROM score, thr),
        |surv AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |  WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
        |    AND len(string_split(text, ' ')) >= 20),
        |tokc AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS n
        |         FROM surv WHERE lang IS NOT NULL GROUP BY 1),
        |wt AS (
        |  SELECT lang, n,
        |    CAST(CASE lang WHEN 'de' THEN 2 WHEN 'en' THEN 1 WHEN 'es' THEN 2
        |         WHEN 'fr' THEN 2 WHEN 'zh' THEN 2 ELSE 0 END AS BIGINT) AS w
        |  FROM tokc),
        |act AS (SELECT * FROM wt WHERE w > 0),
        |tw AS (SELECT sum(w) AS wtot FROM act),
        |ordw AS (
        |  SELECT lang, n, w, wtot,
        |    coalesce(sum(n) OVER win, 0) AS cumN,
        |    coalesce(sum(w) OVER win, 0) AS cumW
        |  FROM act, tw
        |  WINDOW win AS (ORDER BY n * 1.0 / w, lang
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |sat AS (
        |  SELECT *, n * (wtot - cumW) <= (8000 - cumN) * w AS satd FROM ordw),
        |lam AS (
        |  SELECT 8000 - coalesce(sum(CASE WHEN satd THEN n END), 0) AS lamN,
        |         min(wtot) - coalesce(sum(CASE WHEN satd THEN w END), 0) AS lamD
        |  FROM sat),
        |rates AS (
        |  SELECT s.lang,
        |    CASE WHEN s.satd THEN 1.0
        |         ELSE round(CAST(l.lamN * s.w AS DOUBLE) / (l.lamD * s.n), 6)
        |         END AS rate
        |  FROM sat s, lam l),
        |kept AS (
        |  SELECT v.doc_id, v.lang, v.n_tokens, coalesce(bk.phase, 0) AS phase,
        |    md5('mat1:' || CAST(v.doc_id AS VARCHAR)) AS order_key
        |  FROM surv v JOIN rates r USING (lang) LEFT JOIN bk USING (doc_id)
        |  WHERE (('0x' || substring(md5(CAST(v.doc_id AS VARCHAR)), 1, 15))::BIGINT)
        |        / 1152921504606846976.0 < r.rate),
        |po AS (
        |  SELECT doc_id, lang, n_tokens, phase,
        |    CAST(row_number() OVER (ORDER BY phase, order_key, doc_id) - 1
        |      AS BIGINT) AS pos,
        |    coalesce(sum(n_tokens) OVER (ORDER BY phase, order_key, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before
        |  FROM kept)
        |SELECT doc_id, lang, phase, pos, n_tokens,
        |  CAST(floor(cum_before / 512.0) AS BIGINT) AS seq_id,
        |  CAST(cum_before % 512 AS BIGINT) AS seq_offset
        |FROM po ORDER BY doc_id""".stripMargin),
    // the curriculum capstone's oracle with the blocklist keep condition
    // and the 13-gram contamination anti-set spliced into the survivor
    // CTE (both re-derived the same way blocklist_filter's and
    // decontaminate_ngram's own oracles derive them), the corpus
    // restricted to the %5!=0 training slice, seed 'matf', budget 13000
    "corpus_materialize_full" ->
      (s"WITH $duckTrigramScoreCtes,\n" +
      """hist AS (SELECT pred_prob AS s, count(*) AS cnt FROM score GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM score),
        |cum AS (SELECT s, sum(cnt) OVER (ORDER BY s) AS cum FROM hist),
        |thr AS (
        |  SELECT min(CASE WHEN cum >= (1 * tot.n + 2) // 3 THEN s END) AS t1,
        |         min(CASE WHEN cum >= (2 * tot.n + 2) // 3 THEN s END) AS t2
        |  FROM cum, tot),
        |bk AS (
        |  SELECT doc_id,
        |    CASE WHEN pred_prob <= t1 THEN 0
        |         WHEN pred_prob <= t2 THEN 1 ELSE 2 END AS phase
        |  FROM score, thr),
        |ftok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 13),
        |fex AS (
        |  SELECT doc_id,
        |    unnest(list_distinct([list_reduce(w[i:i+12], (a, b) -> a || ' ' || b)
        |                          for i in range(1, len(w) - 11)])) AS s
        |  FROM ftok),
        |contamf AS (
        |  SELECT DISTINCT c.doc_id FROM fex c JOIN fex e ON c.s = e.s
        |  WHERE e.doc_id % 5 = 0 AND c.doc_id % 5 <> 0),
        |surv AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |  WHERE doc_id % 5 <> 0
        |    AND doc_id IN (SELECT min(doc_id) FROM documents
        |                   WHERE doc_id % 5 <> 0 GROUP BY text)
        |    AND len(list_filter(string_split(lower(text), ' '),
        |          t -> t IN ('dup'))) = 0
        |    AND NOT contains(lower(text), 'slow scan')
        |    AND doc_id NOT IN (SELECT doc_id FROM contamf)
        |    AND len(string_split(text, ' ')) >= 20),
        |tokc AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS n
        |         FROM surv WHERE lang IS NOT NULL GROUP BY 1),
        |wt AS (
        |  SELECT lang, n,
        |    CAST(CASE lang WHEN 'de' THEN 2 WHEN 'en' THEN 1 WHEN 'es' THEN 2
        |         WHEN 'fr' THEN 2 WHEN 'zh' THEN 2 ELSE 0 END AS BIGINT) AS w
        |  FROM tokc),
        |act AS (SELECT * FROM wt WHERE w > 0),
        |tw AS (SELECT sum(w) AS wtot FROM act),
        |ordw AS (
        |  SELECT lang, n, w, wtot,
        |    coalesce(sum(n) OVER win, 0) AS cumN,
        |    coalesce(sum(w) OVER win, 0) AS cumW
        |  FROM act, tw
        |  WINDOW win AS (ORDER BY n * 1.0 / w, lang
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |sat AS (
        |  SELECT *, n * (wtot - cumW) <= (13000 - cumN) * w AS satd FROM ordw),
        |lam AS (
        |  SELECT 13000 - coalesce(sum(CASE WHEN satd THEN n END), 0) AS lamN,
        |         min(wtot) - coalesce(sum(CASE WHEN satd THEN w END), 0) AS lamD
        |  FROM sat),
        |rates AS (
        |  SELECT s.lang,
        |    CASE WHEN s.satd THEN 1.0
        |         ELSE round(CAST(l.lamN * s.w AS DOUBLE) / (l.lamD * s.n), 6)
        |         END AS rate
        |  FROM sat s, lam l),
        |kept AS (
        |  SELECT v.doc_id, v.lang, v.n_tokens, coalesce(bk.phase, 0) AS phase,
        |    md5('matf:' || CAST(v.doc_id AS VARCHAR)) AS order_key
        |  FROM surv v JOIN rates r USING (lang) LEFT JOIN bk USING (doc_id)
        |  WHERE (('0x' || substring(md5(CAST(v.doc_id AS VARCHAR)), 1, 15))::BIGINT)
        |        / 1152921504606846976.0 < r.rate),
        |po AS (
        |  SELECT doc_id, lang, n_tokens, phase,
        |    CAST(row_number() OVER (ORDER BY phase, order_key, doc_id) - 1
        |      AS BIGINT) AS pos,
        |    coalesce(sum(n_tokens) OVER (ORDER BY phase, order_key, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before
        |  FROM kept)
        |SELECT doc_id, lang, phase, pos, n_tokens,
        |  CAST(floor(cum_before / 512.0) AS BIGINT) AS seq_id,
        |  CAST(cum_before % 512 AS BIGINT) AS seq_offset
        |FROM po ORDER BY doc_id""".stripMargin),
    // train on the %5!=0 slice, score the held-out %5==0 slice under the
    // frozen counts — unseen bigrams/contexts coalesce to 0 (add-one
    // smoothing floors them at 1/(c1+v) resp. 1/v)
    "lm_bigram_score_heldout" ->
      """WITH tr AS (
        |  SELECT string_split(lower(text), ' ') AS t FROM documents
        |  WHERE doc_id % 5 <> 0),
        |ev AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        |  WHERE doc_id % 5 = 0),
        |trocc AS (
        |  SELECT unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bg
        |  FROM tr),
        |model AS (SELECT bg, count(*) AS c12 FROM trocc GROUP BY bg),
        |ctx AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1
        |        FROM trocc GROUP BY 1),
        |voc AS (SELECT count(DISTINCT w) AS v
        |        FROM (SELECT unnest(t) AS w FROM tr)),
        |evocc AS (
        |  SELECT doc_id,
        |    unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bg
        |  FROM ev),
        |doc_bg AS (SELECT doc_id, bg, count(*) AS k FROM evocc GROUP BY doc_id, bg),
        |j AS (
        |  SELECT b.doc_id, b.k, m.c12, c.c1, voc.v
        |  FROM doc_bg b
        |  LEFT JOIN model m ON b.bg = m.bg
        |  LEFT JOIN ctx c ON split_part(b.bg, ' ', 1) = c.w1, voc)
        |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
        |  round(sum(k * ((coalesce(c12, 0) + 1.0) / (coalesce(c1, 0) + v))) / sum(k), 6)
        |    AS pred_prob,
        |  round(avg(CASE WHEN c12 IS NULL THEN 1.0 ELSE 0.0 END), 6) AS oov_rate
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // exact unlearning: the excised model must equal a FRESH train over
    // only the surviving training docs (doc_id%5<>0 AND doc_id%3<>0) —
    // the heldout derivation with the takedown cohort filtered out of
    // the training slice, v recomputed over the survivors included
    "lm_bigram_excised" ->
      """WITH tr AS (
        |  SELECT string_split(lower(text), ' ') AS t FROM documents
        |  WHERE doc_id % 5 <> 0 AND doc_id % 3 <> 0),
        |ev AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        |  WHERE doc_id % 5 = 0),
        |trocc AS (
        |  SELECT unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bg
        |  FROM tr),
        |model AS (SELECT bg, count(*) AS c12 FROM trocc GROUP BY bg),
        |ctx AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1
        |        FROM trocc GROUP BY 1),
        |voc AS (SELECT count(DISTINCT w) AS v
        |        FROM (SELECT unnest(t) AS w FROM tr)),
        |evocc AS (
        |  SELECT doc_id,
        |    unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bg
        |  FROM ev),
        |doc_bg AS (SELECT doc_id, bg, count(*) AS k FROM evocc GROUP BY doc_id, bg),
        |j AS (
        |  SELECT b.doc_id, b.k, m.c12, c.c1, voc.v
        |  FROM doc_bg b
        |  LEFT JOIN model m ON b.bg = m.bg
        |  LEFT JOIN ctx c ON split_part(b.bg, ' ', 1) = c.w1, voc)
        |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
        |  round(sum(k * ((coalesce(c12, 0) + 1.0) / (coalesce(c1, 0) + v))) / sum(k), 6)
        |    AS pred_prob,
        |  round(avg(CASE WHEN c12 IS NULL THEN 1.0 ELSE 0.0 END), 6) AS oov_rate
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the shared corpus-internal trigram chain; oov is structurally 0
    // (every trigram of the scoring corpus is in the self-trained model)
    // but computed through the same avg as the heldout form
    "lm_trigram_quality" ->
      (s"WITH $duckTrigramScoreCtes,\n" +
      """ov AS (
        |  SELECT doc_id,
        |    round(avg(CASE WHEN c123 IS NULL THEN 1.0 ELSE 0.0 END), 6)
        |      AS oov_rate
        |  FROM ps GROUP BY doc_id)
        |SELECT s.doc_id, s.n_trigrams, s.pred_prob, ov.oov_rate
        |FROM score s JOIN ov USING (doc_id) ORDER BY doc_id""".stripMargin),
    // train on %5!=0, score the held-out %5==0 slice under the frozen
    // counts — the LEFT-JOIN variant of the shared chain: an unseen
    // trigram discounts to the interpolation mass (c123 -> 0), an unseen
    // context backs off one level (CASE c12/c2 IS NULL), an unseen word
    // floors at the add-one unigram — every backoff branch of
    // TrigramLm.score replayed exactly
    "lm_trigram_score_heldout" ->
      duckTrigramHeldoutOracle("doc_id % 5 <> 0"),
    // exact unlearning: the excised model must equal a FRESH train over
    // only the surviving training docs (doc_id%5<>0 AND doc_id%3<>0) —
    // the heldout derivation with the takedown cohort filtered out of
    // the training slice; every count table, both scalars (v and nTok
    // sit in the add-one unigram base every backoff chain bottoms out
    // in), and the re-derived continuation statistics refresh over the
    // survivors
    "lm_trigram_excised" ->
      duckTrigramHeldoutOracle("doc_id % 5 <> 0 AND doc_id % 3 <> 0"),
    // independent re-derivation of train + serve: NB sufficient statistics
    // from the %5==0 labeled slice, prior-weighted expected-probability
    // argmax over the %5!=0 docs — exact integer numerators over
    // class-constant denominators, one correctly-rounded division, ties
    // broken by label order (see QualityClassifier scaladoc)
    "classifier_train_score" ->
      duckClassifierOracle("doc_id % 5 = 0"),
    // exact unlearning: the excised classifier must equal a FRESH train
    // over only the surviving seeds (doc_id%5=0 AND doc_id%3<>0) — the
    // train+serve derivation with the takedown cohort filtered out of
    // the seed slice; counts, priors, token totals, and the vocabulary
    // scalar v (every class's smoothing denominator) all refresh over
    // the survivors
    "classifier_excised" ->
      duckClassifierOracle("doc_id % 5 = 0 AND doc_id % 3 <> 0"),
    // the char-trigram twin of classifier_train_score's oracle: the same
    // NB train + serve re-derivation with the feature extraction swapped
    // to the positional-substring comprehension (mirrors
    // TextAnalysis.charNgrams — positions over the LOWERCASED text's
    // length, since lowercasing can change code-point counts outside
    // ASCII); class priors count seed ROWS, not gram-bearing docs,
    // matching trainFeatures (a sub-3-char seed doc contributes its
    // prior row but no grams); a feature-less SCORED doc still drops on
    // both sides via the inner gram group-by
    "lang_id_trained" ->
      """WITH seedg AS (
        |  SELECT doc_id, lang AS label,
        |    unnest([substring(lower(text), i, 3)
        |            for i in range(1, len(lower(text)) - 1)]) AS w
        |  FROM documents WHERE doc_id % 5 = 0),
        |counts AS (SELECT label, w, CAST(count(*) AS BIGINT) AS c
        |           FROM seedg GROUP BY label, w),
        |classes AS (
        |  SELECT d.label, d.n_docs, coalesce(g.tot, 0) AS tot
        |  FROM (SELECT lang AS label, CAST(count(*) AS BIGINT) AS n_docs
        |        FROM documents WHERE doc_id % 5 = 0 GROUP BY lang) d
        |  LEFT JOIN (SELECT label, CAST(count(*) AS BIGINT) AS tot
        |             FROM seedg GROUP BY label) g USING (label)),
        |voc AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM seedg),
        |docg AS (
        |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS k
        |  FROM (SELECT doc_id, unnest([substring(lower(text), i, 3)
        |                               for i in range(1, len(lower(text)) - 1)]) AS w
        |        FROM documents WHERE doc_id % 5 <> 0)
        |  GROUP BY doc_id, w),
        |docn AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_grams
        |         FROM docg GROUP BY doc_id),
        |hits AS (
        |  SELECT t.doc_id, c.label, CAST(sum(t.k * c.c) AS BIGINT) AS s
        |  FROM docg t JOIN counts c USING (w) GROUP BY t.doc_id, c.label),
        |scored AS (
        |  SELECT d.doc_id, d.n_grams, cl.label,
        |    coalesce(h.s, 0) + d.n_grams AS num,
        |    cl.tot + voc.v AS den,
        |    CAST(cl.n_docs * (coalesce(h.s, 0) + d.n_grams) AS DOUBLE)
        |      / CAST(cl.tot + voc.v AS DOUBLE) AS dscore
        |  FROM docn d CROSS JOIN classes cl CROSS JOIN voc
        |  LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.label = cl.label),
        |best AS (
        |  SELECT doc_id, n_grams, label AS pred_label,
        |    round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1e6) / 1e6
        |      AS expected_p,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY dscore DESC, label) AS rk
        |  FROM scored)
        |SELECT doc_id, n_grams, pred_label, expected_p
        |FROM best WHERE rk = 1 ORDER BY doc_id""".stripMargin,
    // train + serve + threshold composed: the classifier CTEs over ALL
    // docs, then the same integer-scaled keep rules
    "corpus_filter_classifier" ->
      """WITH seedtok AS (
        |  SELECT doc_id, lang AS label,
        |    unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents WHERE doc_id % 5 = 0),
        |counts AS (SELECT label, w, CAST(count(*) AS BIGINT) AS c
        |           FROM seedtok GROUP BY label, w),
        |classes AS (SELECT label,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS BIGINT) AS tot
        |  FROM seedtok GROUP BY label),
        |voc AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM seedtok),
        |doctok AS (
        |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS k
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |        FROM documents)
        |  GROUP BY doc_id, w),
        |docn AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens
        |         FROM doctok GROUP BY doc_id),
        |hits AS (
        |  SELECT t.doc_id, c.label, CAST(sum(t.k * c.c) AS BIGINT) AS s
        |  FROM doctok t JOIN counts c USING (w) GROUP BY t.doc_id, c.label),
        |scored AS (
        |  SELECT d.doc_id, d.n_tokens, cl.label,
        |    coalesce(h.s, 0) + d.n_tokens AS num,
        |    cl.tot + voc.v AS den,
        |    CAST(cl.n_docs * (coalesce(h.s, 0) + d.n_tokens) AS DOUBLE)
        |      / CAST(cl.tot + voc.v AS DOUBLE) AS dscore
        |  FROM docn d CROSS JOIN classes cl CROSS JOIN voc
        |  LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.label = cl.label),
        |best AS (
        |  SELECT doc_id, n_tokens, label AS pred_label,
        |    CAST(round(round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1e6)
        |      / 1e6 * 1e6) AS BIGINT) AS expected_p6,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY dscore DESC, label) AS rk
        |  FROM scored)
        |SELECT doc_id, n_tokens, pred_label, expected_p6,
        |  pred_label = 'en' AS keep_domain,
        |  expected_p6 >= 15000 AS keep_confidence,
        |  n_tokens >= 20 AS keep_length,
        |  pred_label = 'en' AND expected_p6 >= 15000 AND n_tokens >= 20 AS keep
        |FROM best WHERE rk = 1 ORDER BY doc_id""".stripMargin,
    // the streamed survivor set must equal the composed batch keep-set:
    // quality CTEs (shared with corpus_quality_filter's oracle),
    // blocklist verdict (shared with blocklist_filter's), classifier
    // train+serve+threshold (shared with corpus_filter_classifier's)
    "streaming_gate_replay" ->
      (s"""WITH $qualityCtes,
        |q AS (SELECT b.doc_id FROM b JOIN r ON b.doc_id = r.doc_id
        |      WHERE n_tokens >= 20 AND quality4 >= 4000
        |        AND distinct_ratio6 >= 300000 AND lang_pred = 'en'),
        |bl AS (SELECT doc_id FROM documents
        |       WHERE len(list_filter(string_split(lower(text), ' '),
        |           t -> t IN ('dup'))) = 0
        |         AND NOT contains(lower(text), 'slow scan')),
        |seedtok AS (
        |  SELECT doc_id, lang AS label,
        |    unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents WHERE doc_id % 5 = 0),
        |counts AS (SELECT label, w, CAST(count(*) AS BIGINT) AS c
        |           FROM seedtok GROUP BY label, w),
        |classes AS (SELECT label,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS BIGINT) AS tot
        |  FROM seedtok GROUP BY label),
        |voc AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM seedtok),
        |doctok AS (
        |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS k
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |        FROM documents)
        |  GROUP BY doc_id, w),
        |docn AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens
        |         FROM doctok GROUP BY doc_id),
        |hits AS (
        |  SELECT t.doc_id, c.label, CAST(sum(t.k * c.c) AS BIGINT) AS s
        |  FROM doctok t JOIN counts c USING (w) GROUP BY t.doc_id, c.label),
        |scored AS (
        |  SELECT d.doc_id, d.n_tokens, cl.label,
        |    coalesce(h.s, 0) + d.n_tokens AS num,
        |    cl.tot + voc.v AS den,
        |    CAST(cl.n_docs * (coalesce(h.s, 0) + d.n_tokens) AS DOUBLE)
        |      / CAST(cl.tot + voc.v AS DOUBLE) AS dscore
        |  FROM docn d CROSS JOIN classes cl CROSS JOIN voc
        |  LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.label = cl.label),
        |best AS (
        |  SELECT doc_id, n_tokens, label AS pred_label,
        |    CAST(round(round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1e6)
        |      / 1e6 * 1e6) AS BIGINT) AS expected_p6,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY dscore DESC, label) AS rk
        |  FROM scored),
        |ck AS (SELECT doc_id FROM best
        |       WHERE rk = 1 AND pred_label = 'en'
        |         AND expected_p6 >= 15000 AND n_tokens >= 20)
        |SELECT q.doc_id FROM q
        |JOIN bl USING (doc_id) JOIN ck USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    // parity literals: the durable model must equal the in-session model
    // exactly — counts are recomputed genuinely on the Spark side
    "classifier_persisted" ->
      """SELECT CAST(0 AS BIGINT) AS missing_from_file,
        |  CAST(0 AS BIGINT) AS extra_in_file, TRUE AS parity""".stripMargin)
}
