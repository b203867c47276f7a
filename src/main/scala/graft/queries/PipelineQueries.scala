package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.KmvSketch.kmv_sketch
import graft.operators.{Dedup, Packing, Sampling}
import graft.queries.DuckDbRound.round
import graft.queries.QueryArtifacts.SessionDir
import graft.streaming.StreamingOps

/** Training-pipeline assembly queries: distinct-count sketching for corpus
  * stats, sequence packing for context-window assembly, and deterministic
  * stratified sampling for data mixing. All three are exactly
  * DuckDB-expressible (the KMV sketch by construction — its state is "the
  * k smallest distinct md5 hashes", plain SQL — unlike HLL whose register
  * layout is engine-private), so the driver hash-checks them.
  */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  /** The KMV set-algebra report over a 1-row (a_hashes, a_est, b_hashes,
    * b_est) sketch-pair frame — union sketch = the k smallest of the
    * concatenation, jaccard = \|union-sketch ∩ A ∩ B\| / \|union sketch\|
    * (= k when saturated; on an unsaturated union the sketch IS the exact
    * distinct union, so dividing by its true size keeps jaccard exact
    * instead of biased low), intersection = j·union (Beyer et al.
    * SIGMOD'07). ONE definition shared by the batch row and the streaming
    * replay, so the two cannot drift. */
  private def kmvOverlapReport(pair: DataFrame, k: Int): DataFrame =
    pair
      .withColumn("m", slice(array_sort(array_distinct(
        concat(col("a_hashes"), col("b_hashes")))), 1, k))
      .withColumn("u",
        when(size(col("m")) < k, size(col("m")).cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            (expr(s"CAST(conv(substring(element_at(m, $k), 1, 15), 16, 10) AS DOUBLE)")
              / lit(graft.functions.KmvSketch.Space60))))
      .withColumn("j",
        size(array_intersect(array_intersect(col("m"), col("a_hashes")),
          col("b_hashes"))).cast("double") /
          greatest(size(col("m")), lit(1)).cast("double"))
      .select(round(col("a_est"), 6).as("est_click"),
        round(col("b_est"), 6).as("est_purchase"),
        round(col("u"), 6).as("est_union"),
        round(col("j"), 6).as("jaccard"),
        round(col("j") * col("u"), 6).as("est_intersection"))

  /** The two final sketch states of [[buildKmvReplay]] — 2·k hashes plus
    * the estimates, bounded by construction. */
  final case class KmvPairStates(aHashes: Seq[String], aEst: Double,
      bHashes: Seq[String], bEst: Double)

  /** Streaming-KMV replay, run once per (session, dir) by the first call
    * of its row: the events table delivered in three user-sharded
    * micro-batches through ONE complete-mode aggregation computing BOTH
    * bottom-k sketches — the TypedImperativeAggregate buffer-merge path
    * under incremental execution. Any disjoint split works: a bottom-k
    * sketch over a set is delivery-invariant, so the final emission must
    * equal the batch sketches exactly. */
  private val kmvReplayCache = QueryArtifacts.cache[SessionDir, KmvPairStates]()

  private def kmvReplay(spark: SparkSession, dir: String): KmvPairStates =
    kmvReplayCache((spark, dir)) {
      val k = 64
      val ev = Tables.load(spark, dir, "events")
        .select(col("user_id"), col("event_type"))
      def side(t: String) = kmv_sketch(
        when(col("event_type") === t, md5(col("user_id").cast("string"))), k)
      val run = StreamingOps.replay(spark, "kmv-overlap", dir,
          (0 until 3).map(i => ev.filter(col("user_id") % 3 === i)))(
        _.agg(side("click").as("a"), side("purchase").as("b")))(
        (w, r) => w.outputMode("complete").format("memory").queryName(r.table))
      // complete mode rewrites the memory table per trigger — the table IS
      // the final emission (one row, two sketch structs)
      val row = spark.table(run.table).head()
      val (a, b) = (row.getStruct(0), row.getStruct(1))
      KmvPairStates(a.getSeq[String](3), a.getDouble(2),
        b.getSeq[String](3), b.getDouble(2))
    }

  val queries: ListMap[String, Q] = ListMap(
    // KMV bottom-k distinct sketch per event type: sketch state (k-th
    // minimum hash + kept count) and the standard (k-1)/kth estimator.
    // k=64 keeps the estimate within ~13% (1/sqrt(62)) of truth; the
    // sketch, not the corpus, crosses the shuffle.
    "kmv_distinct_users" -> ((spark, dir) => {
      Tables.load(spark, dir, "events")
        .select(col("event_type"), md5(col("user_id").cast("string")).as("h"))
        .groupBy("event_type")
        .agg(kmv_sketch(col("h"), 64).as("s"))
        .select(col("event_type"), col("s.kth_hash").as("kth_hash"),
          col("s.n_kept").as("n_kept"),
          round(col("s.est_distinct"), 6).as("est_distinct"))
        .orderBy("event_type")
    }),
    // KMV sketch SET ALGEBRA (r15): distinct-user overlap between the
    // click and purchase streams WITHOUT an exact distinct — the two
    // bottom-k sketches MERGE with plain array expressions because the
    // sketch state is literally "the k smallest distinct hashes": the
    // union sketch is the k smallest of the concatenation, the jaccard
    // estimate is the fraction of the union sketch present in BOTH
    // sides (the standard KMV estimator), and est_intersection =
    // jaccard * est_union. Only two O(k) sketch rows ever meet (the
    // 1-row-aggregate cross the topic_drift_report pattern allows);
    // at 100 TB each side's sketch is one bounded-state aggregate over
    // its stream, and the merge is free — the reason sketch overlap
    // beats exact distinct-intersection (a corpus-sized shuffle) for
    // segment-overlap dashboards.
    "kmv_user_overlap" -> ((spark, dir) => {
      val k = 64
      val ev = Tables.load(spark, dir, "events")
      def sketch(t: String, pre: String) = ev
        .filter(col("event_type") === t)
        .select(md5(col("user_id").cast("string")).as("h"))
        .agg(kmv_sketch(col("h"), k).as("s"))
        .select(col("s.hashes").as(pre + "_hashes"),
          col("s.est_distinct").as(pre + "_est"))
      kmvOverlapReport(
        sketch("click", "a").crossJoin(sketch("purchase", "b")), k)
    }),
    // STREAMING twin of kmv_user_overlap on the driver ledger — the
    // sketch tier's replay (a TypedImperativeAggregate merging across
    // micro-batches under incremental complete-mode execution, previously
    // spec-only via the space_saving test): events delivered in three
    // user-sharded micro-batches through ONE aggregation computing BOTH
    // bottom-k sketches, final emission collected (2·k hashes — bounded).
    // A bottom-k sketch over a SET is delivery-invariant, so the final
    // states must equal the batch sketches EXACTLY whatever the split —
    // the oracle is kmv_user_overlap's verbatim, and the merge arithmetic
    // is the SAME kmvOverlapReport helper, so buffer-merge bugs (lost
    // partials, double-inserted re-deliveries within a batch, serde
    // drift) turn this row red.
    "streaming_kmv_replay" -> ((spark, dir) => {
      import spark.implicits._
      val s = kmvReplay(spark, dir)
      kmvOverlapReport(
        Seq((s.aHashes, s.aEst, s.bHashes, s.bEst))
          .toDF("a_hashes", "a_est", "b_hashes", "b_est"), 64)
    }),
    // Concat-and-chunk sequence packing into 256-token context windows
    // (two-level distributed prefix scan; see operators.Packing)
    "pack_sequences" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      Packing.packSequences(docs, "doc_id", "n_tokens", budget = 256, blockSize = 100)
        .orderBy("doc_id")
    }),
    // Document-aware FIRST-FIT-DECREASING packing (docs stay WHOLE — the
    // no-cross-document-attention alternative to pack_sequences'
    // concat-and-chunk): md5-sharded, per-shard exact greedy FFD into
    // 200-token bins via the native FfdPack kernel. Deterministic end to
    // end, so the oracle replays the identical greedy placement with a
    // recursive CTE.
    "pack_documents_ffd" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      Packing.packDocumentsFfd(docs, "doc_id", "n_tokens",
          budget = 200, nShards = 8)
        .orderBy("doc_id")
    }),
    // Deterministic global training-order shuffle + round-robin shard
    // deal: seed-keyed md5 total order, positions via the shared two-level
    // prefix scan (never a corpus-wide single-partition window), shards
    // balanced to +-1 by construction. Pure function of (seed, doc_id) —
    // fully hash-checked against the oracle's single-window formulation.
    "corpus_shuffle" -> ((spark, dir) => {
      Packing.shuffleAssign(Tables.load(spark, dir, "documents"),
          "doc_id", seed = "r8", nShards = 8)
        .orderBy("doc_id")
    }),
    // Dataset snapshot diff (Versioning.snapshotDiff): two derived
    // corpus versions (v1 = ids not divisible by 7; v2 = ids not
    // divisible by 5, with the %3==0 slice's text revised) classified
    // added/removed/modified/unchanged by a full-outer join of
    // (id, content-md5) pairs — only ids and hashes shuffle, never
    // payloads. The release-note diff a versioned corpus publishes so a
    // re-train can be scoped to the delta.
    "corpus_version_diff" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      val v1 = docs.filter(col("doc_id") % 7 =!= 0)
      val v2 = docs.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" rev2"))).otherwise(col("text")))
      graft.operators.Versioning.snapshotDiff(v1, v2, "doc_id", "text")
        .orderBy("doc_id")
    }),
    // Deterministic language-rebalancing sample: downsample dominant
    // strata by md5-fraction so the mix is reproducible across engines,
    // runs, and partitionings
    "sample_stratified" -> ((spark, dir) => {
      Sampling.stratifiedSample(Tables.load(spark, dir, "documents"),
          "doc_id", "lang", Map("en" -> 0.25, "es" -> 0.5, "zh" -> 0.75))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),
    // Mixture-to-TOKEN-BUDGET sampling (the practical data-mixing config:
    // "this run gets 4000 en tokens, 2000 zh tokens, a quarter of the
    // rest"): per-stratum rate = min(1, budget / stratum_tokens) from a
    // bounded |strata|-row aggregate; keep decision stays the per-row md5
    // filter. Rates are single divisions of exact integers, so the oracle
    // reproduces membership bit-for-bit.
    "rebalance_token_budget" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      graft.operators.Sampling.tokenBudgetSample(docs, "doc_id", "lang",
          "n_tokens", Map("en" -> 4000L, "zh" -> 2000L), defaultRate = 0.25)
        .select("doc_id", "lang", "n_tokens")
        .orderBy("doc_id")
    }),
    // Budget WATERFILLING mixture allocation (the planning step of a data
    // mix): 15000 tokens spread over {de:5, es:3, fr:3, en:1} by weight,
    // but no language contributes more than it has — small high-weight
    // strata SATURATE (rate 1) and their unfillable share spills to the
    // rest at the closed-form water level λ; zh carries no weight and
    // reports rate 0. Saturation verdicts are integer cross-multiplied,
    // λ is one division of exact integer sums, so the whole allocation
    // table is bit-reproducible in the oracle. On the fixture this
    // exercises all three row kinds (saturated, unsaturated, excluded).
    "mixture_waterfill" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      Sampling.waterfillAllocation(docs, "lang", "n_tokens",
          Map("de" -> 5L, "es" -> 3L, "fr" -> 3L, "en" -> 1L),
          budget = 15000L)
        .orderBy("lang")
    }),
    // Epoch-aware UP-sampling plan (the repetition side of the mix — the
    // Llama/DoReMi recipe): en repeats at ~2.5 epochs (2 full + md5
    // fraction), zh at ~1.4, de saturates the maxEpochs=4 cap exactly
    // (frac 0 — every de doc appears 4 times), fr's budget is BELOW
    // supply so it degrades to 0-or-1-epoch downsampling, and unbudgeted
    // es passes through at one epoch — all five row kinds on one fixture.
    // Rates are single divisions of exact longs, the floor/frac split is
    // exact IEEE arithmetic, and the extra-epoch decision is the salted
    // per-row md5 filter, so the oracle reproduces membership AND
    // multiplicity bit-for-bit.
    "mixture_epochs" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      Sampling.epochUpsample(docs, "doc_id", "lang", "n_tokens",
          Map("en" -> 30000L, "zh" -> 6000L, "de" -> 50000L, "fr" -> 2000L),
          maxEpochs = 4)
        .select("doc_id", "lang", "n_tokens", "epoch")
        .orderBy("doc_id", "epoch")
    }),
    // Temperature-flattened mixture rebalancing (tau = 0.5, keep half the
    // corpus): kept share of each language proportional to sqrt(n_lang),
    // the standard multilingual mixing rule — rare languages are
    // upweighted relative to their head share. Rates derive from a
    // bounded |strata|-row driver aggregate; the keep decision stays the
    // deterministic per-row md5 filter, and sqrt is IEEE-exact, so the
    // oracle reproduces membership bit-for-bit.
    "rebalance_temperature" -> ((spark, dir) => {
      graft.operators.Sampling.temperatureRebalance(
          Tables.load(spark, dir, "documents"), "doc_id", "lang",
          tau = 0.5, keepFraction = 0.5)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),
    // Sliding-window chunking (retrieval/RAG prep): 200-char windows,
    // 50-char overlap, one explode per document — no UDF, no driver work
    "doc_chunks" -> ((spark, dir) => {
      graft.operators.TextAnalysis.chunkDocuments(
          Tables.load(spark, dir, "documents"), "doc_id", "text", 200, 50)
        .withColumn("chunk_len", length(col("chunk")).cast("int"))
        .orderBy("doc_id", "chunk_idx")
    }),
    // End-to-end corpus materialization — the full assembly chain a
    // training run consumes, as ONE lazy plan: exact-dedup survivors
    // (hash-bucket keep-first, a semi join against min-id per content) ->
    // length gate -> deterministic language rebalance -> sequence packing.
    // Every stage is the scale-shaped operator from its own query; chained
    // they stay a single DAG with no driver round-trips.
    "corpus_materialize" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      val keepers = Dedup.exact(docs, "doc_id", "text")
        .select(col("keep_doc_id").as("doc_id"))
      val survivors = docs.join(keepers, Seq("doc_id"), "left_semi")
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        .filter(col("n_tokens") >= 20)
      val sampled = Sampling.stratifiedSample(survivors, "doc_id", "lang",
        Map("en" -> 0.5))
      // lang rides through the packing scan (carryCols) — a join-back
      // against `sampled` would re-evaluate the dedup+sample subtree
      Packing.packSequences(sampled, "doc_id", "n_tokens", budget = 512,
          blockSize = 100, carryCols = Seq("lang"))
        .select("doc_id", "lang", "n_tokens", "seq_id", "seq_offset")
        .orderBy("doc_id")
    }),
    // Near-dup-aware corpus materialization (r7): the chain above with a
    // NEAR-DUP resolution stage spliced between exact dedup and the
    // length gate — exact survivors -> jaccard >= 0.8 pairs (prefix-
    // filtered, recall-exact) -> transitive-cluster resolution keeping
    // the min-id member -> length gate -> language rebalance -> packing.
    // The full training-data assembly a real pipeline runs. Cluster
    // resolution is an algorithm (connectedComponents materializes its
    // bounded dup-pair edge list); everything else stays one lazy DAG.
    // Oracle composes the dedup_cluster_resolve recursive CTE with the
    // corpus_materialize stages.
    "corpus_materialize_neardup" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      val keepers = Dedup.exact(docs, "doc_id", "text")
        .select(col("keep_doc_id").as("doc_id"))
      val exactSurv = docs.join(keepers, Seq("doc_id"), "left_semi")
      // the >= 0.8 pair set is the SAME one the four dedup queries share
      // (one persisted copy per session/dir), restricted to survivor
      // endpoints — equivalent to recomputing pairs over the survivor
      // corpus because jaccard is pairwise and prefix filtering is
      // recall-exact at any corpus, so the restriction loses nothing and
      // the candidate pipeline runs once per session, not once more here
      val pairs = DedupQueries.jaccardPairs08(spark, dir)
        .join(keepers.select(col("doc_id").as("doc_id_1")), Seq("doc_id_1"), "left_semi")
        .join(keepers.select(col("doc_id").as("doc_id_2")), Seq("doc_id_2"), "left_semi")
      val nearSurv = Dedup.dropDuplicatesByCluster(exactSurv, "doc_id",
          pairs, "doc_id_1", "doc_id_2")
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        .filter(col("n_tokens") >= 20)
      val sampled = Sampling.stratifiedSample(nearSurv, "doc_id", "lang",
        Map("en" -> 0.5))
      Packing.packSequences(sampled, "doc_id", "n_tokens", budget = 512,
          blockSize = 100, carryCols = Seq("lang"))
        .select("doc_id", "lang", "n_tokens", "seq_id", "seq_offset")
        .orderBy("doc_id")
    }),
    // Benchmark decontamination (r7): training docs sharing a 13-gram
    // with the held-out eval slice (doc_id % 5 == 0, the same split
    // dedup_incremental uses), via the bloom-prefiltered exact n-gram
    // join in Dedup.ngramContamination — the filter a real pipeline runs
    // before training so the eval set isn't memorized. 13 is the
    // customary decontamination width (GPT-3 appendix and successors).
    "decontaminate_ngram" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      val evalSet = docs.filter(col("doc_id") % 5 === 0)
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      Dedup.ngramContamination(corpus, evalSet, "doc_id", "text", n = 13,
          expectedEvalNgrams = 1L << 16)
        .orderBy("doc_id")
    }),
    // Span-level decontamination (r8) — the REPAIR step after
    // decontaminate_ngram's detection: every corpus position whose
    // 13-gram occurs anywhere in the eval slice, merged into maximal
    // per-doc excision intervals (bloom-prefiltered exact semi join on
    // the native gram hashes + the shared gaps-and-islands merge).
    "decontaminate_spans" -> ((spark, dir) => {
      contamIntervals(spark, dir).orderBy("doc_id", "start_pos")
    }),
    // MULTI-BENCHMARK decontamination sweep (r12) — the form a real
    // pipeline runs: dozens of eval sets, ONE corpus scan. Two lexical
    // benchmarks (the %10==0 / %10==5 halves of the eval slice) union
    // into one tagged 13-gram side -> one bloom + one shingle equi-join
    // (Dedup.ngramContaminationBy); two embedding benchmarks (the
    // %20==0 / %20==10 halves of the eval vectors) union into one
    // broadcast side -> one cosine pass with per-(vector, benchmark)
    // max. Output: one verdict row per contaminated (doc, benchmark)
    // with a severity (ngram: distinct contaminated 13-grams; semantic:
    // x1e6-scaled round-6 max cosine) — four benchmarks, two kinds, one
    // table, and the corpus was scanned once per kind, not per
    // benchmark.
    "decontaminate_multi" -> ((spark, dir) => {
      import graft.functions.functions.vec_l2norm
      val docs = Tables.load(spark, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val evals = docs.filter(col("doc_id") % 5 === 0)
        .withColumn("benchmark",
          when(col("doc_id") % 10 === 0, "evalA").otherwise("evalB"))
      val lex = Dedup.ngramContaminationBy(corpus, evals, "doc_id", "text",
          "benchmark", n = 13, expectedEvalNgrams = 1L << 16)
        .select(col("benchmark"), lit("ngram").as("kind"), col("doc_id"),
          col("contaminated_ngrams").as("severity"))
      val base = Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("v"))
        .withColumn("nrm", vec_l2norm(col("v")))
      // one block row PER BENCHMARK (collect_list of (v, nrm) structs):
      // the corpus joins two block rows instead of one row per (corpus,
      // eval) pair carrying both vectors — the CosineMaxBlock kernel
      // scores the max in place, and round6-after-max equals
      // max-of-round6 (rounding is monotone; NaN-wins max replays
      // Spark's nan-safe ordering). Benchmarks with no eval vectors
      // simply produce no block row, exactly as they produced no
      // (vec_id, benchmark) group before.
      val evBlocks = base.filter(col("vec_id") % 10 === 0 &&
          col("v").isNotNull && col("nrm").isNotNull)
        .withColumn("benchmark",
          when(col("vec_id") % 20 === 0, "evalV1").otherwise("evalV2"))
        .groupBy("benchmark")
        .agg(collect_list(struct(col("v"), col("nrm"))).as("evs"))
      val co = base.filter(col("vec_id") % 10 =!= 0)
        .select(col("vec_id"), col("v").as("cv"), col("nrm").as("cn"))
      import org.apache.spark.sql.graft.bridge
      val kernelMax = bridge.column(graft.functions.CosineMaxBlock(
        bridge.expression(col("cv")), bridge.expression(col("cn")),
        bridge.expression(col("evs"))))
      val sem = co.join(broadcast(evBlocks), lit(true), "left")
        .withColumn("mx", graft.operators.TextAnalysis.round6(kernelMax))
        .filter(col("mx") >= 0.35)
        .select(col("benchmark"), lit("semantic").as("kind"),
          col("vec_id").as("doc_id"),
          org.apache.spark.sql.functions.round(col("mx") * 1e6, 0)
            .cast("long").as("severity"))
      lex.unionByName(sem).orderBy("kind", "benchmark", "doc_id")
    }),
    // The applied form: the corpus slice with eval-overlapping spans
    // REMOVED — counts + cleaned-stream md5 per doc, the decontaminated
    // corpus a training run actually consumes. Excises by the SAME
    // persisted interval table the detection query reports.
    "corpus_excise_contaminated" -> ((spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      Dedup.exciseByIntervals(docs.filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text", contamIntervals(spark, dir))
        .orderBy("doc_id")
    }),
    // Per-domain document-count cap (r11, RefinedWeb-style curation: no
    // site contributes more than K docs): deterministic "random 12 per
    // source" via md5-order rank, exact two-level top-K — the local
    // salted window bounds every sort partition, so a head domain never
    // serializes through one task. Oracle is the single-window rank.
    "domain_doc_cap" -> ((spark, dir) => {
      Sampling.domainDocCap(Tables.load(spark, dir, "documents"),
          "doc_id", "source", cap = 12)
        .orderBy("doc_id")
    }),
    // Per-domain SHARE cap (r11, the rate form): any source above 3% of
    // the corpus is downsampled to 3% in expectation; rates come from a
    // bounded |domains|-row aggregate, membership stays the per-row md5
    // filter — reproducible bit-for-bit in the oracle.
    "domain_share_cap" -> ((spark, dir) => {
      Sampling.domainShareCap(Tables.load(spark, dir, "documents"),
          "doc_id", "source", maxShare = 0.03)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),
    // Z-order box scan (r8): orders laid out z-clustered on
    // (o_totalprice, o_custkey) ONCE per (session, dir), then a 2-d box
    // read through the footer-stats manifest — readBox plans over only
    // the box-intersecting files and re-applies the exact predicate, so
    // the result EQUALS the plain filter over the full table (the
    // oracle); the files-actually-skipped assertion lives in ZOrderSpec.
    "zorder_box_scan" -> ((spark, dir) => {
      graft.operators.ZOrderLayout.readBox(spark, zorderLayout(spark, dir),
          Map("o_totalprice" -> ((50000.0, 150000.0)),
            "o_custkey" -> ((40.0, 120.0))))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),
    // The layout's WRITE lifecycle on the driver gate (r11): base layout
    // over 2/3 of orders, the remaining third APPENDED as a daily batch
    // (ledger-idempotent, footer stats extend the manifest), then
    // COMPACTED (corpus-wide re-bin/re-sort, atomic swap) — and the same
    // 2-d box read through the rebuilt manifest. The result must EQUAL
    // the plain predicate over the FULL table: append losing rows,
    // compact dropping a file, or a stale manifest each turn the row red.
    "zorder_append_compact_scan" -> ((spark, dir) => {
      graft.operators.ZOrderLayout.readBox(spark,
          zorderLifecycleLayout(spark, dir),
          Map("o_totalprice" -> ((50000.0, 150000.0)),
            "o_custkey" -> ((40.0, 120.0))))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),
    // The layout's DELETE lifecycle (r20) — the takedown chapter that
    // completes write -> append -> compact -> EXCISE for the one
    // appendable durable artifact that lacked it: the o_orderkey%7==0
    // rows are tombstoned (a metadata-sized id write + manifest ledger,
    // no data-file rewrite; replayed tag no-op pinned), the PRE-compact
    // box read — file pruning, then the tombstone anti-join the serving
    // path runs — is required inside the builder to equal the
    // POST-compact read (the physical drop), and the driver row is the
    // same 2-d box scan over the compacted survivors. The oracle is the
    // plain predicate over orders MINUS the excised cohort, so a
    // tombstone that leaks through serving, a compact that loses or
    // resurrects a row, or a ledger that forgets the fold each turn the
    // row red.
    "zorder_excised" -> ((spark, dir) => {
      graft.operators.ZOrderLayout.readBox(spark,
          zorderExcisedLayout(spark, dir),
          Map("o_totalprice" -> ((50000.0, 150000.0)),
            "o_custkey" -> ((40.0, 120.0))))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),
    // Streaming snapshot-diff REPLAY — corpus_version_diff's streaming
    // twin on the driver ledger (the last implemented monitor that was
    // spec-only): the v2 snapshot arrives in three micro-batches through
    // StreamingOps.snapshotDiffStream against the frozen v1 reference,
    // and every arrival classifies added/modified/unchanged under the
    // SAME Versioning.collapse/arrivalClass helpers as the batch diff —
    // so the oracle is the batch row's derivation restricted to the
    // arriving side (a stream never sees v1-only ids; 'removed' is the
    // batch diff's full-outer privilege). Stateless stream-static left
    // join: append-legal, no watermark, no state store.
    "streaming_version_diff" -> ((spark, dir) => {
      spark.read.parquet(versionDiffSink(spark, dir)).orderBy("doc_id")
    }))

  /** Snapshot-diff replay, run once per (session, dir) by the first call
    * of its row; returns the parquet sink path. The v1/v2 derivations are
    * EXACTLY corpus_version_diff's, so the two rows gate the same
    * semantics batch-vs-stream. */
  private val versionDiffCache = QueryArtifacts.cache[SessionDir, String]()

  private def versionDiffSink(spark: SparkSession, dir: String): String =
    versionDiffCache((spark, dir)) {
      val docs = Tables.load(spark, dir, "documents")
      val v1 = docs.filter(col("doc_id") % 7 =!= 0).select("doc_id", "text")
      val v2 = docs.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" rev2"))).otherwise(col("text")))
        .select("doc_id", "text")
      // the frozen v1 reference's checkpoint blocks are read only by the
      // replay's micro-batches — release them once it is over
      var releaseRef: () => Unit = () => ()
      // three pinned-order micro-batches covering v2 exactly once (the
      // append sink accumulates one classification per arrival)
      try StreamingOps.replay(spark, "version-diff", dir,
          (0 until 3).map(i => v2.filter(col("doc_id") % 3 === i))) { stream =>
          val (diff, release) = StreamingOps
            .snapshotDiffStreamWithRelease(stream, v1, "doc_id", "text")
          releaseRef = release
          diff
        }(StreamingOps.appendParquet).out
      finally releaseRef()
    }

  /** Contamination-excision interval table (corpus positions whose
    * 13-gram occurs in the eval slice), persisted once per (session, dir):
    * detection (`decontaminate_spans`) and repair
    * (`corpus_excise_contaminated`) consume the SAME intervals — the
    * table is excision-sized, and a real pipeline reports and applies one
    * interval set, not two computations of it. */
  private val contamIvCache = QueryArtifacts.cache[SessionDir, DataFrame](_.unpersist())

  private def contamIntervals(spark: SparkSession, dir: String): DataFrame =
    contamIvCache((spark, dir)) {
      val docs = Tables.load(spark, dir, "documents")
      Dedup.contaminationIntervals(
          docs.filter(col("doc_id") % 5 =!= 0), docs.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", k = 13, expectedEvalNgrams = 1L << 16)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Release every family's session artifacts ([[QueryArtifacts.clearAll]]). */
  def clearCaches(): Unit = QueryArtifacts.clearAll()

  /** One z-ordered copy of `orders` per (session, dir) under target/ —
    * the write-once half of the layout lifecycle (the driver query is the
    * read half). Synchronized like SimilarityQueries' index caches so two
    * concurrent first calls cannot race overwrite-mode writes. */
  private val zorderCache = QueryArtifacts.cache[SessionDir, String]()

  private def zorderLayout(spark: SparkSession, dir: String): String =
    zorderCache((spark, dir)) {
      val path = QueryArtifacts.path("target/zorder-layout", dir)
      graft.operators.ZOrderLayout.write(Tables.load(spark, dir, "orders"),
        Seq("o_totalprice", "o_custkey"), path, nFiles = 16)
      path
    }

  /** Append-then-compact twin of [[zorderLayout]]: base layout over
    * o_orderkey % 3 != 0, the % 3 == 0 slice appended under a ledger tag,
    * then compacted — one full write-path lifecycle per (session, dir). */
  private val zorderLifeCache = QueryArtifacts.cache[SessionDir, String]()

  private def zorderLifecycleLayout(spark: SparkSession, dir: String): String =
    zorderLifeCache((spark, dir)) {
      val path = QueryArtifacts.path("target/zorder-lifecycle", dir)
      val orders = Tables.load(spark, dir, "orders")
      graft.operators.ZOrderLayout.write(
        orders.filter(col("o_orderkey") % 3 =!= 0),
        Seq("o_totalprice", "o_custkey"), path, nFiles = 12)
      graft.operators.ZOrderLayout.appendTo(
        orders.filter(col("o_orderkey") % 3 === 0), path, nFiles = 4,
        sourceTag = "lifecycle-batch")
      graft.operators.ZOrderLayout.compact(spark, path, nFiles = 16)
      path
    }

  /** Excised twin of [[zorderLifecycleLayout]] — the DELETE chapter: the
    * appended-and-compacted layout is cloned, the o_orderkey%7==0 rows
    * tombstoned ([[graft.operators.ZOrderLayout.excise]] — metadata-sized
    * id write + manifest ledger commit; replayed tag no-op pinned), the
    * pre-compact SERVING path (file pruning + tombstone anti-join)
    * asserted equal to the post-compact physical drop on the gate's own
    * box, then compacted. Rebuilt per session like its siblings (the
    * layout caches are session-scoped; the first row to read it pays the
    * build). */
  private val zorderExciseCache = QueryArtifacts.cache[SessionDir, String]()

  private def zorderExcisedLayout(spark: SparkSession, dir: String): String =
    zorderExciseCache((spark, dir)) {
      val path = QueryArtifacts.path("target/zorder-excised", dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
      QueryArtifacts.cloneArtifact(zorderLifecycleLayout(spark, dir), path)
      // the copied manifest's file entries are absolute paths under the
      // SOURCE layout — without this every read of the clone would serve
      // the lifecycle layout's files (latent until the source moves)
      graft.operators.ZOrderLayout.rehome(spark, path)
      val ids = Tables.load(spark, dir, "orders")
        .filter(col("o_orderkey") % 7 === 0).select("o_orderkey")
      require(graft.operators.ZOrderLayout.excise(spark, path, ids,
        "o_orderkey", "takedown-batch"))
      require(!graft.operators.ZOrderLayout.excise(spark, path, ids,
          "o_orderkey", "takedown-batch"),
        "replaying an already-applied excise batch must be a ledger no-op")
      val box = Map("o_totalprice" -> ((50000.0, 150000.0)),
        "o_custkey" -> ((40.0, 120.0)))
      // the PRE-compact read is the serving path a takedown relies on
      // between notice and maintenance — pin it against the physical
      // drop before the compact rewrites the files (box-sized snapshot)
      val pre = graft.operators.ZOrderLayout.readBox(spark, path, box)
        .select("o_orderkey", "o_custkey", "o_totalprice").localCheckpoint()
      graft.operators.ZOrderLayout.compact(spark, path, nFiles = 16)
      val post = graft.operators.ZOrderLayout.readBox(spark, path, box)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      require(pre.exceptAll(post).isEmpty && post.exceptAll(pre).isEmpty,
        "tombstone-filtered serving must equal the compacted physical drop")
      path
    }

  /** Shared oracle for both z-order reads: the plain predicate over the
    * full table (identical box bounds on both query paths — file skipping
    * is a superset selection, and the write->append->compact lifecycle
    * never changes results). Declared before `oracleSql` so object-init
    * order resolves it. */
  private val zorderBoxOracle =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_totalprice >= 50000 AND o_totalprice <= 150000
      |  AND o_custkey >= 40 AND o_custkey <= 120
      |ORDER BY o_orderkey""".stripMargin

  /** Shared CTE body for the span-decontamination oracles: the same
    * 13-gram md5 anchors, eval-set semi join, and gaps-and-islands merge
    * as `Dedup.contaminationIntervals` (the bloom in the Spark path only
    * bounds join input, never the result). */
  private val duckContaminationBody =
    """WITH tok AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      |  WHERE len(string_split(lower(text), ' ')) >= 13),
      |ev AS (
      |  SELECT DISTINCT md5(array_to_string(w[i:i+12], ' ')) AS g
      |  FROM tok CROSS JOIN unnest(range(1, len(w) - 11)) AS t(i)
      |  WHERE doc_id % 5 = 0),
      |occ AS (
      |  SELECT doc_id, i AS pos, md5(array_to_string(w[i:i+12], ' ')) AS g
      |  FROM tok CROSS JOIN unnest(range(1, len(w) - 11)) AS t(i)
      |  WHERE doc_id % 5 <> 0),
      |hit AS (
      |  SELECT doc_id, pos FROM occ WHERE g IN (SELECT g FROM ev)),
      |mk AS (
      |  SELECT doc_id, pos, pos + 12 AS e,
      |    max(pos + 12) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |  FROM hit),
      |isl AS (
      |  SELECT doc_id, pos, e,
      |    sum(CASE WHEN pm IS NULL OR pos > pm + 1 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
      |  FROM mk)""".stripMargin

  /** The KMV overlap derivation BOTH kmv rows hash against (the batch
    * crossJoin form and the streaming replay share it verbatim —
    * delivery-invariant bottom-k makes the two engine results identical
    * by construction). Declared before `oracleSql` so object-init order
    * resolves it. */
  private val kmvOverlapOracle =
    """WITH ah AS (SELECT list_sort(list(DISTINCT md5(CAST(user_id AS VARCHAR)))) AS l
      |            FROM events WHERE event_type = 'click'),
      |a AS (SELECT l[1:64] AS hs,
      |        CASE WHEN len(l) < 64 THEN CAST(len(l) AS DOUBLE)
      |             ELSE 63.0 / ((('0x' || substring(l[64], 1, 15))::BIGINT)
      |                          / 1152921504606846976.0) END AS est
      |      FROM ah),
      |bh AS (SELECT list_sort(list(DISTINCT md5(CAST(user_id AS VARCHAR)))) AS l
      |            FROM events WHERE event_type = 'purchase'),
      |b AS (SELECT l[1:64] AS hs,
      |        CASE WHEN len(l) < 64 THEN CAST(len(l) AS DOUBLE)
      |             ELSE 63.0 / ((('0x' || substring(l[64], 1, 15))::BIGINT)
      |                          / 1152921504606846976.0) END AS est
      |      FROM bh),
      |m AS (SELECT a.hs AS ahs, a.est AS aest, b.hs AS bhs, b.est AS best,
      |        list_sort(list_distinct(a.hs || b.hs))[1:64] AS mg
      |      FROM a, b),
      |u AS (SELECT *,
      |        CASE WHEN len(mg) < 64 THEN CAST(len(mg) AS DOUBLE)
      |             ELSE 63.0 / ((('0x' || substring(mg[64], 1, 15))::BIGINT)
      |                          / 1152921504606846976.0) END AS uraw,
      |        CAST(len(list_intersect(list_intersect(mg, ahs), bhs)) AS DOUBLE)
      |          / greatest(len(mg), 1) AS j
      |      FROM m)
      |SELECT round(aest, 6) AS est_click, round(best, 6) AS est_purchase,
      |  round(uraw, 6) AS est_union, round(j, 6) AS jaccard,
      |  round(j * uraw, 6) AS est_intersection
      |FROM u""".stripMargin

  val oracleSql: ListMap[String, String] = ListMap(
    "kmv_distinct_users" ->
      """WITH h AS (SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS hh
        |           FROM events),
        |r AS (SELECT event_type, hh,
        |        row_number() OVER (PARTITION BY event_type ORDER BY hh) AS rn
        |      FROM h),
        |kept AS (SELECT event_type, max(hh) AS kth_hash,
        |           CAST(count(*) AS INTEGER) AS n_kept
        |         FROM r WHERE rn <= 64 GROUP BY event_type)
        |SELECT event_type, kth_hash, n_kept,
        |  round(CASE WHEN n_kept < 64 THEN n_kept * 1.0
        |    ELSE 63.0 / ((('0x' || substring(kth_hash, 1, 15))::BIGINT)
        |                 / 1152921504606846976.0) END, 6) AS est_distinct
        |FROM kept ORDER BY event_type""".stripMargin,
    // the sketch states replayed as "the k smallest distinct hashes" in
    // plain SQL, then the identical merge/estimate arithmetic: union =
    // k smallest of the concatenation, jaccard = |union-sketch ∩ A ∩ B|
    // / |union sketch| (k when saturated, exact size when not)
    "kmv_user_overlap" -> kmvOverlapOracle,
    // the streaming replay's final sketches are delivery-invariant (a
    // bottom-k over a set), so the SAME oracle gates both rows — a
    // buffer-merge bug turns only the streaming one red
    "streaming_kmv_replay" -> kmvOverlapOracle,
    // same derived versions, classes by direct text comparison (the
    // engine compares md5s — identical classification, hashes-only
    // shuffle is the engine-side scale shape the oracle needn't mimic)
    "corpus_version_diff" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        |v2 AS (SELECT doc_id,
        |         CASE WHEN doc_id % 3 = 0 THEN text || ' rev2' ELSE text END
        |           AS text
        |       FROM documents WHERE doc_id % 5 <> 0)
        |SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
        |  CASE WHEN v1.doc_id IS NULL THEN 'added'
        |       WHEN v2.doc_id IS NULL THEN 'removed'
        |       WHEN v1.text IS NOT DISTINCT FROM v2.text THEN 'unchanged'
        |       ELSE 'modified' END AS change
        |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |ORDER BY doc_id""".stripMargin,
    // the batch diff's derivation restricted to the ARRIVING (v2) side —
    // a stream never sees v1-only ids, so 'removed' cannot occur; the
    // other three classes must match the batch row exactly
    "streaming_version_diff" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        |v2 AS (SELECT doc_id,
        |         CASE WHEN doc_id % 3 = 0 THEN text || ' rev2' ELSE text END
        |           AS text
        |       FROM documents WHERE doc_id % 5 <> 0)
        |SELECT v2.doc_id AS doc_id,
        |  CASE WHEN v1.doc_id IS NULL THEN 'added'
        |       WHEN v1.text IS NOT DISTINCT FROM v2.text THEN 'unchanged'
        |       ELSE 'modified' END AS change
        |FROM v2 LEFT JOIN v1 ON v1.doc_id = v2.doc_id
        |ORDER BY doc_id""".stripMargin,
    "pack_sequences" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |  coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM t)
        |SELECT doc_id, n_tokens,
        |  CAST(floor(cum_before / 256.0) AS BIGINT) AS seq_id,
        |  CAST(cum_before % 256 AS BIGINT) AS seq_offset,
        |  n_tokens > 0 AND floor((cum_before + n_tokens - 1) / 256.0)
        |    > floor(cum_before / 256.0) AS spans_boundary
        |FROM c ORDER BY doc_id""".stripMargin,
    // sequential replay of the identical greedy placement: a recursive
    // CTE walks each shard's (length desc, doc_id) order carrying the
    // open-bin occupancy list — first-fit index and bin updates exactly
    // as the FfdPack kernel computes them
    "pack_documents_ffd" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 8 AS INTEGER) AS shard
        |  FROM documents),
        |ranked AS (
        |  SELECT doc_id, n_tokens, shard,
        |    CAST(row_number() OVER (PARTITION BY shard
        |      ORDER BY n_tokens DESC, doc_id) AS INTEGER) AS r
        |  FROM base),
        |s AS (
        |  SELECT shard, 0 AS r, CAST(NULL AS BIGINT) AS doc_id,
        |    CAST(NULL AS BIGINT) AS n_tokens, CAST(NULL AS INTEGER) AS bin,
        |    CAST([] AS BIGINT[]) AS occ
        |  FROM (SELECT DISTINCT shard FROM ranked)
        |  UNION ALL
        |  SELECT d.shard, s.r + 1, d.doc_id, d.n_tokens,
        |    CAST(coalesce(
        |      list_filter(range(1, len(s.occ) + 1),
        |        i -> s.occ[i] + d.n_tokens <= 200)[1],
        |      len(s.occ) + 1) AS INTEGER) AS bin,
        |    CASE WHEN list_filter(range(1, len(s.occ) + 1),
        |           i -> s.occ[i] + d.n_tokens <= 200)[1] IS NULL
        |      THEN list_append(s.occ, d.n_tokens)
        |      ELSE list_concat(list_concat(
        |        s.occ[:list_filter(range(1, len(s.occ) + 1),
        |          i -> s.occ[i] + d.n_tokens <= 200)[1] - 1],
        |        [s.occ[list_filter(range(1, len(s.occ) + 1),
        |          i -> s.occ[i] + d.n_tokens <= 200)[1]] + d.n_tokens]),
        |        s.occ[list_filter(range(1, len(s.occ) + 1),
        |          i -> s.occ[i] + d.n_tokens <= 200)[1] + 1:])
        |    END AS occ
        |  FROM s JOIN ranked d ON d.shard = s.shard AND d.r = s.r + 1)
        |SELECT doc_id, n_tokens, shard, bin FROM s
        |WHERE doc_id IS NOT NULL ORDER BY doc_id""".stripMargin,
    // single-window formulation: the two-level prefix scan must reproduce
    // the plain global row_number over the md5 order exactly
    "corpus_shuffle" ->
      """WITH k AS (
        |  SELECT doc_id, md5('r8:' || CAST(doc_id AS VARCHAR)) AS order_key
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, order_key,
        |    CAST(row_number() OVER (ORDER BY order_key, doc_id) - 1 AS BIGINT) AS pos
        |  FROM k)
        |SELECT doc_id, order_key, pos, CAST(pos % 8 AS INTEGER) AS shard
        |FROM r ORDER BY doc_id""".stripMargin,
    "sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
        |      / 1152921504606846976.0
        |  < CASE WHEN lang = 'zh' THEN 0.75
        |         WHEN lang = 'es' THEN 0.5
        |         WHEN lang = 'en' THEN 0.25 ELSE 1.0 END
        |ORDER BY doc_id""".stripMargin,
    // same rate derivation as Sampling.temperatureRebalance: sqrt is
    // IEEE-exact and the arithmetic matches the Scala side EXACTLY,
    // including the summation ORDER of the flattened totals (list(...
    // ORDER BY lang) sums in the same sorted-stratum order the operator
    // folds in — double addition is non-associative, and an unordered
    // sum(...) could differ in the last ulp), so membership agrees
    // bit-for-bit; null strata are dropped on both sides
    // same rate derivation: budget over the stratum's exact token total,
    // clamped to 1; same md5-fraction membership test
    "rebalance_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |tot AS (
        |  SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS tok
        |  FROM t WHERE lang IS NOT NULL GROUP BY lang)
        |SELECT doc_id, lang, n_tokens
        |FROM t JOIN tot USING (lang)
        |WHERE (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
        |      / 1152921504606846976.0
        |  < CASE WHEN lang = 'en' THEN least(1.0, 4000.0 / tok)
        |         WHEN lang = 'zh' THEN least(1.0, 2000.0 / tok)
        |         ELSE 0.25 END
        |ORDER BY doc_id""".stripMargin,
    // multiplicity replayed end-to-end: same rate division, same
    // floor/frac split, same salted md5 extra-epoch decision, epochs
    // materialized via unnest(range) instead of Spark's explode(sequence)
    "mixture_epochs" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |tot AS (
        |  SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS tok
        |  FROM t WHERE lang IS NOT NULL GROUP BY lang),
        |r AS (
        |  SELECT doc_id, t.lang, n_tokens,
        |    CASE WHEN t.lang = 'en' THEN least(30000.0 / tok, 4.0)
        |         WHEN t.lang = 'zh' THEN least(6000.0 / tok, 4.0)
        |         WHEN t.lang = 'de' THEN least(50000.0 / tok, 4.0)
        |         WHEN t.lang = 'fr' THEN least(2000.0 / tok, 4.0)
        |         ELSE 1.0 END AS rate
        |  FROM t LEFT JOIN tot USING (lang)),
        |n AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(floor(rate) AS BIGINT)
        |    + CASE WHEN (('0x' || substring(
        |          md5(CAST(doc_id AS VARCHAR) || ':epoch'), 1, 15))::BIGINT)
        |        / 1152921504606846976.0 < rate - floor(rate)
        |      THEN 1 ELSE 0 END AS n_epochs
        |  FROM r)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(unnest(range(1, n_epochs + 1)) AS BIGINT) AS epoch
        |FROM n WHERE n_epochs >= 1 ORDER BY doc_id, epoch""".stripMargin,
    // independent re-derivation of the waterfill: same sorted prefix
    // sums, same integer cross-multiplied saturation verdicts, same
    // single-division water level
    "mixture_waterfill" ->
      """WITH tok AS (
        |  SELECT lang,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |wt AS (
        |  SELECT lang, n_tokens,
        |    CAST(CASE lang WHEN 'de' THEN 5 WHEN 'es' THEN 3 WHEN 'fr' THEN 3
        |         WHEN 'en' THEN 1 ELSE 0 END AS BIGINT) AS weight
        |  FROM tok),
        |act AS (SELECT * FROM wt WHERE weight > 0),
        |tot AS (SELECT sum(weight) AS W FROM act),
        |ordw AS (
        |  SELECT lang, n_tokens, weight, W,
        |    coalesce(sum(n_tokens) OVER w, 0) AS cumN,
        |    coalesce(sum(weight) OVER w, 0) AS cumW
        |  FROM act, tot
        |  WINDOW w AS (ORDER BY n_tokens * 1.0 / weight, lang
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |sat AS (
        |  SELECT *,
        |    n_tokens * (W - cumW) <= (15000 - cumN) * weight AS saturated
        |  FROM ordw),
        |lam AS (
        |  SELECT
        |    15000 - coalesce(sum(CASE WHEN saturated THEN n_tokens END), 0)
        |      AS lamN,
        |    min(W) - coalesce(sum(CASE WHEN saturated THEN weight END), 0)
        |      AS lamD
        |  FROM sat),
        |alloc AS (
        |  SELECT s.lang, s.saturated,
        |    CASE WHEN s.saturated THEN 1.0
        |         ELSE round(CAST(l.lamN * s.weight AS DOUBLE)
        |                    / (l.lamD * s.n_tokens), 6) END AS rate,
        |    CASE WHEN s.saturated THEN CAST(s.n_tokens AS DOUBLE)
        |         ELSE round(CAST(l.lamN * s.weight AS DOUBLE) / l.lamD, 6)
        |         END AS alloc_tokens
        |  FROM sat s, lam l)
        |SELECT w.lang, w.n_tokens, w.weight,
        |  coalesce(a.saturated, FALSE) AS saturated,
        |  coalesce(a.rate, 0.0) AS rate,
        |  coalesce(a.alloc_tokens, 0.0) AS alloc_tokens
        |FROM wt w LEFT JOIN alloc a USING (lang)
        |ORDER BY lang""".stripMargin,
    "rebalance_temperature" ->
      """WITH n AS (SELECT lang, count(*) AS n_s FROM documents
        |           WHERE lang IS NOT NULL GROUP BY lang),
        |t AS (SELECT list_sum(list(sqrt(n_s) ORDER BY lang)) AS ft,
        |             sum(n_s) AS tot FROM n),
        |r AS (SELECT lang,
        |        least(1.0, sqrt(n_s) / t.ft * (0.5 * t.tot) / n_s) AS rate
        |      FROM n, t)
        |SELECT d.doc_id, d.lang FROM documents d JOIN r ON d.lang = r.lang
        |WHERE (('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT)
        |      / 1152921504606846976.0 < r.rate
        |ORDER BY d.doc_id""".stripMargin,
    "doc_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    CAST(ceil(greatest(length(text) - 50, 1) / 150.0) AS BIGINT) AS n_chunks
        |  FROM documents)
        |SELECT doc_id, i AS chunk_idx,
        |  substring(text, CAST(1 + i * 150 AS INTEGER), 200) AS chunk, n_chunks,
        |  CAST(length(substring(text, CAST(1 + i * 150 AS INTEGER), 200)) AS INTEGER)
        |    AS chunk_len
        |FROM d CROSS JOIN unnest(range(0, n_chunks)) AS t(i)
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "corpus_materialize" ->
      """WITH sv AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |  WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
        |    AND len(string_split(text, ' ')) >= 20),
        |samp AS (
        |  SELECT * FROM sv
        |  WHERE (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
        |        / 1152921504606846976.0
        |    < CASE WHEN lang = 'en' THEN 0.5 ELSE 1.0 END),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM samp)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(floor(cum_before / 512.0) AS BIGINT) AS seq_id,
        |  CAST(cum_before % 512 AS BIGINT) AS seq_offset
        |FROM c ORDER BY doc_id""".stripMargin,
    "corpus_materialize_neardup" ->
      """WITH RECURSIVE sv0 AS (
        |  SELECT doc_id, lang, text FROM documents
        |  WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)),
        |tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM sv0
        |  WHERE len(string_split(lower(text), ' ')) >= 3),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                   for i in range(1, len(w) - 1)]) AS shingles
        |  FROM tok),
        |exs AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
        |pairs AS (
        |  SELECT a.doc_id AS u, b.doc_id AS v
        |  FROM exs a JOIN exs b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |  HAVING round(count(*) * 1.0 / (any_value(a.n) + any_value(b.n) - count(*)), 6) >= 0.8),
        |edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
        |reach(id, r) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT r.id, e.v FROM reach r JOIN edges e ON e.u = r.r),
        |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
        |sv AS (
        |  SELECT d.doc_id, d.lang,
        |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
        |  FROM sv0 d LEFT JOIN comp c ON d.doc_id = c.id
        |  WHERE (c.comp IS NULL OR c.comp = d.doc_id)
        |    AND len(string_split(d.text, ' ')) >= 20),
        |samp AS (
        |  SELECT * FROM sv
        |  WHERE (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
        |        / 1152921504606846976.0
        |    < CASE WHEN lang = 'en' THEN 0.5 ELSE 1.0 END),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM samp)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(floor(cum_before / 512.0) AS BIGINT) AS seq_id,
        |  CAST(cum_before % 512 AS BIGINT) AS seq_offset
        |FROM c ORDER BY doc_id""".stripMargin,
    "decontaminate_ngram" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 13),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([list_reduce(w[i:i+12], (a, b) -> a || ' ' || b)
        |                   for i in range(1, len(w) - 11)]) AS shingles
        |  FROM tok),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |hits AS (
        |  SELECT c.doc_id, c.s, e.doc_id AS eval_id
        |  FROM ex c JOIN ex e ON c.s = e.s
        |  WHERE e.doc_id % 5 = 0 AND c.doc_id % 5 <> 0)
        |SELECT doc_id,
        |  CAST(count(DISTINCT s) AS BIGINT) AS contaminated_ngrams,
        |  CAST(count(DISTINCT eval_id) AS BIGINT) AS eval_docs_hit
        |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // four benchmarks, two kinds, one verdict table: the tagged shingle
    // self-join for the two lexical benchmarks, the tagged broadcast
    // cosine pass for the two embedding benchmarks
    "decontaminate_multi" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 13),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([list_reduce(w[i:i+12], (a, b) -> a || ' ' || b)
        |                   for i in range(1, len(w) - 11)]) AS shingles
        |  FROM tok),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |lex AS (
        |  SELECT CASE WHEN e.doc_id % 10 = 0 THEN 'evalA' ELSE 'evalB' END
        |      AS benchmark,
        |    'ngram' AS kind, c.doc_id,
        |    CAST(count(DISTINCT c.s) AS BIGINT) AS severity
        |  FROM ex c JOIN ex e ON c.s = e.s
        |  WHERE e.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
        |  GROUP BY 1, c.doc_id),
        |emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))
        |      AS nrm
        |  FROM embeddings),
        |evv AS (
        |  SELECT CASE WHEN vec_id % 20 = 0 THEN 'evalV1' ELSE 'evalV2' END
        |      AS benchmark,
        |    v AS ev, nrm AS en
        |  FROM emb WHERE vec_id % 10 = 0),
        |cov AS (SELECT vec_id, v AS cv, nrm AS cn FROM emb WHERE vec_id % 10 <> 0),
        |sem AS (
        |  SELECT benchmark, 'semantic' AS kind, vec_id AS doc_id,
        |    CAST(round(max(round(list_sum([cv[i] * ev[i] for i in range(1, len(cv) + 1)])
        |      / (cn * en), 6)) * 1e6) AS BIGINT) AS severity
        |  FROM cov JOIN evv ON true
        |  GROUP BY benchmark, vec_id
        |  HAVING max(round(list_sum([cv[i] * ev[i] for i in range(1, len(cv) + 1)])
        |    / (cn * en), 6)) >= 0.35)
        |SELECT benchmark, kind, doc_id, severity FROM lex
        |UNION ALL SELECT benchmark, kind, doc_id, severity FROM sem
        |ORDER BY kind, benchmark, doc_id""".stripMargin,
    "decontaminate_spans" ->
      (PipelineQueries.duckContaminationBody + """
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_pos,
        |  CAST(max(e) AS BIGINT) AS end_pos,
        |  CAST(max(e) - min(pos) + 1 AS BIGINT) AS span_tokens
        |FROM isl GROUP BY doc_id, island
        |HAVING max(e) - min(pos) + 1 >= 13
        |ORDER BY doc_id, start_pos""".stripMargin),
    "corpus_excise_contaminated" ->
      (PipelineQueries.duckContaminationBody + """,
        |iv0 AS (
        |  SELECT doc_id, min(pos) AS s, max(e) AS e
        |  FROM isl GROUP BY doc_id, island
        |  HAVING max(e) - min(pos) + 1 >= 13),
        |iv AS (SELECT doc_id, list({'s': s, 'e': e} ORDER BY s) AS ivs
        |       FROM iv0 GROUP BY doc_id),
        |alltok AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        |           FROM documents WHERE doc_id % 5 <> 0),
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
    // the single-window formulation the two-level top-K must reproduce
    "domain_doc_cap" ->
      """WITH h AS (
        |  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS hh
        |  FROM documents WHERE source IS NOT NULL),
        |r AS (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY hh, doc_id)
        |      AS BIGINT) AS rank
        |  FROM h)
        |SELECT doc_id, source, rank FROM r WHERE rank <= 12
        |ORDER BY doc_id""".stripMargin,
    // same rate derivation as Sampling.domainShareCap, with the literal
    // CAST to DOUBLE so the arithmetic really is double ops left-to-right:
    // a bare 0.03 binds as DECIMAL in DuckDB, and DECIMAL(0.03) * tot is
    // EXACT where double(0.03) * double(tot) rounds — one fewer rounding
    // than Spark performs, a 1-ulp rate divergence waiting for a corpus
    // total that lands on it
    "domain_share_cap" ->
      """WITH n AS (SELECT source, count(*) AS n_s FROM documents
        |           WHERE source IS NOT NULL GROUP BY source),
        |t AS (SELECT sum(n_s) AS tot FROM n),
        |r AS (SELECT source,
        |        least(1.0, CAST(0.03 AS DOUBLE) * t.tot / n_s) AS rate FROM n, t)
        |SELECT d.doc_id, d.source FROM documents d JOIN r ON d.source = r.source
        |WHERE (('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT)
        |      / 1152921504606846976.0 < r.rate
        |ORDER BY d.doc_id""".stripMargin,
    // both layout reads must EQUAL the plain predicate over the full
    // table — file skipping is a superset selection (never a filter), and
    // the write->append->compact lifecycle never changes results; one
    // shared oracle keeps the twins in sync
    "zorder_box_scan" -> zorderBoxOracle,
    "zorder_append_compact_scan" -> zorderBoxOracle,
    // the same box predicate MINUS the excised cohort: exactly what a
    // fresh write over the surviving orders would serve
    "zorder_excised" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_totalprice >= 50000 AND o_totalprice <= 150000
        |  AND o_custkey >= 40 AND o_custkey <= 120
        |  AND o_orderkey % 7 <> 0
        |ORDER BY o_orderkey""".stripMargin)
}
