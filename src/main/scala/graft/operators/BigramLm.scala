package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bigram language model with the TRAIN / SERVE lifecycle split — the
  * CCNet-style usage where the model is fitted ONCE on a reference corpus
  * and then scores every crawl shard (Wenzek et al., "CCNet: Extracting
  * High Quality Monolingual Datasets from Web Crawl Data", LREC 2020
  * train a reference LM and filter the crawl by its perplexity; the
  * in-one-call corpus-internal variant lives in
  * [[TextAnalysis.bigramLm]]).
  *
  * A trained model is three count tables plus one scalar over the
  * training corpus, all in RATIONAL arithmetic (no log/exp) so scores
  * are engine-reproducible:
  *
  *   model: (bg, c12)  corpus count per bigram        — corpus-keyed table
  *   ctx:   (w1, c1)   corpus count per bigram-start  — corpus-keyed table
  *   vocab: (w, cnt)   corpus OCCURRENCES per word    — vocab-keyed table
  *   v                 vocabulary size = |vocab|      — one scalar
  *
  * The vocab table (r19) exists for EXACT UNLEARNING: v is a distinct
  * count and therefore not additive — subtracting a batch cannot tell
  * whether a word survives elsewhere — but word OCCURRENCE counts are
  * additive, and v is exactly the number of words whose occurrence
  * count stays positive, so [[BigramLm.exciseFrom]] can reproduce the
  * survivor-trained v without touching the corpus. Scoring never reads
  * the vocab table (v rides the manifest as a scalar).
  *
  * Scoring a document under a FIXED model is add-one smoothing over its
  * bigrams: p(bg) = (c12 + 1) / (c1 + v) with c12 = c1 = 0 for unseen
  * keys, pred_prob = Σ k·p / Σ k (k = the doc's bigram count), plus
  * oov_rate = the fraction of the doc's DISTINCT bigrams absent from the
  * model — the two standard quality/novelty signals.
  *
  * Scale shape: training is three key-partitioned aggregations plus one
  * bounded count; nothing corpus-sized is ever collected (the count tables
  * stay DataFrames). Scoring joins the document bigrams against the model
  * tables keyed by bigram/context — co-partitioned shuffle joins, AQE
  * handling hot-bigram skew ("of the"-style keys; SkewStressSpec pins the
  * shape). The durable form (`write`/`loadIfValid`) is a durable artifact
  * (ARCHITECTURE.md "Durable artifacts"): build-once /
  * serve-many-sessions, reopen validated by metadata only, zero training
  * jobs on a hit (BigramLmPersistSpec asserts the skip).
  */
final class BigramLm private[operators] (
    /** (bg, c12) corpus bigram counts. */
    val model: DataFrame,
    /** (w1, c1) bigram-start context counts. */
    val ctx: DataFrame,
    /** (w, cnt) corpus word-occurrence counts — the unlearning sidecar. */
    val vocab: DataFrame,
    /** Training-corpus vocabulary size (= vocab row count). */
    val v: Long) {

  /** Durable form: model + ctx + vocab tables and a manifest. */
  def write(path: String, source: String = ""): Unit = {
    val spark = model.sparkSession
    // rebuild IS the crash recovery: drop any lease a dead maintainer left
    WriterLease.clear(spark, path)
    model.write.mode("overwrite").parquet(s"$path/model")
    ctx.write.mode("overwrite").parquet(s"$path/ctx")
    vocab.write.mode("overwrite").parquet(s"$path/vocab")
    // footer-stats counts of what was just written — metadata, not a scan
    Manifest.writeBuilt(spark, path, BigramLm.Format, "source" -> source,
      "v" -> v, "modelRows" -> spark.read.parquet(s"$path/model").count(),
      "ctxRows" -> spark.read.parquet(s"$path/ctx").count(),
      "vocabRows" -> spark.read.parquet(s"$path/vocab").count())
  }

  /** Score `df` under THIS model: (idCol, n_bigrams, pred_prob, oov_rate)
    * per document with at least one bigram. Rounding is the DuckDB-
    * compatible scaled round (half-away-from-zero), so the driver oracle
    * reproduces the scores bit-for-bit. */
  def score(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = split(lower(col(textCol)), " ")
    val occ = df.select(col(idCol),
      explode(zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => concat(a, lit(" "), b))).as("bg"))
    val docBg = occ.groupBy(idCol, "bg").agg(count(lit(1)).as("k"))
    def round6(c: org.apache.spark.sql.Column) = round(c * 1e6, 0) / 1e6
    val p = (coalesce(col("c12"), lit(0L)).cast("double") + 1.0) /
      (coalesce(col("c1"), lit(0L)) + v)
    docBg.withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(model, Seq("bg"), "left")
      .join(ctx, Seq("w1"), "left")
      .groupBy(idCol)
      .agg(sum("k").as("n_bigrams"),
        round6(sum(col("k").cast("double") * p) / sum("k")).as("pred_prob"),
        round6(avg(when(col("c12").isNull, 1.0).otherwise(0.0))).as("oov_rate"))
  }
}

object BigramLm {
  private val trainsRun = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] def trainCount: Int = trainsRun.get

  /** "2" since r19: the durable form gained the vocab occurrence table
    * (the unlearning sidecar) — v1 artifacts reopen invalid and rebuild. */
  private val Format = Manifest.Format("2", "bigram LM",
    Seq("modelRows" -> "model", "ctxRows" -> "ctx", "vocabRows" -> "vocab"))

  private def tokensOf(textCol: String) = split(lower(col(textCol)), " ")

  private def bigramsOf(textCol: String) = {
    val t = tokensOf(textCol)
    explode(zip_with(
      slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
      (a, b) => concat(a, lit(" "), b))).as("bg")
  }

  /** TRAIN: aggregate the model tables from `df`. The count tables stay
    * lazy DataFrames; the single action is the bounded vocabulary count
    * (one scalar — the analogue of PqIndex's bounded sample collect). */
  def train(df: DataFrame, textCol: String): BigramLm = {
    trainsRun.incrementAndGet()
    val occ = df.select(bigramsOf(textCol))
    val model = occ.groupBy("bg").agg(count(lit(1)).as("c12"))
    val ctx = occ.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(count(lit(1)).as("c1"))
    val vocab = df.select(explode(tokensOf(textCol)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val v = vocab.count()
    new BigramLm(model, ctx, vocab, v)
  }

  /** EXACT UNLEARNING for the reference-LM family — subtract an excised
    * batch's bigram/context/word-occurrence counts from a written model:
    * the [[MarkovModel.exciseFrom]] recipe applied to the CCNet
    * lifecycle (a takedown must stop shaping the reference LM every
    * crawl shard is filtered by). All three tables are additive integer
    * counts over any document-disjoint split, and the non-additive
    * scalar v re-derives exactly as the surviving vocab row count, so
    * the excised model scores EVERY document bit-identically to a fresh
    * train over the surviving corpus — including the smoothing
    * denominators (c1 + v) the excision changed; the
    * `lm_bigram_excised` driver row hashes that equality.
    *
    * `excisedDocs` must be corpus rows being removed (the same text
    * column the model was trained over) and a SUBSET of the training
    * corpus: an unseen key or an over-subtracted count in ANY of the
    * three tables is refused before a byte is staged, never clamped.
    * Keys reaching exactly zero are dropped, as a fresh survivor train
    * would. Ledger idempotence (a replayed tag no-ops, checked BEFORE
    * the torn-state recount), whole-directory staged swap with the
    * manifest last (count VALUES can change with no row-count change,
    * so per-table recounts cannot catch a half-landed merge), and the
    * writer lease are [[Manifest.applyBatch]] and
    * [[Manifest.commitStaged]]. */
  def exciseFrom(spark: SparkSession, path: String, excisedDocs: DataFrame,
      textCol: String, newSource: String): Boolean =
      Manifest.applyBatch(spark, path, Format, "excising", newSource) { prior =>
    // batch deltas under train's exact tokenization
    val occ = excisedDocs.select(bigramsOf(textCol))
    val dModel = occ.groupBy("bg").agg(count(lit(1)).as("dn"))
    val dCtx = occ.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(count(lit(1)).as("dn"))
    val dVocab = excisedDocs.select(explode(tokensOf(textCol)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("dn"))
    val nextModel = subtractCounts(spark, path, "model", "bg", "c12", dModel)
    val nextCtx = subtractCounts(spark, path, "ctx", "w1", "c1", dCtx)
    val nextVocab = subtractCounts(spark, path, "vocab", "w", "cnt", dVocab)
    // stage the WHOLE next model beside the live one, manifest LAST
    Manifest.commitStaged(spark, path) { next =>
      nextModel.write.mode("overwrite").parquet(s"$next/model")
      nextCtx.write.mode("overwrite").parquet(s"$next/ctx")
      nextVocab.write.mode("overwrite").parquet(s"$next/vocab")
      val modelRows = spark.read.parquet(s"$next/model").count()
      val ctxRows = spark.read.parquet(s"$next/ctx").count()
      val vocabRows = spark.read.parquet(s"$next/vocab").count()
      // the survivor v IS the surviving vocab row count — the exact value
      // a fresh train over the survivors computes
      Manifest.write(spark, next, Format, prior.applying(newSource,
        "v" -> vocabRows, "modelRows" -> modelRows, "ctxRows" -> ctxRows,
        "vocabRows" -> vocabRows))
    }
  }

  /** The live count table `liveTable` (key, cnt) minus a batch `delta`
    * (key, dn), with the subset proof run BEFORE any write: an unseen key
    * or an over-subtraction means the batch was not part of the trained
    * corpus — unlearning it is undefined, and clamping would leave the
    * model silently off the survivor truth. Keys reaching zero are
    * dropped, as a fresh survivor train would. Shared with
    * [[TrigramLm.exciseFrom]]. */
  private[operators] def subtractCounts(spark: SparkSession, path: String,
      liveTable: String, key: String, cnt: String,
      delta: DataFrame): DataFrame = {
    val live = spark.read.parquet(s"$path/$liveTable")
    val unseen = delta.join(live, Seq(key), "left_anti").count()
    val merged = live.join(delta, Seq(key), "left")
      .select(col(key),
        (col(cnt) - coalesce(col("dn"), lit(0L))).cast("long").as(cnt))
    val negative = merged.filter(col(cnt) < 0).count()
    require(unseen == 0 && negative == 0,
      s"excise batch is not a subset of the corpus the LM at $path was " +
        s"trained on ($unseen unseen $liveTable keys, $negative " +
        "over-subtracted) — rebuild over the survivors instead")
    merged.filter(col(cnt) > 0)
  }

  /** Reopen a written model ONLY if its manifest proves it complete,
    * current, and trained from the caller's `source` — metadata-sized
    * validation, never a data scan, zero training jobs on a hit. */
  def loadIfValid(spark: SparkSession, path: String,
      source: String): Option[BigramLm] =
    Manifest.reopen(spark, path, Format, source) { m =>
      val lm = open(spark, path, m)
      // v is the vocabulary size: the manifest's own vocab row count
      Some(lm).filter(_ => m.get("v") == m.get("vocabRows") &&
        m.counts("modelRows", lm.model) && m.counts("ctxRows", lm.ctx) &&
        m.counts("vocabRows", lm.vocab))
    }

  /** Reopen a written model: lazy parquet scans + the manifest scalar. */
  def load(spark: SparkSession, path: String): BigramLm =
    open(spark, path, Manifest.read(spark, path))

  private def open(spark: SparkSession, path: String, m: Manifest): BigramLm =
    new BigramLm(
      spark.read.parquet(s"$path/model"),
      spark.read.parquet(s"$path/ctx"),
      spark.read.parquet(s"$path/vocab"),
      m.long("v"))
}
