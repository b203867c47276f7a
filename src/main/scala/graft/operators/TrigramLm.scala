package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Interpolated TRIGRAM language model with absolute discounting — the
  * upgrade of [[BigramLm]]'s add-one bigram toward the CCNet lineage
  * (Wenzek et al., LREC 2020, filter the crawl by a reference LM's
  * perplexity; their KenLM is a 5-gram with modified Kneser-Ney — this is
  * the same model family two orders down, with the discount chosen so
  * every probability stays an exact rational of corpus counts).
  *
  * The chain, with discount D = 1/2 (a dyadic rational, so `c - D` and
  * `D·n` are EXACT doubles and the only roundings are the divisions —
  * one per backoff level — making the scores bit-reproducible in any
  * IEEE-754 engine, including the DuckDB oracle):
  *
  *   p1(w)        = (c(w) + 1) / (N + V)                      add-one unigram
  *   p2(w3 | w2)  = (max(c(w2 w3) - D, 0) + D·n1+(w2·)·p1(w3)) / c(w2·)
  *                  — or p1(w3) when w2 was never seen as a context
  *   p3(w3 | w1 w2) = (max(c(w1w2w3) - D, 0) + D·n1+(w1w2·)·p2(w3|w2)) / c(w1w2·)
  *                  — or p2(w3|w2) when (w1,w2) was never seen as a context
  *
  * where n1+(x·) is the number of DISTINCT continuations of context x and
  * c(x·) the total continuation count — both derived from the stored
  * n-gram count tables, so the model is exactly three aggregates:
  *
  *   tri: (tg, c123)   corpus trigram counts
  *   bi:  (bg, c23)    corpus bigram counts
  *   uni: (w, c1u)     corpus unigram counts
  *   v, nTok           vocabulary size + total token count (two scalars)
  *
  * Interpolation (the discounted mass always flows to the lower order)
  * rather than Katz backoff keeps the estimator smooth AND keeps the
  * arithmetic a fixed-shape expression — no data-dependent branching
  * beyond the two unseen-context fallbacks, which a SQL oracle expresses
  * as the same CASE.
  *
  * Per-document scoring quantizes each trigram probability to an exact
  * integer p14 = round(p3·1e14) and aggregates INTEGER sums
  * (order-independent — a raw double Σ k·p3 would make the last ulp
  * depend on aggregation order), then pays ONE division chain:
  * pred_prob = round6(Σ k·p14 / Σk / 1e14). oov_rate is the fraction of
  * the doc's distinct trigrams absent from the model.
  *
  * Scale shape: training is three key-partitioned aggregations plus one
  * bounded two-scalar action; the count tables stay DataFrames. Scoring
  * joins the document trigrams against five model-derived tables, each
  * keyed by its own n-gram/context key — co-partitioned shuffle joins
  * with AQE handling hot-key skew, the [[BigramLm.score]] posture one
  * order up. The durable form is a durable artifact (ARCHITECTURE.md
  * "Durable artifacts"): build-once / serve-many-sessions, metadata-only
  * reopen validation, zero training jobs on a hit (TextLmSpec asserts
  * the skip).
  */
final class TrigramLm private[operators] (
    /** (tg, c123) corpus trigram counts — key "w1 w2 w3". */
    val tri: DataFrame,
    /** (bg, c23) corpus bigram counts — key "w1 w2". */
    val bi: DataFrame,
    /** (w, c1u) corpus unigram counts. */
    val uni: DataFrame,
    /** Training-corpus vocabulary size. */
    val v: Long,
    /** Training-corpus total token count. */
    val nTok: Long) {

  /** (bg12, c12, n3): continuation total + distinct-continuation count per
    * trigram CONTEXT — derived lazily from the stored trigram counts, so
    * the durable form never persists what an aggregate reproduces. */
  private def ctx2: DataFrame =
    tri.groupBy(substring_index(col("tg"), " ", 2).as("bg12"))
      .agg(sum("c123").as("c12"), count(lit(1)).as("n3"))

  /** (w2c, c2, n2): same derivation one order down, from the bigrams. */
  private def ctx1: DataFrame =
    bi.groupBy(substring_index(col("bg"), " ", 1).as("w2c"))
      .agg(sum("c23").as("c2"), count(lit(1)).as("n2"))

  /** Durable form: the three count tables and a manifest (context
    * tables are re-derived on load, not stored). */
  def write(path: String, source: String = ""): Unit = {
    val spark = tri.sparkSession
    // rebuild IS the crash recovery: drop any lease a dead maintainer left
    WriterLease.clear(spark, path)
    tri.write.mode("overwrite").parquet(s"$path/tri")
    bi.write.mode("overwrite").parquet(s"$path/bi")
    uni.write.mode("overwrite").parquet(s"$path/uni")
    // footer-stats counts of what was just written — metadata, not a scan
    Manifest.writeBuilt(spark, path, TrigramLm.Format, "source" -> source,
      "v" -> v, "nTok" -> nTok,
      "triRows" -> spark.read.parquet(s"$path/tri").count(),
      "biRows" -> spark.read.parquet(s"$path/bi").count(),
      "uniRows" -> spark.read.parquet(s"$path/uni").count())
  }

  /** Score `df` under THIS model: (idCol, n_trigrams, pred_prob, oov_rate)
    * per document with at least one trigram (>= 3 tokens). The staged
    * p1 -> p2 -> p3 columns mirror the oracle's staged CTEs expression for
    * expression, so every intermediate double is bit-identical across
    * engines. */
  def score(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docTg = TrigramLm.docTrigramCounts(df, idCol, textCol)
    val scored = docTg
      .withColumn("bg12", substring_index(col("tg"), " ", 2))
      .withColumn("bg23", substring_index(col("tg"), " ", -2))
      .withColumn("w2", substring_index(col("bg23"), " ", 1))
      .withColumn("w3", substring_index(col("tg"), " ", -1))
      .join(tri, Seq("tg"), "left")
      .join(ctx2, Seq("bg12"), "left")
      .join(bi.withColumnRenamed("bg", "bg23"), Seq("bg23"), "left")
      .join(ctx1.withColumnRenamed("w2c", "w2"), Seq("w2"), "left")
      .join(uni.withColumnRenamed("w", "w3"), Seq("w3"), "left")
      // stage 1: add-one unigram base (N + V exact longs, one division)
      .withColumn("p1",
        (coalesce(col("c1u"), lit(0L)).cast("double") + 1.0) / (nTok + v))
      // stage 2: discounted bigram interpolating the unigram; unseen
      // context w2 backs off entirely
      .withColumn("p2", when(col("c2").isNull, col("p1")).otherwise(
        (greatest(coalesce(col("c23"), lit(0L)) - 0.5, lit(0.0))
          + lit(0.5) * col("n2") * col("p1")) / col("c2")))
      // stage 3: discounted trigram interpolating the bigram; unseen
      // context (w1, w2) backs off entirely
      .withColumn("p3", when(col("c12").isNull, col("p2")).otherwise(
        (greatest(coalesce(col("c123"), lit(0L)) - 0.5, lit(0.0))
          + lit(0.5) * col("n3") * col("p2")) / col("c12")))
      // exact integer quantization -> order-independent integer sums
      .withColumn("p14", round(col("p3") * 1e14, 0).cast("long"))
    // k*p14 as decimal(38,0) (the Dedup.labelSum pattern): p14 <= 1e14,
    // so a long product wraps at k >= ~92,000 — one ~100k-token
    // repeated-text document is enough. Exact decimal sum, then ONE
    // correctly-rounded conversion to double (DuckDB mirrors with
    // HUGEINT, the same exact-int128 class).
    scored.groupBy(idCol)
      .agg(sum("k").as("n_trigrams"),
        TrigramLm.round6(
          sum(col("k").cast("decimal(38,0)") * col("p14")).cast("double")
          / sum("k") / 1e14).as("pred_prob"),
        TrigramLm.round6(avg(when(col("c123").isNull, 1.0).otherwise(0.0)))
          .as("oov_rate"))
  }
}

object TrigramLm {
  private val trainsRun = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] def trainCount: Int = trainsRun.get

  private val Format = Manifest.Format("1", "trigram LM",
    Seq("triRows" -> "tri", "biRows" -> "bi", "uniRows" -> "uni"))

  /** The ONE shared round-to-6 helper (TextAnalysis.round6) — pred_prob
    * feeds threshold/tercile verdicts downstream, so a private copy could
    * drift by the 1-ulp class that helper exists to prevent. */
  private def round6(c: Column): Column = TextAnalysis.round6(c)

  /** Word trigrams of a text column as "w1 w2 w3" strings — two zip_withs
    * over shifted slices (the [[BigramLm]] extraction one order up), with
    * the slice length clamped at 0 so sub-trigram docs yield an empty
    * array instead of a negative-length slice error. */
  private def trigrams(textCol: String): Column = {
    val t = split(lower(col(textCol)), " ")
    val len = greatest(size(t) - 2, lit(0))
    zip_with(
      zip_with(slice(t, lit(1), len), slice(t, lit(2), len),
        (a, b) => concat(a, lit(" "), b)),
      slice(t, lit(3), len),
      (ab, c) => concat(ab, lit(" "), c))
  }

  /** (idCol, tg, k): per-document trigram occurrence counts. */
  private def docTrigramCounts(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol), explode(trigrams(textCol)).as("tg"))
      .groupBy(idCol, "tg").agg(count(lit(1)).as("k"))

  /** TRAIN: the three n-gram count aggregates plus one bounded two-scalar
    * action (total tokens + vocabulary — the [[BigramLm.train]]
    * analogue). The count tables stay lazy DataFrames. */
  def train(df: DataFrame, textCol: String): TrigramLm = {
    trainsRun.incrementAndGet()
    val t = split(lower(col(textCol)), " ")
    val tri = df.select(explode(trigrams(textCol)).as("tg"))
      .groupBy("tg").agg(count(lit(1)).as("c123"))
    val bgs = zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
      (a, b) => concat(a, lit(" "), b))
    val bi = df.select(explode(bgs).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c23"))
    val uni = df.select(explode(t).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1u"))
    val row = df.select(explode(t).as("w"))
      .agg(count(lit(1)).as("n"), countDistinct("w").as("v")).head()
    new TrigramLm(tri, bi, uni, v = row.getLong(1), nTok = row.getLong(0))
  }

  /** EXACT UNLEARNING for the interpolated trigram LM — subtract an
    * excised batch's trigram/bigram/unigram counts from a written model:
    * the [[BigramLm.exciseFrom]] recipe one order up. All three n-gram
    * count tables are additive integer counts over any document-disjoint
    * split, and BOTH non-additive scalars re-derive from the surviving
    * unigram table — v as its row count, nTok as its count sum — so the
    * unigram table plays the role BigramLm's r19 vocab sidecar was added
    * for, with no manifest version bump needed. The derived backoff
    * statistics (continuation totals and distinct-continuation counts,
    * [[TrigramLm.ctx2]]/[[TrigramLm.ctx1]]) are aggregates OVER the
    * stored tables, so they refresh for free — the excised model scores
    * EVERY document bit-identically to a fresh train over the survivors,
    * including every discount denominator and backoff branch the
    * excision changed; the `lm_trigram_excised` driver row hashes that
    * equality.
    *
    * `excisedDocs` must be corpus rows being removed (the same text
    * column the model was trained over) and a SUBSET of the training
    * corpus: an unseen key or an over-subtracted count in ANY of the
    * three tables is refused before a byte is staged, never clamped.
    * Keys reaching exactly zero are dropped, as a fresh survivor train
    * would. Ledger idempotence (a replayed tag no-ops, checked BEFORE
    * the torn-state recount), whole-directory staged swap with the
    * manifest last, and the writer lease are [[Manifest.applyBatch]] and
    * [[Manifest.commitStaged]]; a crash between the swap renames recovers
    * by [[WriterLease.adoptOrphanNext]] at the next reopen. */
  def exciseFrom(spark: SparkSession, path: String, excisedDocs: DataFrame,
      textCol: String, newSource: String): Boolean =
      Manifest.applyBatch(spark, path, Format, "excising", newSource) { prior =>
    // batch deltas under train's exact tokenization
    val t = split(lower(col(textCol)), " ")
    val dTri = excisedDocs.select(explode(trigrams(textCol)).as("tg"))
      .groupBy("tg").agg(count(lit(1)).as("dn"))
    val bgs = zip_with(slice(t, lit(1), size(t) - 1),
      slice(t, lit(2), size(t) - 1), (a, b) => concat(a, lit(" "), b))
    val dBi = excisedDocs.select(explode(bgs).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("dn"))
    val dUni = excisedDocs.select(explode(t).as("w"))
      .groupBy("w").agg(count(lit(1)).as("dn"))
    // subset proof BEFORE any write, per table
    val nextTri = BigramLm.subtractCounts(spark, path, "tri", "tg", "c123", dTri)
    val nextBi = BigramLm.subtractCounts(spark, path, "bi", "bg", "c23", dBi)
    val nextUni = BigramLm.subtractCounts(spark, path, "uni", "w", "c1u", dUni)
    // stage the WHOLE next model beside the live one, manifest LAST
    Manifest.commitStaged(spark, path) { next =>
      nextTri.write.mode("overwrite").parquet(s"$next/tri")
      nextBi.write.mode("overwrite").parquet(s"$next/bi")
      nextUni.write.mode("overwrite").parquet(s"$next/uni")
      val triRows = spark.read.parquet(s"$next/tri").count()
      val biRows = spark.read.parquet(s"$next/bi").count()
      // the survivor scalars re-derive from the staged unigram table in
      // one bounded action: v IS its row count and nTok its count sum —
      // exactly the values a fresh train over the survivors computes
      val uniStats = spark.read.parquet(s"$next/uni")
        .agg(count(lit(1)).cast("long"),
          coalesce(sum("c1u"), lit(0L)).cast("long")).head()
      val (uniRows, nTok) = (uniStats.getLong(0), uniStats.getLong(1))
      Manifest.write(spark, next, Format, prior.applying(newSource,
        "v" -> uniRows, "nTok" -> nTok, "triRows" -> triRows,
        "biRows" -> biRows, "uniRows" -> uniRows))
    }
  }

  /** Reopen a written model ONLY if its manifest proves it complete,
    * current, and trained from the caller's `source` — metadata-sized
    * validation, zero training jobs on a hit. */
  def loadIfValid(spark: SparkSession, path: String,
      source: String): Option[TrigramLm] =
    Manifest.reopen(spark, path, Format, source) { m =>
      val lm = open(spark, path, m)
      // v is the unigram vocabulary size: the manifest's own uni row
      // count (nTok, a sum over the unigram counts, has no metadata twin)
      Some(lm).filter(_ => m.get("v") == m.get("uniRows") &&
        m.counts("triRows", lm.tri) && m.counts("biRows", lm.bi) &&
        m.counts("uniRows", lm.uni))
    }

  /** Reopen a written model: lazy parquet scans + the manifest scalars. */
  def load(spark: SparkSession, path: String): TrigramLm =
    open(spark, path, Manifest.read(spark, path))

  private def open(spark: SparkSession, path: String, m: Manifest): TrigramLm =
    new TrigramLm(
      spark.read.parquet(s"$path/tri"),
      spark.read.parquet(s"$path/bi"),
      spark.read.parquet(s"$path/uni"),
      m.long("v"), m.long("nTok"))
}
