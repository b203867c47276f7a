package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** First-order Markov transition model over per-entity event sequences,
  * with the TRAIN / SERVE lifecycle split — the behavioral twin of
  * [[BigramLm]] (the bigram LM models word→word transitions inside a
  * document; this models event→event transitions inside a user's
  * stream). A real pipeline trains the matrix offline on a reference
  * window and then serves it to every consumer: the transition report,
  * the per-session anomaly scorer, and the streaming monitor's
  * aggregation all read ONE frozen model instead of re-deriving it.
  *
  * A trained model is two aggregates over the transition-pairs table:
  *
  *   counts: (from_type, to_type, n)  corpus count per transition class
  *   totals: (from_type, n_from)      corpus count per source state
  *
  * Both are MATRIX-sized (≤ |types|² rows), never corpus-sized — the
  * one corpus-scale pass is the pairs derivation ([[pairs]]: a single
  * `lead()` window partitioned by entity, state bounded per entity).
  *
  * Serving is exact integer/rational arithmetic throughout so every
  * score is engine-reproducible: probabilities are one rounded division
  * of exact counts; surprise is ln(n/n_from) quantized to integer
  * micro-nats PER CLASS the instant it is computed, so a session's
  * surprise mass is an exact order-free decimal(38,0) sum and one
  * truncating division (the diversity-report rule-9 discipline).
  *
  * The durable form (`write`/`loadIfValid`) is a durable artifact
  * (ARCHITECTURE.md "Durable artifacts"): build-once /
  * serve-many-sessions, reopen validated by metadata only (version,
  * source tag, row counts), zero training jobs on a hit —
  * MarkovModelSpec asserts the skip, and the `markov_model_persisted`
  * driver row pins reopen == in-session.
  */
final class MarkovModel private[operators] (
    /** (from_type, to_type, n) transition-class counts. */
    val counts: DataFrame,
    /** (from_type, n_from) source-state totals. */
    val totals: DataFrame) {

  /** DuckDB-compatible rounding (round the scaled double
    * half-away-from-zero; see queries.DuckDbRound). */
  private def round6(c: Column): Column = round(c * 1e6, 0) / 1e6

  /** The served transition matrix: (from_type, to_type, n, prob) with
    * prob = n / n_from rounded to 6 places — matrix-sized output, one
    * matrix-sized join. */
  def transitions(): DataFrame =
    counts.join(totals, "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        round6(col("n").cast("double") / col("n_from")).as("prob"))

  /** Per-class surprise in quantized micro-nats:
    * q_micro = round(ln(n / n_from) · 1e6) as decimal(38,0) — the exact
    * integer each transition contributes to a session's surprise sum. */
  def surprise(): DataFrame =
    counts.join(totals, "from_type")
      .select(col("from_type"), col("to_type"),
        round(log(col("n").cast("double") / col("n_from")) * 1e6, 0)
          .cast("decimal(38,0)").as("q_micro"))

  /** Score per-entity sessions UNDER this frozen model: for each entity,
    * the transition count and the average surprise in micro-nats
    * (exact decimal sum of per-class integers, one truncating DIV).
    * `pairs` is (idCol, from_type, to_type); the model side broadcasts
    * (matrix-sized by construction), so the serve plan is one
    * broadcast-join scan over the pairs — the offline-train /
    * stream-serve shape a 100 TB event log needs. Transitions whose
    * class is absent from the model (possible only when scoring a
    * corpus the model was not trained on) are dropped by the inner
    * join, mirroring the oracle. */
  def scoreSessions(pairs: DataFrame, idCol: String): DataFrame =
    pairs.join(broadcast(surprise()), Seq("from_type", "to_type"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_transitions"), sum("q_micro").as("s"))
      .select(col(idCol), col("n_transitions"),
        expr("CAST((-s) DIV n_transitions AS BIGINT)")
          .as("surprise_micro_avg"))

  /** Durable form: counts + totals tables and a manifest. Matrix-sized
    * tables coalesce to one file each — the model is small by
    * construction even when the training corpus is not. */
  def write(path: String, source: String = ""): Unit = {
    val spark = counts.sparkSession
    // rebuild IS the crash recovery: drop any lease a dead maintainer left
    WriterLease.clear(spark, path)
    counts.coalesce(1).write.mode("overwrite").parquet(s"$path/counts")
    totals.coalesce(1).write.mode("overwrite").parquet(s"$path/totals")
    // footer-stats counts of what was just written — metadata, not a scan
    Manifest.writeBuilt(spark, path, MarkovModel.Format, "source" -> source,
      "countRows" -> spark.read.parquet(s"$path/counts").count(),
      "totalRows" -> spark.read.parquet(s"$path/totals").count())
  }
}

object MarkovModel {
  private val trainsRun = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Number of [[train]] calls this JVM — specs and the
    * `markov_model_persisted` row assert a manifest reopen leaves it
    * unchanged. */
  private[graft] def trainCount: Int = trainsRun.get

  private val Format = Manifest.Format("1", "markov model",
    Seq("countRows" -> "counts", "totalRows" -> "totals"))

  /** The ONE corpus-scale pass of the family: per-entity transition
    * pairs (idCol, from_type, to_type) via a single `lead()` window
    * partitioned by the entity key and ordered by `orderCols` (which
    * must be a TOTAL order within each entity for the derivation to be
    * deterministic). Every consumer — training, session scoring, the
    * transition report — reads THIS table instead of re-running the
    * window. */
  def pairs(events: DataFrame, idCol: String, typeCol: String,
      orderCols: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty, "need at least one ordering column")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(orderCols.map(col): _*)
    events
      .withColumn("to_type", lead(typeCol, 1).over(w))
      .filter(col("to_type").isNotNull)
      .select(col(idCol), col(typeCol).as("from_type"), col("to_type"))
  }

  /** TRAIN: the two matrix-sized aggregates over a [[pairs]] table.
    * Both stay lazy DataFrames — nothing is collected; the totals are
    * derived from the counts (one matrix-sized re-aggregation) so the
    * two tables can never disagree. */
  def train(pairs: DataFrame): MarkovModel = {
    trainsRun.incrementAndGet()
    val counts = pairs.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("from_type").agg(sum("n").as("n_from"))
    new MarkovModel(counts, totals)
  }

  /** Incrementally fold a new batch of transition PAIRS into a written
    * model — the daily-events lifecycle ([[InvertedIndex.appendTo]]
    * semantics): transition-class counts are ADDITIVE over any
    * entity-disjoint split of the pairs table, so merged counts equal a
    * fresh train over the union exactly (the `markov_model_appended`
    * driver row hashes that equality); totals re-derive from the merged
    * counts so the two tables can never disagree.
    *
    * Crash safety is a WHOLE-DIRECTORY swap (the [[ZOrderLayout]].compact
    * shape), not per-table renames: a merge can change count VALUES
    * without changing either table's ROW count (a saturated matrix), so
    * row-count recounts alone cannot detect a crash that landed one
    * table but not the other. Instead the full next model — counts,
    * totals, and the refreshed manifest, staged manifest LAST — is built
    * beside the live one and swapped in by two directory renames: a
    * crash before the swap leaves the OLD model fully valid (the staged
    * dir is an invisible orphan, deleted on retry); a crash between the
    * renames is adopted by the next [[loadIfValid]]
    * ([[Manifest.commitStaged]]). Returns false (no-op) when `newSource`
    * is already in the ledger — a crashed job's retry can never
    * double-count a batch. Writer contract as for the index family: one
    * appender at a time, no live readers across the swap. */
  def appendTo(spark: SparkSession, path: String, pairs: DataFrame,
      newSource: String): Boolean =
      Manifest.applyBatch(spark, path, Format, "appending", newSource) { prior =>
    val delta = pairs.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
    val merged = spark.read.parquet(s"$path/counts")
      .unionByName(delta)
      .groupBy("from_type", "to_type").agg(sum("n").cast("long").as("n"))
    stageAndSwap(spark, path, prior.applying(newSource), merged)
  }

  /** EXACT UNLEARNING for the additive-count family — subtract an
    * excised batch's transition-pair counts from a written model: the
    * takedown / opt-out twin of [[appendTo]], completing
    * train → append → EXCISE for the behavioral tier the way
    * [[InvertedIndex.excise]] completes it for text. The model's
    * sufficient statistics are additive integer counts over any
    * entity-disjoint split of the pairs table, so subtracting the
    * excised entities' pair counts yields EXACTLY the model a fresh
    * train over the survivors produces — the same argument that makes
    * the appended model hash against the full-train oracle, inverted;
    * the `markov_model_excised` driver row hashes that equality at all
    * three SFs, and unlike the index families no tombstone/compact
    * phase is needed (the artifact is matrix-sized — the "rewrite" IS
    * metadata-sized).
    *
    * `pairs` must be the excised entities' FULL pairs table under the
    * same derivation the model was trained from ([[pairs]] over their
    * events — entity-local, so the split is exact). A batch carrying
    * transitions the model never saw (an unseen class, or more
    * occurrences of a class than were trained) is a caller error and
    * REFUSED — never clamped to zero, which would silently leave the
    * model off the survivor truth. Classes whose count reaches exactly
    * zero are dropped, as a fresh survivor train would. Ledger
    * idempotence (replayed tag no-ops), crash safety (whole-directory
    * staged swap, manifest last), and the writer lease are
    * [[appendTo]]'s, via the shared commit. */
  def exciseFrom(spark: SparkSession, path: String, pairs: DataFrame,
      newSource: String): Boolean =
      Manifest.applyBatch(spark, path, Format, "excising", newSource) { prior =>
    val delta = pairs.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("dn"))
    val live = spark.read.parquet(s"$path/counts")
    // subset proof BEFORE any write (both checks are matrix-sized): an
    // unseen class or an over-subtracted count means the batch was not
    // part of the trained corpus — unlearning it is undefined
    val unseen = delta.join(live, Seq("from_type", "to_type"), "left_anti")
      .count()
    val merged = live.join(delta, Seq("from_type", "to_type"), "left")
      .select(col("from_type"), col("to_type"),
        (col("n") - coalesce(col("dn"), lit(0L))).cast("long").as("n"))
    val negative = merged.filter(col("n") < 0).count()
    require(unseen == 0 && negative == 0,
      s"excise batch is not a subset of the corpus the model at $path " +
        s"was trained on ($unseen unseen transition classes, $negative " +
        "over-subtracted) — a count model cannot unlearn data it never " +
        "learned; rebuild over the survivors instead")
    stageAndSwap(spark, path, prior.applying(newSource),
      merged.filter(col("n") > 0))
  }

  /** Stage the WHOLE next model (merged counts, totals re-derived from
    * the staged counts so the two tables can never disagree, manifest
    * LAST) and swap it in — the shared crash-safe commit of [[appendTo]]
    * and [[exciseFrom]] (see appendTo's scaladoc for why the swap must be
    * whole-directory: a merge can change count VALUES without changing
    * row counts, so per-table recounts cannot catch a crash that landed
    * one table). */
  private def stageAndSwap(spark: SparkSession, path: String,
      next: Manifest, mergedCounts: DataFrame): Unit =
    Manifest.commitStaged(spark, path) { staged =>
      mergedCounts.coalesce(1).write.mode("overwrite").parquet(s"$staged/counts")
      // totals from the STAGED merged counts — one consistent derivation
      spark.read.parquet(s"$staged/counts")
        .groupBy("from_type").agg(sum("n").cast("long").as("n_from"))
        .coalesce(1).write.mode("overwrite").parquet(s"$staged/totals")
      Manifest.write(spark, staged, Format, next ++ Seq(
        "countRows" -> spark.read.parquet(s"$staged/counts").count(),
        "totalRows" -> spark.read.parquet(s"$staged/totals").count()))
    }

  /** Reopen a written model ONLY if its manifest proves it complete,
    * current, and trained from the caller's `source` — metadata-sized
    * validation (the row counts it checks are matrix-sized footer
    * stats), zero training jobs on a hit. */
  def loadIfValid(spark: SparkSession, path: String,
      source: String): Option[MarkovModel] =
    Manifest.reopen(spark, path, Format, source) { mf =>
      val m = load(spark, path)
      Some(m).filter(_ => mf.counts("countRows", m.counts) &&
        mf.counts("totalRows", m.totals))
    }

  /** Reopen a written model: two lazy matrix-sized parquet scans. */
  def load(spark: SparkSession, path: String): MarkovModel =
    new MarkovModel(
      spark.read.parquet(s"$path/counts"),
      spark.read.parquet(s"$path/totals"))
}
