package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Supervised token-count quality/domain classifier with the TRAIN/SERVE
  * lifecycle split — the DCLM/FineWeb-Edu curation step where a classifier
  * is fitted ONCE on a small labeled seed set and then scores every crawl
  * shard (fastText-style supervised filtering; the heuristic, untrained
  * counterpart is the [[TextAnalysis]] quality chain).
  *
  * A trained model is the multinomial Naive-Bayes sufficient statistics,
  * all integer counts:
  *
  *   classes: (label, n_docs, tot)  docs + token total per class — |L| rows
  *   counts:  (label, w, c)        token count per (class, word)
  *   v                             training vocabulary size — one scalar
  *
  * DECISION RULE — rational arithmetic, no transcendentals: the classic NB
  * log-sum decision needs log() (the product of per-token probabilities
  * underflows), and cross-engine log() is not bit-reproducible, which
  * breaks this repo's oracle discipline. Instead the class score is the
  * EXPECTED add-one-smoothed token probability under the class unigram LM,
  * prior-weighted:
  *
  *   score(d, c) = P(c) · Σ_w k_w · (c_{c,w}+1) / (tot_c + v) / n_d
  *
  * (the arithmetic mean of token probabilities where NB takes the
  * geometric — same sufficient statistics, same smoothing, linear-by-counts
  * like the scoring half of a fastText classifier). Because the smoothing
  * denominator is CONSTANT per class, the score collapses to exact integer
  * arithmetic: numerator Σ_w k_w·c_{c,w} + n_d (one inner join against the
  * count table), denominator tot_c + v, prior n_docs_c (the shared /N and
  * /n_d factors cancel across classes). The only float op is ONE division
  * of two exactly-representable integers — IEEE-correctly-rounded and
  * therefore bit-identical in any engine, so predictions are
  * hash-checkable. (At populations where n_docs·num exceeds 2^53, compute
  * the comparison in decimal(38,0) — the fixture scales stay far below.)
  *
  * Scale shape: training is one token-keyed aggregation (map-side
  * combinable), a |L|-row class aggregate, and one bounded vocabulary
  * count — the [[BigramLm.train]] contract. Scoring broadcasts a
  * MODEL-sized count table (vocab×|L| rows) into the exploded feature
  * stream and partial-aggregates to ≤|L| cells per document before the
  * only shuffle — plus a broadcast of the |L|-row class table; nothing
  * corpus-sized is collected or broadcast, because the broadcast is
  * gated on the model's own vocab count (a corpus-trained vocabulary
  * past [[QualityClassifier.BroadcastVocabBound]] falls back to the
  * co-partitioned shuffle join — see [[defaultBroadcastModel]]). The
  * durable form (`write`/`loadIfValid`) is a durable artifact
  * (ARCHITECTURE.md "Durable artifacts"): build-once /
  * serve-many-sessions, reopen validated by metadata only, zero training
  * jobs on a hit (QualityClassifierSpec asserts the skip).
  */
final class QualityClassifier private[operators] (
    /** (label, n_docs, tot) per-class doc count and token total. */
    val classes: DataFrame,
    /** (label, w, c) per-(class, word) token counts. */
    val counts: DataFrame,
    /** Training-corpus vocabulary size. */
    val v: Long) {

  /** Durable form: classes + counts tables and a manifest. */
  def write(path: String, source: String = ""): Unit = {
    val spark = classes.sparkSession
    // rebuild IS the crash recovery: drop any lease a dead maintainer left
    WriterLease.clear(spark, path)
    classes.write.mode("overwrite").parquet(s"$path/classes")
    counts.write.mode("overwrite").parquet(s"$path/counts")
    // footer-stats counts of what was just written — metadata, not a scan
    Manifest.writeBuilt(spark, path, QualityClassifier.Format,
      "source" -> source, "v" -> v,
      "classRows" -> spark.read.parquet(s"$path/classes").count(),
      "countRows" -> spark.read.parquet(s"$path/counts").count())
  }

  /** Score `df` under THIS (frozen) model: one row per document —
    * (idCol, n_tokens, pred_label, expected_p) where pred_label is the
    * prior-weighted argmax over classes (ties broken by label order, a
    * total deterministic order) and expected_p is the winning class's
    * expected token probability, rounded DuckDB-compatibly.
    *
    * Tokens absent from the model contribute their add-one floor
    * 1/(tot_c+v) — an all-OOV document still classifies (by prior and
    * class smoothing mass), exactly as NB does. */
  def score(df: DataFrame, idCol: String, textCol: String,
      broadcastModel: Boolean = this.defaultBroadcastModel): DataFrame =
    scoreFeatures(df, idCol, split(lower(col(textCol)), " "), broadcastModel)

  /** Whether [[scoreFeatures]] broadcasts the count table by default:
    * decided from the MODEL'S OWN vocabulary size `v` (a scalar already
    * materialized at train time — no extra job), not from a blanket
    * assumption that every model is seed-set-sized. A bounded feature
    * space (char-trigrams, a curated seed set) broadcasts; a
    * corpus-trained token vocabulary that grows with the corpus — at
    * 100 TB far past any driver/executor broadcast budget — falls back
    * to the AQE-skew-handled co-partitioned shuffle join automatically.
    * The bound is vocab terms, not bytes: vocab×|L| count rows at ~tens
    * of bytes each keeps the broadcast comfortably inside Spark's
    * default 10 MB autoBroadcastJoinThreshold ballpark. Callers can
    * still force either path explicitly. */
  def defaultBroadcastModel: Boolean = v <= QualityClassifier.BroadcastVocabBound

  /** [[score]] generalized to ANY array<string> feature extraction (the
    * same sufficient-statistics machinery classifies on char n-grams for
    * trained language ID — fastText-lid's feature space — or on tokens
    * for quality/domain): one row per document with at least one feature
    * (a feature-less doc has no occurrence rows, mirroring the oracle's
    * inner group-by; token features never produce one since split("")
    * yields [""]). The model's `counts` table must have been trained on
    * the SAME extraction. */
  def scoreFeatures(df: DataFrame, idCol: String, features: Column,
      broadcastModel: Boolean = this.defaultBroadcastModel): DataFrame = {
    // Default: decided by the model's own vocab count v (see
    // [[defaultBroadcastModel]]). broadcastModel=true is the fastText
    // serving contract — the
    // model is trained on a bounded labeled set, so counts is MODEL-sized
    // (vocab×|L| rows, the centroid/codebook sidecar precedent): the
    // exploded feature stream joins the BROADCAST counts table and
    // aggregates straight to (doc, label) partials — map-side combine
    // reduces it to ≤|L| cells per document before the only shuffle, and
    // a hot feature can never skew a join that never shuffles.
    // Σ over occurrence rows of c_{c,w} == Σ_w k_w·c_{c,w}.
    //
    // broadcastModel=false is the LARGE-MODEL fallback (corpus-trained
    // vocab too big to broadcast): per-(doc, feature) pre-aggregation
    // (map-side combinable) into a co-partitioned shuffle join on w, AQE
    // splitting hot-word partitions (SkewStressSpec pins the split
    // engages and preserves results).
    val base = df.select(col(idCol), features.as("fs"))
      // a feature-less doc scores no row (the oracle's inner group-by);
      // token features never hit this — split("") yields [""]
      .filter(size(col("fs")) >= 1)
    val docN = base.select(col(idCol), size(col("fs")).cast("long").as("n_tokens"))
    // (doc, class) pairs sharing no word contribute 0 and are restored by
    // the left join below
    val occ = base.select(col(idCol), explode(col("fs")).as("w"))
    val hits =
      if (broadcastModel)
        occ.join(broadcast(counts), Seq("w"))
          .groupBy(idCol, "label").agg(sum(col("c")).as("s"))
      else
        occ.groupBy(idCol, "w").agg(count(lit(1)).as("k"))
          .join(counts, Seq("w"))
          .groupBy(idCol, "label").agg(sum(col("k") * col("c")).as("s"))
    def round6(c: org.apache.spark.sql.Column) = round(c * 1e6, 0) / 1e6
    docN.crossJoin(broadcast(classes))
      .join(hits, Seq(idCol, "label"), "left")
      .withColumn("num", coalesce(col("s"), lit(0L)) + col("n_tokens"))
      .withColumn("den", col("tot") + lit(v))
      // prior-weighted decision score: n_docs·num / den (the /N and /n_d
      // factors are class-constant and cancel). Exact-integer operands,
      // one correctly-rounded division — bit-identical across engines.
      .withColumn("dscore",
        (col("n_docs") * col("num")).cast("double") / col("den").cast("double"))
      // argmax as ONE aggregation: min over (-dscore, label) structs
      // replays the former window's (dscore DESC, label ASC) order
      // exactly — negation is an exact double flip and dscore > 0
      // (num >= 1, n_docs >= 1, den >= 1), so the winning label and its
      // num/den are identical — while a map-side partial min replaces
      // the Exchange+Sort+Window+Filter plan: the doc-keyed shuffle
      // carries at most one struct per (doc, partition) instead of
      // every (doc, label) row. QualityClassifierSpec pins the
      // hand-computed argmax and the tie-break.
      .groupBy(col(idCol))
      .agg(min(struct((-col("dscore")).as("nds"), col("label"),
        col("num"), col("den"), col("n_tokens"))).as("__w"))
      .select(col(idCol), col("__w.n_tokens").as("n_tokens"),
        col("__w.label").as("pred_label"),
        round6(col("__w.num").cast("double") / col("__w.den").cast("double"))
          .as("expected_p"))
  }

  /** Per-row scoring twin of [[score]] — the SAME decision rule computed
    * entirely as row-local higher-order expressions with the model
    * embedded as plan literals (a token→count map per class plus the |L|
    * class stats). No explode, no aggregate, no window: stateless, so it
    * is APPEND-LEGAL on a stream, where the batch path's doc-keyed
    * regroup is a stateful aggregate. The collect here is MODEL-sized
    * (|L| + vocab rows — the centroid/codebook/LUT sidecar precedent; a
    * fastText-style model is MBs), never corpus-sized.
    *
    * Returns a struct column (n_tokens, pred_label, expected_p) with
    * values IDENTICAL to [[score]]: the numerator Σ_w k_w·c_{c,w} folds
    * over the row's own tokens (sum over occurrences == sum over distinct
    * words of k_w·c_w), the one division is the same correctly-rounded
    * op, and the argmax tie-break (score desc, label asc) is replayed via
    * a reversed label index so `array_max`'s lexicographic struct order
    * picks the same winner. QualityClassifierSpec pins row-for-row parity
    * with the batch path; StreamingSpec pins the stream keep set. */
  def rowScore(textCol: String): org.apache.spark.sql.Column = {
    val cls = classes.orderBy("label").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byLabel = counts.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1).map { case (l, rs) => l -> rs.map(t => t._2 -> t._3).toMap }
    val t = split(lower(col(textCol)), " ")
    val nTok = size(t).cast("long")
    val scored = cls.zipWithIndex.map { case ((label, nDocs, tot), i) =>
      val m = typedLit(byLabel.getOrElse(label, Map.empty[String, Long]))
      val s = aggregate(t, lit(0L),
        (acc, w) => acc + coalesce(element_at(m, w), lit(0L)))
      val num = s + nTok
      val den = lit(tot + v)
      struct(
        ((lit(nDocs) * num).cast("double") / den.cast("double")).as("ds"),
        lit(cls.length - 1 - i).as("rev"),
        lit(label).as("label"),
        (round(num.cast("double") / den.cast("double") * 1e6, 0) / 1e6)
          .as("expected_p"))
    }
    val win = array_max(array(scored.toIndexedSeq: _*))
    struct(nTok.as("n_tokens"), win.getField("label").as("pred_label"),
      win.getField("expected_p").as("expected_p"))
  }

  /** Persist the bounded model tables (|L| + vocab×|L| rows) — for an
    * in-session cached model that scores repeatedly; without this every
    * scoring action re-runs the training aggregates (the tables are lazy
    * by the train contract). Pair with [[unpersistTables]] in the owning
    * cache's teardown. */
  def cacheTables(): this.type = {
    classes.persist(); counts.persist(); this
  }

  /** Release the persists taken by [[cacheTables]] (idempotent). */
  def unpersistTables(): Unit = {
    classes.unpersist(); counts.unpersist()
  }

  /** [[rowScore]] projected to the [[score]] output schema. */
  def scoreRows(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val rs = rowScore(textCol)
    df.select(col(idCol), rs.getField("n_tokens").as("n_tokens"),
      rs.getField("pred_label").as("pred_label"),
      rs.getField("expected_p").as("expected_p"))
  }
}

object QualityClassifier {
  private val trainsRun = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] def trainCount: Int = trainsRun.get

  /** Largest training vocabulary [[QualityClassifier.scoreFeatures]]
    * still broadcasts by default — see
    * [[QualityClassifier.defaultBroadcastModel]]. */
  val BroadcastVocabBound: Long = 1000000L

  private val Format = Manifest.Format("1", "classifier",
    Seq("classRows" -> "classes", "countRows" -> "counts"))

  /** TRAIN: aggregate the NB sufficient statistics from the labeled seed
    * set `df` (textCol tokenized on single spaces, labelCol the class).
    * The count tables stay lazy DataFrames; the single action is the
    * bounded vocabulary count (one scalar — the [[BigramLm.train]]
    * contract). */
  def train(df: DataFrame, textCol: String, labelCol: String): QualityClassifier =
    trainFeatures(df, split(lower(col(textCol)), " "), labelCol)

  /** [[train]] generalized to ANY array<string> feature extraction (see
    * [[QualityClassifier.scoreFeatures]]); scoring must use the same
    * extraction the model was trained with. */
  def trainFeatures(df: DataFrame, features: Column,
      labelCol: String): QualityClassifier = {
    trainsRun.incrementAndGet()
    val occ = df.select(col(labelCol).as("label"), explode(features).as("w"))
    val counts = occ.groupBy("label", "w").agg(count(lit(1)).as("c"))
    val classes = df
      .select(col(labelCol).as("label"), size(features).cast("long").as("n"))
      .groupBy("label").agg(count(lit(1)).as("n_docs"), sum("n").as("tot"))
    val v = occ.agg(countDistinct("w")).head().getLong(0)
    new QualityClassifier(classes, counts, v)
  }

  /** EXACT UNLEARNING for the trained curation classifier — subtract an
    * excised batch's labeled-seed statistics from a written model: the
    * [[BigramLm.exciseFrom]] recipe on the DCLM/FineWeb-Edu lifecycle
    * (a takedown of a labeled seed document must stop shaping EVERY
    * keep/drop verdict the classifier issues). All sufficient
    * statistics are additive integer counts over any doc-disjoint split
    * of the seed set — per-(class, word) token counts, per-class doc
    * counts and token totals — and the non-additive vocabulary scalar v
    * re-derives exactly as the number of distinct words left in the
    * subtracted counts table (a word is in the survivor vocabulary iff
    * some class still counts it), so the excised model scores EVERY
    * document bit-identically to a fresh train over the surviving
    * seeds — priors, smoothing denominators (tot_c + v), argmax
    * tie-breaks and all; the `classifier_excised` driver row hashes
    * that equality. Classes whose doc count reaches zero are dropped,
    * as a fresh survivor train would.
    *
    * `excisedDocs` must be seed rows being removed (same text/label
    * columns the model was trained over) and a SUBSET of the training
    * seed set: an unseen (class, word) key, an unseen class, or an
    * over-subtracted count is refused before a byte is staged, never
    * clamped. Ledger idempotence, whole-directory staged swap with the
    * manifest last, and the writer lease are [[Manifest.applyBatch]] and
    * [[Manifest.commitStaged]]; a crash between the swap renames recovers
    * by [[WriterLease.adoptOrphanNext]]. */
  def exciseFrom(spark: SparkSession, path: String, excisedDocs: DataFrame,
      textCol: String, labelCol: String, newSource: String): Boolean =
    exciseFromFeatures(spark, path, excisedDocs,
      split(lower(col(textCol)), " "), labelCol, newSource)

  /** [[exciseFrom]] generalized to ANY array<string> feature extraction
    * ([[trainFeatures]]' twin) — the batch must be excised under the
    * SAME extraction the model was trained with. */
  def exciseFromFeatures(spark: SparkSession, path: String,
      excisedDocs: DataFrame, features: Column, labelCol: String,
      newSource: String): Boolean =
      Manifest.applyBatch(spark, path, Format, "excising", newSource) { prior =>
    // batch deltas under trainFeatures' exact extraction
    val occ = excisedDocs
      .select(col(labelCol).as("label"), explode(features).as("w"))
    val dCounts = occ.groupBy("label", "w").agg(count(lit(1)).as("dn"))
    val dClasses = excisedDocs
      .select(col(labelCol).as("label"), size(features).cast("long").as("n"))
      .groupBy("label")
      .agg(count(lit(1)).as("d_docs"), sum("n").as("d_tot"))
    // subset proof BEFORE any write: an unseen class or (class, word)
    // key, or an over-subtracted count, means the batch was not part of
    // the trained seed set — unlearning it is undefined, and clamping
    // would leave the model silently off the survivor truth
    val liveCounts = spark.read.parquet(s"$path/counts")
    val unseenW = dCounts.join(liveCounts, Seq("label", "w"), "left_anti")
      .count()
    val nextCounts = liveCounts.join(dCounts, Seq("label", "w"), "left")
      .select(col("label"), col("w"),
        (col("c") - coalesce(col("dn"), lit(0L))).cast("long").as("c"))
    val negW = nextCounts.filter(col("c") < 0).count()
    require(unseenW == 0 && negW == 0,
      s"excise batch is not a subset of the seed set the classifier at " +
        s"$path was trained on ($unseenW unseen (class, word) keys, " +
        s"$negW over-subtracted) — rebuild over the survivors instead")
    val liveClasses = spark.read.parquet(s"$path/classes")
    val unseenL = dClasses.join(liveClasses, Seq("label"), "left_anti")
      .count()
    val nextClasses = liveClasses.join(dClasses, Seq("label"), "left")
      .select(col("label"),
        (col("n_docs") - coalesce(col("d_docs"), lit(0L))).cast("long")
          .as("n_docs"),
        (col("tot") - coalesce(col("d_tot"), lit(0L))).cast("long").as("tot"))
    // a class losing ALL its docs must lose all its tokens with them —
    // a doc-count hitting zero with token mass left (or vice versa with
    // surviving gram-less seed rows absent) is a non-subset batch
    val badL = nextClasses.filter(col("n_docs") < 0 || col("tot") < 0 ||
      (col("n_docs") === 0 && col("tot") > 0)).count()
    require(unseenL == 0 && badL == 0,
      s"excise batch is not a subset of the seed set the classifier at " +
        s"$path was trained on ($unseenL unseen classes, $badL " +
        "over-subtracted class rows) — rebuild over the survivors instead")
    // stage the WHOLE next model beside the live one, manifest LAST
    Manifest.commitStaged(spark, path) { next =>
      nextClasses.filter(col("n_docs") > 0)
        .write.mode("overwrite").parquet(s"$next/classes")
      nextCounts.filter(col("c") > 0)
        .write.mode("overwrite").parquet(s"$next/counts")
      val classRows = spark.read.parquet(s"$next/classes").count()
      // the survivor v IS the distinct surviving vocabulary — one bounded
      // two-scalar action over the staged counts, exactly the value a
      // fresh train over the surviving seeds computes
      val cStats = spark.read.parquet(s"$next/counts")
        .agg(count(lit(1)).cast("long"), countDistinct("w").cast("long"))
        .head()
      Manifest.write(spark, next, Format, prior.applying(newSource,
        "v" -> cStats.getLong(1), "classRows" -> classRows,
        "countRows" -> cStats.getLong(0)))
    }
  }

  /** Reopen a written model ONLY if its manifest proves it complete,
    * current, and trained from the caller's `source` — metadata-sized
    * validation, never a data scan, zero training jobs on a hit. */
  def loadIfValid(spark: SparkSession, path: String,
      source: String): Option[QualityClassifier] =
    Manifest.reopen(spark, path, Format, source) { m =>
      val clf = open(spark, path, m)
      // v (distinct count words) has no metadata twin; only the tables
      // are recounted
      Some(clf).filter(_ => m.counts("classRows", clf.classes) &&
        m.counts("countRows", clf.counts))
    }

  /** Reopen a written model: lazy parquet scans + the manifest scalar. */
  def load(spark: SparkSession, path: String): QualityClassifier =
    open(spark, path, Manifest.read(spark, path))

  private def open(spark: SparkSession, path: String,
      m: Manifest): QualityClassifier =
    new QualityClassifier(
      spark.read.parquet(s"$path/classes"),
      spark.read.parquet(s"$path/counts"),
      m.long("v"))
}
