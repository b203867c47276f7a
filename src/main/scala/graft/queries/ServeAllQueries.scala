package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.QueryArtifacts.SessionDir

/** The ZERO-BUILD serve-everything capstone — the cross-session
  * cold-start story a 100 TB deployment actually lives by: a fresh
  * session (or here, a fresh reopen past every session cache) opens
  * EVERY durable artifact the engine maintains — base, appended, excised
  * (including the exact-unlearning forms of every trained count model),
  * AND drift-refitted lifecycles — through its validation manifest, runs
  * ZERO build/fit/train jobs doing so, and serves one bounded request
  * from each. One row per artifact:
  *
  *   zero_build — the reopen+serve left every operator build/train
  *                counter untouched (a manifest that failed validation
  *                would be visible here as a retrain in the family's own
  *                row; HERE a failed validation yields false directly)
  *   served     — the bounded request returned at least one row (token)
  *
  * The inventory is [[durables]]: each artifact's declaration
  * ([[QueryArtifacts.Durable]]) carries its location, reopen, build chain
  * and bounded probe; this object only sequences the two phases —
  * ensure (the durable forms exist; builds are legal here) and
  * reopen+serve (counter-fenced per artifact). ServeAllSpec
  * additionally pins the whole reopen phase's cost with a Spark JOB
  * budget: manifest validation + one bounded serve is a handful of jobs
  * per artifact, where any accidental retrain (BPE's merge loop, the
  * k-means fit) fires hundreds.
  */
object ServeAllQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Every durable artifact the capstone reopens, named explicitly: the
    * owning objects initialise lazily, so a registry they filled on
    * initialisation would miss families no earlier row has touched. The
    * appended PQ and chunk indexes are served by their own rows only. */
  private def durables: Seq[QueryArtifacts.Durable[_]] = Seq(
    SimilarityQueries.ivfPersisted, SimilarityQueries.pqPersisted,
    SimilarityQueries.driftIndex, SimilarityQueries.excisedServeIndex,
    SimilarityQueries.refittedIndex, SimilarityQueries.pqExcisedServeIndex,
    SimilarityQueries.pqRefittedIndex,
    TextQueries.bigramLmPersisted, TextQueries.bigramLmExcised,
    TextQueries.trigramLmPersisted, TextQueries.trigramLmExcised,
    TextQueries.invertedIndexPersisted, TextQueries.invAppendedCompacted,
    TextQueries.invExcisedCompacted, TextQueries.clfPersisted,
    TextQueries.clfExcised, TextQueries.bpeMerges,
    CdcQueries.chunkPersisted, CdcQueries.chunkExcised,
    AnalyticsQueries.markovPersisted, AnalyticsQueries.markovAppended,
    AnalyticsQueries.markovExcised)

  private[graft] def hooks(spark: SparkSession, dir: String)
      : Seq[(String, () => Unit, () => Option[Long])] =
    durables.map(_.coldServe(spark, dir)) :+
      SimilarityQueries.ivfpqColdServe(spark, dir)

  /** The capstone's verdict rows, computed ONCE per (session, dir) — the
    * replay-row discipline: a cold-start check is a per-session event
    * (reopen + fence + serve across every artifact), not a per-pass
    * derivation; every later call reads the verdicts.
    *
    * Each entry also carries the wall time of every artifact's
    * counter-fenced reopen+serve — the actual manifest-validation +
    * bounded-serve cost the cached verdict row no longer shows. Surfaced
    * into the bench artifact (`serveall_reopen_ms`) so a regression in
    * reopen cost is visible round-over-round; kept OUT of the hashed
    * verdict rows (wall time is not reproducible). */
  private val verdictCache = QueryArtifacts
    .cache[SessionDir, (Seq[(String, Boolean, Boolean)], Seq[(String, Long)])]()

  /** Per-artifact reopen wall-times for (spark, dir), if the capstone ran
    * this session. */
  def reopenMillis(spark: SparkSession,
      dir: String): Option[Seq[(String, Long)]] =
    verdictCache.get((spark, dir)).map(_._2)

  private def verdicts(spark: SparkSession,
      dir: String): Seq[(String, Boolean, Boolean)] =
    verdictCache((spark, dir)) {
      val hs = hooks(spark, dir)
      hs.foreach(_._2()) // ensure phase: durable forms exist
      hs.map { case (name, _, reopen) =>
        val before = QueryArtifacts.buildCounters()
        val t0 = System.nanoTime()
        val served = reopen()
        val ms = (System.nanoTime() - t0) / 1000000L
        val zeroBuild = QueryArtifacts.buildCounters() == before && served.isDefined
        ((name, zeroBuild, served.exists(_ > 0)), (name, ms))
      }.sortBy(_._1._1).unzip
    }._1

  /** Release every family's session artifacts ([[QueryArtifacts.clearAll]]). */
  def clearCaches(): Unit = QueryArtifacts.clearAll()

  val queries: ListMap[String, Q] = ListMap(
    "serve_everything_cold" -> ((spark, dir) => {
      import spark.implicits._
      verdicts(spark, dir)
        .toDF("artifact", "zero_build", "served").orderBy("artifact")
    }))

  val oracleSql: ListMap[String, String] = ListMap(
    // lifecycle literals (the classifier_persisted pattern): every
    // artifact's VALUES are already hash-gated by its own family rows;
    // this row's payload is the cold-start lifecycle itself — reopen
    // validated, zero builds, request served — which the engine computes
    // genuinely and the oracle states as the required fixed point
    "serve_everything_cold" ->
      """SELECT * FROM (VALUES
        |  ('bigram_lm', TRUE, TRUE),
        |  ('bigram_lm_excised', TRUE, TRUE), ('bpe', TRUE, TRUE),
        |  ('chunk_index', TRUE, TRUE),
        |  ('chunk_index_excised', TRUE, TRUE),
        |  ('classifier', TRUE, TRUE),
        |  ('classifier_excised', TRUE, TRUE),
        |  ('inverted_index', TRUE, TRUE),
        |  ('inverted_index_appended', TRUE, TRUE),
        |  ('inverted_index_excised', TRUE, TRUE),
        |  ('ivf', TRUE, TRUE), ('ivf_appended', TRUE, TRUE),
        |  ('ivf_excised', TRUE, TRUE), ('ivf_refitted', TRUE, TRUE),
        |  ('ivfpq', TRUE, TRUE), ('markov', TRUE, TRUE),
        |  ('markov_appended', TRUE, TRUE),
        |  ('markov_excised', TRUE, TRUE),
        |  ('pq', TRUE, TRUE), ('pq_excised', TRUE, TRUE),
        |  ('pq_refitted', TRUE, TRUE),
        |  ('trigram_lm', TRUE, TRUE),
        |  ('trigram_lm_excised', TRUE, TRUE))
        |  AS t(artifact, zero_build, served)
        |ORDER BY artifact""".stripMargin)
}
