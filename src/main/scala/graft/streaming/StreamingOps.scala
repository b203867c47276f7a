package graft.streaming

import scala.concurrent.duration.{DurationInt, FiniteDuration}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming surface: the events table consumed as a stream.
  *
  * All operators follow the scale rules for streaming state: every stateful
  * aggregation is bounded by a watermark (state for closed windows is
  * dropped), keys are high-cardinality (`user_id`, `event_type`) so state is
  * evenly sharded across executors, and the custom-state path uses
  * `flatMapGroupsWithState` with an explicit timeout so abandoned keys
  * expire instead of accumulating forever.
  */
object StreamingOps {

  /** RocksDB state store provider — the state backend for corpus-scale
    * streaming: state lives on executor local disk (SST files) with an
    * incremental changelog in the checkpoint instead of multiplying
    * executor heap, so watermark-bounded state can hold hundreds of
    * millions of keys per executor. Spark ships the provider + rocksdbjni
    * in its own jars; enabling it is one session conf. */
  val RocksDBProviderClass =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Route all subsequent streaming state through RocksDB (picked up by
    * queries STARTED after this call; running queries keep their backend). */
  def useRocksDBStateStore(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      RocksDBProviderClass)

  /** Fold one admitted micro-batch of vectors into a WRITTEN
    * [[graft.operators.IvfIndex]] — the production loop that closes the
    * gap between streaming admission and the serving index: "the
    * admitted micro-batch folds into the index it will be served from".
    * Designed for `foreachBatch` under `Trigger.AvailableNow` (batches
    * arrive sequentially, honoring the index family's one-appender
    * writer contract):
    *
    *  - ADMISSION: rows whose id is already served are dropped — the
    *    exact-dedup admission rule applied to vectors (a re-crawled
    *    vector must not duplicate its serving row). "Already served" is
    *    checked against BOTH the caller's static `servedIds` snapshot
    *    (stream-static LEFT ANTI join) AND the ids the INDEX currently
    *    holds — ids folded by EARLIER micro-batches of this same run are
    *    not in the snapshot, so a re-crawled id arriving in a later,
    *    non-verbatim batch would otherwise append twice (the content-tag
    *    ledger only swallows byte-identical re-deliveries). The index
    *    side is bounded: the batch's ids broadcast into a LEFT SEMI scan
    *    of the index's served id column (one column, batch-sized
    *    output), and the batch anti-joins that small hit set — never a
    *    shuffle of the index. At warehouse scale, put a bloom filter
    *    over the index ids in front of this scan;
    *  - IDENTITY: the admitted batch's content tag is an md5 over its
    *    sorted ids (one single-row aggregate — at warehouse scale tag by
    *    the source-file manifest instead), so a VERBATIM re-delivered
    *    file — new file name, same rows — maps to the SAME tag;
    *  - FOLD: [[graft.operators.IvfIndex.appendTo]] under that tag. The
    *    applied-sources ledger makes both failure modes of a streaming
    *    job no-ops: an engine-level batch REPLAY after a checkpoint
    *    restart, and a source-level RE-DELIVERY of already-folded data.
    *
    * Returns true when the batch folded, false when it was empty after
    * admission or already in the ledger. */
  def foldIntoIvf(spark: SparkSession, indexPath: String,
      servedIds: DataFrame, batch: DataFrame, idCol: String,
      vecCol: String): Boolean = {
    // ids already folded by earlier micro-batches of this run: semi-join
    // the index's served id column against the (small, broadcast) batch
    // — the hit set is bounded by the batch size
    val inIndex = graft.operators.IvfIndex.load(spark, indexPath).cells
      .select(col("c_id").as(idCol))
      .join(broadcast(batch.select(col(idCol))), Seq(idCol), "left_semi")
    val admitted = batch
      .join(servedIds.select(col(idCol)), Seq(idCol), "left_anti")
      .join(inIndex, Seq(idCol), "left_anti")
    val tagRow = admitted.agg(
      md5(concat_ws(",", transform(sort_array(collect_list(col(idCol))),
        x => x.cast("string")))).as("h"),
      count(lit(1)).as("n")).head()
    if (tagRow.getLong(1) == 0L) return false // nothing survived admission
    graft.operators.IvfIndex.appendTo(spark, indexPath, admitted, idCol,
      vecCol, "fold-" + tagRow.getString(0))
  }

  /** Stage `parts` into `src` as sequence-named single parquet files
    * (`delivery-00000.parquet`, …) with STRICTLY INCREASING, whole-second
    * modification times. Delivery-order contract: FileStreamSource picks
    * unread files oldest-mtime-first (ties fall to unspecified listing
    * order), so three files written within one mtime-granularity tick —
    * the normal case for a local replay, and for coarse-granularity
    * stores generally — would replay in NONDETERMINISTIC order. Stamping
    * each delivery one full second apart (coarsest common granularity)
    * pins micro-batch order under `maxFilesPerTrigger=1` regardless of
    * how fast the files were produced. The base stamp sits in the past
    * (one second per part behind now) so stamps never lead the clock. */
  def stageOrdered(src: String, parts: Seq[DataFrame]): Unit = {
    val base =
      (System.currentTimeMillis() / 1000L - parts.size) * 1000L
    val dstDir = new java.io.File(src)
    dstDir.mkdirs()
    parts.zipWithIndex.foreach { case (df, i) =>
      val tmp = src + s".stage-$i"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val tmpDir = new java.io.File(tmp)
      // a ZERO-partition plan (e.g. an empty LocalRelation slice at a
      // tiny SF) writes no part file at all — an empty delivery adds
      // nothing to any replay's state, so skip it (keeping the sequence
      // number gap: remaining deliveries stay ordered) instead of
      // throwing a bare NoSuchElementException out of head()
      Option(tmpDir.listFiles()).getOrElse(Array.empty).find(f =>
          f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        match {
        case Some(part) =>
          val dst = new java.io.File(dstDir, f"delivery-$i%05d.parquet")
          java.nio.file.Files.move(part.toPath, dst.toPath)
          if (!dst.setLastModified(base + i * 1000L))
            throw new java.io.IOException(s"could not stamp mtime on $dst")
        case None =>
          System.err.println(s"[stageOrdered] delivery $i for $src wrote " +
            "no part file (empty zero-partition slice); skipping it")
      }
      org.apache.commons.io.FileUtils.deleteQuietly(tmpDir)
    }
  }

  /** Where one replay run lives: staged deliveries (`src`), sink dir
    * (`out`), checkpoint (`ckpt`), all under the session root, plus the
    * query name a memory sink registers (`table`). */
  final case class ReplayRun(src: String, out: String, ckpt: String,
      table: String)

  /** Bound on one replay's stream. A replay is seconds of work even at
    * sf0.1, so a stream still running after this is wedged (e.g. a
    * file-source listing stall). Mutable so the spec can shrink it. */
  private[graft] var replayBound: FiniteDuration = 10.minutes

  /** Run one driver-ledger streaming replay to completion and return its
    * paths; reading the sink is the caller's. The session-rooted dirs are
    * deleted first (delete-and-rewrite: the session caches only dedup
    * WITHIN a session, see QueryArtifacts.sessionTag), so a run after a
    * failed one starts clean. `deliveries` are staged in pinned order
    * ([[stageOrdered]]) and read one file per micro-batch; `transform`
    * builds the streaming plan and `sink` configures its writer (output
    * mode, format, path or foreachBatch). A stream still running after
    * [[replayBound]] is stopped and fails by name instead of hanging its
    * row. */
  def replay[T](spark: SparkSession, name: String, dir: String,
      deliveries: Seq[DataFrame])(transform: DataFrame => Dataset[T])(
      sink: (DataStreamWriter[T], ReplayRun) => DataStreamWriter[T])
      : ReplayRun = {
    val root = graft.queries.QueryArtifacts.sessionRoot(spark)
    def at(kind: String) =
      graft.queries.QueryArtifacts.path(s"$root/$name-$kind", dir)
    val skey = dir + "#" + graft.queries.QueryArtifacts.sessionTag(spark)
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(skey.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val run = ReplayRun(at("src"), at("sink"), at("ckpt"),
      name.replace('-', '_') + "_" + digest)
    Seq(run.src, run.out, run.ckpt).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    stageOrdered(run.src, deliveries)
    val stream = spark.readStream.schema(deliveries.head.schema)
      .option("maxFilesPerTrigger", "1").parquet(run.src)
    val q = sink(transform(stream).writeStream
        .option("checkpointLocation", run.ckpt), run)
      .trigger(Trigger.AvailableNow()).start()
    if (!q.awaitTermination(replayBound.toMillis)) {
      q.stop()
      throw new java.util.concurrent.TimeoutException(
        s"streaming replay '$name' for $dir did not complete within $replayBound")
    }
    run
  }

  /** The append-to-parquet sink most replays write: one row per arrival
    * fact, read back from `out`. */
  def appendParquet[T](w: DataStreamWriter[T], run: ReplayRun): DataStreamWriter[T] =
    w.outputMode("append").format("parquet").option("path", run.out)

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  /** Read a fixture table as a bounded stream (one file per micro-batch),
    * with the same event-time normalization as the batch path where a
    * `ts` column exists. FileStreamSource wants a directory to watch, so
    * the single file is staged into one (in production this is the landing
    * directory files arrive into). */
  def readTableStream(spark: SparkSession, dir: String, table: String): DataFrame = {
    graft.Tables.prepare(spark)
    // staging dir keyed by a digest of the RAW dir besides the readable
    // sanitization (distinct dirs can never collide), and the staged copy
    // refreshed whenever the source's size/mtime moved — a regenerated
    // fixture must not silently stream the stale copy while the batch
    // side reads the fresh one
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val staged = java.nio.file.Paths.get("target/stream-src",
      dir.replaceAll("[^A-Za-z0-9_.-]", "_") + "-" + digest, table)
    java.nio.file.Files.createDirectories(staged)
    val src = java.nio.file.Paths.get(s"$dir/$table.parquet")
    val target = staged.resolve(s"$table.parquet")
    val stale = !java.nio.file.Files.exists(target) ||
      java.nio.file.Files.size(target) != java.nio.file.Files.size(src) ||
      java.nio.file.Files.getLastModifiedTime(target)
        .compareTo(java.nio.file.Files.getLastModifiedTime(src)) != 0
    if (stale)
      java.nio.file.Files.copy(src, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    val schema = spark.read.parquet(s"$dir/$table.parquet").schema
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString)
    if (schema.fieldNames.contains("ts")) graft.Tables.normalizeEventTime(raw, "ts")
    else raw
  }

  def readEventsStream(spark: SparkSession, dir: String): DataFrame =
    readTableStream(spark, dir, "events")

  /** Tumbling 5-minute windowed counts per event type, 10-minute watermark. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Streaming sessionization: 30-minute-gap session windows per user. */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("n_events"), col("session_value"))

  /** Streaming exact dedup: drop re-delivered events by id, state bounded
    * by the watermark (late duplicates beyond it age out of state — the
    * at-least-once -> exactly-once repair step of an ingest pipeline). */
  def dedupEvents(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Continuous-ingest CONTENT dedup: the streaming twin of
    * `Dedup.incrementalNew`, emitting only documents whose text is new
    * against both the static corpus and everything already seen on the
    * stream.
    *
    * The batch operator is reused verbatim — its plan shape is
    * streaming-legal by construction: the corpus distills to a DRIVER-SIDE
    * bloom literal at plan-build time (one batch job over the static
    * side), the stream is prefiltered by the codegen'd might_contain, and
    * only bloom-positive rows enter the stream-static LEFT ANTI join
    * (supported append-mode semantics; the static side is re-broadcast per
    * micro-batch). Within-stream re-deliveries are collapsed first by
    * content fingerprint: that state is one 32-byte hash per DISTINCT
    * ingested document — the irreducible memory of "what have I accepted"
    * — sharded by hash across executors and RocksDB-backed at scale (see
    * [[useRocksDBStateStore]]). Documents carry no event time, so the
    * fingerprint state is deliberately unbounded; with an arrival-time
    * column, `dropDuplicatesWithinWatermark` bounds it instead. */
  def ingestDedupStream(stream: DataFrame, corpus: DataFrame,
      textCol: String): DataFrame = {
    val hashes = graft.operators.Dedup.corpusContentHashes(corpus, textCol)
    ingestDedupStreamWith(stream, hashes,
      graft.operators.Dedup.corpusContentBloom(hashes), textCol)
  }

  /** [[ingestDedupStream]] against PREPARED corpus artifacts — the
    * long-running form: the corpus hash table (persist it — the static
    * side of a stream-static join re-evaluates every trigger) and the
    * bloom literal are built once per corpus version, not once per plan
    * build. */
  def ingestDedupStreamWith(stream: DataFrame, corpusHashes: DataFrame,
      corpusBloom: Option[Array[Byte]], textCol: String): DataFrame = {
    val fp = sha2(col(textCol), 256)
    val novelInStream = stream.withColumn("__fp", fp)
      .dropDuplicates("__fp").drop("__fp")
    graft.operators.Dedup.incrementalNewWith(novelInStream, corpusHashes,
      textCol, corpusBloom)
  }

  /** Continuous-ingest QUALITY gate: the streaming twin of the batch
    * C4-style filter chain (`corpus_quality_filter`) — length, composite
    * quality, repetition and language verdicts applied to every arriving
    * document. Append-legal by construction: every signal is a PER-ROW
    * projection (the batch path's only aggregate, the distinct-token
    * repetition ratio, collapses to `size(array_distinct(tokens))` per
    * row — identical values, no explode-and-regroup, no watermark, no
    * state). Thresholds compare the same integer-scaled scores as the
    * batch chain, so a document keeps or drops identically in both
    * (StreamingSpec pins the equivalence). Composes freely ahead of the
    * dedup stages — a stateless filter is the cheapest stream operator,
    * so run it FIRST and let junk never reach the fingerprint state. */
  def qualityGateStream(stream: DataFrame, textCol: String): DataFrame = {
    import graft.operators.TextAnalysis
    val t = TextAnalysis.tokens(col(textCol))
    // the SAME score definition as the batch chain (qualityScoreRaw is
    // the one copy both verdicts derive from; StreamingSpec pins the
    // keep-set equality)
    val quality4 = round(
      TextAnalysis.qualityScoreRaw(col(textCol)) * 1e4, 0).cast("long")
    val distinctRatio6 =
      round(size(array_distinct(t)) * lit(1e6) / size(t), 0).cast("long")
    stream.filter(size(t) >= 20 && quality4 >= 4000L &&
      distinctRatio6 >= 300000L &&
      TextAnalysis.langId(col(textCol)) === "en")
  }

  /** Continuous-ingest BLOCKLIST gate: the streaming twin of the batch
    * `blocklist_filter` keep rule — a page containing any blocked token
    * (word-boundary exact) or blocked phrase (substring) never enters the
    * pipeline. Both hit counts are the SAME column definitions the batch
    * report uses ([[graft.operators.TextAnalysis.blocklistTokenHits]] /
    * `blocklistPhraseHits`), so the verdicts cannot drift. Stateless and
    * append-legal (row-local projections over plan-literal lists — no
    * watermark, no state); composes ahead of the fingerprint/near-dup
    * stages so blocked pages never reach their state. */
  def blocklistGateStream(stream: DataFrame, textCol: String,
      blockedTokens: Seq[String], blockedPhrases: Seq[String]): DataFrame = {
    import graft.operators.TextAnalysis
    stream.filter(
      TextAnalysis.blocklistTokenHits(col(textCol), blockedTokens) === 0 &&
        TextAnalysis.blocklistPhraseHits(col(textCol), blockedPhrases) === 0)
  }

  /** Continuous-ingest SEMANTIC-DECONTAMINATION gate: the streaming twin
    * of the batch `decontaminate_semantic` verdict — an arriving vector
    * with cosine >= `minCosine` against ANY eval-benchmark vector is
    * dropped before it can enter a training corpus. The eval set is
    * bounded however large the stream (the batch operator's broadcast
    * contract), and the exclusion is ONE stream-static LEFT ANTI join
    * with the cosine threshold in the join condition — the
    * [[ingestNearDupStream]] shape: no stream-side aggregation, no
    * regroup, append-legal by construction. The batch report computes
    * max-cosine per vector; existence against the threshold is the same
    * verdict, so StreamingSpec pins the stream's survivor set equal to
    * the batch report's unflagged set. */
  def semanticDecontaminationGateStream(stream: DataFrame, vecCol: String,
      evalVectors: DataFrame, evalVecCol: String,
      minCosine: Double): DataFrame = {
    import graft.functions.functions.{vec_dot, vec_l2norm}
    val ev = evalVectors
      .select(col(evalVecCol).as("__ev"))
      .withColumn("__en", vec_l2norm(col("__ev")))
    // SAME rounding helper as the batch report (semanticContaminationOn):
    // the two >= minCosine verdicts must be structurally identical or a
    // boundary cosine could keep in one path and drop in the other
    val cos = graft.operators.TextAnalysis.round6(
      vec_dot(col(vecCol), col("__ev"))
        / (vec_l2norm(col(vecCol)) * col("__en")))
    stream.join(broadcast(ev), cos >= minCosine, "left_anti")
  }

  /** Continuous-ingest SNAPSHOT-DIFF classification: the streaming twin
    * of [[graft.operators.Versioning.snapshotDiff]] — every arriving
    * (id, payload) row classified against a FROZEN reference snapshot as
    * added (id unseen), unchanged (content md5 null-safe-equal), or
    * modified. The CDC-style ingest view of a corpus release: what a
    * delivery changes is known the moment it arrives.
    *
    * `removed` is structurally UNOBSERVABLE here — a document that never
    * arrives never produces a row — so the stream emits the batch diff's
    * arrival classes exactly, and removals remain the batch report's
    * complement (StreamingSpec pins that equivalence).
    *
    * Append-legal by construction: one stream-static equi join on the id
    * key against the (id, md5) collapse of the reference — no stream
    * aggregation, no watermark, no state; at scale the reference side is
    * a plain shuffle-join table (corpus-sized but hash-only, the batch
    * operator's "ids and hashes move, payloads don't" discipline). The
    * collapse and the classification expression are
    * [[graft.operators.Versioning]]'s own (shared, not re-derived), and
    * the collapsed reference is localCheckpointed ONCE — the static side
    * of a stream-static join re-evaluates per micro-batch, which would
    * otherwise re-scan and re-hash the whole frozen snapshot every
    * trigger. */
  def snapshotDiffStream(stream: DataFrame, reference: DataFrame,
      idCol: String, payloadCol: String): DataFrame =
    snapshotDiffStreamWithRelease(stream, reference, idCol, payloadCol)._1

  /** [[snapshotDiffStream]] plus a release handle for the frozen
    * reference's checkpoint blocks: call it once the streaming query has
    * terminated (the r20 bench recorded a GC-lagged leak of exactly this
    * checkpoint). The handle is idempotent and must not run while the
    * query is still executing — micro-batches read the blocks. */
  private[graft] def snapshotDiffStreamWithRelease(stream: DataFrame,
      reference: DataFrame, idCol: String, payloadCol: String)
      : (DataFrame, () => Unit) = {
    val ref = graft.operators.Versioning
      .collapse(reference, idCol, payloadCol, "ref_md5", "in_ref")
      .localCheckpoint()
    val out = graft.operators.Versioning
      .collapse(stream, idCol, payloadCol, "new_md5", "in_new")
      .drop("in_new")
      .join(ref, Seq(idCol), "left")
      .select(col(idCol), graft.operators.Versioning
        .arrivalClass("ref_md5", "in_ref").as("change"))
    (out, () => org.apache.spark.sql.graft.bridge.unpersistCheckpoints(ref))
  }

  /** Continuous-ingest TRAINED-CLASSIFIER gate: the streaming twin of the
    * batch `corpus_filter_classifier` keep rule — every arriving document
    * scored under a FROZEN [[graft.operators.QualityClassifier]] model
    * (typically manifest-reopened via `loadIfValid`: build-once /
    * serve-many extended to serve-on-the-stream), kept iff the predicted
    * label is in `keepLabels` with at least `minExpectedP6` integer-scaled
    * expected-probability mass and at least `minTokens` tokens — the DCLM
    * curation rule applied at ingest.
    *
    * Append-legal by construction: scoring uses the model's per-row path
    * ([[graft.operators.QualityClassifier.rowScore]] — model tables as
    * plan literals, the fold over the row's own tokens), so there is no
    * stream aggregation, no watermark, no state; the batch `score`'s
    * doc-keyed regroup would be a stateful aggregate here. The threshold
    * compares the same x1e6 integer-scaled score as the batch filter, so
    * a document keeps or drops identically in both (StreamingSpec pins
    * the keep-set equality). Stateless, so compose it (with the quality
    * gate) AHEAD of the dedup stages — junk never reaches the
    * fingerprint state. */
  def classifierGateStream(stream: DataFrame,
      model: graft.operators.QualityClassifier, textCol: String,
      keepLabels: Seq[String] = Seq("en"), minExpectedP6: Long = 15000L,
      minTokens: Long = 20L): DataFrame = {
    val rs = model.rowScore(textCol)
    stream.filter(rs.getField("pred_label").isInCollection(keepLabels) &&
      round(rs.getField("expected_p") * 1e6, 0).cast("long") >= minExpectedP6 &&
      rs.getField("n_tokens") >= minTokens)
  }

  /** Continuous-ingest NEAR-DUP filter: the streaming twin of the batch
    * minhash near-dup path — emits only documents that are novel against
    * the static corpus at the NEAR-duplicate level (banded minhash
    * candidates, exact jaccard verification), not just byte-identical.
    * Composes [[ingestDedupStream]] first, so within-stream re-deliveries
    * and exact corpus copies (including sub-shingle-length docs the
    * near-dup stage cannot see) are already gone.
    *
    * Streaming-legal shape — no stream-side aggregation, no explode-and-
    * regroup: each streamed document computes its shingle set and its
    * per-table minhash signature PER ROW with codegen'd higher-order
    * functions (`array_min(transform(...))` over the same
    * xxhash64(table, seed, shingle) family as `Dedup.minhashPairs` — the
    * min over a set is the same whether grouped or folded per row), then
    * one stream-static LEFT ANTI join per hash table knocks out documents
    * with a VERIFIED near-dup in that table's corpus band: the join key
    * is the band value (hash join, corpus side keyed by its own
    * signature) and the exact-jaccard threshold rides in the join
    * condition, so banding only generates candidates and never decides.
    * Surviving all `numHashTables` anti joins == having no corpus
    * near-dup with a colliding signature — exactly the batch operator's
    * r=1 OR-construction semantics (StreamingSpec pins the equivalence).
    *
    * At 100 TB: the corpus band tables are (band value, shingles, n)
    * projections of the corpus — each anti join shuffles the stream by
    * one 8-byte key against a static side that is loaded per micro-batch;
    * for a hot band (boilerplate) the usual AQE skew split applies inside
    * each micro-batch plan. Documents shorter than one shingle pass the
    * near-dup stage untouched (no shingles — nothing to collide; their
    * exact-dup handling already happened). */
  def ingestNearDupStream(stream: DataFrame, corpus: DataFrame,
      textCol: String, maxJaccardDistance: Double = 0.4,
      numHashTables: Int = 4, seed: Long = 42L): DataFrame =
    ingestNearDupStreamWith(stream,
      prepareIngestCorpus(corpus, textCol, numHashTables, seed),
      textCol, maxJaccardDistance, numHashTables, seed)

  /** The build-once serving artifacts the ingest filters hold against a
    * reference corpus: content hash table + driver-side bloom literal
    * (exact stage) and the minhash signature table (near-dup stage). A
    * long-running ingest builds these once per corpus version — and
    * PERSISTS the two DataFrames — because the static side of a
    * stream-static join re-evaluates every micro-batch. */
  final case class IngestCorpusArtifacts(hashes: DataFrame,
      bloom: Option[Array[Byte]], sigs: DataFrame)

  /** Build [[IngestCorpusArtifacts]] for `corpus` (one bloom aggregate job
    * now; the two DataFrames stay lazy — persist them for reuse). Must use
    * the SAME (numHashTables, seed) as the consuming call. */
  def prepareIngestCorpus(corpus: DataFrame, textCol: String,
      numHashTables: Int = 4, seed: Long = 42L,
      expectedCorpusItems: Long = 1L << 20): IngestCorpusArtifacts = {
    val hashes = graft.operators.Dedup.corpusContentHashes(corpus, textCol)
    IngestCorpusArtifacts(hashes,
      graft.operators.Dedup.corpusContentBloom(hashes, expectedCorpusItems),
      corpusNearDupSignatures(corpus, textCol, numHashTables, seed))
  }

  /** Minhash signatures of `df`'s `textCol` (3-word shingle set, size, and
    * one min-hash per table), the per-row signature family shared by the
    * streaming near-dup filter and the batch banding path. */
  private def withSignatures(df: DataFrame, textCol: String,
      numHashTables: Int, seed: Long): DataFrame = {
    val w = split(lower(col(textCol)), " ")
    val base = df
      .withColumn("__sh", graft.functions.functions.word_shingles(w, 3))
      .withColumn("__n", size(col("__sh")))
    (0 until numHashTables).foldLeft(base)((d, i) =>
      d.withColumn(s"__m$i", array_min(expr(
        s"transform(__sh, s -> xxhash64($i, ${seed}L, s))"))))
  }

  /** The static corpus' signature table for [[ingestNearDupStreamWith]]:
    * shingle set + size + one min-hash per table for every corpus document
    * long enough to shingle. Spark re-evaluates a stream-static join's
    * static side EVERY micro-batch — recomputing shingles and hashes of
    * the whole reference corpus per trigger is the kind of cost that sinks
    * a long-running ingest at scale. Compute this once, persist it (or
    * write it out like the other durable serving artifacts), and pass it
    * to every micro-batch's plan. Must be built with the SAME
    * (numHashTables, seed) as the consuming call. */
  def corpusNearDupSignatures(corpus: DataFrame, textCol: String,
      numHashTables: Int = 4, seed: Long = 42L): DataFrame = {
    require(numHashTables >= 1, s"need numHashTables >= 1, got $numHashTables")
    withSignatures(
        corpus.filter(size(split(lower(col(textCol)), " ")) >= 3),
        textCol, numHashTables, seed)
      .select(col("__sh") +: col("__n") +:
        (0 until numHashTables).map(i => col(s"__m$i")): _*)
  }

  /** [[ingestNearDupStream]] against PREPARED corpus artifacts (from
    * [[prepareIngestCorpus]], same numHashTables/seed) — the form a
    * production ingest runs: reference hashes, bloom, and signatures are
    * build-once serving artifacts, not per-trigger recomputations. */
  def ingestNearDupStreamWith(stream: DataFrame,
      artifacts: IngestCorpusArtifacts, textCol: String,
      maxJaccardDistance: Double = 0.4,
      numHashTables: Int = 4, seed: Long = 42L): DataFrame = {
    require(numHashTables >= 1, s"need numHashTables >= 1, got $numHashTables")
    val corpusSigs = artifacts.sigs
    require(corpusSigs.columns.contains(s"__m${numHashTables - 1}"),
      s"corpus signature table lacks __m${numHashTables - 1} — built with " +
        "fewer hash tables than this call expects")
    val minJaccard = 1.0 - maxJaccardDistance
    val exactNew = ingestDedupStreamWith(stream, artifacts.hashes,
      artifacts.bloom, textCol)
    // ONE branch for every arrival: a sub-shingle (< 3-word) document
    // gets an EMPTY shingle set, so its per-table min-hash is null, the
    // band equality never holds, and it survives every anti join
    // untouched — the earlier long/short fork + union instantiated the
    // upstream plan (including the exact-dedup fingerprint state) twice,
    // doubling the state the scaladoc calls irreducible.
    // NULL-text arrivals take the same route BY DESIGN: word_shingles of
    // a null token array yields null signature columns, every join
    // condition is null, and the row survives all anti joins — a null
    // payload has no content to be a near-duplicate OF, exactly like the
    // batch corpus side (which drops null texts from the signature table
    // rather than matching them). StreamingSpec pins this null-text
    // parity with the batch formulation.
    val signed = withSignatures(exactNew, textCol, numHashTables, seed)
    val survived = (0 until numHashTables).foldLeft(signed) { (d, i) =>
      val band = corpusSigs.select(col(s"__m$i").as("__cv"),
        col("__sh").as("__csh"), col("__n").as("__cn"))
      val inter = size(array_intersect(d("__sh"), band("__csh"))).cast("double")
      d.join(band,
        d(s"__m$i") === band("__cv") &&
          inter / (d("__n") + band("__cn") - inter) >= minJaccard,
        "left_anti")
    }
    val helper = Seq("__sh", "__n") ++ (0 until numHashTables).map(i => s"__m$i")
    survived.drop(helper: _*)
  }

  /** Stream-static enrichment join: the static dimension is read once per
    * micro-batch and broadcast — the streaming side never shuffles. */
  def enrichWithCustomer(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(
      org.apache.spark.sql.functions.broadcast(
        customer.select(col("c_custkey"), col("c_mktsegment"))),
      events("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("c_mktsegment"))

  /** Stream-stream interval join: purchases matched to the same user's
    * signups within 2 hours before the purchase. Both sides carry
    * watermarks and the join condition is time-bounded, so each side's
    * buffered state is dropped once the other side's watermark passes the
    * interval — bounded state, the requirement for an unbounded run. */
  def purchasesAfterSignup(events: DataFrame): DataFrame =
    signupIntervalJoin(events, "inner")

  /** LEFT OUTER variant of the interval join: every purchase is emitted,
    * with null signup columns for purchases no signup preceded within the
    * window. The outer row is released only once the signup-side watermark
    * proves no match can still arrive — same bounded state as the inner
    * join, plus the correctness of never losing an unattributed purchase
    * (the row a training pipeline's attrition analysis needs). */
  def purchasesWithOptionalSignup(events: DataFrame): DataFrame =
    signupIntervalJoin(events, "left_outer")

  /** The one definition both interval-join variants share — watermarks,
    * window bound, and projection can't drift between the inner and the
    * outer form. */
  private def signupIntervalJoin(events: DataFrame,
      joinType: String): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", "10 minutes")
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
      .withWatermark("s_ts", "10 minutes")
    purchases.join(signups,
      col("user_id") === col("s_user") &&
        col("p_ts") >= col("s_ts") &&
        col("p_ts") <= col("s_ts") + expr("INTERVAL 2 HOURS"),
      joinType)
      .select(col("user_id"), col("p_ts"), col("s_ts"), col("value"))
  }

  final case class DriftState(counts: Map[String, Long])
  final case class DriftRow(feature: String, n_ref: Long, n_new: Long,
      tv_dist: Double, max_gap: Double)
  final case class TopicDriftRow(n_cells: Long, n_ref: Long, n_new: Long,
      tv_dist: Double, max_gap: Double)

  /** The ONE HALF_UP scaled round both drift monitors share with their
    * batch twins (Spark's round() on a positive double) — a private copy
    * could drift by the 1-ulp class this helper exists to prevent.
    * Serializable holder: the monitors call it from
    * flatMapGroupsWithState closures, and referencing a method on the
    * (non-serializable) enclosing module would capture the module. */
  private object DriftMath extends Serializable {
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x * 1e6)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue() / 1e6
  }

  /** Reference category counts for [[driftMonitorStream]] — the static
    * side, built ONCE from the admitted corpus (one aggregation job,
    * collected at category cardinality: languages + sources + 21 length
    * buckets — metadata-sized by construction). */
  def driftReferenceCounts(corpus: DataFrame): Map[(String, String), Long] =
    graft.operators.TextAnalysis.docCategoryPairs(corpus)
      .groupBy("feature", "category").count()
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

  /** One admitted document of [[ingestChunkOverlapStream]]. */
  final case class IngestDoc(doc_id: Long, text: String)

  /** Continuous-ingest CHUNK-OVERLAP gate: the streaming twin of the batch
    * `dedup_ingest_chunk_overlap` admission rule — an arriving document
    * sharing at least `minShared` distinct substantial (>= `minLen` byte)
    * CDC chunk hashes with the accepted corpus is a re-crawl / trivial
    * revision and is dropped. The Gear cut rule's shift invariance
    * ([[graft.functions.GearChunkEnds]]) is what makes this catch
    * wrapper-text edits the exact-dup stage misses: the shared suffix
    * re-synchronizes to identical chunk hashes within `maskBits` bytes of
    * the edit.
    *
    * Streaming shape: chunk hashes are computed PER ROW (the batch
    * chunkTable arithmetic folded into higher-order functions over the
    * codegen'd cut kernel — no stream-side explode-and-regroup state),
    * membership is one stream-static LEFT OUTER join against the corpus's
    * distinct substantial hash set (16-byte keys; PERSIST `corpusChunks` —
    * the static side re-evaluates every trigger), and the per-document
    * verdict re-groups the document's own chunk rows with
    * `flatMapGroupsWithState`. The state is degenerate BY CONSTRUCTION:
    * all chunk rows of a document are projections of one input row, so
    * they land in the same micro-batch, the verdict completes in the one
    * invocation, and nothing is ever stored (`NoTimeout`, no
    * `state.update`) — bounded-state discipline with an empty state.
    * Emits each distinct arriving doc_id at most once per micro-batch
    * (within-batch re-deliveries collapse, matching
    * [[ingestDedupStream]]'s within-stream semantics); compose that gate
    * first for cross-batch exactly-once. */
  def ingestChunkOverlapStream(spark: SparkSession, stream: DataFrame,
      corpusChunks: DataFrame, textCol: String, minShared: Long = 2L,
      minLen: Int = 16, maskBits: Int = 6): Dataset[IngestDoc] = {
    import spark.implicits._
    val corpusSet = corpusChunks.filter(col("chunk_len") >= minLen)
      .select(col("chunk_md5").as("__corpus_ck")).distinct()
    val payload = col(textCol).cast("binary")
    val cuts = graft.operators.CdcChunking.gearChunkEnds(payload, maskBits)
    val starts = concat(array(lit(1)), transform(cuts, c => c + 1))
    val ends = concat(cuts, array(octet_length(payload)))
    val md5s = zip_with(starts, ends, (s, e) =>
      when(e - s + lit(1) >= minLen, md5(payload.substr(s, e - s + lit(1))))
        .otherwise(lit(null)))
    val withChunks = stream.select(col("doc_id"), col(textCol).as("__text"),
      array_distinct(filter(md5s, _.isNotNull)).as("__cks"))
    // the payload rides on ONE row per document (chunk position 0; the
    // null-position row of an empty chunk set), never on every exploded
    // chunk — replicating the text per chunk row would shuffle bytes
    // quadratic in document size through the corpus join and the regroup,
    // the exact cost the chunk-table contract ("16-byte hashes move,
    // never payload") exists to avoid
    withChunks
      .select(col("doc_id"), col("__text"),
        posexplode_outer(col("__cks")).as(Seq("__pos", "__ck")))
      .select(col("doc_id"),
        when(col("__pos").isNull || col("__pos") === 0, col("__text"))
          .as("__text"),
        col("__ck"), col("__pos"))
      .join(corpusSet, col("__ck") === col("__corpus_ck"), "left_outer")
      .select(col("doc_id"), col("__text"),
        coalesce(col("__ck"), lit("")).as("__ck"),
        col("__corpus_ck").isNotNull.as("__hit"))
      .as[(Long, String, String, Boolean)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (id: Long, rows: Iterator[(Long, String, String, Boolean)],
            state: GroupState[Boolean]) => {
          // hits counted as a SET of chunk hashes so a within-batch
          // re-delivery of the same document cannot double-count
          var text: String = null
          val hit = scala.collection.mutable.HashSet.empty[String]
          rows.foreach { case (_, t, ck, h) =>
            if (t != null) text = t
            if (h) hit += ck
          }
          if (hit.size < minShared) Iterator.single(IngestDoc(id, text))
          else Iterator.empty
        })
  }

  /** Streaming snapshot-drift monitor: the streaming twin of the batch
    * `corpus_drift_report` — as a new crawl streams in, emit after every
    * micro-batch one row per feature (lang / source / len_bucket, the
    * SHARED [[graft.operators.TextAnalysis.docCategoryPairs]] feature
    * space) with the running total-variation distance and largest
    * category gap of everything-seen-so-far against the frozen reference
    * corpus. The pre-admission check becomes a live dashboard: a crawl
    * whose mix goes wrong is visible at the first trigger, not after the
    * batch lands.
    *
    * State design: `flatMapGroupsWithState` keyed by FEATURE, state = the
    * feature's category histogram — bounded by the CATEGORY CODOMAIN
    * (languages, sources, 21 length buckets), never by rows seen, so the
    * state neither grows with the stream nor needs a timeout; the
    * reference histogram rides along as a driver literal of the same
    * bounded size. The drift arithmetic is the batch report's, verbatim:
    * exact integer cross-multiplied numerators summed/maxed in Scala
    * longs (order-independent), ONE division, the shared HALF_UP scaled
    * rounding — so once the full slice has streamed, the emitted rows
    * EQUAL the batch report's (StreamingSpec pins the equality).
    *
    * Throughput caveat — the exception to the module's high-cardinality
    * key rule: the group key IS the feature (3 values), so each trigger's
    * category rows funnel through 3 tasks. That is the right trade for a
    * MONITOR (the stream into this operator is per-document metadata, and
    * correctness needs the whole feature's histogram in one place to
    * compute tv_dist); it is not a shape to copy for a data-plane
    * operator. If monitor input volume ever bound a trigger, pre-reduce
    * with a watermarked groupBy(feature, category) count upstream and
    * feed this operator the per-batch category deltas. */
  def driftMonitorStream(spark: SparkSession, stream: DataFrame,
      refCounts: Map[(String, String), Long]): Dataset[DriftRow] = {
    import spark.implicits._
    val refByFeature: Map[String, Map[String, Long]] =
      refCounts.groupBy(_._1._1).map { case (f, m) =>
        f -> m.map { case ((_, c), n) => c -> n }
      }
    def r6(x: Double): Double = DriftMath.round6(x)
    graft.operators.TextAnalysis.docCategoryPairs(stream)
      .as[(String, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (feature: String, batch: Iterator[(String, String)],
            state: GroupState[DriftState]) => {
          val cur = scala.collection.mutable.Map.empty[String, Long] ++=
            state.getOption.map(_.counts).getOrElse(Map.empty)
          batch.foreach { case (_, c) => cur(c) = cur.getOrElse(c, 0L) + 1L }
          state.update(DriftState(cur.toMap))
          val ref = refByFeature.getOrElse(feature, Map.empty)
          val nRef = ref.values.sum
          val nNew = cur.values.sum
          val nums = (ref.keySet ++ cur.keySet).toSeq.map { c =>
            math.abs(ref.getOrElse(c, 0L) * nNew - cur.getOrElse(c, 0L) * nRef)
          }
          val (tv, mg) =
            if (nRef == 0 || nNew == 0 || nums.isEmpty) (0.0, 0.0)
            else (r6(nums.sum.toDouble / (2.0 * nRef * nNew)),
              r6(nums.max.toDouble / (1.0 * nRef * nNew)))
          Iterator.single(DriftRow(feature, nRef, nNew, tv, mg))
        })
  }

  /** EMBEDDING-SPACE twin of [[driftMonitorStream]]: as new vectors
    * stream in, assign each to its cell under the caller's FROZEN seeded
    * quantizer (the same literal-centroid expression every IVF path
    * uses — assignment depends only on the centroids, so streamed
    * vectors land exactly where the batch scan puts them) and emit after
    * every micro-batch the running topic-mix drift of everything seen so
    * far against the frozen reference histogram — the live form of the
    * batch `topic_drift_report`, same exact integer cross-multiplied TV
    * arithmetic, same ONE rounded division per emission, so the final
    * emission EQUALS the batch report (StreamingSpec pins it).
    *
    * State = the per-cell histogram under the single monitor key,
    * bounded by the quantizer's K cells, never by rows seen; the
    * reference rides as a K-sized driver literal. Single-key funneling
    * is the same deliberate monitor trade documented on the lexical
    * twin: TV needs the whole histogram in one place, and the input is
    * one int per vector. */
  def topicDriftMonitorStream(spark: SparkSession, stream: DataFrame,
      centroids: Seq[(Int, Array[Float])],
      refCounts: Map[Int, Long]): Dataset[TopicDriftRow] = {
    import spark.implicits._
    import graft.functions.functions.vec_l2norm
    val ref = refCounts.map { case (c, n) => c.toString -> n }
    val nRef = ref.values.sum
    val base = stream.select(col("vec_id").as("c_id"), col("embedding").as("cv"))
      .withColumn("cn", vec_l2norm(col("cv")))
    graft.operators.IvfIndex.assignWithCentroids(base, centroids)
      .select(col("cell")).as[Int]
      .groupByKey(_ => "topic")
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (_: String, batch: Iterator[Int], state: GroupState[DriftState]) => {
          val cur = scala.collection.mutable.Map.empty[String, Long] ++=
            state.getOption.map(_.counts).getOrElse(Map.empty)
          batch.foreach { c =>
            val k = c.toString
            cur(k) = cur.getOrElse(k, 0L) + 1L
          }
          state.update(DriftState(cur.toMap))
          val nNew = cur.values.sum
          val cells = (ref.keySet ++ cur.keySet).toSeq
          val nums = cells.map(c =>
            math.abs(ref.getOrElse(c, 0L) * nNew - cur.getOrElse(c, 0L) * nRef))
          val (tv, mg) =
            if (nRef == 0 || nNew == 0 || nums.isEmpty) (0.0, 0.0)
            else (DriftMath.round6(nums.sum.toDouble / (2.0 * nRef * nNew)),
              DriftMath.round6(nums.max.toDouble / (1.0 * nRef * nNew)))
          Iterator.single(TopicDriftRow(cells.size.toLong, nRef, nNew, tv, mg))
        })
  }

  /** One arrival of [[transitionMonitorStream]] (ts pre-converted to epoch
    * micros so ordering inside the state function is a plain long pair). */
  final case class TransEvent(user_id: Long, event_type: String,
      ts_us: Long, event_id: Long)
  /** Per-user sequence state: the LAST event seen, O(1) per user. */
  final case class TransState(ts_us: Long, event_id: Long, tpe: String)
  final case class TransitionRow(user_id: Long, from_type: String,
      to_type: String)

  /** Clickstream TRANSITION monitor: the streaming twin of the batch
    * `event_transitions` first-order Markov matrix. State = each user's
    * LAST event (ts, event_id, type) — the SEQUENCE-state family
    * (sessionization's cousin where ORDER, not presence, is the signal),
    * O(1) per user however long the stream. Keyed by user_id — the
    * module's high-cardinality key shape, no single-task funneling.
    *
    * Ordering contract: per-user arrivals must be delivered in
    * nondecreasing (ts, event_id) order ACROSS micro-batches — satisfied
    * by any time-ordered ingest (log-append-time Kafka, crawl-window file
    * drops; the driver replay stages batches as disjoint ts ranges, so
    * equal-ts rows never straddle a batch). WITHIN a batch the group's
    * arrivals are sorted before pairing, so intra-batch disorder repairs
    * itself.
    *
    * Append-mode emissions: a transition is a FACT emitted exactly once
    * (never an evolving aggregate), so the sink can be a parquet FILE
    * sink and the downstream count/probability aggregation stays fully
    * distributed — nothing event-sized is ever collected to the driver,
    * unlike the update-mode dashboard monitors above whose emissions are
    * codomain-bounded. */
  def transitionMonitorStream(spark: SparkSession,
      stream: DataFrame): Dataset[TransitionRow] = {
    import spark.implicits._
    stream.select(col("user_id").cast("long").as("user_id"),
        col("event_type"), unix_micros(col("ts")).as("ts_us"),
        col("event_id").cast("long").as("event_id"))
      .as[TransEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, batch: Iterator[TransEvent],
            state: GroupState[TransState]) => {
          val evs = batch.toArray.sortBy(e => (e.ts_us, e.event_id))
          if (evs.isEmpty) Iterator.empty
          else {
            val carried = state.getOption.map(s =>
              TransitionRow(user, s.tpe, evs.head.event_type)).toSeq
            val within = evs.iterator.zip(evs.iterator.drop(1)).map {
              case (a, b) => TransitionRow(user, a.event_type, b.event_type)
            }.toSeq
            val last = evs.last
            state.update(
              TransState(last.ts_us, last.event_id, last.event_type))
            (carried ++ within).iterator
          }
        })
  }

  /** Custom state: running per-user totals emitted on every update. State
    * expires on an event-time timeout one hour past the user's last event
    * (watermark-driven, so expiry is deterministic and replayable — at scale
    * abandoned keys are dropped instead of accumulating forever). */
  def runningUserTotals(spark: SparkSession, events: DataFrame): Dataset[UserRunning] = {
    import spark.implicits._
    events.withWatermark("ts", "10 minutes")
      .select("event_id", "ts", "user_id", "event_type", "value").as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, batch: Iterator[Event], state: GroupState[UserRunning]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
            var n = prev.n_events
            var tot = prev.total_value
            var maxTs = 0L
            batch.foreach { e => n += 1; tot += e.value; maxTs = math.max(maxTs, e.ts.getTime) }
            val next = UserRunning(userId, n, tot)
            state.update(next)
            state.setTimeoutTimestamp(maxTs + 3600L * 1000L)
            Iterator.single(next)
          }
        })
  }
}
