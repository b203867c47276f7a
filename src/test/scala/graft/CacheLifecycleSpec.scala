package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{CdcQueries, DedupQueries, MultimodalQueries, PipelineQueries, QueryArtifacts,
  SimilarityQueries, TextQueries}

/** The shared (session, dir)-keyed session artifacts — persisted
  * intermediates (candidate pairs, IVF inverted files, aHash fingerprint
  * tables) and file-backed handles (chunk index, z-order layouts,
  * inverted index) alike — must all be released by the one teardown
  * Bench/Verify call (QueryArtifacts.clearAll), or a long-lived session
  * accumulates storage per key and keeps every session it was keyed by
  * reachable. Asserted against the session's persistent-RDD registry
  * relative to a baseline (the shared test session may hold unrelated
  * persists from other suites) and against the registry's entry count.
  */
class CacheLifecycleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("clearCaches releases every query-cache persist") {
    // start from a clean slate (idempotent if already clean)
    QueryArtifacts.clearAll()
    val baseline = spark.sparkContext.getPersistentRDDs.keySet

    // populate the caches: jaccard pairs (0.8 + 0.6), minhash pairs,
    // IVF index, aHash fingerprints, repeat + contamination intervals,
    // ingest corpus signatures — plus file-backed handles: the durable
    // chunk index, the z-order layouts and the durable inverted index
    DedupQueries.queries("dedup_ngram_jaccard")(spark, TestSpark.sfDir).count()
    DedupQueries.queries("dedup_minhash_recall")(spark, TestSpark.sfDir).count()
    DedupQueries.queries("dedup_substring")(spark, TestSpark.sfDir).count()
    DedupQueries.queries("dedup_ingest_neardup")(spark, TestSpark.sfDir).count()
    SimilarityQueries.queries("ann_ivf_topk")(spark, TestSpark.sfDir).count()
    SimilarityQueries.queries("corpus_topic_report")(spark, TestSpark.sfDir).count()
    MultimodalQueries.queries("multimodal_ahash_pairs")(spark, TestSpark.sfDir).count()
    PipelineQueries.queries("decontaminate_spans")(spark, TestSpark.sfDir).count()
    PipelineQueries.queries("zorder_box_scan")(spark, TestSpark.sfDir).count()
    TextQueries.queries("perplexity_buckets")(spark, TestSpark.sfDir).count()
    TextQueries.queries("bm25_served")(spark, TestSpark.sfDir).count()
    CdcQueries.queries("cdc_chunks_persisted")(spark, TestSpark.sfDir).count()
    val populated = spark.sparkContext.getPersistentRDDs.keySet
    assert(populated.diff(baseline).nonEmpty,
      "expected the query caches to register persisted RDDs")
    assert(QueryArtifacts.entryCount > 0)

    QueryArtifacts.clearAll()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(after.diff(baseline).isEmpty,
      s"persists leaked past clearAll(): ${after.diff(baseline).toSeq.sorted}")
    assert(QueryArtifacts.entryCount == 0,
      s"${QueryArtifacts.entryCount} session-cache entries survived clearAll()")
  }

  test("drainLeaked names and force-releases an unregistered persist") {
    // r18's driver bench recorded leaked_persists:1 with no way to say
    // WHICH RDD leaked (and the leak outlived teardown). The drain must
    // return a descriptor carrying the RDD's name and actually unpersist
    // it. The asserts are scoped to the PLANTED id: the shared session
    // may hold unrelated persists from other suites.
    val planted = spark.sparkContext.parallelize(1 to 10, 2)
    planted.setName("planted-unregistered-persist")
    planted.persist().count()
    assert(spark.sparkContext.getPersistentRDDs.contains(planted.id))
    val drained = Bench.drainLeaked(spark)
    assert(drained.exists(d => d.contains("planted-unregistered-persist") &&
      d.contains(s"id=${planted.id}")),
      s"planted leak not named in: $drained")
    assert(!spark.sparkContext.getPersistentRDDs.contains(planted.id),
      "drainLeaked must force-unpersist the leak, not just report it")
    // a second drain no longer reports the planted leak
    assert(!Bench.drainLeaked(spark).exists(_.contains(
      "planted-unregistered-persist")))
  }

  test("clearCaches is idempotent and caches rebuild after a clear") {
    QueryArtifacts.clearAll()
    QueryArtifacts.clearAll() // second call must not throw
    val df = DedupQueries.queries("dedup_ngram_jaccard")(spark, TestSpark.sfDir)
    assert(df.count() > 0, "cache must repopulate after clearAll()")
    QueryArtifacts.clearAll()
  }
}
