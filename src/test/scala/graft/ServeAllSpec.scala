package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.ServeAllQueries

/** The zero-build serve-everything capstone's spec-side pins: every
  * durable artifact reopens valid and serves, the reopen phase moves NO
  * operator build/train counter, and the whole reopen+serve phase fits a
  * Spark JOB budget — manifest validation plus one bounded serve is a
  * handful of jobs per artifact, where an accidental retrain (BPE's
  * per-merge loop, the IVF k-means fit, an LM aggregation pair) fires
  * tens to hundreds. */
class ServeAllSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("every durable artifact reopens zero-build inside the job budget " +
      "and serves its bounded request") {
    val dir = TestSpark.sfDir
    val hs = ServeAllQueries.hooks(spark, dir)
    assert(hs.map(_._1).sorted === Seq("bigram_lm", "bigram_lm_excised",
      "bpe", "chunk_index",
      "chunk_index_excised", "classifier", "classifier_excised",
      "inverted_index",
      "inverted_index_appended", "inverted_index_excised", "ivf",
      "ivf_appended", "ivf_excised", "ivf_refitted", "ivfpq", "markov",
      "markov_appended", "markov_excised", "pq", "pq_excised",
      "pq_refitted", "trigram_lm", "trigram_lm_excised"))
    hs.foreach(_._2()) // ensure phase: builds are legal here
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val served = try {
      val r = hs.map { case (name, _, reopen) => name -> reopen() }
      org.apache.spark.sql.graft.bridge.waitListenerBus(spark)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    served.foreach { case (name, r) =>
      assert(r.isDefined, s"$name: manifest reopen failed validation")
      assert(r.get > 0, s"$name: bounded serve returned no rows")
    }
    // budget: validation (2 counts) + one bounded serve per artifact —
    // AQE materializes each query stage as its own job, so a multi-join
    // serve (the LM score chains, the IVF/PQ topK pipelines) costs
    // several jobs each; measured 12/artifact at the spec fixture. The
    // guarded failure mode is a retrain riding the reopen path: BPE's
    // merge loop alone is ~200 jobs, the IVF k-means fit ~15 on top of
    // the serve
    assert(jobs.get() <= 16L * hs.size,
      s"reopen+serve phase ran ${jobs.get()} jobs for ${hs.size} " +
        "artifacts — a build/fit is riding the reopen path")
  }
}
