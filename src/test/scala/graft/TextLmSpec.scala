package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TextQueries

/** Invariants of the corpus-trained bigram-LM quality signal that the
  * DuckDB oracle (which recomputes the same math) cannot witness. */
class TextLmSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val lm =
    TextQueries.queries("lm_bigram_quality")(spark, TestSpark.sfDir)

  test("scores are probabilities and rates stay in range") {
    val bad = lm.filter(
      col("pred_prob") <= 0.0 || col("pred_prob") > 1.0 ||
        col("novel_rate") < 0.0 || col("novel_rate") > 1.0 ||
        col("n_bigrams") <= 0L).count()
    assert(bad === 0L)
  }

  test("n_bigrams == n_tokens - 1 for every scored doc") {
    val toks = Tables.load(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"),
        (size(split(lower(col("text")), " ")) - 1).cast("long").as("expect"))
    val mismatch = lm.join(toks, "doc_id")
      .filter(col("n_bigrams") =!= col("expect")).count()
    assert(mismatch === 0L)
    // and every >=2-token doc is scored (none silently dropped)
    assert(lm.count() === toks.filter(col("expect") >= 1L).count())
  }

  test("hand-computed scores on a synthetic corpus, dup doc novel_rate 0") {
    // corpus: V = {a,b,c}; bigram counts "a b"=4(df3), "b a"=1(df1),
    // "b c"=2(df2); contexts a=4, b=3; smoothed probs 5/7, 1/3, 1/2
    import spark.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "a b c"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.bigramLm(docs, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    assert(got.toSeq === Seq(
      // doc1: (2*(5/7) + 1/3)/3 = 37/63; novel: {"a b","b a"} -> 1/2
      (1L, 3L, r6(37.0 / 63.0), 0.5),
      // doc2/doc3 (duplicates): (5/7 + 1/2)/2 = 17/28; all bigrams shared
      (2L, 2L, r6(17.0 / 28.0), 0.0),
      (3L, 2L, r6(17.0 / 28.0), 0.0)))
  }

  test("single-token and empty docs are dropped, not scored") {
    import spark.implicits._
    val docs = Seq((1L, "x y"), (2L, "solo"), (3L, "")).toDF("doc_id", "text")
    val ids = graft.operators.TextAnalysis.bigramLm(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L))
  }

  // ---- interpolated trigram LM (absolute discounting, D = 1/2) ----

  /** Train corpus for every trigram hand case below:
    *   "a b c", "a b c", "a b d"
    * N = 9 tokens, V = 4; trigram counts: "a b c"=2, "a b d"=1;
    * bigram counts: "a b"=3, "b c"=2, "b d"=1; unigrams a=3 b=3 c=2 d=1;
    * trigram context (a,b): c12=3, n3=2; bigram contexts: a: c2=3 n2=1,
    * b: c2=3 n2=2. */
  private def trigramTrainDocs = {
    import spark.implicits._
    Seq((1L, "a b c"), (2L, "a b c"), (3L, "a b d")).toDF("doc_id", "text")
  }

  private def trigramScoreOf(evalText: String): (Long, Double, Double) = {
    import spark.implicits._
    val lm = graft.operators.TrigramLm.train(trigramTrainDocs, "text")
    val r = lm.score(Seq((10L, evalText)).toDF("doc_id", "text"),
      "doc_id", "text").head()
    (r.getLong(1), r.getDouble(2), r.getDouble(3))
  }

  /** The spec-side twin of the engine arithmetic: quantize to p14, one
    * division chain, scaled HALF_UP round — so expected values are the
    * exact doubles the query must produce. */
  private def predOf(ps: Seq[Double]): Double = {
    val p14 = ps.map(p => math.round(p * 1e14))
    val x = p14.sum.toDouble / ps.size / 1e14
    new java.math.BigDecimal(x * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue() / 1e6
  }

  test("trigram: fully seen trigram uses the discounted top level") {
    // p1(c)=3/13; p2(c|b)=(1.5+1.0*p1)/3; p3(c|a b)=(1.5+1.0*p2)/3 = 9/13
    val p1 = (2.0 + 1.0) / 13
    val p2 = (1.5 + 0.5 * 2 * p1) / 3
    val p3 = (1.5 + 0.5 * 2 * p2) / 3
    assert(math.abs(p3 - 9.0 / 13.0) < 1e-15) // closed form check
    assert(trigramScoreOf("a b c") === ((1L, predOf(Seq(p3)), 0.0)))
  }

  test("trigram: unseen trigram in a seen context takes only the interpolation mass") {
    // "a b x": c123=0 -> max(-0.5,0)=0; p2(x|b)=(0+1.0*(1/13))/3=1/39;
    // p3=(0+1.0*p2)/3=1/117; the doc's one trigram is OOV
    val p1 = (0.0 + 1.0) / 13
    val p2 = (0.0 + 0.5 * 2 * p1) / 3
    val p3 = (0.0 + 0.5 * 2 * p2) / 3
    assert(math.abs(p3 - 1.0 / 117.0) < 1e-15)
    assert(trigramScoreOf("a b x") === ((1L, predOf(Seq(p3)), 1.0)))
  }

  test("trigram: unseen contexts back off level by level to add-one unigram") {
    // "z q a": context (z,q) unseen -> p3 = p2(a|q); q unseen as a
    // bigram context -> p2 = p1(a) = 4/13 (the full backoff chain)
    val p3 = (3.0 + 1.0) / 13
    assert(trigramScoreOf("z q a") === ((1L, predOf(Seq(p3)), 1.0)))
  }

  test("trigram: mixed doc averages quantized probabilities; oov is the distinct fraction") {
    // "a b c x": "a b c" seen (9/13 path), "b c x" unseen with unseen
    // contexts (b,c) and c -> backs off to p1(x) = 1/13
    val p1c = (2.0 + 1.0) / 13
    val p2c = (1.5 + 0.5 * 2 * p1c) / 3
    val p3seen = (1.5 + 0.5 * 2 * p2c) / 3
    val p3unseen = (0.0 + 1.0) / 13
    assert(trigramScoreOf("a b c x") ===
      ((2L, predOf(Seq(p3seen, p3unseen)), 0.5)))
  }

  test("trigram: sub-trigram docs are dropped, not scored") {
    import spark.implicits._
    val lm = graft.operators.TrigramLm.train(trigramTrainDocs, "text")
    val ids = lm.score(
      Seq((1L, "a b c"), (2L, "a b"), (3L, "solo"), (4L, "")).toDF("doc_id", "text"),
      "doc_id", "text").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L))
  }

  test("trigram: ~100k-token repeated doc scores exactly (long k*p14 sum would wrap)") {
    // One doc of 100,002 repeated tokens: the only trigram "a a a" has
    // k = 100,000 and (self-trained) p3 = 1.0, so p14 = 1e14 and
    // k*p14 = 1e19 > Long.MaxValue (9.22e18) — a long product/sum wraps
    // negative; the decimal(38,0) path must return exactly 1.0.
    import spark.implicits._
    val doc = Seq((1L, Array.fill(100002)("a").mkString(" "))).toDF("doc_id", "text")
    val got = graft.operators.TrigramLm.train(doc, "text")
      .score(doc, "doc_id", "text").collect()
    assert(got.length === 1)
    val r = got(0)
    assert(r.getLong(r.fieldIndex("n_trigrams")) === 100000L)
    assert(r.getDouble(r.fieldIndex("pred_prob")) === 1.0)
    assert(r.getDouble(r.fieldIndex("oov_rate")) === 0.0)
  }

  test("trigram: durable write -> manifest-validated reopen runs zero training jobs") {
    import spark.implicits._
    val path = "target/test-trigram-lm/" + java.util.UUID.randomUUID().toString
    val lm = graft.operators.TrigramLm.train(trigramTrainDocs, "text")
    lm.write(path, source = "spec-fixture")
    ManifestFields.pin(path, Map(
      "version" -> "1", "source" -> "spec-fixture", "biRows" -> "3",
      "nTok" -> "9", "triRows" -> "2", "uniRows" -> "4", "v" -> "4"))
    val before = graft.operators.TrigramLm.trainCount
    val reopened = graft.operators.TrigramLm.loadIfValid(spark, path, "spec-fixture")
    assert(reopened.isDefined, "a complete, current manifest must reopen")
    assert(graft.operators.TrigramLm.trainCount === before,
      "reopen must not re-train")
    // a different source tag must refuse the hit
    assert(graft.operators.TrigramLm.loadIfValid(spark, path, "other").isEmpty)
    // and the reopened model scores identically to the in-memory one
    val eval = Seq((10L, "a b c"), (11L, "a b x"), (12L, "z q a"))
      .toDF("doc_id", "text")
    val mem = lm.score(eval, "doc_id", "text").orderBy("doc_id").collect()
    val file = reopened.get.score(eval, "doc_id", "text").orderBy("doc_id").collect()
    assert(mem.toSeq === file.toSeq)
  }

  test("trigram: a manifest whose v disagrees with its uni row count refuses") {
    val path = "target/test-trigram-lm/" + java.util.UUID.randomUUID().toString
    graft.operators.TrigramLm.train(trigramTrainDocs, "text")
      .write(path, source = "spec-fixture")
    assert(graft.operators.TrigramLm.loadIfValid(spark, path, "spec-fixture").isDefined)
    // every row count still matches its table; only the scalar is wrong
    ManifestFields.rewrite(path, "v" -> "5")
    assert(ManifestFields(path)("uniRows") === "4")
    assert(graft.operators.TrigramLm.loadIfValid(spark, path, "spec-fixture").isEmpty,
      "v must equal the uni row count")
    ManifestFields.rewrite(path, "v" -> "4")
    assert(graft.operators.TrigramLm.loadIfValid(spark, path, "spec-fixture").isDefined,
      "the rewritten manifest with the true v must reopen")
  }

  test("trigram: exciseFrom unlearns a doc batch exactly — all three " +
      "count tables AND both scalars — with ledger no-op and refusals") {
    import spark.implicits._
    val path = "target/test-trigram-lm/excised"
    Seq(path, s"$path-next", s"$path-old").foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
    // doc 2 carries the ONLY occurrences of 'z': excising it must shrink
    // v AND nTok (both sit in the add-one unigram base every backoff
    // chain bottoms out in) — the un-refreshed-scalar silent corruption
    // this lifecycle exists to prevent
    val corpus = Seq((1L, "a b c a b"), (2L, "a z b z c"), (3L, "b a c a b"))
      .toDF("doc_id", "text")
    val takedown = corpus.filter(col("doc_id") === 2)
    graft.operators.TrigramLm.train(corpus, "text").write(path, "base")
    assert(graft.operators.TrigramLm.exciseFrom(spark, path, takedown,
      "text", "takedown-1"))
    ManifestFields.pin(path, Map(
      "version" -> "1", "source" -> "takedown-1",
      "appliedSources" -> "base\u0001takedown-1", "biRows" -> "5",
      "nTok" -> "10", "triRows" -> "5", "uniRows" -> "3", "v" -> "3"))
    val excised = graft.operators.TrigramLm.load(spark, path)
    val survivor = graft.operators.TrigramLm.train(
      corpus.filter(col("doc_id") =!= 2), "text")
    assert(excised.v === survivor.v, "v must re-derive over the survivors")
    assert(excised.nTok === survivor.nTok,
      "nTok must re-derive over the survivors")
    assert(excised.v < 4L, "'z' left the corpus; v must shrink")
    // eval docs exercise every backoff branch: seen trigram, unseen
    // trigram in seen context, unseen contexts down to the unigram base
    def eval(lm: graft.operators.TrigramLm) =
      lm.score(Seq((9L, "a b c a"), (10L, "b a z"), (11L, "z q a b"))
          .toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(_.toSeq).toSet
    assert(eval(excised) === eval(survivor),
      "excised model must score identically to a fresh survivor train")
    // replayed excise is a ledger no-op; nothing double-subtracts
    assert(!graft.operators.TrigramLm.exciseFrom(spark, path, takedown,
      "text", "takedown-1"))
    assert(eval(graft.operators.TrigramLm.load(spark, path)) === eval(survivor))
    // the excise tag reopens zero-train; the stale base tag refuses
    val before = graft.operators.TrigramLm.trainCount
    assert(graft.operators.TrigramLm.loadIfValid(spark, path, "takedown-1").isDefined)
    assert(graft.operators.TrigramLm.trainCount === before)
    assert(graft.operators.TrigramLm.loadIfValid(spark, path, "base").isEmpty)
    // NON-SUBSET batches refuse before a byte is staged
    val foreign = Seq((7L, "q r s t")).toDF("doc_id", "text")
    val e1 = intercept[IllegalArgumentException] {
      graft.operators.TrigramLm.exciseFrom(spark, path, foreign, "text",
        "takedown-2")
    }
    assert(e1.getMessage.contains("unseen"), e1.getMessage)
    val doc1 = corpus.filter(col("doc_id") === 1)
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.TrigramLm.exciseFrom(spark, path,
        doc1.unionByName(doc1), "text", "takedown-3")
    }
    assert(e2.getMessage.contains("over-subtracted"), e2.getMessage)
    assert(eval(graft.operators.TrigramLm.load(spark, path)) === eval(survivor),
      "a refused excise must leave the model untouched")
    // a torn table (rows landed, manifest didn't) refuses a NEW excise...
    excised.tri.limit(1).write.mode("append").parquet(s"$path/tri")
    val e3 = intercept[IllegalArgumentException] {
      graft.operators.TrigramLm.exciseFrom(spark, path, doc1, "text",
        "takedown-4")
    }
    assert(e3.getMessage.contains("manifest"))
    // ...but a replay of an ALREADY-APPLIED tag still no-ops on it (the
    // idempotent-retry contract — the no-op precedes the recount)
    assert(!graft.operators.TrigramLm.exciseFrom(spark, path, takedown,
      "text", "takedown-1"))
  }
}
