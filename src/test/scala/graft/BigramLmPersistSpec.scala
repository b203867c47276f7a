package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.BigramLm

/** Durable bigram-LM lifecycle (the TRAIN/SERVE split): write ->
  * manifest-validated reload with zero training jobs, exact score parity
  * between the in-session and reloaded model, held-out scoring semantics
  * (OOV floors), and source-tag invalidation. */
class BigramLmPersistSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val docs = Tables.load(spark, TestSpark.sfDir, "documents")
  private lazy val train = docs.filter(col("doc_id") % 5 =!= 0)
  private lazy val heldout = docs.filter(col("doc_id") % 5 === 0)
  private val path = "target/bigram-lm-test/model"

  private def scores(lm: BigramLm) =
    lm.score(heldout, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1).toSeq

  test("written + reloaded model reproduces in-session held-out scores exactly") {
    val trained = BigramLm.train(train, "text")
    trained.write(path, source = "spec-v1")
    val loaded = BigramLm.load(spark, path)
    assert(loaded.v === trained.v)
    assert(scores(loaded) === scores(trained))
  }

  test("manifest-validated reload runs zero training jobs; wrong source refuses") {
    BigramLm.train(train, "text").write(path, source = "spec-v1")
    ManifestFields.pin(path, Map(
      "version" -> "2", "source" -> "spec-v1", "ctxRows" -> "31",
      "modelRows" -> "916", "v" -> "31", "vocabRows" -> "31"))
    val before = BigramLm.trainCount
    val hit = BigramLm.loadIfValid(spark, path, "spec-v1")
    assert(hit.isDefined, "valid manifest refused")
    assert(BigramLm.trainCount === before, "reload ran a training aggregate")
    assert(hit.get.score(heldout, "doc_id", "text").count() > 0)
    assert(BigramLm.loadIfValid(spark, path, "spec-v2").isEmpty)
    // corrupted manifest invalidates, not crashes
    val mPath = new org.apache.hadoop.fs.Path(s"$path/_MANIFEST.properties")
    val fs = mPath.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(mPath, true)
    out.write("version=999\n".getBytes("UTF-8")); out.close()
    assert(BigramLm.loadIfValid(spark, path, "spec-v1").isEmpty)
  }

  test("a manifest whose v disagrees with its vocab row count refuses") {
    val path = "target/bigram-lm-test/wrong-v"
    BigramLm.train(train, "text").write(path, source = "spec-v1")
    assert(BigramLm.loadIfValid(spark, path, "spec-v1").isDefined)
    // every row count still matches its table; only the scalar is wrong
    ManifestFields.rewrite(path, "v" -> "32")
    assert(ManifestFields(path)("vocabRows") === "31")
    assert(BigramLm.loadIfValid(spark, path, "spec-v1").isEmpty,
      "v must equal the vocab row count")
    ManifestFields.rewrite(path, "v" -> "31")
    assert(BigramLm.loadIfValid(spark, path, "spec-v1").isDefined,
      "the rewritten manifest with the true v must reopen")
  }

  test("held-out scoring floors unseen bigrams at the add-one rates") {
    import spark.implicits._
    val tr = Seq((1L, "a b a c")).toDF("doc_id", "text")
    val lm = BigramLm.train(tr, "text") // model: {a b:1, b a:1, a c:1}, ctx: {a:2, b:1}, v=3
    assert(lm.v === 3L)
    // doc entirely OOV: both bigrams unseen, context unseen -> p = 1/v each
    val oov = lm.score(Seq((9L, "x y z")).toDF("doc_id", "text"),
      "doc_id", "text").collect()(0)
    assert(oov.getLong(1) === 2L)
    assert(math.abs(oov.getDouble(2) - 1.0 / 3.0) < 1e-6)
    assert(oov.getDouble(3) === 1.0)
    // seen bigram "a b": p = (1+1)/(2+3) = 0.4; unseen "b x" with seen
    // context b: p = (0+1)/(1+3) = 0.25 -> mean 0.325, oov_rate 0.5
    val mixed = lm.score(Seq((8L, "a b x")).toDF("doc_id", "text"),
      "doc_id", "text").collect()(0)
    assert(math.abs(mixed.getDouble(2) - 0.325) < 1e-6)
    assert(math.abs(mixed.getDouble(3) - 0.5) < 1e-6)
  }

  test("exciseFrom unlearns a doc batch exactly — counts, contexts, AND the " +
      "vocabulary scalar — with ledger no-op and non-subset refusal") {
    import spark.implicits._
    val path = "target/bigram-lm-test/excised"
    // doc 2 carries the ONLY occurrences of 'z': excising it must shrink
    // v (the add-one denominator in EVERY score) — the un-refreshed-v
    // silent corruption this lifecycle exists to prevent
    val corpus = Seq((1L, "a b a c"), (2L, "a z b z"), (3L, "b a c a"))
      .toDF("doc_id", "text")
    val takedown = corpus.filter(col("doc_id") === 2)
    BigramLm.train(corpus, "text").write(path, source = "base")
    assert(BigramLm.exciseFrom(spark, path, takedown, "text", "takedown-1"))
    ManifestFields.pin(path, Map(
      "version" -> "2", "source" -> "takedown-1",
      "appliedSources" -> "base\u0001takedown-1", "ctxRows" -> "3",
      "modelRows" -> "4", "v" -> "3", "vocabRows" -> "3"))
    val excised = BigramLm.load(spark, path)
    val survivor = BigramLm.train(corpus.filter(col("doc_id") =!= 2), "text")
    assert(excised.v === survivor.v, "v must re-derive over the survivors")
    assert(excised.v < 4L, "'z' left the corpus; v must shrink")
    def eval(lm: BigramLm) =
      lm.score(Seq((9L, "a b z c"), (10L, "c a")).toDF("doc_id", "text"),
          "doc_id", "text")
        .collect().map(_.toSeq).toSet
    assert(eval(excised) === eval(survivor),
      "excised model must score identically to a fresh survivor train")
    // replayed excise is a ledger no-op; nothing double-subtracts
    assert(!BigramLm.exciseFrom(spark, path, takedown, "text", "takedown-1"))
    assert(eval(BigramLm.load(spark, path)) === eval(survivor))
    // the excise tag reopens zero-train; the stale base tag refuses
    val before = BigramLm.trainCount
    assert(BigramLm.loadIfValid(spark, path, "takedown-1").isDefined)
    assert(BigramLm.trainCount === before)
    assert(BigramLm.loadIfValid(spark, path, "base").isEmpty)
    // NON-SUBSET batches refuse before a byte is staged: a doc the model
    // never trained on (unseen keys), and a double-counted batch
    // (over-subtraction)
    val foreign = Seq((7L, "q r s")).toDF("doc_id", "text")
    val e1 = intercept[IllegalArgumentException] {
      BigramLm.exciseFrom(spark, path, foreign, "text", "takedown-2")
    }
    assert(e1.getMessage.contains("unseen"), e1.getMessage)
    val doc1 = corpus.filter(col("doc_id") === 1)
    val e2 = intercept[IllegalArgumentException] {
      BigramLm.exciseFrom(spark, path, doc1.unionByName(doc1), "text",
        "takedown-3")
    }
    assert(e2.getMessage.contains("over-subtracted"), e2.getMessage)
    assert(eval(BigramLm.load(spark, path)) === eval(survivor),
      "a refused excise must leave the model untouched")
    // a torn table (rows landed, manifest didn't) refuses a NEW excise...
    excised.model.limit(1).write.mode("append").parquet(s"$path/model")
    val e3 = intercept[IllegalArgumentException] {
      BigramLm.exciseFrom(spark, path, doc1, "text", "takedown-4")
    }
    assert(e3.getMessage.contains("manifest"))
    // ...but a replay of an ALREADY-APPLIED tag still no-ops on it (the
    // idempotent-retry contract — the no-op precedes the recount)
    assert(!BigramLm.exciseFrom(spark, path, takedown, "text", "takedown-1"))
  }

  test("a crash between exciseFrom's swap renames recovers by adopting " +
      "the staged next — no corpus-sized retrain") {
    import spark.implicits._
    val path = "target/bigram-lm-test/adopt"
    Seq(path, s"$path-next", s"$path-old").foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
    val corpus = Seq((1L, "a b a c"), (2L, "a z b z"), (3L, "b a c a"))
      .toDF("doc_id", "text")
    BigramLm.train(corpus, "text").write(path, source = "base")
    assert(BigramLm.exciseFrom(spark, path,
      corpus.filter(col("doc_id") === 2), "text", "takedown-1"))
    val survivorScores = BigramLm.load(spark, path)
      .score(Seq((9L, "a b z c")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(_.toSeq).toSet
    // simulate the crash window: the excised model was staged at -next
    // and the live dir renamed aside — the JVM died before the second
    // rename, leaving no artifact at the live path
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(s"$path-next")))
    new java.io.File(s"$path-old").mkdirs()
    // reopen adopts the complete staged next instead of missing
    val before = BigramLm.trainCount
    val adopted = BigramLm.loadIfValid(spark, path, "takedown-1")
    assert(adopted.isDefined,
      "loadIfValid must adopt a complete orphaned -next, not rebuild")
    assert(BigramLm.trainCount === before, "adoption runs zero training jobs")
    assert(!new java.io.File(s"$path-next").exists())
    assert(!new java.io.File(s"$path-old").exists())
    assert(adopted.get
      .score(Seq((9L, "a b z c")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(_.toSeq).toSet === survivorScores,
      "the adopted model is bit-identical to the staged excised model")
  }

  test("score joins stay key-partitioned (no corpus broadcast, no BNLJ)") {
    val lm = BigramLm.train(train, "text")
    val plan = lm.score(heldout, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }
}
