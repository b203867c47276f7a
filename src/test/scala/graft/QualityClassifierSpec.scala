package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.QualityClassifier

/** Trained quality/domain classifier lifecycle: exact decision arithmetic
  * on hand-computed fixtures, deterministic tie-breaks, and the durable
  * TRAIN/SERVE contract (manifest-validated reopen with zero training
  * jobs, exact score parity, invalidation on source/corruption). */
class QualityClassifierSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def seed = Seq(
    // class a: tokens all "aa"; class b: tokens all "bb"
    (1L, "aa aa aa", "a"),
    (2L, "aa aa aa", "a"),
    (3L, "bb bb bb", "b")).toDF("doc_id", "text", "label")

  test("predictions match the hand-computed expected-probability argmax") {
    val clf = QualityClassifier.train(seed, "text", "label")
    // model: counts a/aa=6, b/bb=3; classes a:(2 docs, 6 tok), b:(1, 3); v=2
    assert(clf.v === 2)
    val got = clf.score(Seq((10L, "aa aa"), (11L, "bb"), (12L, "cc cc"))
        .toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getDouble(3)))).toMap
    // doc 10 "aa aa": a: num=2*6+2=14, den=8, prior 2 -> 2*14/8=3.5
    //                 b: num=0+2=2,    den=5, prior 1 -> 1*2/5=0.4 -> a
    assert(got(10L) === ((2L, "a", 1.75)))   // expected_p = 14/8
    // doc 11 "bb": a: num=1, den=8 -> 2/8=0.25; b: num=3+1=4, den=5 -> 0.8 -> b
    assert(got(11L) === ((1L, "b", 0.8)))    // expected_p = 4/5
    // doc 12 all-OOV: a: num=2, den=8, prior 2 -> 0.5; b: num=2, den=5 -> 0.4
    // -> a (prior + smoothing mass decide, as NB does)
    assert(got(12L) === ((2L, "a", 0.25)))   // expected_p = 2/8
  }

  test("exact score ties break by label order, deterministically") {
    // perfectly symmetric classes: equal priors, equal totals, equal counts
    val sym = Seq((1L, "xx xx", "p"), (2L, "yy yy", "q"))
      .toDF("doc_id", "text", "label")
    val clf = QualityClassifier.train(sym, "text", "label")
    // "zz" is OOV for both: num=1, den=4, prior 1 on each side -> tie -> 'p'
    val r = clf.score(Seq((5L, "zz")).toDF("doc_id", "text"), "doc_id", "text")
      .head()
    assert(r.getString(2) === "p", s"tie must resolve to the first label: $r")
  }

  test("durable reload runs zero training jobs and scores identically") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val path = "target/quality-clf-spec"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    val trained = QualityClassifier.train(
      docs.filter(col("doc_id") % 5 === 0), "text", "lang")
    trained.write(path, source = "spec-v1")
    ManifestFields.pin(path, Map(
      "version" -> "1", "source" -> "spec-v1", "classRows" -> "5",
      "countRows" -> "153", "v" -> "31"))
    val before = QualityClassifier.trainCount
    val reloaded = QualityClassifier.loadIfValid(spark, path, "spec-v1")
    assert(reloaded.isDefined, "valid manifest refused to load")
    assert(QualityClassifier.trainCount === before,
      "loadIfValid ran a training job — the manifest did not short-circuit it")
    val held = docs.filter(col("doc_id") % 5 =!= 0)
    def rows(c: QualityClassifier) =
      c.score(held, "doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
        .toSet
    assert(rows(reloaded.get) === rows(trained),
      "durable model diverged from the in-session model")
    // guards: wrong source tag and a corrupted manifest both invalidate
    assert(QualityClassifier.loadIfValid(spark, path, "spec-v2").isEmpty)
    val mPath = new org.apache.hadoop.fs.Path(s"$path/_MANIFEST.properties")
    val fs = mPath.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(mPath, true)
    out.write("version=999\n".getBytes("UTF-8")); out.close()
    assert(QualityClassifier.loadIfValid(spark, path, "spec-v1").isEmpty)
  }

  test("every scored doc gets exactly one prediction (argmax is total)") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val clf = QualityClassifier.train(
      docs.filter(col("doc_id") % 5 === 0), "text", "lang")
    val held = docs.filter(col("doc_id") % 5 =!= 0)
    val preds = clf.score(held, "doc_id", "text")
    assert(preds.count() === held.count())
    assert(preds.select("doc_id").distinct().count() === held.count())
    // predicted labels come from the training label space
    val labels = docs.select("lang").distinct().as[String].collect().toSet
    val predLabels = preds.select("pred_label").distinct().as[String].collect().toSet
    assert(predLabels.subsetOf(labels), s"alien labels: ${predLabels -- labels}")
  }

  test("per-row scoring path matches the batch path row for row") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val clf = QualityClassifier.train(
      docs.filter(col("doc_id") % 5 === 0), "text", "lang")
    val held = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = clf.score(held, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getDouble(3))))
      .toMap
    val rows = clf.scoreRows(held, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getDouble(3))))
      .toMap
    assert(rows === batch, "rowScore diverged from the batch decision rule")
    // the tie-break replay too: symmetric classes, OOV probe -> first label
    val sym = QualityClassifier.train(
      Seq((1L, "xx xx", "p"), (2L, "yy yy", "q")).toDF("doc_id", "text", "label"),
      "text", "label")
    val r = sym.scoreRows(Seq((5L, "zz")).toDF("doc_id", "text"),
      "doc_id", "text").head()
    assert(r.getString(2) === "p", s"tie must resolve to the first label: $r")
  }

  test("exciseFrom unlearns a seed batch exactly — counts, priors, token " +
      "totals, whole classes, AND the vocabulary scalar — with ledger " +
      "no-op and non-subset refusals") {
    val path = "target/quality-clf-spec-excised"
    Seq(path, s"$path-next", s"$path-old").foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
    // doc 2 carries the only 'dog' (v must shrink) and doc 5 is the ONLY
    // 'de' seed (the whole class must vanish, as a fresh survivor train
    // would have no prior for it)
    val seeds = Seq(
      (1L, "the cat sat", "en"), (2L, "the dog sat sat", "en"),
      (3L, "le chat assis", "fr"), (4L, "le chien assis", "fr"),
      (5L, "der hund sitzt", "de"))
      .toDF("doc_id", "text", "lang")
    val takedown = seeds.filter(col("doc_id").isin(2L, 5L))
    QualityClassifier.train(seeds, "text", "lang").write(path, "base")
    assert(QualityClassifier.exciseFrom(spark, path, takedown, "text",
      "lang", "takedown-1"))
    ManifestFields.pin(path, Map(
      "version" -> "1", "source" -> "takedown-1",
      "appliedSources" -> "base\u0001takedown-1", "classRows" -> "2",
      "countRows" -> "7", "v" -> "7"))
    val excised = QualityClassifier.load(spark, path)
    val survivor = QualityClassifier.train(
      seeds.filter(!col("doc_id").isin(2L, 5L)), "text", "lang")
    assert(excised.v === survivor.v, "v must re-derive over the survivors")
    assert(excised.classes.count() === 2L,
      "the fully-excised 'de' class must be dropped")
    def eval(c: QualityClassifier) =
      c.score(Seq((9L, "the chat sat"), (10L, "der hund"), (11L, "le dog"))
          .toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(_.toSeq).toSet
    assert(eval(excised) === eval(survivor),
      "excised model must score identically to a fresh survivor train")
    // replayed excise is a ledger no-op; nothing double-subtracts
    assert(!QualityClassifier.exciseFrom(spark, path, takedown, "text",
      "lang", "takedown-1"))
    assert(eval(QualityClassifier.load(spark, path)) === eval(survivor))
    // the excise tag reopens zero-train; the stale base tag refuses
    val before = QualityClassifier.trainCount
    assert(QualityClassifier.loadIfValid(spark, path, "takedown-1").isDefined)
    assert(QualityClassifier.trainCount === before)
    assert(QualityClassifier.loadIfValid(spark, path, "base").isEmpty)
    // NON-SUBSET batches refuse before a byte is staged: an unseen
    // class, unseen (class, word) keys, and a double-counted batch
    val foreignClass = Seq((7L, "hola mundo", "es")).toDF("doc_id", "text", "lang")
    val e1 = intercept[IllegalArgumentException] {
      QualityClassifier.exciseFrom(spark, path, foreignClass, "text",
        "lang", "takedown-2")
    }
    assert(e1.getMessage.contains("unseen"), e1.getMessage)
    val doc1 = seeds.filter(col("doc_id") === 1)
    val e2 = intercept[IllegalArgumentException] {
      QualityClassifier.exciseFrom(spark, path, doc1.unionByName(doc1),
        "text", "lang", "takedown-3")
    }
    assert(e2.getMessage.contains("over-subtracted"), e2.getMessage)
    assert(eval(QualityClassifier.load(spark, path)) === eval(survivor),
      "a refused excise must leave the model untouched")
    // a torn table (rows landed, manifest didn't) refuses a NEW excise...
    excised.counts.limit(1).write.mode("append").parquet(s"$path/counts")
    val e3 = intercept[IllegalArgumentException] {
      QualityClassifier.exciseFrom(spark, path, doc1, "text", "lang",
        "takedown-4")
    }
    assert(e3.getMessage.contains("manifest"))
    // ...but a replay of an ALREADY-APPLIED tag still no-ops on it (the
    // idempotent-retry contract — the no-op precedes the recount)
    assert(!QualityClassifier.exciseFrom(spark, path, takedown, "text",
      "lang", "takedown-1"))
  }
}
