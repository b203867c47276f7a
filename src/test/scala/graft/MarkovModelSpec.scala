package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.MarkovModel

/** Durable first-order Markov-model lifecycle (the BigramLm TRAIN/SERVE
  * split over event transitions): pairs-derivation determinism, write ->
  * manifest-validated reload with zero training jobs, exact matrix/score
  * parity between the in-session and reloaded model, hand-computed
  * scoring semantics, and source-tag invalidation. */
class MarkovModelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val path = "target/markov-model-test/model"

  // user 1: a->b->a (pairs a->b, b->a); user 2: a->a (pair a->a)
  private def fixture = Seq(
    (1L, "a", 10L, 100L), (1L, "b", 20L, 101L), (1L, "a", 30L, 102L),
    (2L, "a", 10L, 103L), (2L, "a", 40L, 104L))
    .toDF("user_id", "event_type", "ts", "event_id")

  private def fixturePairs =
    MarkovModel.pairs(fixture, "user_id", "event_type", Seq("ts", "event_id"))

  test("pairs derivation: one lead() per user over the total order") {
    val got = fixturePairs.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(got === Seq((1L, "a", "b"), (1L, "b", "a"), (2L, "a", "a")))
  }

  test("transitions matrix and hand-computed probabilities") {
    val m = MarkovModel.train(fixturePairs)
    val t = m.transitions().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .sorted.toSeq
    // from a: a->a (1), a->b (1) of 2; from b: b->a (1) of 1
    assert(t === Seq(("a", "a", 1L, 0.5), ("a", "b", 1L, 0.5),
      ("b", "a", 1L, 1.0)))
  }

  test("session scoring: exact micro-nat surprise, truncating division") {
    val m = MarkovModel.train(fixturePairs)
    val s = m.scoreSessions(fixturePairs, "user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // q(a->a) = q(a->b) = round(ln(0.5)*1e6) = -693147; q(b->a) = 0
    // user 1: -(q(a->b)+q(b->a)) DIV 2 = 693147 DIV 2 = 346573
    // user 2: -q(a->a) DIV 1 = 693147
    assert(s === Seq((1L, 2L, 346573L), (2L, 1L, 693147L)))
  }

  test("written + reloaded model serves the in-session matrix and scores exactly") {
    val trained = MarkovModel.train(fixturePairs)
    trained.write(path, source = "spec-v1")
    val loaded = MarkovModel.load(spark, path)
    assert(loaded.transitions().collect().map(_.toSeq).toSet ===
      trained.transitions().collect().map(_.toSeq).toSet)
    assert(loaded.scoreSessions(fixturePairs, "user_id")
      .collect().map(_.toSeq).toSet ===
      trained.scoreSessions(fixturePairs, "user_id")
        .collect().map(_.toSeq).toSet)
  }

  test("manifest-validated reload runs zero training jobs; wrong source refuses") {
    MarkovModel.train(fixturePairs).write(path, source = "spec-v1")
    ManifestFields.pin(path, Map(
      "version" -> "1", "source" -> "spec-v1", "countRows" -> "3",
      "totalRows" -> "2"))
    val before = MarkovModel.trainCount
    val hit = MarkovModel.loadIfValid(spark, path, "spec-v1")
    assert(hit.isDefined, "valid manifest refused")
    assert(MarkovModel.trainCount === before, "reload ran a training aggregate")
    assert(hit.get.transitions().count() === 3)
    assert(MarkovModel.loadIfValid(spark, path, "spec-v2").isEmpty)
    // corrupted manifest invalidates, not crashes
    val mPath = new org.apache.hadoop.fs.Path(s"$path/_MANIFEST.properties")
    val fs = mPath.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(mPath, true)
    out.write("version=999\n".getBytes("UTF-8")); out.close()
    assert(MarkovModel.loadIfValid(spark, path, "spec-v1").isEmpty)
  }

  test("truncated model table fails row-count validation") {
    val trained = MarkovModel.train(fixturePairs)
    trained.write(path, source = "spec-v1")
    // overwrite counts with a truncated table, leaving the manifest
    trained.counts.limit(1).write.mode("overwrite")
      .parquet(s"$path/counts-tmp")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/counts"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$path/counts-tmp"),
      new org.apache.hadoop.fs.Path(s"$path/counts"))
    assert(MarkovModel.loadIfValid(spark, path, "spec-v1").isEmpty)
  }

  test("appendTo merges counts exactly, keeps a ledger, refuses torn tables") {
    val even = fixturePairs.filter(org.apache.spark.sql.functions
      .col("user_id") % 2 === 0)
    val odd = fixturePairs.filter(org.apache.spark.sql.functions
      .col("user_id") % 2 === 1)
    val path = "target/markov-model-test/appended"
    MarkovModel.train(even).write(path, source = "base")
    assert(MarkovModel.appendTo(spark, path, odd, "day-1"))
    ManifestFields.pin(path, Map(
      "version" -> "1", "source" -> "day-1",
      "appliedSources" -> "base\u0001day-1", "countRows" -> "3",
      "totalRows" -> "2"))
    // additive counts: appended == full train, bit for bit
    val appended = MarkovModel.load(spark, path)
    val full = MarkovModel.train(fixturePairs)
    assert(appended.transitions().collect().map(_.toSeq).toSet ===
      full.transitions().collect().map(_.toSeq).toSet)
    // replayed batch is a ledger no-op; nothing double-counts
    assert(!MarkovModel.appendTo(spark, path, odd, "day-1"))
    assert(MarkovModel.load(spark, path).transitions()
      .collect().map(_.toSeq).toSet ===
      full.transitions().collect().map(_.toSeq).toSet)
    // latest source reopens zero-train; the stale base tag refuses
    val before = MarkovModel.trainCount
    assert(MarkovModel.loadIfValid(spark, path, "day-1").isDefined)
    assert(MarkovModel.trainCount === before)
    assert(MarkovModel.loadIfValid(spark, path, "base").isEmpty)
    // a torn table (rows landed, manifest didn't) refuses further appends
    appended.counts.limit(1).write.mode("append").parquet(s"$path/counts")
    val e = intercept[IllegalArgumentException] {
      MarkovModel.appendTo(spark, path, odd, "day-2")
    }
    assert(e.getMessage.contains("manifest"))
    // ...but a replay of an ALREADY-APPLIED tag still no-ops on the torn
    // artifact (the idempotent-retry contract: a queue replaying its
    // backlog must skip applied batches, not crash on unrelated tears)
    assert(!MarkovModel.appendTo(spark, path, odd, "day-1"),
      "an applied tag must no-op before the torn-table recount")
  }

  test("exciseFrom unlearns a cohort exactly, keeps a ledger, drops " +
      "zeroed classes, and refuses non-subset batches") {
    val path = "target/markov-model-test/excised"
    val user2 = fixturePairs.filter(col("user_id") === 2)
    MarkovModel.train(fixturePairs).write(path, source = "base")
    assert(MarkovModel.exciseFrom(spark, path, user2, "takedown-1"))
    ManifestFields.pin(path, Map(
      "version" -> "1", "source" -> "takedown-1",
      "appliedSources" -> "base\u0001takedown-1", "countRows" -> "2",
      "totalRows" -> "2"))
    // exact unlearning: excised == fresh train on the survivor, bit for
    // bit — AND the a->a class (only user 2's) dropped at count zero
    val excised = MarkovModel.load(spark, path)
    val survivor = MarkovModel.train(
      fixturePairs.filter(col("user_id") =!= 2))
    assert(excised.transitions().collect().map(_.toSeq).toSet ===
      survivor.transitions().collect().map(_.toSeq).toSet)
    assert(excised.counts.filter(col("from_type") === "a" &&
      col("to_type") === "a").count() === 0L,
      "a class whose count reached zero must be dropped, as a fresh " +
        "survivor train would")
    // replayed excise is a ledger no-op; nothing double-subtracts
    assert(!MarkovModel.exciseFrom(spark, path, user2, "takedown-1"))
    assert(MarkovModel.load(spark, path).transitions()
      .collect().map(_.toSeq).toSet ===
      survivor.transitions().collect().map(_.toSeq).toSet)
    // the excise tag reopens zero-train; the stale base tag refuses
    val before = MarkovModel.trainCount
    assert(MarkovModel.loadIfValid(spark, path, "takedown-1").isDefined)
    assert(MarkovModel.trainCount === before)
    assert(MarkovModel.loadIfValid(spark, path, "base").isEmpty)
    // UNSEEN class: a batch with a transition the model never trained on
    // is refused, never clamped
    val unseen = Seq((9L, "z", "z")).toDF("user_id", "from_type", "to_type")
    val e1 = intercept[IllegalArgumentException] {
      MarkovModel.exciseFrom(spark, path, unseen, "takedown-2")
    }
    assert(e1.getMessage.contains("unseen"), e1.getMessage)
    // OVER-SUBTRACTION: excising user 1's pairs twice as one batch would
    // drive b->a negative — refused, and the refusal commits nothing
    // (the tag stays replayable)
    val user1 = fixturePairs.filter(col("user_id") === 1)
    val doubled = user1.unionByName(user1)
    val e2 = intercept[IllegalArgumentException] {
      MarkovModel.exciseFrom(spark, path, doubled, "takedown-3")
    }
    assert(e2.getMessage.contains("over-subtracted"), e2.getMessage)
    assert(MarkovModel.load(spark, path).transitions()
      .collect().map(_.toSeq).toSet ===
      survivor.transitions().collect().map(_.toSeq).toSet,
      "a refused excise must leave the model untouched")
    // a torn table (rows landed, manifest didn't) refuses further excises
    excised.counts.limit(1).write.mode("append").parquet(s"$path/counts")
    val e3 = intercept[IllegalArgumentException] {
      MarkovModel.exciseFrom(spark, path, user1, "takedown-4")
    }
    assert(e3.getMessage.contains("manifest"))
  }

  test("serve plans stay bounded: broadcast model join, no corpus window") {
    val m = MarkovModel.train(fixturePairs)
    val plan = m.scoreSessions(fixturePairs, "user_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(plan.contains("BroadcastHashJoin"),
      "the matrix-sized surprise table must broadcast")
  }
}
