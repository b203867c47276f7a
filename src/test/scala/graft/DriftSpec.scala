package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IvfIndex, PqIndex}

/** Quantizer/codebook drift maintenance: appendTo assigns arrivals under
  * the FROZEN build-time quantizer forever, so a shifted corpus silently
  * degrades the index. These specs plant exactly that: drifted appends
  * make partial-probe recall drop (IVF) / quantization error jump (PQ),
  * staleness() flags it from metadata + a bounded sample, and retrain()
  * restores the quality gate while preserving the idempotency ledger. */
class DriftSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Tight 4-d direction clusters: cosine geometry separates them fully. */
  private def cluster(dir: Array[Double], n: Int, idBase: Long,
      jitter: Double): Seq[(Long, Seq[Float])] =
    (0 until n).map { i =>
      // deterministic per-index jitter, no RNG state
      val j = ((i * 2654435761L % 1000) / 1000.0 - 0.5) * 2 * jitter
      val v = dir.zipWithIndex.map { case (x, d) =>
        (x + (if (d == (i % dir.length)) j else 0.0)).toFloat }
      (idBase + i, v.toSeq)
    }

  test("IVF: drifted appends drop partial-probe recall; staleness flags; retrain restores") {
    val path = "target/ivf-drift-test"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    val base = (
      cluster(Array(10, 0, 0, 0), 100, 0, 0.5) ++
      cluster(Array(0, 10, 0, 0), 100, 1000, 0.5) ++
      cluster(Array(0, 0, 10, 0), 100, 2000, 0.5) ++
      cluster(Array(0, 0, 0, 10), 100, 3000, 0.5)).toDF("vec_id", "embedding")
    val built = IvfIndex.build(base, "vec_id", "embedding", nCells = 4)
    try {
      built.write(path, source = "base")
      val fresh = IvfIndex.staleness(spark, path)
      assert(!fresh.stale, s"freshly built index reported stale: $fresh")

      // the drifted arrival: a NEW direction between the first two build
      // clusters, members leaning alternately toward each — under the
      // frozen quantizer they SPLIT across the two old cells, so a
      // 1-probe query over the new region can only ever see half of them
      val drifted = (0 until 400).map { i =>
        val lean = if (i % 2 == 0) 0.4 else -0.4
        (10000L + i, Seq((7.0 + lean).toFloat, (7.0 - lean).toFloat,
          (i % 7) * 0.01f, 0.0f))
      }.toDF("vec_id", "embedding")
      assert(IvfIndex.appendTo(spark, path, drifted, "vec_id", "embedding",
        newSource = "drift-day"), "append refused")

      val report = IvfIndex.staleness(spark, path)
      assert(report.stale, s"drift not flagged: $report")
      assert(report.fracAppended >= 0.5 - 1e-9, s"fracAppended off: $report")

      // recall at nprobe=1 over the drifted region, vs exact cosine truth
      def recallAt1(idx: IvfIndex): Double = {
        // balanced between the two old cells on purpose: each query's true
        // top-10 mixes A-leaning and B-leaning drifted members (selected
        // by the tiny 3rd-coordinate jitter), but a 1-probe search sees
        // only ONE old cell's half
        val queries = Seq(
          (90001L, Seq(7.0f, 7.0f, 0.01f, 0.0f)),
          (90002L, Seq(7.0f, 7.0f, 0.03f, 0.0f)),
          (90003L, Seq(7.0f, 7.0f, 0.05f, 0.0f))).toDF("q_id", "qv")
        val got = idx.topK(queries, k = 10, nprobe = 1)
          .select("q_id", "c_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
          .view.mapValues(_.map(_._2).toSet).toMap
        // exact truth driver-side over the full population (bounded fixture)
        val all = base.union(drifted).collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
        def cos(a: Array[Double], b: Array[Double]): Double = {
          val d = a.zip(b).map { case (x, y) => x * y }.sum
          d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
        }
        val qs = Map(
          90001L -> Array(7.0, 7.0, 0.01, 0.0),
          90002L -> Array(7.0, 7.0, 0.03, 0.0),
          90003L -> Array(7.0, 7.0, 0.05, 0.0))
        val recalls = qs.map { case (qid, qv) =>
          val truth = all.sortBy { case (id, v) => (-cos(qv, v), id) }
            .take(10).map(_._1).toSet
          got.get(qid).map(g => (g & truth).size / 10.0).getOrElse(0.0)
        }
        recalls.sum / recalls.size
      }
      val stale = IvfIndex.load(spark, path)
      val staleRecall = recallAt1(stale)
      assert(staleRecall <= 0.7,
        s"drift fixture failed to hurt recall: $staleRecall")

      // retrain: fresh quantizer over the CURRENT population — the heavy
      // drifted direction earns its own cell, recall at the same nprobe
      // recovers, the report resets, and the ledger survives
      val rebuilt = IvfIndex.retrain(spark, path, nCells = 4,
        newSource = "retrain-1")
      ManifestFields.pin(path, Map(
        "version" -> "1", "source" -> "retrain-1",
        "appliedSources" -> "base\u0001drift-day\u0001retrain-1",
        "buildCellSizes" -> "0:500,1:100,2:100,3:100",
        "centroidSha" -> "c406d7533027c953fb7181e13fa295fa9ee925ae33ef5d76b21b43f2a2b8c339",
        "nCells" -> "4", "rows" -> "800", "tombRows" -> "0"))
      val recovered = recallAt1(rebuilt)
      assert(recovered >= 0.9,
        s"retrain did not restore recall: $staleRecall -> $recovered")
      assert(recovered > staleRecall, "retrain must improve the planted case")
      val after = IvfIndex.staleness(spark, path)
      assert(!after.stale, s"freshly retrained index reported stale: $after")
      assert(after.fracAppended === 0.0)
      // idempotency ledger carried over: pre-retrain batches stay refused
      assert(!IvfIndex.appendTo(spark, path, drifted, "vec_id", "embedding",
        newSource = "drift-day"), "retrain dropped the applied ledger")
      assert(IvfIndex.loadIfValid(spark, path, "retrain-1").isDefined,
        "retrained manifest failed to validate")
      // the actuation wrapper: a healthy index is a ZERO-BUILD no-op...
      val builds = IvfIndex.buildsRun.get()
      assert(!IvfIndex.refitIfStale(spark, path, nCells = 4, "refit-noop"),
        "refitIfStale must not fire on a healthy index")
      assert(IvfIndex.buildsRun.get() === builds,
        "the no-drift branch must run zero build jobs")
      // ...and a re-drifted one fires exactly one refit and recovers
      val drifted2 = (0 until 1200).map { i =>
        val lean = if (i % 2 == 0) 0.4 else -0.4
        (20000L + i, Seq((7.0 + lean).toFloat, (7.0 - lean).toFloat,
          (i % 7) * 0.01f, 0.0f))
      }.toDF("vec_id", "embedding")
      assert(IvfIndex.appendTo(spark, path, drifted2, "vec_id", "embedding",
        newSource = "drift-day-2"))
      assert(IvfIndex.refitIfStale(spark, path, nCells = 4, "refit-1"),
        "refitIfStale must fire on the re-drifted index")
      assert(!IvfIndex.staleness(spark, path).stale)
      assert(IvfIndex.loadIfValid(spark, path, "refit-1").isDefined)
    } finally built.close()
  }

  test("PQ: out-of-distribution appends inflate sample MSE; staleness flags; retrain restores") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val path = "target/pq-drift-test"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    val basePart = emb.filter(col("vec_id") % 2 === 0)
    val built = PqIndex.build(basePart, "vec_id", "embedding", m = 8, ksub = 16)
    try {
      built.write(path, source = "base")
      val fresh = PqIndex.staleness(spark, path)
      assert(!fresh.stale, s"freshly built index reported stale: $fresh")
      // drifted arrivals: scaled + shifted far outside the codebook's
      // fitted range — the frozen codebook quantizes them terribly
      val drifted = emb.filter(col("vec_id") % 2 =!= 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * 10.0f + 3.0f).as("embedding"))
      assert(PqIndex.appendTo(spark, path, drifted, "vec_id", "embedding",
        newSource = "drift-day"), "append refused")
      val report = PqIndex.staleness(spark, path)
      assert(report.stale, s"drift not flagged: $report")
      assert(report.nowMse > 2.0 * report.buildMse,
        s"planted OOD batch did not inflate MSE: $report")
      // retrain fits the codebook to the combined population: the sample
      // error drops back under the staleness bar and the report resets
      PqIndex.retrain(spark, path, m = 8, ksub = 16, newSource = "retrain-1")
      ManifestFields.pin(path, Map(
        "version" -> "1", "source" -> "retrain-1",
        "appliedSources" -> "base\u0001drift-day\u0001retrain-1",
        "buildMse" -> "26.199563774925966", "buildRows" -> "500",
        "codebookSha" -> "686ebe4a26f82903c467abb52e4411378d93c8cc6e5497391667ca963c4a0bef",
        "ksub" -> "16", "m" -> "8", "rows" -> "500", "tombRows" -> "0"))
      val after = PqIndex.staleness(spark, path)
      assert(!after.stale, s"retrained index reported stale: $after")
      assert(after.fracAppended === 0.0)
      assert(!PqIndex.appendTo(spark, path, drifted, "vec_id", "embedding",
        newSource = "drift-day"), "retrain dropped the applied ledger")
      assert(PqIndex.loadIfValid(spark, path, "retrain-1").isDefined,
        "retrained manifest failed to validate")
      // the actuation wrapper (r18, IvfIndex.refitIfStale's PQ twin): a
      // healthy codebook is a ZERO-BUILD no-op...
      val builds = PqIndex.buildCount
      assert(!PqIndex.refitIfStale(spark, path, m = 8, ksub = 16, "refit-noop"),
        "refitIfStale must not fire on a healthy codebook")
      assert(PqIndex.buildCount === builds,
        "the no-drift branch must run zero build jobs")
      // ...and a re-drifted one fires exactly one refit and resets
      val drifted2 = emb.filter(col("vec_id") % 2 =!= 0)
        .select((col("vec_id") + 2000000L).as("vec_id"),
          transform(col("embedding"), x => x * 20.0f - 5.0f).as("embedding"))
      assert(PqIndex.appendTo(spark, path, drifted2, "vec_id", "embedding",
        newSource = "drift-day-2"))
      assert(PqIndex.refitIfStale(spark, path, m = 8, ksub = 16, "refit-1"),
        "refitIfStale must fire on the re-drifted codebook")
      assert(!PqIndex.staleness(spark, path).stale)
      assert(PqIndex.loadIfValid(spark, path, "refit-1").isDefined)
    } finally built.close()
  }
}
