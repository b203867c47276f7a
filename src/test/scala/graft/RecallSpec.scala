package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.SimilarityQueries
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Quantitative recall of every approximate path against the in-repo exact
  * formulation, so a silent recall regression fails the build. Bounds are
  * documented per operator; measured values on the sf0.001 fixture are
  * printed in the assertion message.
  *
  * - ann_lsh_topk buckets UNIT vectors (Euclidean geometry monotone in
  *   cosine) and re-ranks candidates by exact cosine, so only bucketing
  *   loss remains: recall@5 >= 0.9.
  * - ann_ivf_topk (multi-probe, nprobe=6 of 8 cells — the fixture's
  *   embeddings are near-random in cosine, so neighbors scatter across
  *   balanced spherical cells) must reach recall@5 >= 0.9.
  * - dedup_minhash_lsh generates candidates by MinHash banding but
  *   exact-scores them, so against exact Jaccard pairs at its own
  *   threshold (dist <= 0.4) only banding loss remains.
  * - dedup_simhash has EXACT recall at hamming <= 3 by pigeonhole — parity
  *   (recall 1.0) is asserted in DedupScaleSpec.
  */
class RecallSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def topkPairs(name: String): Map[Long, Set[Long]] =
    SimilarityQueries.queries(name)(spark, TestSpark.sfDir)
      .select("q_id", "c_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, cs) => q -> cs.map(_._2).toSet }

  /** recall@k: fraction of exact top-k neighbors found by the approx path. */
  private def recallAtK(approx: Map[Long, Set[Long]],
      exact: Map[Long, Set[Long]]): Double = {
    val hits = exact.map { case (q, ex) =>
      ex.intersect(approx.getOrElse(q, Set.empty)).size
    }.sum
    hits.toDouble / exact.values.map(_.size).sum
  }

  test("ann_lsh_topk recall@5 vs exact cosine top-k >= 0.9") {
    val r = recallAtK(topkPairs("ann_lsh_topk"), topkPairs("ann_bruteforce_topk"))
    assert(r >= 0.9, s"ann_lsh_topk recall@5 = $r")
  }

  test("ann_ivf_topk (multi-probe) recall@5 vs exact cosine top-k >= 0.9") {
    val r = recallAtK(topkPairs("ann_ivf_topk"), topkPairs("ann_bruteforce_topk"))
    assert(r >= 0.9, s"ann_ivf_topk recall@5 = $r")
  }

  test("minhash pairs are deterministic across runs for a fixed seed") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    def run(): Set[(Long, Long)] = Dedup.minhashPairs(docs, "doc_id", "text")
      .select("doc_id_1", "doc_id_2").as[(Long, Long)].collect().toSet
    val a = run(); val b = run()
    assert(a == b && a.nonEmpty, "minhash banding must be seed-deterministic")
  }

  test("dedup_minhash_lsh recall vs exact jaccard pairs at dist <= 0.4 is >= 0.9") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val approx = Dedup.minhashPairs(docs, "doc_id", "text")
      .select("doc_id_1", "doc_id_2").as[(Long, Long)].collect().toSet
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
      .filter(col("jaccard") >= 0.6)
      .select("doc_id_1", "doc_id_2").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture has no jaccard>=0.6 pairs; recall undefined")
    val r = exact.intersect(approx).size.toDouble / exact.size
    assert(r >= 0.9, s"dedup_minhash_lsh recall = $r (exact=${exact.size})")
  }

  test("IvfIndex lifecycle: probing every cell is exact; index reused across query sets") {
    import graft.operators.IvfIndex
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val index = IvfIndex.build(emb, "vec_id", "embedding", nCells = 8)
    try {
      // nprobe == nCells scores every candidate -> exact top-k pair set
      val q1 = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val full = index.topK(q1, k = 5, nprobe = 8)
        .select("q_id", "c_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, cs) => q -> cs.map(_._2).toSet }
      val exact = topkPairs("ann_bruteforce_topk")
      assert(recallAtK(full, exact) === 1.0, "full-probe IVF must equal brute force")
      // a SECOND query set against the SAME index (no re-fit): sane output
      val q2 = emb.filter(col("vec_id") >= 5 && col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val second = index.topK(q2, k = 3, nprobe = 8).collect()
      assert(second.length == 9, s"3 queries x k=3, got ${second.length}")
    } finally index.close()
  }

  test("matryoshka prefix re-rank keeps full recall on a front-loaded fixture") {
    // The operator's contract is an MRL-style embedding whose leading
    // coordinates carry the signal. Build one: 500 vectors whose first 16
    // dims are a deterministic pseudo-random direction and whose 48 tail
    // dims are the SAME direction's continuation scaled by 0.1 — prefix
    // cosine then tracks full cosine tightly, so the 50-of-500 shortlist
    // must keep every exact top-5 neighbor.
    def noise(i: Long, j: Int, scale: Float): Float = {
      // cheap deterministic LCG on (i, j); values in [-1, 1)
      val x = (i * 6364136223846793005L + j * 1442695040888963407L + 11L)
      ((x >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0).toFloat * scale
    }
    val rows = (0L until 500L).map { i =>
      val head = Array.tabulate(16)(j => noise(i, j, 1.0f))
      val tail = Array.tabulate(48)(j => noise(i, j + 16, 0.1f))
      (i, head ++ tail)
    }
    val emb = rows.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val approx = SimilarityQueries.matryoshkaTop5On(emb)
      .select("q_id", "c_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, cs) => q -> cs.map(_._2).toSet }
    // exact full-dimension top-5 per query (independent formulation)
    import graft.functions.functions.{vec_dot, vec_l2norm}
    val n = emb.withColumn("nrm", vec_l2norm(col("embedding")))
    val q = n.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"), col("nrm").as("qn"))
    val c = n.select(col("vec_id").as("c_id"), col("embedding").as("cv"), col("nrm").as("cn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("cos"), col("c_id"))
    val exact = c.crossJoin(broadcast(q)).filter(col("q_id") =!= col("c_id"))
      .withColumn("cos", round(vec_dot(col("qv"), col("cv"))
        / (col("qn") * col("cn")) * 1e6, 0) / 1e6)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select("q_id", "c_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (qq, cs) => qq -> cs.map(_._2).toSet }
    val r = recallAtK(approx, exact)
    assert(r === 1.0, s"matryoshka recall@5 on the front-loaded fixture = $r")
    // and the shortlist really is a shortlist: 5 queries x top-5 output
    assert(approx.values.map(_.size).sum === 25)
  }

  test("matryoshka degenerates to exact brute force at full prefix + corpus-wide shortlist") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val degenerate = SimilarityQueries.matryoshkaTop5On(emb,
        prefixDims = 64, shortlist = 1000)
      .select("q_id", "c_id", "rank").as[(Long, Long, Int)].collect().toSet
    val exact = SimilarityQueries.queries("ann_bruteforce_topk")(spark, TestSpark.sfDir)
      .select("q_id", "c_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(degenerate === exact,
      "full-prefix, uncut matryoshka must equal the brute-force top-5")
  }
}
