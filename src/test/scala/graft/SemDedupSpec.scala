package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IvfIndex}

/** SemDeDup (cluster-scoped semantic dedup): the quadratic pair scoring
  * runs WITHIN k-means cells only, so correctness rests on (a) the
  * within-cell scoring being exact and (b) near-dup pairs co-clustering.
  *
  * - within-cell scoring is exact, so the semantic pair set is always a
  *   SUBSET of the exact all-pairs set (it can miss, never invent), and
  *   on a fixture whose qualifying pairs all co-cluster it EQUALS it.
  * - planted near-identical vectors must co-cluster at any nCells (they
  *   quantize to the same cell) and the keep rule must retain the member
  *   farthest from its centroid (the paper's representative choice).
  * - singletons keep themselves; every indexed vector gets a keep row.
  */
class SemDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // two well-separated directions, each with a near-dup pair planted, plus
  // a lone vector per direction: 6 vectors, 2 qualifying pairs at >= 0.99
  private lazy val fixture = Seq(
    (1L, Array(1.0f, 0.02f, 0.0f, 0.0f)),
    (2L, Array(1.0f, 0.0f, 0.02f, 0.0f)),   // near-dup of 1
    (3L, Array(0.6f, 0.5f, 0.4f, 0.3f)),    // same half-space, not a dup
    (10L, Array(-0.02f, 0.0f, 0.0f, 1.0f)),
    (11L, Array(0.0f, -0.02f, 0.0f, 1.0f)), // near-dup of 10
    (12L, Array(0.3f, -0.4f, 0.5f, 0.8f))   // same half-space, not a dup
  ).toDF("vec_id", "embedding")

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("vec_id_1", "vec_id_2").as[(Long, Long)].collect().toSet

  test("semantic pairs are a subset of exact all-pairs on the fixture corpus") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val idx = IvfIndex.build(emb, "vec_id", "embedding", nCells = 2,
      sampleSize = 512)
    val sem = pairSet(Dedup.semanticPairs(idx, minCosine = 0.3))
    val exact = pairSet(Dedup.embeddingCosinePairsExact(
      emb, "vec_id", "embedding", minCosine = 0.3))
    assert(sem.nonEmpty, "fixture should produce at least one pair at 0.3")
    assert(sem.subsetOf(exact), "within-cell scoring must never invent pairs")
    idx.close()
  }

  test("planted near-dups co-cluster and score exactly, at any nCells") {
    val idx = IvfIndex.build(fixture, "vec_id", "embedding", nCells = 2,
      sampleSize = 64)
    val sem = Dedup.semanticPairs(idx, minCosine = 0.99)
    assert(pairSet(sem) === Set((1L, 2L), (10L, 11L)))
    // cosine is the exact raw-vector value, not a quantized surrogate
    val exact = Dedup.embeddingCosinePairsExact(fixture, "vec_id", "embedding",
        minCosine = 0.99)
      .select("vec_id_1", "vec_id_2", "cosine")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    Dedup.semanticPairs(idx, minCosine = 0.99)
      .select("vec_id_1", "vec_id_2", "cosine")
      .as[(Long, Long, Double)].collect().foreach { case (a, b, c) =>
        assert(math.abs(c - exact((a, b))) < 1e-12)
      }
    idx.close()
  }

  test("keep rule retains the farthest-from-centroid member per cluster") {
    val idx = IvfIndex.build(fixture, "vec_id", "embedding", nCells = 2,
      sampleSize = 64)
    val keep = Dedup.semanticKeep(idx, minCosine = 0.99)
      .as[(Long, Long)].collect().toMap
    // every vector resolved; singletons keep themselves
    assert(keep.keySet === Set(1L, 2L, 3L, 10L, 11L, 12L))
    assert(keep(3L) === 3L && keep(12L) === 12L)
    // each planted pair collapses to ONE keeper, shared by both members
    assert(keep(1L) === keep(2L) && Set(1L, 2L).contains(keep(1L)))
    assert(keep(10L) === keep(11L) && Set(10L, 11L).contains(keep(10L)))
    // and the keeper is the member with the LOWER centroid cosine
    val cent = idx.centroids.toDF("cell", "centroid")
    val centCos = idx.cells.join(broadcast(cent), Seq("cell"))
      .withColumn("cc", graft.functions.functions.vec_dot(col("cv"), col("centroid"))
        / (col("cn") * graft.functions.functions.vec_l2norm(col("centroid"))))
      .select("c_id", "cc").as[(Long, Double)].collect().toMap
    Seq(Set(1L, 2L), Set(10L, 11L)).foreach { cluster =>
      val expected = cluster.minBy(id => (centCos(id), id))
      assert(keep(cluster.head) === expected,
        s"cluster $cluster kept ${keep(cluster.head)}, " +
          s"expected farthest-from-centroid $expected (cos $centCos)")
    }
    idx.close()
  }

  test("the driver gate's exact side and semantic side agree on the fixture dir") {
    val gate = queries.DedupQueries.queries("dedup_semantic_recall")(
      spark, TestSpark.sfDir).collect()
    assert(gate.length === 1)
    val r = gate(0)
    assert(r.getAs[Long]("n_exact") === r.getAs[Long]("n_found"),
      s"semantic pairs missed ${r.getAs[Long]("n_exact") - r.getAs[Long]("n_found")} " +
        "exact pairs on the fixture")
    assert(r.getAs[Double]("recall") === 1.0)
  }

  test("semantic decontamination: a planted eval copy is flagged at cosine 1.0, " +
      "an orthogonal vector is not") {
    // eval row 0 = (1,0,0,0); corpus row 1 = a scaled copy (cosine 1.0,
    // must be flagged), corpus row 3 orthogonal (cosine 0, clean), corpus
    // row 11 at 45 degrees (cosine ~0.7071 — below the 0.9 threshold, so
    // it stays clean, pinning that near-but-not-contaminated survives)
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(2f, 0f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f, 0f)),
      (11L, Array(1f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val got = queries.SimilarityQueries.semanticContaminationOn(
        emb, col("vec_id") % 10 === 0, minCosine = 0.9)
      .orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    assert(got.toSeq === Seq(
      (1L, 1.0, true),
      (3L, 0.0, false),
      (11L, 0.707107, false)))
    // an EMPTY eval set keeps every corpus vector, unflagged with a null
    // max — matching the streaming twin's left-anti against an empty
    // side, and never vanishing the corpus
    val noEval = queries.SimilarityQueries.semanticContaminationOn(
        emb, lit(false), minCosine = 0.9)
      .orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.isNullAt(1), r.getBoolean(2)))
    assert(noEval.toSeq ===
      Seq((0L, true, false), (1L, true, false), (3L, true, false), (11L, true, false)))
  }

  test("blocked exact kernel equals the generic join formulation " +
      "(duplicate ids, zero norms, cross-block orientation)") {
    // ids chosen to scatter across xxhash64 blocks in both orientations;
    // a duplicate-id row (7L twice) must pair with OTHERS but never with
    // its twin (strict vec_id_1 < vec_id_2), and the all-zero vector must
    // drop at the threshold via its NaN cosine
    val rows = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(d => (math.sin((i * 3 + d).toDouble) * 0.7).toFloat))
    } ++ Seq(
      (7L, Array.tabulate(8)(d => (math.cos(d) * 0.5).toFloat)),
      (41L, Array.fill(8)(0.0f)))
    val df = rows.toDF("vec_id", "embedding")
    // reference: the broadcast cross-join formulation. The zero-norm row
    // 41 goes through BOTH: the kernel drops its NaN cosine at the Java
    // `>=`, and the reference's nrm > 0 pre-filter drops it identically
    // (Spark's nan-safe `>=` sorts NaN above all values and would KEEP
    // NaN pairs; NaN > 0 is true under the same ordering, hence the
    // isnan guard), so set equality plus the explicit no-41 assertion
    // below pins the zero-norm contract.
    val pos = df.select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", graft.functions.functions.vec_l2norm(col("v")))
      .filter(col("nrm") > 0 && !isnan(col("nrm")))
    val ref = pos.select(col("vec_id").as("vec_id_1"), col("v").as("v1"),
        col("nrm").as("nrm1"))
      .crossJoin(broadcast(pos.select(col("vec_id").as("vec_id_2"),
        col("v").as("v2"), col("nrm").as("nrm2"))))
      .filter(col("vec_id_1") < col("vec_id_2"))
      .withColumn("cosine", graft.functions.functions.vec_dot(col("v1"),
        col("v2")) / (col("nrm1") * col("nrm2")))
      .filter(col("cosine") >= 0.35)
      .select("vec_id_1", "vec_id_2", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    val fast = Dedup.embeddingCosinePairsExact(df, "vec_id", "embedding",
        minCosine = 0.35)
      .as[(Long, Long, Double)].collect().toSet
    assert(fast === ref, "blocked kernel must reproduce the join formulation")
    assert(fast.nonEmpty && fast.exists { case (a, b, _) => a == 7L || b == 7L },
      "fixture must exercise duplicate-id pairing")
    assert(!fast.exists { case (a, b, _) => a == b }, "no self pairs")
    assert(!fast.exists { case (a, b, _) => a == 41L || b == 41L },
      "zero-norm vector must drop at the threshold")
    val refused = intercept[IllegalArgumentException](
      Dedup.embeddingCosinePairsExact(
        df.withColumn("vec_id", col("vec_id").cast("decimal(20,0)")),
        "vec_id", "embedding", minCosine = 0.35))
    assert(refused.getMessage.contains("DECIMAL(20,0)"))
  }

  test("kernel same-block enumeration is independent of array order (r20 advice)") {
    // the diagonal block pair's two sides come from INDEPENDENT
    // evaluations of a non-deterministic collect_list: the kernel must
    // emit the same pair set when one side arrives permuted, which the
    // former positional triangle (j = i + 1) did not guarantee
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def entry(id: Long): Any = {
      val v = Array.tabulate(6)(d => math.sin((id * 5 + d).toDouble) * 0.8)
      val nrm = math.sqrt(v.map(x => x * x).sum)
      new GenericInternalRow(Array[Any](id,
        new GenericArrayData(v.map(_.asInstanceOf[Any])), nrm))
    }
    val ids = (1L to 12L).toArray
    val ordered = new GenericArrayData(ids.map(entry))
    val permuted = new GenericArrayData(
      (ids.drop(5) ++ ids.take(5)).reverse.map(entry))
    def pairs(b: org.apache.spark.sql.catalyst.util.ArrayData) = {
      val out = graft.functions.CosinePairsBlock
        .score(ordered, b, same = true, vFloat = false, minCos = 0.2)
      (0 until out.numElements()).map { i =>
        val r = out.getStruct(i, 3)
        (r.getLong(0), r.getLong(1), r.getDouble(2))
      }.toSet
    }
    val same = pairs(ordered)
    assert(same.nonEmpty, "fixture must produce qualifying pairs")
    assert(pairs(permuted) === same,
      "a permuted same-block side must yield the identical pair set")
    assert(same.forall { case (a, b, _) => a < b }, "strict id order")
  }
}
