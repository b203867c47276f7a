package graft

import org.scalatest.Tag
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Slow scale-stress smokes (minutes, not milliseconds) — excluded from the
  * bench clock by construction (Bench runs driver queries, not ScalaTest);
  * run with the full suite or `testOnly graft.TenXScaleSmokeSpec`. */
object SlowTest extends Tag("graft.SlowTest")

/** Direct evidence for "would the dedup family survive a 10x scale-up",
  * instead of plan inspection: the sf0.1 documents corpus is materialized
  * at ~10x (salted copies) and pushed through every near-dup pair
  * generator plus cluster resolution once, asserting
  *
  *  - candidate/pair counts scale EXACTLY linearly (no quadratic blowup:
  *    every generator stays bucketed — shingle prefix, minhash band,
  *    simhash band — so disjoint copies can never pair up), and
  *  - runtime grows ≲ linearly (generous 15x bound on a 10x corpus to
  *    absorb local-mode noise; a quadratic operator would be ~100x),
  *    asserted on wall-time OR process-CPU-time — whichever holds — so
  *    co-tenant load on the shared box cannot fail the suite while a
  *    real quadratic blowup still fails both clocks (see
  *    [[assertLinear]]; r18's one committed test failure was this
  *    wall bound tripping under loadavg 3-5).
  *
  * The salting is an INJECTIVE SHINGLE RENAME: copy c prefixes every word
  * with `c<c>_`, so (a) within a copy, every pairwise jaccard equals the
  * original corpus's (shingle sets are renamed elementwise), and (b)
  * across copies, shingle sets are disjoint. The true 10x answer is
  * therefore the 1x answer replicated 10 times — exact oracles for free
  * at any scale factor. (SimHash sketches and minhash BAND COLLISIONS are
  * hash-valued, hence not rename-invariant — a borderline pair recalled
  * in one copy may be missed in another — so those two are checked
  * against the sum of their per-copy counts rather than 10x the
  * original's; the jaccard path is exact-by-construction at any renaming
  * and gets the strict 10x oracle.)
  */
class TenXScaleSmokeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val copies = 10

  private def baseDocs = Tables.load(spark, "/root/testdata/sf0.1", "documents")
    .select("doc_id", "text")

  /** Copy `c`: offset ids, every word prefixed with the copy tag. */
  private def copyDf(c: Int): DataFrame =
    baseDocs.select((col("doc_id") + lit(c * 1000000L)).as("doc_id"),
      expr(s"array_join(transform(split(text, ' '), w -> concat('c${c}_', w)), ' ')")
        .as("text"))

  private def saltedCorpus: DataFrame =
    (0 until copies).map(copyDf).reduce(_ unionByName _)

  /** The dedup family end-to-end: all three pair generators + cluster
    * resolution over the jaccard pairs. Returns the observable counts. */
  private def pipeline(docs: DataFrame): (Long, Long, Long, Long) = {
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      minJaccard = Some(0.8))
    val jaccardPairs = jac.count()
    val minhashPairs = Dedup.minhashPairs(docs, "doc_id", "text").count()
    val simhashPairs = Dedup.simhashPairs(docs, "doc_id", "text").count()
    val survivors = Dedup.resolveClusters(docs, "doc_id", jac,
        "doc_id_1", "doc_id_2")
      .filter(col("doc_id") === col("keep_doc_id")).count()
    (jaccardPairs, minhashPairs, simhashPairs, survivors)
  }

  private def winnowPairCount(docs: DataFrame): Long =
    Dedup.winnowPairs(docs, "doc_id", "text", k = 3, w = 4, minShared = 3).count()

  /** Wall + process-CPU seconds of one measured body. */
  private[graft] case class Lap(wall: Double, cpu: Double)

  /** Cumulative JVM CPU seconds (all threads); -1 when the platform bean
    * is unavailable. Suites run sequentially in the forked test JVM
    * (build.sbt forks, testForkedParallel defaults off), so the delta
    * across a body is that body's own work. */
  private def processCpuSec: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        val t = os.getProcessCpuTime
        if (t < 0) -1.0 else t / 1e9
      case _ => -1.0
    }

  private def timed[T](body: => T): (T, Lap) = {
    val c0 = processCpuSec
    val t0 = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - t0) / 1e9
    val c1 = processCpuSec
    (r, Lap(wall, if (c0 < 0 || c1 < 0) -1.0 else c1 - c0))
  }

  /** Load-robust linearity bound (r18: the round's ONE committed test
    * failure was a wall-ratio assert tripping at 15.2x vs 15 under
    * 1-min loadavg 3-5 — quiet re-run: 3.8x). Wall time measures the
    * BOX under co-tenant steal, not the code, so the bound passes when
    * EITHER clock scales: the wall ratio (authoritative on a quiet box)
    * OR the process-CPU ratio (work actually done — unaffected by other
    * processes' steal, inflated only mildly by cache/SMT contention,
    * which the generous bound absorbs). A genuinely quadratic operator
    * fails BOTH (~100x each on a 10x corpus). Every row-count oracle in
    * these tests stays unconditional — only the timing bound is load-
    * robust. The CPU side gets 4x the wall slack plus a 2 s floor:
    * additive allowances cover per-run orchestration floors, which cost
    * more CPU when 32 threads busy-spin through them. */
  private def assertLinear(what: String, t1: Lap, t10: Lap,
      bound: Double = 15.0, slackSec: Double = 0.0): Unit = {
    val wallOk = t10.wall <= bound * t1.wall + slackSec
    val cpuOk = t1.cpu >= 0 && t10.cpu >= 0 &&
      t10.cpu <= bound * t1.cpu + 4 * slackSec + 2.0
    val load = try {
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").split("\\s+")(0)
    } catch { case scala.util.control.NonFatal(_) => "?" }
    def ratio(a: Double, b: Double) = if (a > 0) b / a else -1.0
    info(f"$what: wall ${ratio(t1.wall, t10.wall)}%.1fx " +
      f"(${t1.wall}%.1fs -> ${t10.wall}%.1fs), " +
      f"cpu ${ratio(t1.cpu, t10.cpu)}%.1fx " +
      f"(${t1.cpu}%.1fs -> ${t10.cpu}%.1fs), loadavg $load")
    assert(wallOk || cpuOk,
      f"$what superlinear on BOTH clocks at 10x: " +
        f"wall ${ratio(t1.wall, t10.wall)}%.1fx, " +
        f"cpu ${ratio(t1.cpu, t10.cpu)}%.1fx " +
        f"(bound ${bound}%.0fx + ${slackSec}%.0fs wall / " +
        f"${4 * slackSec + 2}%.0fs cpu; 1-min loadavg $load)")
  }

  test("dedup family scales ~linearly onto a 10x corpus with bucketed pair counts",
      SlowTest) {
    // warmup run compiles the codegen paths so the 1x timing isn't
    // dominated by JIT — both scale points then time the same plans
    pipeline(copyDf(0))
    val ((j1, m1, s1, surv1), t1) = timed(pipeline(copyDf(0)))
    assert(j1 > 0 && m1 > 0, s"fixture degenerate: j1=$j1 m1=$m1")
    // minhash band collisions and simhash sketches are hash-valued, not
    // rename-invariant: their exact 10x oracles are the per-copy sums
    // (a cross-copy pair or a per-bucket blowup shows up as an excess)
    val minhashPerCopy = (0 until copies).map(c =>
      Dedup.minhashPairs(copyDf(c), "doc_id", "text").count()).sum
    val simhashPerCopy = (0 until copies).map(c =>
      Dedup.simhashPairs(copyDf(c), "doc_id", "text").count()).sum
    val ((j10, m10, s10, surv10), t10) = timed(pipeline(saltedCorpus))
    assert(j10 == copies * j1,
      s"jaccard pairs not linear: $j10 != $copies x $j1 — cross-copy or lost pairs")
    assert(m10 == minhashPerCopy,
      s"minhash pairs $m10 != per-copy sum $minhashPerCopy — cross-copy pairs leaked in")
    assert(s10 == simhashPerCopy,
      s"simhash pairs $s10 != per-copy sum $simhashPerCopy — cross-copy pairs leaked in")
    assert(surv10 == copies * surv1,
      s"survivors not linear: $surv10 != $copies x $surv1 — cluster structure changed")
    info(s"1x: j=$j1 m=$m1 s=$s1 surv=$surv1; " +
      s"10x: j=$j10 m=$m10 s=$s10 surv=$surv10")
    assertLinear("dedup family", t1, t10)
  }

  test("domain doc cap scales ~linearly onto a 10x corpus with exact per-domain counts",
      SlowTest) {
    import graft.operators.Sampling
    // 17 synthetic domains spread across the id space; every domain holds
    // hundreds of members at 1x (thousands at 10x), far above the cap, so
    // the EXACT expected keep is cap rows per domain at both scales — the
    // two-level salted top-K must neither lose nor over-keep anywhere,
    // and wall-time must stay ~linear (the salted local window bounds the
    // sort; a single-task domain sort would blow the bound)
    def withDom(df: DataFrame) = df.withColumn("dom",
      concat(lit("d"), pmod(col("doc_id"), lit(17)).cast("string")))
    val one = withDom(baseDocs)
    val ten = withDom(saltedCorpus)
    Sampling.domainDocCap(one, "doc_id", "dom", cap = 9).count() // JIT warmup
    val (k1, t1) = timed(Sampling.domainDocCap(one, "doc_id", "dom", cap = 9).count())
    val ((k10, perDomOk), t10) = timed {
      val capped = Sampling.domainDocCap(ten, "doc_id", "dom", cap = 9)
      val perDom = capped.groupBy("dom").count().collect()
      (capped.count(), perDom.length == 17 && perDom.forall(_.getLong(1) == 9L))
    }
    assert(k1 == 17L * 9, s"1x kept $k1 != 153")
    assert(k10 == 17L * 9, s"10x kept $k10 != 153")
    assert(perDomOk, "a domain kept != cap rows on the 10x corpus")
    assertLinear("domain doc cap", t1, t10, slackSec = 5.0)
  }

  test("quantile bucketing scales ~linearly with exactly-10x bucket counts",
      SlowTest) {
    import graft.operators.TextAnalysis
    // uniform histogram: 997 distinct scores, equal multiplicity, so the
    // tercile CUT SCORES are identical at 1x and 10x and every bucket
    // count must scale exactly 10x — any histogram/threshold drift (or a
    // plan that degenerates into a corpus-wide sort) breaks exactness or
    // the time bound
    def scores(n: Long): DataFrame =
      spark.range(n).select(col("id"),
        (pmod(col("id"), lit(997)).cast("double") / 997.0).as("s"))
    def bucketCounts(df: DataFrame): Map[String, Long] =
      TextAnalysis.quantileBuckets(df, "id", "s", Seq("tail", "middle", "head"))
        .groupBy("bucket").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n1 = 997L * 500
    bucketCounts(scores(n1)) // warmup: JIT + codegen
    val (b1, t1) = timed(bucketCounts(scores(n1)))
    val (b10, t10) = timed(bucketCounts(scores(n1 * 10)))
    assert(b1.values.sum == n1, s"1x bucket counts don't cover: $b1")
    assert(b10 == b1.map { case (k, v) => k -> v * 10 },
      s"bucket counts not exactly 10x: 1x=$b1 10x=$b10")
    info(s"1x buckets $b1; 10x buckets $b10")
    assertLinear("quantile bucketing", t1, t10, slackSec = 5.0)
  }

  test("curriculum order scales ~linearly and keeps phases exactly sized",
      SlowTest) {
    import graft.operators.Packing
    // synthetic phases with known sizes: phase = id % 3 (so each phase
    // holds exactly n/3 rows); positions must be a permutation with
    // phase ranges exactly [0, n/3), [n/3, 2n/3), [2n/3, n) at BOTH
    // scales, and wall-time must stay ~linear — a regression toward the
    // single-window global sort shows up in the time bound first
    def ordered(n: Long) = Packing.curriculumOrder(
      spark.range(n).select(col("id"),
        pmod(col("id"), lit(3)).cast("int").as("ph")),
      "id", "ph", seed = "tenx")
    def check(n: Long): Boolean = {
      val ranges = ordered(n).groupBy("phase")
        .agg(min("pos").as("lo"), max("pos").as("hi"), count(lit(1)).as("cnt"))
        .orderBy("phase").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      ranges.length == 3 && ranges.zipWithIndex.forall { case ((lo, hi, cnt), i) =>
        cnt == n / 3 && lo == i * (n / 3) && hi == (i + 1) * (n / 3) - 1
      }
    }
    val n1 = 300000L
    check(n1) // warmup: JIT + codegen
    val (ok1, t1) = timed(check(n1))
    val (ok10, t10) = timed(check(n1 * 10))
    assert(ok1, "1x phase ranges wrong")
    assert(ok10, "10x phase ranges wrong")
    assertLinear("curriculum order", t1, t10, slackSec = 5.0)
  }

  test("winnow pairs on a 10x corpus equal the per-copy sum (no cross-copy pairs)",
      SlowTest) {
    // winnowed fingerprints are md5-valued, so the per-copy shingle
    // rename CHANGES which gram wins each window — like minhash band
    // collisions, the exact 10x oracle is the per-copy sum, and any
    // cross-copy pair (impossible: renamed gram spaces are disjoint)
    // or per-bucket blowup shows up as an excess
    val perCopy = (0 until copies).map(c => winnowPairCount(copyDf(c))).sum
    val (w10, t10) = timed(winnowPairCount(saltedCorpus))
    assert(w10 == perCopy,
      s"winnow pairs $w10 != per-copy sum $perCopy — cross-copy pairs or loss")
    info(f"winnow pairs 10x: $w10 in ${t10.wall}%.1fs")
  }

  test("substring-repeat intervals on a 10x corpus are exactly 10x replicas", SlowTest) {
    // the injective rename preserves gram EQUALITY structure within each
    // copy (distinct tokens stay distinct, equal grams stay equal) and
    // keeps copy gram spaces disjoint, so the 10x interval table must be
    // the 1x table replicated 10 times — same (orig_doc, start, end)
    // positions, each with multiplicity exactly `copies`; the
    // first-occurrence rule is order-preserved by the id offsets
    def intervals(docs: DataFrame) = Dedup.substringRepeatIntervals(
      docs, "doc_id", "text", k = 13, minRun = 50)
    intervals(copyDf(0)).count() // warmup: JIT + codegen
    val (i1, t1) = timed(intervals(copyDf(0)).count())
    assert(i1 > 0, "fixture degenerate: no repeat intervals at 1x")
    val (i10, t10) = timed(intervals(saltedCorpus).count())
    assert(i10 == copies * i1,
      s"intervals not linear: $i10 != $copies x $i1 — cross-copy anchors or loss")
    val base = intervals(copyDf(0))
      .select("doc_id", "start_pos", "end_pos")
    val folded = intervals(saltedCorpus)
      .groupBy((col("doc_id") % 1000000L).as("doc_id"),
        col("start_pos"), col("end_pos"))
      .agg(count(lit(1)).as("mult"))
    assert(folded.filter(col("mult") =!= copies).count() === 0L,
      "an interval did not replicate across all copies")
    assert(folded.select("doc_id", "start_pos", "end_pos")
      .exceptAll(base).isEmpty &&
      base.exceptAll(folded.select("doc_id", "start_pos", "end_pos")).isEmpty,
      "10x interval positions differ from the 1x structure")
    info(s"substring intervals 1x: $i1; 10x: $i10")
    assertLinear("substring dedup", t1, t10)
  }

  test("PQ ANN serving scales ~linearly onto a 10x vector corpus", SlowTest) {
    // 10 identical copies with offset ids: every query's nearest
    // neighbors at 10x are its OWN clones at cosine exactly 1.0 — an
    // exact oracle that the ADC scan + shortlist + re-rank still finds
    // true duplicates after the blowup (ANN-as-dedup, the 100 TB use)
    val base = Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
      .select("vec_id", "embedding")
    def vecCopy(c: Int) = base.select(
      (col("vec_id") + lit(c * 10000000L)).as("vec_id"), col("embedding"))
    val big = (0 until copies).map(vecCopy).reduce(_ unionByName _)
    val q = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))

    def serve(corpus: org.apache.spark.sql.DataFrame): (Long, Lap) = {
      val idx = graft.operators.PqIndex.build(corpus, "vec_id", "embedding",
        m = 8, ksub = 256)
      try timed(idx.topK(q, k = 5, nCandidates = 256).count())
      finally idx.close()
    }
    serve(base) // warmup: JIT + codegen
    val (n1, t1) = serve(base)
    val (n10, t10) = serve(big)
    assert(n1 === 25L && n10 === 25L)
    // at 10x, each query's top-5 must be its own clones at cosine 1.0
    val idx10 = graft.operators.PqIndex.build(big, "vec_id", "embedding",
      m = 8, ksub = 256)
    try {
      val rows = idx10.topK(q, k = 5, nCandidates = 256)
        .select("q_id", "c_id", "cosine").collect()
      rows.foreach { r =>
        assert(r.getLong(1) % 10000000L === r.getLong(0),
          s"q ${r.getLong(0)} matched non-clone ${r.getLong(1)}")
        assert(math.abs(r.getDouble(2) - 1.0) < 1e-9,
          s"clone cosine ${r.getDouble(2)} != 1.0")
      }
    } finally idx10.close()
    assertLinear("PQ ANN serving", t1, t10)
  }

  test("SemDeDup cell-bounded quadratic scales onto a 10x vector corpus with an exact clone oracle",
      SlowTest) {
    // Embeddings admit no injective rename (any change moves cosines),
    // so the per-copy-sum oracle the text families use is unavailable.
    // IDENTITY copies give an equally exact one: with no two DISTINCT
    // base vectors at cosine >= 0.9999 (checked below against the exact
    // all-pairs baseline), the 10x qualifying pair set at that threshold
    // is EXACTLY the clone pairs — C(copies,2) per base vector, every
    // one guaranteed findable because identical vectors share every
    // soft-assigned cell under ANY quantizer. A lost pair is a
    // quantizer/cell-join bug; a spurious pair is a cosine bug. Timing
    // holds nCells/n fixed (8 -> 80), so per-cell population — and the
    // (n/nCells)^2 per-cell quadratic — stays constant and total work
    // must scale ~linearly.
    val base = Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
      .select("vec_id", "embedding")
    val nVec = base.count()
    def vecCopy(c: Int) = base.select(
      (col("vec_id") + lit(c * 10000000L)).as("vec_id"), col("embedding"))
    val big = (0 until copies).map(vecCopy).reduce(_ unionByName _)
    val nearOne = Dedup.embeddingCosinePairsExact(base, "vec_id", "embedding",
      minCosine = 0.9999).count()
    assert(nearOne === 0L,
      "fixture has near-identical DISTINCT vectors; clone oracle invalid")

    def pairsAtOne(corpus: DataFrame, nCells: Int): (Long, Lap) = {
      val idx = graft.operators.IvfIndex.build(corpus, "vec_id", "embedding",
        nCells = nCells)
      try timed(Dedup.semanticPairs(idx, minCosine = 0.9999, nAssign = 4).count())
      finally idx.close()
    }
    pairsAtOne(base, 8) // warmup: JIT + codegen
    val (p1, t1) = pairsAtOne(base, 8)
    assert(p1 === 0L, s"1x found $p1 pairs at cosine >= 0.9999, expected 0")
    val (p10, t10) = pairsAtOne(big, 80)
    val expected = nVec * (copies.toLong * (copies - 1) / 2)
    assert(p10 === expected,
      s"10x clone pairs $p10 != $expected — lost or spurious semantic pairs")
    assertLinear("SemDeDup", t1, t10)
  }

  test("IVF and PQ durable build -> reopen -> serve parity holds at 10x", SlowTest) {
    // The build/serve LIFECYCLE at scale: build on the 10x corpus, write
    // the durable artifact, reopen through the manifest-validated path,
    // and serve — the reopened index must return the in-memory index's
    // rows EXACTLY (same centroids/codebooks, same tie-breaks). Pins the
    // serialization round-trip at a size where codes/cells span many
    // partitions, not just the unit fixtures.
    val base = Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
      .select("vec_id", "embedding")
    def vecCopy(c: Int) = base.select(
      (col("vec_id") + lit(c * 10000000L)).as("vec_id"), col("embedding"))
    val big = (0 until copies).map(vecCopy).reduce(_ unionByName _)
    val q = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    def rows(df: DataFrame): Seq[(Long, Long, Long)] =
      df.select(col("q_id"), col("c_id"),
          round(col("cosine") * 1e9, 0).cast("long").as("c9"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted

    val ivf = graft.operators.IvfIndex.build(big, "vec_id", "embedding",
      nCells = 80)
    val ivfPath = "target/test-tenx-ivf/" + java.util.UUID.randomUUID()
    ivf.write(ivfPath, source = "tenx")
    val ivfRe = graft.operators.IvfIndex.loadIfValid(spark, ivfPath, "tenx")
    assert(ivfRe.isDefined, "manifest-validated IVF reopen failed at 10x")
    try {
      assert(rows(ivf.topK(q, k = 5, nprobe = 8)) ===
        rows(ivfRe.get.topK(q, k = 5, nprobe = 8)),
        "reopened IVF serves different rows than the in-memory build")
    } finally { ivf.close(); ivfRe.get.close() }

    val pq = graft.operators.PqIndex.build(big, "vec_id", "embedding",
      m = 8, ksub = 256)
    val pqPath = "target/test-tenx-pq/" + java.util.UUID.randomUUID()
    pq.write(pqPath, source = "tenx")
    val pqRe = graft.operators.PqIndex.loadIfValid(spark, pqPath, "tenx")
    assert(pqRe.isDefined, "manifest-validated PQ reopen failed at 10x")
    try {
      assert(rows(pq.topK(q, k = 5, nCandidates = 256)) ===
        rows(pqRe.get.topK(q, k = 5, nCandidates = 256)),
        "reopened PQ serves different rows than the in-memory build")
    } finally { pq.close(); pqRe.get.close() }
  }

  test("classifier serving scales ~linearly onto a 10x corpus with per-copy identical predictions",
      SlowTest) {
    // IDENTITY copies (ids offset, text unchanged): a frozen model is a
    // pure function of the text, so every copy of a doc must score to
    // the same (n_tokens, pred_label, expected_p) — replica invariance
    // pins that serving has no corpus-population dependence (the model
    // side is FROZEN; only training depends on the population)
    val docs = Tables.load(spark, "/root/testdata/sf0.1", "documents")
      .select("doc_id", "text", "lang")
    val clf = graft.operators.QualityClassifier.train(
      docs.filter(col("doc_id") % 5 === 0), "text", "lang")
    def idCopy(c: Int) = docs.select(
      (col("doc_id") + lit(c * 10000000L)).as("doc_id"), col("text"))
    val big = (0 until copies).map(idCopy).reduce(_ unionByName _)
    def score(df: DataFrame): (Long, Lap) =
      timed(clf.score(df, "doc_id", "text").count())
    score(idCopy(0)) // warmup
    val (n1, t1) = score(idCopy(0))
    val (n10, t10) = score(big)
    assert(n10 === copies * n1, s"10x corpus scored $n10 docs, expected ${copies * n1}")
    // replica invariance: per-copy digests all equal copy 0's
    val digests = clf.score(big, "doc_id", "text")
      .groupBy((col("doc_id") / 10000000L).cast("long").as("copy"))
      .agg(sum(xxhash64(col("doc_id") % 10000000L, col("n_tokens"),
        col("pred_label"), round(col("expected_p") * 1e6, 0).cast("long"))
        .cast("decimal(38,0)")).as("chk"))
      .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    assert(digests.size === copies)
    assert(digests.values.toSet.size === 1,
      s"copies scored differently: $digests")
    assertLinear("classifier serving", t1, t10)
  }

  test("CDC chunking scales ~linearly onto 10 identical copies with exact oracles",
      SlowTest) {
    // chunking is PER-DOC LOCAL (no corpus-wide interaction), so on ten
    // byte-identical copies (id offset only) every count is exactly
    // predictable from the base corpus:
    //  - chunk table rows: exactly 10x the base table;
    //  - dup groups (len >= 16): every distinct substantial chunk md5 of
    //    the base now occurs 10k >= 10 > 1 times -> group count == the
    //    base's DISTINCT substantial md5 count, every occurrence count
    //    divisible by 10;
    //  - overlap pairs: 45*D clone pairs (D = base docs with >= 2
    //    distinct substantial chunks; a clone pair shares ALL of them)
    //    + 100*P cross pairs (each base pair appears in all 10x10 copy
    //    combinations).
    import graft.operators.{CdcChunking, Multimodal}
    def media(df: DataFrame) = Multimodal.asMediaTable(
      df.select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("t").as("source"), length(col("text")).cast("long").as("n_chars")))
    def idCopy(c: Int): DataFrame = baseDocs.select(
      (col("doc_id") + lit(c * 10000000L)).as("doc_id"), col("text"))
    val big = (0 until copies).map(idCopy).reduce(_ unionByName _)

    val baseChunks = CdcChunking.chunkTable(media(idCopy(0)), 6)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (nBase, t1) = timed(baseChunks.count())
    val sub = baseChunks.filter(col("chunk_len") >= 16)
      .select("doc_id", "chunk_md5").distinct()
    val distinctSubstantial = sub.select("chunk_md5").distinct().count()
    val dDocs = sub.groupBy("doc_id").count().filter(col("count") >= 2).count()
    val basePairs = CdcChunking.chunkOverlapPairs(baseChunks).count()

    val bigChunks = CdcChunking.chunkTable(media(big), 6)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (n10, t10) = timed(bigChunks.count())
    assert(n10 == copies * nBase, s"chunk rows $n10 != ${copies}x$nBase")
    val groups = CdcChunking.dupChunkGroups(bigChunks)
      .filter(col("chunk_len") >= 16)
      .select("n_occurrences").collect().map(_.getLong(0))
    assert(groups.length == distinctSubstantial,
      s"dup groups ${groups.length} != base distinct substantial $distinctSubstantial")
    assert(groups.forall(_ % copies == 0),
      "an occurrence count not divisible by 10 — copies chunked differently")
    val pairs10 = CdcChunking.chunkOverlapPairs(bigChunks).count()
    assert(pairs10 == 45L * dDocs + 100L * basePairs,
      s"overlap pairs $pairs10 != 45*$dDocs + 100*$basePairs")
    baseChunks.unpersist(); bigChunks.unpersist()
    assertLinear("cdc chunking", t1, t10)
  }

  test("distributed connected components: pointer jumping stays O(log diameter) " +
      "on chain graphs and wall-time stays ~linear at fixed diameter", SlowTest) {
    // chain graphs are the worst case for label propagation: a path of
    // length L has diameter L-1, so plain one-hop propagation needs
    // O(L) rounds (it would blow the maxIters=25 ceiling outright at
    // L=256), while pointer jumping must converge in O(log L). Blocks of
    // L vertices chained (i, i+1) give an exact oracle — every vertex's
    // component is its block minimum — and block counts above the
    // union-find threshold force the DISTRIBUTED path (the only
    // iterative job in the repo). 10x the blocks at the same diameter
    // must keep the ROUND COUNT flat (rounds track diameter, not size)
    // and wall-time ~linear.
    val L = 256L
    def chainEdges(nBlocks: Long): DataFrame =
      spark.range(nBlocks * L)
        .filter(col("id") % L =!= (L - 1))
        .select(col("id").as("u"), (col("id") + 1L).as("v"))
    def run(nBlocks: Long): (Long, Int, Lap) = {
      val (bad, t) = timed {
        val comp = Dedup.connectedComponents(chainEdges(nBlocks), "u", "v")
        comp.filter(col("comp") =!= col("id") - (col("id") % L)).count()
      }
      (bad, Dedup.lastCcRounds.get(), t)
    }
    run(600) // warmup: JIT + codegen
    val (bad1, r1, t1) = run(600)       // 153,600 edges > 2^17: distributed
    val (bad10, r10, t10) = run(6000)   // 1.54M edges, same diameter
    assert(bad1 === 0L, "1x: a vertex missed its block-min component")
    assert(bad10 === 0L, "10x: a vertex missed its block-min component")
    assert(r1 > 0 && r10 > 0, "distributed path did not run (threshold regression)")
    val bound = 2 * (math.log(L.toDouble) / math.log(2.0)).ceil.toInt + 2
    assert(r1 <= bound, s"1x took $r1 rounds > O(log L) bound $bound")
    assert(r10 <= bound, s"10x took $r10 rounds > O(log L) bound $bound")
    assert(r10 <= r1 + 2,
      s"rounds grew with graph SIZE at fixed diameter: $r1 -> $r10")
    info(s"cc rounds 1x=$r1 10x=$r10 (bound $bound)")
    assertLinear("connected components", t1, t10, slackSec = 10.0)
  }

  test("inverted index scales ~linearly onto a 10x corpus; renamed serving " +
      "equals the per-copy base result", SlowTest) {
    import graft.operators.InvertedIndex
    // the injective word rename makes each copy's postings a renamed
    // replica of the base's: tf/dl preserved, vocabularies disjoint — so
    // posting rows, vocab size, and the corpus scalars scale EXACTLY 10x,
    // and serving one copy's renamed query must return that copy's docs
    // with the base's matched_terms per doc (bm25 shifts with N, by
    // design — idf sees the 10x corpus).
    val idxB = InvertedIndex.build(baseDocs, "doc_id", "text")
    val (nPostB, t1) = timed(idxB.postings.count())
    val nTermB = idxB.terms.count()
    val baseServe = idxB.serve(Seq("hash", "join", "vector"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val idx10 = InvertedIndex.build(saltedCorpus, "doc_id", "text")
    val (nPost10, t10) = timed(idx10.postings.count())
    assert(nPost10 == copies * nPostB,
      s"posting rows $nPost10 != ${copies}x$nPostB")
    assert(idx10.terms.count() == copies * nTermB,
      "vocab did not scale 10x — the rename is not injective")
    assert(idx10.nDocs == copies * idxB.nDocs &&
      idx10.sumDl == copies * idxB.sumDl, "manifest scalars not 10x")
    val served = idx10.serve(Seq("c3_hash", "c3_join", "c3_vector"))
      .collect().map(r => (r.getLong(0) - 3000000L, r.getLong(1))).toMap
    assert(served == baseServe,
      "copy-3 renamed serve diverged from the base per-copy result")
    assertLinear("inverted-index build", t1, t10)
  }

  test("streaming ingest dedup scales onto a 10x delivery with exact per-copy survivor parity",
      SlowTest) {
    // The last untested family's scale posture (r13 ask): a REAL
    // Trigger.AvailableNow replay — three pinned-order deliveries, the
    // third a verbatim re-delivery of the first — through
    // ingestDedupStreamWith at 1x and at 10x salted copies. The salting
    // is the suite's injective shingle rename, and the copy offset
    // (c * 1e6, a multiple of both 2 and 5) preserves every slice and
    // half assignment — so copy c's survivor set must be EXACTLY copy
    // 0's, offset: the fingerprint state and the stream-static anti join
    // have no cross-copy interaction to exploit (state is one hash per
    // distinct ingested text, sharded by hash), and wall-time stays
    // ~linear because every stage is hash-partitioned, never pairwise.
    import graft.streaming.StreamingOps
    def run(df: DataFrame, tag: String): (Set[Long], Lap) = {
      val slice = df.filter(col("doc_id") % 5 === 0)
      val reps = slice.groupBy("text").agg(min("doc_id").as("doc_id"))
      val delivered = slice.join(reps, Seq("doc_id", "text"), "left_semi")
        .select("doc_id", "text")
      val hashes = Dedup
        .corpusContentHashes(df.filter(col("doc_id") % 5 =!= 0), "text")
        .persist()
      val bloom = Dedup.corpusContentBloom(hashes,
        expectedCorpusItems = 1L << 18)
      val src = s"target/tenx-ingest-$tag"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
      StreamingOps.stageOrdered(src, Seq(
        delivered.filter(col("doc_id") % 2 === 0),
        delivered.filter(col("doc_id") % 2 =!= 0),
        delivered.filter(col("doc_id") % 2 === 0) /* re-delivery */))
      val stream = spark.readStream.schema(delivered.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      val (_, lap) = timed {
        val q = StreamingOps.ingestDedupStreamWith(stream, hashes, bloom, "text")
          .writeStream.outputMode("append")
          .format("memory").queryName(s"tenx_ingest_$tag")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val ids = spark.table(s"tenx_ingest_$tag")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      hashes.unpersist()
      (ids, lap)
    }
    val (ids1, t1) = run(copyDf(0), "x1")
    val (ids10, t10) = run(saltedCorpus, "x10")
    assert(ids1.nonEmpty)
    // the fixture must exercise the corpus-known drop path too (sf0.1
    // plants one delivered text that already exists in the corpus slice)
    val delivered1 = copyDf(0).filter(col("doc_id") % 5 === 0)
      .select("text").distinct().count()
    assert(ids1.size < delivered1,
      "no delivered doc was corpus-known — the anti join went unexercised")
    // survivor counts exactly 10x, and EVERY copy's set is copy 0's
    assert(ids10.size === copies * ids1.size,
      s"10x delivery emitted ${ids10.size} survivors, expected ${copies * ids1.size}")
    (0 until copies).foreach { c =>
      val got = ids10.filter(_ / 1000000L == c).map(_ - c * 1000000L)
      assert(got == ids1, s"copy $c survivor set diverged from copy 0")
    }
    // generous linearity bound + a fixed allowance for the per-run
    // micro-batch orchestration floor (3 triggers cost seconds at ANY SF)
    assertLinear("streaming ingest", t1, t10, slackSec = 10.0)
  }

  test("fixed-point PageRank scales onto 10 disjoint graph copies with exact rank parity",
      SlowTest) {
    // PageRank is component-local: salting node names with a copy tag
    // yields 10 disjoint isomorphic components, so copy c's rank for
    // node 'c<i>_v' must EXACTLY equal copy 0's for 'c0_v' — the
    // fixed-point integer arithmetic leaves no drift to hide behind —
    // and wall-time stays ~linear because every round is one
    // hash-partitioned equi-join + one keyed sum over the checkpointed
    // edge list.
    import graft.operators.PageRank
    val base = Tables.load(spark, "/root/testdata/sf0.1", "orders")
      .select(col("o_orderkey"), (col("o_custkey") % 500).as("u"),
        (col("o_orderkey") % 97).as("v"))
      .select(concat(lit("C"), col("u")).as("src"),
        concat(lit("S"), col("v")).as("dst"))
      .distinct()
    def copyEdges(c: Int): DataFrame = base.select(
      concat(lit(s"c${c}_"), col("src")).as("src"),
      concat(lit(s"c${c}_"), col("dst")).as("dst"))
    def undirected(e: DataFrame): DataFrame =
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    def run(e: DataFrame): (Map[String, Long], Lap) = timed {
      PageRank.run(undirected(e), "src", "dst", iterations = 3)
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    }
    val (r1, t1) = run(copyEdges(0))
    val (r10, t10) = run((0 until copies).map(copyEdges).reduce(_ unionByName _))
    assert(r10.size == copies * r1.size, "copies must stay disjoint")
    // exact per-copy parity: rank('c<i>_v') == rank('c0_v') for every node
    val mismatch = r10.iterator.filter { case (node, rank) =>
      rank != r1("c0_" + node.substring(node.indexOf('_') + 1))
    }.take(3).toSeq
    assert(mismatch.isEmpty, s"copy ranks diverged from copy 0: $mismatch")
    assertLinear("pagerank", t1, t10, slackSec = 10.0)
  }

  test("HITS scales onto 10 disjoint bipartite copies with exact score parity",
      SlowTest) {
    // HITS' ONLY cross-component coupling is the per-round MAX
    // normalization (PageRank has none at all) — identical disjoint
    // copies share the max, so copy c's (hub, auth) must EXACTLY equal
    // copy 0's: the integer DIV arithmetic leaves no drift to hide
    // behind, and a normalization accidentally computed per-partition
    // instead of globally would break parity immediately. Wall-time
    // stays ~linear: each half-round is one hash-partitioned equi-join
    // + one keyed BIGINT sum over the checkpointed edges.
    import graft.operators.Hits
    val base = Tables.load(spark, "/root/testdata/sf0.1", "orders")
      .select((col("o_custkey") % 500).as("u"), (col("o_orderkey") % 97).as("v"))
      .select(concat(lit("C"), col("u")).as("src"),
        concat(lit("S"), col("v")).as("dst"))
      .distinct()
    def copyEdges(c: Int): DataFrame = base.select(
      concat(lit(s"c${c}_"), col("src")).as("src"),
      concat(lit(s"c${c}_"), col("dst")).as("dst"))
    def run(e: DataFrame): (Map[String, (Long, Long)], Lap) = timed {
      Hits.run(e, "src", "dst", iterations = 2)
        .collect()
        .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    }
    val (r1, t1) = run(copyEdges(0))
    val (r10, t10) = run((0 until copies).map(copyEdges).reduce(_ unionByName _))
    assert(r10.size == copies * r1.size, "copies must stay disjoint")
    val mismatch = r10.iterator.filter { case (node, scores) =>
      scores != r1("c0_" + node.substring(node.indexOf('_') + 1))
    }.take(3).toSeq
    assert(mismatch.isEmpty, s"copy scores diverged from copy 0: $mismatch")
    assertLinear("HITS", t1, t10, slackSec = 10.0)
  }

  test("degree-capped co-occurrence pairing scales onto 10 disjoint copies " +
      "with exact per-copy Jaccard parity", SlowTest) {
    // The pair-generating self-join is quadratic PER CUSTOMER KEY — the
    // shape that dies first at scale if the degree cap or the key-local
    // bound breaks. Disjoint key-space copies of the same bipartite graph
    // must produce (a) EXACTLY 10x the capped pair table (co-occurrence
    // is customer-local, copies can never pair up) with per-copy Jaccard
    // parity, and (b) ~linear wall-time (a key-crossing bug would be
    // ~100x pairs).
    // s-space of 37 keeps typical degrees under the 55 cap while the
    // heaviest customers still exceed it (both cap branches exercised)
    val base = Tables.load(spark, "/root/testdata/sf0.1", "orders")
      .select((col("o_custkey") % 500).as("c"),
        (col("o_orderkey") % 37 + when(col("o_custkey") % 11 === 0,
          col("o_orderkey") % 61).otherwise(lit(0))).as("s"))
      .distinct()
    def copyOf(k: Int): DataFrame = base.select(
      (col("c") + lit(k * 1000000L)).as("c"), (col("s") + lit(k * 1000000L)).as("s"))
    def pairs(e: DataFrame): Map[(Long, Long), (Long, Double)] = {
      val deg = e.groupBy("c").agg(count(lit(1)).as("d"))
      val kept = e.join(deg.filter(col("d") <= 55), Seq("c"), "left_semi")
        .localCheckpoint()
      val n = kept.groupBy("s").agg(count(lit(1)).as("n"))
      // the driver query's cap-bounded equi self-join pair generation
      val co = kept.as("a").join(kept.as("b"),
          col("a.c") === col("b.c") && col("a.s") < col("b.s"))
        .groupBy(col("a.s").as("s1"), col("b.s").as("s2"))
        .agg(count(lit(1)).as("co")).filter(col("co") >= 5)
      co.join(n.select(col("s").as("s1"), col("n").as("n1")), "s1")
        .join(n.select(col("s").as("s2"), col("n").as("n2")), "s2")
        .select(col("s1"), col("s2"), col("co"),
          round(col("co").cast("double")
            / (col("n1") + col("n2") - col("co")), 6).as("j"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3))))
        .toMap
    }
    val (p1, t1) = timed(pairs(copyOf(0)))
    val (p10, t10) = timed(pairs((0 until copies).map(copyOf).reduce(_ unionByName _)))
    assert(p1.nonEmpty)
    assert(p10.size === copies * p1.size,
      s"10x graph produced ${p10.size} capped pairs, expected ${copies * p1.size}")
    val mismatch = p10.iterator.filter { case ((s1, s2), v) =>
      v != p1((s1 % 1000000L, s2 % 1000000L))
    }.take(3).toSeq
    assert(mismatch.isEmpty, s"copy pair stats diverged from copy 0: $mismatch")
    assertLinear("co-occurrence pairing", t1, t10, slackSec = 10.0)
  }

  test("transition matrix scales onto 10 disjoint user copies with exactly-10x " +
      "counts and identical probabilities", SlowTest) {
    // The per-user window is the state bound: disjoint user-space copies
    // of the same event log must multiply every (from, to) count by
    // exactly 10 and leave the probabilities bit-identical (each user's
    // stream is copied verbatim — a window leaking across users would
    // break both).
    val ev = Tables.load(spark, "/root/testdata/sf0.1", "events")
      .select("user_id", "event_type", "ts", "event_id")
    def copyOf(k: Int): DataFrame = ev.select(
      (col("user_id") + lit(k * 10000000L)).as("user_id"),
      col("event_type"), col("ts"),
      (col("event_id") + lit(k * 100000000L)).as("event_id"))
    def matrix(e: DataFrame): Map[(String, String), (Long, Double)] = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val counts = e.withColumn("to_type", lead("event_type", 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = counts.groupBy("from_type").agg(sum("n").as("n_from"))
      counts.join(totals, "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n").cast("double") / col("n_from"), 6).as("p"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
        .toMap
    }
    val m1 = matrix(copyOf(0))
    val m10 = matrix((0 until copies).map(copyOf).reduce(_ unionByName _))
    assert(m1.nonEmpty && m10.keySet === m1.keySet)
    m1.foreach { case (k, (n, p)) =>
      assert(m10(k) === ((copies * n, p)),
        s"cell $k: expected (${copies * n}, $p), got ${m10(k)}")
    }
  }

  test("durable Markov train/serve/append scales onto 10 disjoint user copies " +
      "with exact surprise parity; appended days equal the fresh union model",
      SlowTest) {
    // The behavioral tier's durable lifecycle at scale (r17 — the one
    // family TenX didn't cover): disjoint user-space copies multiply
    // every (from, to) count by exactly 10 while leaving every RATIO —
    // and therefore every quantized per-class surprise and every user's
    // served (n_transitions, surprise_micro_avg) — bit-identical, so the
    // broadcast-serve path has an exact oracle at 10x. The model stays
    // matrix-sized at any corpus size (the scale contract); train+serve
    // wall-time must stay ~linear. Then the INCREMENTAL path: a model
    // trained on day 0 with nine more days folded via appendTo must
    // serve bit-identically to the fresh train over the 10x union —
    // counts are additive over entity-disjoint splits, so any divergence
    // is a merge bug.
    import graft.operators.MarkovModel
    val ev = Tables.load(spark, "/root/testdata/sf0.1", "events")
      .select("user_id", "event_type", "ts", "event_id")
    def copyOf(k: Int): DataFrame = ev.select(
      (col("user_id") + lit(k * 10000000L)).as("user_id"),
      col("event_type"), col("ts"),
      (col("event_id") + lit(k * 100000000L)).as("event_id"))
    def pairsOf(df: DataFrame) =
      MarkovModel.pairs(df, "user_id", "event_type", Seq("ts", "event_id"))
    val big = (0 until copies).map(copyOf).reduce(_ unionByName _)
    def trainServe(df: DataFrame, path: String): (Map[Long, (Long, Long)], Lap) =
      timed {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
        val p = pairsOf(df)
        MarkovModel.train(p).write(path, "tenx")
        MarkovModel.load(spark, path).scoreSessions(p, "user_id")
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
          .toMap
      }
    trainServe(copyOf(0), "target/test-tenx-markov-warm") // JIT warmup
    val (s1, t1) = trainServe(copyOf(0), "target/test-tenx-markov-1x")
    val (s10, t10) = trainServe(big, "target/test-tenx-markov-10x")
    assert(s1.nonEmpty && s10.size === copies * s1.size)
    val mismatch = s10.iterator.filter { case (user, scored) =>
      scored != s1(user % 10000000L)
    }.take(3).toSeq
    assert(mismatch.isEmpty,
      s"copied users' served surprise diverged from copy 0: $mismatch")
    assertLinear("markov train+serve", t1, t10, slackSec = 10.0)
    // incremental: day 0 trained, days 1..9 folded — must equal the
    // fresh union model transition for transition (counts AND probs)
    val inc = "target/test-tenx-markov-inc"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(inc))
    MarkovModel.train(pairsOf(copyOf(0))).write(inc, "day-0")
    val (_, tApp) = timed((1 until copies).foreach { k =>
      assert(MarkovModel.appendTo(spark, inc, pairsOf(copyOf(k)), s"day-$k"),
        s"day-$k append refused")
    })
    def cells(path: String): Map[(String, String), (Long, Double)] =
      MarkovModel.load(spark, path).transitions().collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3)))).toMap
    assert(cells(inc) === cells("target/test-tenx-markov-10x"),
      "nine appended days diverged from the fresh 10x union model")
    info(f"markov 9-day append fold: ${tApp.wall}%.1fs total")
  }

  test("inverted-index excise -> compact lifecycle holds at 10x: survivor " +
      "parity, batch-bounded tombstones, ~linear excise wall-time", SlowTest) {
    // The r17 DELETE chapter at scale (r18 ask): the same per-copy
    // takedown (base doc_id % 3 == 0 in every copy) excised from a 10x
    // index must leave (a) a tombstone table EXACTLY the excised batch's
    // size — the metadata-sized-write contract; a corpus-sized tombstone
    // table is the scale bug this pins — (b) a tombstoned serve that
    // equals a FRESH build over the 10x survivors bit-for-bit (stale
    // df/N/avgdl after a 10x excise is the silent-corruption mode), and
    // (c) the same result after the physical drop at compact. Excise
    // wall-time must stay ~linear: its costs are the recount, the
    // batch-sized tokenize, and the vocab-sized sidecar swap — all
    // linear in corpus size, nothing quadratic.
    import graft.operators.InvertedIndex
    def baseId = pmod(col("doc_id"), lit(1000000L))
    def takedownOf(df: DataFrame) = df.filter(pmod(baseId, lit(3)) === 0)
    def survivorsOf(df: DataFrame) = df.filter(pmod(baseId, lit(3)) =!= 0)
    def exciseRun(docs: DataFrame, path: String): (Long, Lap) = {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
      InvertedIndex.build(docs, "doc_id", "text").write(path, "base")
      val (_, t) = timed(
        InvertedIndex.excise(spark, path, takedownOf(docs), "text", "takedown-1"))
      (spark.read.parquet(s"$path/tombstones").count(), t)
    }
    exciseRun(copyDf(0), "target/test-tenx-inv-excise-warm") // JIT warmup
    val (tomb1, t1) = exciseRun(copyDf(0), "target/test-tenx-inv-excise-1x")
    val path10 = "target/test-tenx-inv-excise-10x"
    val (tomb10, t10) = exciseRun(saltedCorpus, path10)
    val batch10 = takedownOf(saltedCorpus).count()
    assert(tomb10 === batch10,
      s"tombstone table ($tomb10 rows) not bounded by the excised batch ($batch10)")
    assert(tomb10 === copies * tomb1, "takedown did not replicate per copy")
    // survivor parity BEFORE compaction: the tombstone anti-join plus the
    // corrected df/N/avgdl must serve exactly a fresh build over the 10x
    // survivors (same integers -> bit-identical bm25 doubles)
    val terms3 = Seq("c3_hash", "c3_join", "c3_vector")
    def served(idx: InvertedIndex): Seq[(Long, Long, Double)] =
      idx.serve(terms3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    val fresh = served(InvertedIndex.build(survivorsOf(saltedCorpus),
      "doc_id", "text"))
    assert(fresh.nonEmpty, "fixture degenerate: no survivors match copy-3 terms")
    val tombstoned = InvertedIndex.load(spark, path10)
    assert(tombstoned.tombstones.isDefined)
    assert(served(tombstoned) === fresh,
      "10x tombstoned serve diverged from a fresh build over the survivors")
    // ...and the physical drop at compact preserves it exactly
    InvertedIndex.compact(spark, path10)
    val compacted = InvertedIndex.load(spark, path10)
    assert(compacted.tombstones.isEmpty, "compact must clear the tombstones")
    assert(compacted.postings
      .join(takedownOf(saltedCorpus).select("doc_id"), Seq("doc_id"), "left_semi")
      .count() === 0L, "an excised doc's postings survived the 10x compact")
    assert(served(compacted) === fresh,
      "10x compacted serve diverged from the tombstoned serve")
    info(s"excise tombstones 1x: $tomb1; 10x: $tomb10")
    assertLinear("inverted-index excise", t1, t10, slackSec = 10.0)
  }

  test("retrieval serve chain (fuzzy-correct -> serve -> RRF -> PRF) holds " +
      "on a 10x vocab with bucket-pruned posting reads", SlowTest) {
    // The serve-side contracts the per-query specs can't see at scale:
    //  - fuzzy correction is ONE scan of the vocab sidecar (10x vocab by
    //    the injective rename) — typo'd copy-3 terms must come back as
    //    copy-3 vocab entries, never a sibling copy's (each sibling term
    //    differs in the copy digit too, so it is strictly farther);
    //  - the corrected serve reads ONLY the query terms' posting buckets
    //    (records-read budget, the partition-pruning contract);
    //  - RRF fusion runs over the two bounded ranked lists — never the
    //    corpus — and returns copy-3 documents only;
    //  - PRF expansion's feedback terms come from copy-3 documents, so
    //    every expansion term carries the c3_ prefix.
    import graft.operators.{InvertedIndex, Retrieval}
    val path = "target/test-retrieval-10x-index"
    InvertedIndex.build(saltedCorpus, "doc_id", "text").write(path, "10x")
    val idx = InvertedIndex.load(spark, path)
    // fuzzy correct over the 10x sidecar: one vocab-sized scan
    val (corrected, tCorrect) = timed(Retrieval.correctTerms(idx,
      Seq("c3_hashh", "c3_joinn", "c3_vector"), maxDist = 1))
    assert(corrected.toSet == Set("c3_hash", "c3_join", "c3_vector"),
      s"fuzzy correction diverged on the 10x vocab: $corrected")
    // records-read budget on the corrected serve: only the query buckets
    val buckets = corrected.map(InvertedIndex.bucketOf(_, idx.nBuckets)).distinct
    val totalPostings = idx.postings.count()
    val inBuckets = idx.postings.filter(col("bucket").isin(buckets: _*)).count()
    assert(inBuckets < totalPostings / 2,
      "fixture degenerate: query buckets cover most of the 10x index")
    val read = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        read.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    val nVocab = idx.terms.count()
    spark.sparkContext.addSparkListener(listener)
    val (fused, tServe) = try {
      val r = timed {
        val lex = Retrieval.rankBy(
          idx.serve(corrected).orderBy(desc("bm25"), col("doc_id")).limit(10),
          "doc_id", "bm25", "lex_rank")
        val dense = Retrieval.rankBy(
          idx.serve(Seq("c3_hash")).orderBy(desc("bm25"), col("doc_id")).limit(10),
          "doc_id", "bm25", "dense_rank")
        Retrieval.rrfFuse(lex, dense, "doc_id", topN = 10).collect()
      }
      org.apache.spark.sql.graft.bridge.waitListenerBus(spark)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    // two serves, each bounded by its query buckets + the (bucket-pruned)
    // terms sidecar; generous 4x slack for sidecar/limit re-reads — the
    // failure mode guarded is reading ~totalPostings
    assert(read.get() <= 4 * (inBuckets + nVocab) + 64,
      s"serve chain read ${read.get()} records; bucket budget was " +
        s"$inBuckets of $totalPostings postings (+$nVocab sidecar)")
    assert(fused.nonEmpty && fused.length <= 10)
    val ids = fused.map(_.getAs[Long]("doc_id"))
    assert(ids.forall(id => id >= 3000000L && id < 4000000L),
      s"RRF surfaced non-copy-3 documents: ${ids.mkString(",")}")
    // PRF expansion: feedback docs are copy-3, so every expansion term
    // must carry the c3_ prefix (a cross-copy term would mean the
    // feedback join leaked other copies' documents)
    val (expanded, tPrf) = timed(Retrieval.prfExpandedQuery(idx,
      saltedCorpus, "doc_id", "text", Seq("c3_hash", "c3_join"),
      nFeedback = 5, nExpand = 3))
    assert(expanded.length == 5 && expanded.forall(_.startsWith("c3_")),
      s"PRF expansion leaked across copies: $expanded")
    info(f"10x retrieval: correct ${tCorrect.wall}%.1fs, " +
      f"serve+fuse ${tServe.wall}%.1fs, prf ${tPrf.wall}%.1fs; " +
      f"read ${read.get()} of $totalPostings postings")
  }
}
