package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Exact substring dedup (Lee et al. verbatim-repeat excision): planted
  * corpora pin the guarantee — a shared >= minRun-token run is excised
  * from every occurrence but the globally first, shorter shares are left
  * alone, and unshared text is never touched. */
class SubstringDedupSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def uniq(tag: String, n: Int): String =
    (0 until n).map(i => s"$tag$i").mkString(" ")

  // a 60-token run shared verbatim by docs 1, 2, 3 at different offsets;
  // docs 2 and 3 embed it inside otherwise-unique text
  private val run60 = (0 until 60).map(i => s"shared$i").mkString(" ")

  private lazy val planted = Seq(
    (1L, run60 + " " + uniq("a", 10)),
    (2L, uniq("b", 25) + " " + run60 + " " + uniq("c", 5)),
    (3L, uniq("d", 7) + " " + run60),
    (4L, uniq("e", 80)),
    (5L, uniq("f", 3))
  ).toDF("doc_id", "text")

  test("a planted shared 60-token run is excised from all but the first doc") {
    val iv = Dedup.substringRepeatIntervals(planted, "doc_id", "text",
      k = 13, minRun = 50).collect()
    // doc 1 (globally first occurrence) untouched; docs 2 and 3 excise
    // exactly the run at its local offset
    assert(!iv.exists(_.getLong(0) == 1L))
    val d2 = iv.filter(_.getLong(0) == 2L).map(r => (r.getLong(1), r.getLong(2)))
    val d3 = iv.filter(_.getLong(0) == 3L).map(r => (r.getLong(1), r.getLong(2)))
    assert(d2.toSeq == Seq((26L, 85L)))
    assert(d3.toSeq == Seq((8L, 67L)))
    assert(iv.forall(r => r.getLong(0) == 2L || r.getLong(0) == 3L))
  }

  test("excision removes exactly the run tokens and keeps everything else") {
    val out = Dedup.exciseRepeats(planted, "doc_id", "text", k = 13, minRun = 50)
      .orderBy("doc_id").collect()
    val byId = out.map(r => r.getLong(0) ->
      ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    assert(byId(1L) == ((70, 0, 70, md5Hex(run60 + " " + uniq("a", 10)))))
    assert(byId(2L) == ((90, 60, 30, md5Hex(uniq("b", 25) + " " + uniq("c", 5)))))
    assert(byId(3L) == ((67, 60, 7, md5Hex(uniq("d", 7)))))
    assert(byId(4L) == ((80, 0, 80, md5Hex(uniq("e", 80)))))
    // below-k docs pass through whole
    assert(byId(5L) == ((3, 0, 3, md5Hex(uniq("f", 3)))))
  }

  test("a shared run under minRun is not excised") {
    val run40 = (0 until 40).map(i => s"short$i").mkString(" ")
    val df = Seq(
      (1L, run40 + " " + uniq("x", 20)),
      (2L, uniq("y", 20) + " " + run40)
    ).toDF("doc_id", "text")
    assert(Dedup.substringRepeatIntervals(df, "doc_id", "text",
      k = 13, minRun = 50).isEmpty)
    // but it IS found once minRun drops to its length
    val iv = Dedup.substringRepeatIntervals(df, "doc_id", "text",
      k = 13, minRun = 40).collect()
    assert(iv.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((2L, 21L, 60L)))
  }

  test("intra-doc verbatim repeat keeps only the first occurrence") {
    val df = Seq(
      (7L, run60 + " " + uniq("m", 9) + " " + run60)
    ).toDF("doc_id", "text")
    val iv = Dedup.substringRepeatIntervals(df, "doc_id", "text",
      k = 13, minRun = 50).collect()
    assert(iv.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((7L, 70L, 129L)))
  }

  test("adjacent repeats merge into one interval spanning both") {
    // two 30-token runs, each under minRun alone, adjacent in the copy:
    // the merged interval passes the 50 gate only because merging works
    val r1 = (0 until 30).map(i => s"p$i").mkString(" ")
    val r2 = (0 until 30).map(i => s"q$i").mkString(" ")
    val df = Seq(
      (1L, r1 + " " + uniq("u", 20) + " " + r2),
      (2L, uniq("v", 15) + " " + r1 + " " + r2)
    ).toDF("doc_id", "text")
    val iv = Dedup.substringRepeatIntervals(df, "doc_id", "text",
      k = 13, minRun = 50).collect()
    assert(iv.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((2L, 16L, 75L)))
  }

  test("span decontamination excises exactly the eval-overlapping spans") {
    // corpus doc 1 embeds a 20-token span of eval doc 100; corpus doc 2
    // shares only 12 tokens (< k) with the eval set; doc 3 is clean
    val evalSpan = (0 until 20).map(i => s"eval$i").mkString(" ")
    val twelve = (0 until 12).map(i => s"tw$i").mkString(" ")
    val corpus = Seq(
      (1L, uniq("a", 15) + " " + evalSpan + " " + uniq("b", 10)),
      (2L, twelve + " " + uniq("c", 30)),
      (3L, uniq("d", 40))
    ).toDF("doc_id", "text")
    val evalSet = Seq(
      (100L, uniq("x", 5) + " " + evalSpan + " " + uniq("y", 5)),
      (101L, twelve + " " + uniq("z", 20))
    ).toDF("doc_id", "text")
    val iv = Dedup.contaminationIntervals(corpus, evalSet, "doc_id", "text",
      k = 13, expectedEvalNgrams = 1L << 12).collect()
    // only doc 1, and exactly the embedded span (tokens 16..35)
    assert(iv.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 16L, 35L)))
    val cleaned = Dedup.exciseContaminated(corpus, evalSet, "doc_id", "text",
        k = 13, expectedEvalNgrams = 1L << 12)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getInt(2), r.getString(4)))).toMap
    assert(cleaned(1L) == ((20, md5Hex(uniq("a", 15) + " " + uniq("b", 10)))))
    assert(cleaned(2L)._1 === 0)
    assert(cleaned(3L)._1 === 0)
  }

  test("multi-benchmark sweep: per-benchmark verdicts match the per-set runs") {
    // two benchmarks with DISTINCT 13-grams, one corpus doc overlapping
    // each, one overlapping both — the tagged sweep must report exactly
    // the (doc, benchmark) pairs the two single-set runs report, with
    // the same severity counts, out of ONE corpus scan
    val gA = (0 until 13).map(i => s"alpha$i").mkString(" ")
    val gB = (0 until 13).map(i => s"beta$i").mkString(" ")
    val evals = Seq((100L, gA + " " + uniq("x", 4), "benchA"),
      (101L, gB + " " + uniq("y", 4), "benchB"))
      .toDF("doc_id", "text", "benchmark")
    val corpus = Seq(
      (1L, uniq("p", 5) + " " + gA),                   // hits benchA only
      (2L, gB + " " + uniq("q", 5)),                   // hits benchB only
      (3L, gA + " " + gB),                             // hits both
      (4L, uniq("r", 30))                              // clean
    ).toDF("doc_id", "text")
    val got = Dedup.ngramContaminationBy(corpus, evals, "doc_id", "text",
        "benchmark", n = 13, expectedEvalNgrams = 1L << 12)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    // doc 3's "gA gB" concatenation also forms bridge 13-grams spanning
    // the two runs; those appear in neither benchmark, so they can never
    // create a verdict — only the planted runs count
    assert(got.keySet === Set((1L, "benchA"), (2L, "benchB"),
      (3L, "benchA"), (3L, "benchB")))
    // severity parity with the single-set operator, benchmark by benchmark
    for (bench <- Seq("benchA", "benchB")) {
      val single = Dedup.ngramContamination(corpus,
          evals.filter(col("benchmark") === bench), "doc_id", "text",
          n = 13, expectedEvalNgrams = 1L << 12)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val multi = got.collect { case ((d, b), s) if b == bench => d -> s }
      assert(multi === single, s"benchmark $bench")
    }
  }

  test("an empty eval set contaminates nothing") {
    val corpus = Seq((1L, uniq("a", 40))).toDF("doc_id", "text")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.contaminationIntervals(corpus, empty, "doc_id", "text",
      k = 13, expectedEvalNgrams = 1L << 12).isEmpty)
    val out = Dedup.exciseContaminated(corpus, empty, "doc_id", "text",
      k = 13, expectedEvalNgrams = 1L << 12).collect()
    assert(out.length === 1 && out(0).getInt(2) === 0)
  }

  test("native GramMd5 kernel == the HOF md5(concat_ws(slice)) formulation") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val w = split(lower(col("text")), " ")
    val kernel = docs.filter(size(w) >= 13)
      .select(col("doc_id"), posexplode(org.apache.spark.sql.graft.bridge.column(
        graft.functions.GramMd5(
          org.apache.spark.sql.graft.bridge.expression(w), 13))).as(Seq("p", "g")))
    val hof = docs.filter(size(w) >= 13)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(w) - 13),
        i => struct(i.as("p"), md5(concat_ws(" ", slice(w, i + 1, lit(13)))).as("g"))))
        .as("a"))
      .select(col("doc_id"), col("a.p").as("p"), col("a.g").as("g"))
    assert(kernel.exceptAll(hof).isEmpty && hof.exceptAll(kernel).isEmpty)
    assert(kernel.count() > 0)
    // short arrays: total, empty — not a crash
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val two = new GenericArrayData(
      Array[Any](UTF8String.fromString("a"), UTF8String.fromString("b")))
    assert(graft.functions.GramKernels.md5Grams(two, 13).numElements() === 0)
  }

  test("verify join streams only bloom-prefiltered anchors (scan filter in plan)") {
    // the 100 TB posture: corpus anchors must die at the scan behind the
    // dup-gram bloom literal, so the verify join never streams every
    // anchor a second time — both the join's left side and the re-derived
    // first-occurrence aggregate read through might_contain
    val plan = Dedup.substringRepeatIntervals(planted, "doc_id", "text",
      k = 13, minRun = 50).queryExecution.optimizedPlan.toString
    assert(plan.contains("might_contain"),
      s"no bloom prefilter in the verify plan:\n$plan")
  }

  test("fuzz: intervals equal a direct single-machine reference on random corpora") {
    // tiny vocab + short grams force heavy natural repetition, fuzzing
    // the first-occurrence rule, intra-doc repeats, and interval merging
    // against an independent straight-line implementation
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val vocab = Vector("a", "b", "c", "d", "e")
    val docGen = Gen.choose(15, 40).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val corpusGen = Gen.choose(3, 6).flatMap(nd => Gen.listOfN(nd, docGen))
    val (k, minRun) = (3, 6)
    (0 until 25).foreach { trial =>
      val docs = corpusGen(Gen.Parameters.default, Seed(trial.toLong)).get
        .zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }
      val got = Dedup.substringRepeatIntervals(
          docs.toDF("doc_id", "text"), "doc_id", "text", k, minRun)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === referenceIntervals(docs, k, minRun), s"trial $trial: $docs")
    }
  }

  /** Straight-line reference: global first occurrence per gram, coverage
    * of every other occurrence, per-doc interval merge. */
  private def referenceIntervals(docs: Seq[(Long, String)], k: Int,
      minRun: Int): Set[(Long, Long, Long)] = {
    val occ = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[(Long, Int)]]
    docs.sortBy(_._1).foreach { case (id, text) =>
      val w = text.toLowerCase.split(" ")
      (0 to w.length - k).foreach { p =>
        occ.getOrElseUpdate(w.slice(p, p + k).mkString(" "),
          scala.collection.mutable.ArrayBuffer.empty) += ((id, p + 1))
      }
    }
    val cov = scala.collection.mutable.Map
      .empty[Long, scala.collection.mutable.SortedSet[Int]]
    occ.values.filter(_.size >= 2).foreach { os =>
      os.sortBy(identity).drop(1).foreach { case (id, p) =>
        val s = cov.getOrElseUpdate(id, scala.collection.mutable.SortedSet.empty)
        (p until p + k).foreach(s += _)
      }
    }
    cov.flatMap { case (id, positions) =>
      val runs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var start = -1; var prev = -2
      positions.foreach { p =>
        if (p != prev + 1) { if (start >= 0) runs += ((start, prev)); start = p }
        prev = p
      }
      if (start >= 0) runs += ((start, prev))
      runs.filter { case (s, e) => e - s + 1 >= minRun }
        .map { case (s, e) => (id, s.toLong, e.toLong) }
    }.toSet
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.toLowerCase.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}
