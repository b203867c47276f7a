package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextAnalysis

/** BM25 retrieval: hand-computed scores on a 3-doc corpus (N = 3,
  * avgdl = 3, k1 = 1.2, b = 0.75, rational-odds idf (N-df+0.5)/(df+0.5)):
  *
  *   doc 1 "a a b"  : idf_a=0.6, tfn_a=2*2.2/3.2;  idf_b=5/3, tfn_b=1.0
  *   doc 2 "a c c c": dl-norm 1.25 -> tfn_a = 2.2/2.5
  *   doc 3 "d d"    : matches nothing, absent from the result
  */
class Bm25Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val corpus = Seq(
    (1L, "a a b"), (2L, "a c c c"), (3L, "d d")
  ).toDF("doc_id", "text")

  test("scores match the hand computation") {
    val got = TextAnalysis.bm25Rank(corpus, "doc_id", "text", Seq("a", "b"))
      .orderBy("doc_id")
      .as[(Long, Long, Double)].collect()
    assert(got.map(_._1).toSeq == Seq(1L, 2L), "doc 3 must not appear")
    val Array((_, m1, s1), (_, m2, s2)) = got
    assert(m1 === 2L && m2 === 1L)
    assert(math.abs(s1 - (0.6 * (2 * 2.2 / 3.2) + 5.0 / 3 * 1.0)) < 1e-6, s"doc1 $s1")
    assert(math.abs(s2 - 0.6 * (2.2 / 2.5)) < 1e-6, s"doc2 $s2")
  }

  test("a rarer term outweighs a common one at equal tf") {
    // 'rare' appears in 1 of 10 docs, 'common' in all 10; the doc pairing
    // equal tf of the rare term must outrank the common-term doc
    val docs = ((1 to 9).map(i => (i.toLong, "common x y")) ++
      Seq((10L, "common rare x"))).toDF("doc_id", "text")
    val byDoc = TextAnalysis.bm25Rank(docs, "doc_id", "text",
        Seq("common", "rare"))
      .select("doc_id", "bm25").as[(Long, Double)].collect().toMap
    assert(byDoc(10L) > byDoc(1L))
  }

  test("query terms absent from the corpus contribute nothing") {
    val got = TextAnalysis.bm25Rank(corpus, "doc_id", "text", Seq("zzz"))
    assert(got.isEmpty)
  }
}
