package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextAnalysis

/** Gopher quality rules (Rae et al. 2021, appendix A1.1): planted
  * documents pin each rule — a clean document passes, and each violation
  * class (length, repetition grams, bullets, duplicate lines, symbols,
  * non-alphabetic words, missing stop words) trips exactly its signal.
  * Scaled-fraction arithmetic is pinned by hand on tiny fixtures. */
class GopherQualitySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def signals(docs: Seq[(Long, String)], minWords: Int = 50) =
    TextAnalysis.gopherSignals(docs.toDF("doc_id", "text"), "doc_id", "text",
        minWords = minWords)
      .collect().map(r => r.getLong(0) -> r).toMap

  private val good = (Seq("the", "with", "that") ++
    (0 until 57).map(i => s"alpha$i")).mkString(" ")

  test("a clean document passes every rule") {
    val out = signals(Seq((1L, good)))
    val r = out(1L)
    assert(r.getAs[Boolean]("keep"))
    assert(r.getAs[Long]("n_words") == 60L)
    assert(r.getAs[Long]("alpha_word_frac6") == 1000000L)
    assert(r.getAs[Long]("stop_hits") == 3L)
    assert(r.getAs[Long]("symbol_frac6") == 0L)
    assert(r.getAs[Long]("dup_line_frac6") == 0L)
  }

  test("scaled fractions are exact integer arithmetic on a tiny fixture") {
    val out = signals(Seq((1L, "ab cde f"), (2L, "x y x y x")), minWords = 1)
    val a = out(1L)
    // words [ab, cde, f]: 6 chars over 3 words -> 2.0 exactly
    assert(a.getAs[Long]("mean_word_chars6") == 2000000L)
    assert(a.getAs[Long]("alpha_word_frac6") == 1000000L)
    val b = out(2L)
    // 2-grams of [x y x y x]: "x y" x2, "y x" x2, len 3 -> top numerator 6
    // over text length 9 -> round(666666.66) = 666667
    assert(b.getAs[Long]("top2gram_frac6") == 666667L)
    // the lone 5-gram occurs once: no duplicated-5-gram chars
    assert(b.getAs[Long]("dup5gram_frac6") == 0L)
  }

  test("repetitive text trips the n-gram char-fraction rules") {
    val spam = Array.fill(30)("spam ham").mkString(" ")
    val r = signals(Seq((1L, spam)))(1L)
    assert(!r.getAs[Boolean]("keep"))
    assert(r.getAs[Long]("top2gram_frac6") > 200000L)
    assert(r.getAs[Long]("dup5gram_frac6") > 150000L)
    assert(r.getAs[Long]("dup10gram_frac6") > 100000L)
  }

  test("bullet-started and ellipsis-ended lines trip the line rules") {
    val bullets = (0 until 10).map(i => s"- item $i of the list with that")
      .mkString("\n")
    val rb = signals(Seq((1L, bullets)), minWords = 10)(1L)
    assert(rb.getAs[Long]("bullet_line_frac6") == 1000000L)
    assert(!rb.getAs[Boolean]("keep"))
    val dots = (0 until 10).map(i => s"the line $i trails off with that...")
      .mkString("\n")
    val rd = signals(Seq((2L, dots)), minWords = 10)(2L)
    assert(rd.getAs[Long]("ellipsis_line_frac6") == 1000000L)
    assert(!rd.getAs[Boolean]("keep"))
  }

  test("within-document duplicate lines trip the repetition rules") {
    val line = "the quick brown fox jumps over it with that"
    val dup = Array.fill(10)(line).mkString("\n")
    val r = signals(Seq((1L, dup)), minWords = 10)(1L)
    // 9 of 10 lines are duplicates -> 0.9; dup chars 9/10 of line chars
    assert(r.getAs[Long]("dup_line_frac6") == 900000L)
    assert(r.getAs[Long]("dup_line_char_frac6") == 900000L)
    assert(!r.getAs[Boolean]("keep"))
  }

  test("symbols, non-alphabetic words, and missing stops each trip a rule") {
    val hashy = (Seq("the", "with") ++ Array.fill(20)("#tag")).mkString(" ")
    val rh = signals(Seq((1L, hashy)), minWords = 5)(1L)
    assert(rh.getAs[Long]("symbol_frac6") > 100000L)
    assert(!rh.getAs[Boolean]("keep"))
    val numeric = (Seq("the", "with") ++ (0 until 20).map(_.toString))
      .mkString(" ")
    val rn = signals(Seq((2L, numeric)), minWords = 5)(2L)
    assert(rn.getAs[Long]("alpha_word_frac6") < 800000L)
    assert(!rn.getAs[Boolean]("keep"))
    val noStops = (0 until 60).map(i => s"token$i").mkString(" ")
    val rs = signals(Seq((3L, noStops)))(3L)
    assert(rs.getAs[Long]("stop_hits") == 0L)
    assert(!rs.getAs[Boolean]("keep"))
  }

  test("word-count bounds apply at both ends") {
    val short = "the with " + (0 until 10).map(i => s"w$i").mkString(" ")
    assert(!signals(Seq((1L, short)))(1L).getAs[Boolean]("keep"))
    assert(signals(Seq((2L, good)), minWords = 50)(2L).getAs[Boolean]("keep"))
  }
}
