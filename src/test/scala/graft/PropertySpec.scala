package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{SimHash64, VectorKernels, WordShingles}

/** Property tests for the native kernels against naive reference
  * implementations, over ScalaCheck-generated inputs. */
class PropertySpec extends AnyFunSuite {

  private def sample[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val tokenGen: Gen[Seq[String]] =
    Gen.listOfN(40, Gen.oneOf("a", "bb", "ccc", "dddd", "ee", "f", "gg", "hhh"))

  private def toArrayData(tokens: Seq[String]): ArrayData =
    ArrayData.toArrayData(tokens.map(UTF8String.fromString).toArray)

  test("word_shingles equals the naive sliding-window distinct") {
    for (tokens <- sample(tokenGen, 50); k <- Seq(2, 3, 5)) {
      val got = WordShingles.compute(toArrayData(tokens), k)
        .toArray[UTF8String](org.apache.spark.sql.types.StringType).map(_.toString).toSeq
      val expected = tokens.sliding(k).filter(_.size == k)
        .map(_.mkString(" ")).toSeq.distinct
      assert(got == expected, s"tokens=$tokens k=$k")
    }
  }

  test("simhash64 is permutation-invariant for multiset-equal token bags and differs rarely on edits") {
    for (tokens <- sample(tokenGen, 30)) {
      val h1 = SimHash64.compute(toArrayData(tokens))
      val h2 = SimHash64.compute(toArrayData(scala.util.Random.shuffle(tokens.toList)))
      assert(h1 == h2, "simhash must not depend on token order")
    }
  }

  private val vecGen: Gen[Array[Float]] =
    Gen.listOfN(16, Gen.chooseNum(-10.0f, 10.0f)).map(_.toArray)

  test("vector kernels equal naive fold") {
    for (a <- sample(vecGen, 40); b <- sample(vecGen, 1)) {
      val ad = ArrayData.toArrayData(a)
      val bd = ArrayData.toArrayData(b)
      val naiveDot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }
        .foldLeft(0.0)(_ + _)
      assert(VectorKernels.dot(ad, bd, true, true) == naiveDot)
      assert(VectorKernels.dotFloatsArray(a, bd) == naiveDot)
      val naiveNorm = math.sqrt(a.map(x => x.toDouble * x.toDouble).foldLeft(0.0)(_ + _))
      assert(VectorKernels.l2norm(ad, true) == naiveNorm)
      assert(VectorKernels.l2normFloats(a) == naiveNorm)
    }
  }

  test("YAML docs round-trip preserves structure and extra keys") {
    import graft.generate.YamlDocs
    import graft.model.{Docs, ModelSection, SchemaDoc, SourceSection}
    import scala.collection.mutable
    val nameGen = Gen.listOfN(8, Gen.alphaNumChar).map("T_" + _.mkString)
    for (names <- sample(Gen.listOfN(5, nameGen), 20)) {
      val doc = SchemaDoc(2,
        mutable.Buffer(SourceSection("APP", "DB",
          names.map(n => Docs.tableEntry("name" -> n, "description" -> s"d-$n",
            "freshness" -> Map("warn_after" -> Map("count" -> 1)))).toBuffer)),
        mutable.Buffer(ModelSection("M", names)))
      val back = YamlDocs.parse(YamlDocs.emit(doc))
      assert(back.sources.head.tables.map(_("name")) == names.toBuffer)
      assert(back.sources.head.tables.forall(t =>
        String.valueOf(t("description")).startsWith("d-")))
      assert(back.models.head.columns == names)
    }
  }

  test("normalize_text is idempotent and accent-strip output carries no combining marks") {
    import graft.functions.NormalizeText
    val uniGen: Gen[String] = Gen.listOfN(24, Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('é', 'ü', 'ñ', 'ā', 'ő', 'ç'),
      Gen.oneOf('́', '̈', '̄'), // combining marks
      Gen.oneOf(' ', '.'))).map(_.mkString)
    for (s <- sample(uniGen, 60); strip <- Seq(false, true)) {
      val once = NormalizeText.compute(UTF8String.fromString(s), strip).toString
      val twice = NormalizeText.compute(UTF8String.fromString(once), strip).toString
      assert(once == twice, s"not idempotent on ${s.codePoints().toArray.toSeq}")
      if (strip)
        assert(!once.codePoints().toArray.exists(c => Character.getType(c) ==
          Character.NON_SPACING_MARK), s"marks survive strip: $s")
    }
  }

  test("strip_accents recomposes non-Latin text to NFC (Hangul/kana)") {
    import graft.functions.NormalizeText
    def strip(s: String) =
      NormalizeText.compute(UTF8String.fromString(s), true).toString
    // Hangul syllables decompose to conjoining jamo under NFD (category Lo,
    // not marks): after the mark pass the output must come back COMPOSED,
    // not stay as jamo — the utf8proc-oracle divergence the Latin-only
    // generator above cannot catch
    assert(strip("한국어") == "한국어")
    assert(strip("한국어").length == 3)
    // kana: the dakuten IS a combining mark (U+3099), so voiced kana strip
    // to their base forms — as single composed codepoints, idempotently
    assert(strip("ガギダ") == "カキタ")
    assert(strip(strip("ガギダ")) == strip("ガギダ"))
    assert(strip("café 한글") == "cafe 한글")
  }

  private val textGen: Gen[String] = Gen.listOfN(30,
    Gen.oneOf(Gen.oneOf("ab", "ba", "abc", "a", "b", "c", "cc"),
      Gen.oneOf("é", "ß", "日本", "😀x", "한", "z9")))
    .map(_.mkString(" "))

  test("bpe encode roundtrips arbitrary unicode under arbitrary merges") {
    import graft.functions.BpeKernels
    val mergeGen: Gen[Array[Array[String]]] = Gen.listOfN(6,
      Gen.zip(Gen.oneOf("a", "b", "c", "ab", "bc"), Gen.oneOf("a", "b", "c", "ab")))
      .map(_.map { case (x, y) => Array(x, y) }.toArray)
    for (text <- sample(textGen, 40); merges <- sample(mergeGen, 3)) {
      val ranks = BpeKernels.rankTable(merges)
      val toks = BpeKernels.encode(UTF8String.fromString(text), ranks)
        .toArray[UTF8String](org.apache.spark.sql.types.StringType).map(_.toString)
      // roundtrip: concat(tokens) == the space-stripped lowercase text
      assert(toks.mkString("") == text.toLowerCase.replace(" ", ""),
        s"roundtrip broke on '$text' with ${merges.map(_.mkString("+")).toSeq}")
      // every token is a single codepoint or a concatenation built ONLY
      // from the merge vocabulary closure: length-1-codepoint tokens are
      // always legal; longer tokens must have been produced by some merge
      val vocab = merges.map(m => m(0) + m(1)).toSet
      toks.filter(t => t.codePointCount(0, t.length) > 1).foreach(t =>
        assert(vocab.contains(t), s"token '$t' not in the merge closure"))
    }
  }

  test("winnow select: subset of gram hashes, bounded size, short-doc degeneration") {
    import graft.functions.WinnowKernels
    for (text <- sample(textGen, 40); w <- Seq(2, 4, 7)) {
      val tokens = text.toLowerCase.split(" ", -1).toSeq
      if (tokens.length >= 3) {
        val fps = WinnowKernels.select(toArrayData(tokens), 3, w)
          .toLongArray().toSeq
        val m = tokens.length - 2
        // reference gram hashes via the composable definition's values
        val md = java.security.MessageDigest.getInstance("MD5")
        val grams = (0 until m).map { i =>
          md.reset()
          val d = md.digest(tokens.slice(i, i + 3).mkString(" ").getBytes("UTF-8"))
          java.lang.Long.parseUnsignedLong(
            d.take(8).map("%02x".format(_)).mkString.take(15), 16)
        }
        assert(fps.toSet.subsetOf(grams.toSet), s"alien fingerprint for '$text'")
        assert(fps.nonEmpty && fps.length <= math.max(1, m - w + 1))
        assert(fps == fps.sorted && fps.distinct == fps, "not a sorted set")
        if (m < w) assert(fps == Seq(grams.min), "short-doc degeneration broken")
      }
    }
  }
}
