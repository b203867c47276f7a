package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.BpeTokenizer

/** Trained BPE tokenizer: hand-computed merges on a tiny corpus, encode
  * semantics (greedy lowest-rank merge, word-boundary isolation,
  * roundtrip), and compression on the fixture. */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("training learns the most frequent pair first, ties lexicographic") {
    import spark.implicits._
    // "ab" appears in both words with total count 5; then "abc" (count 3)
    val docs = Seq.fill(3)((1L, "abc")).zipWithIndex.map { case ((_, t), i) => (i.toLong, t) } ++
      Seq((10L, "abd"), (11L, "abd"))
    val merges = BpeTokenizer.train(docs.toDF("doc_id", "text"), "text", nMerges = 2)
    assert(merges(0).toSeq === Seq("a", "b"))
    assert(merges(1).toSeq === Seq("ab", "c"))
  }

  test("encode applies merges greedily and never crosses word boundaries") {
    import spark.implicits._
    val merges = Array(Array("a", "b"), Array("ab", "c"))
    val df = Seq((1L, "abc ab a b cab")).toDF("doc_id", "text")
    val toks = df.select(BpeTokenizer.encode(col("text"), merges).as("t"))
      .head().getSeq[String](0)
    // "abc" -> [abc]; "ab" -> [ab]; "a" -> [a]; "b" -> [b]; "cab" -> [c, ab]
    assert(toks === Seq("abc", "ab", "a", "b", "c", "ab"))
  }

  test("roundtrip and count bounds hold on the fixture for every doc") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val merges = BpeTokenizer.train(docs, "text", nMerges = 200, vocabWords = 5000)
    // the synthetic fixture's vocab fully merges before 200 rounds —
    // training stops when no adjacent pair remains, which is correct
    assert(merges.length >= 50, s"only ${merges.length} merges learned")
    val t = BpeTokenizer.encode(col("text"), merges)
    val words = filter(split(lower(col("text")), " "), w => w =!= "")
    val noSpace = regexp_replace(lower(col("text")), " ", "")
    val bad = docs.select(
      (size(words) <= size(t) && size(t) <= length(noSpace)).as("b"),
      (concat_ws("", t) === noSpace).as("r"))
      .filter(!col("b") || !col("r")).count()
    assert(bad === 0L)
    // trained merges actually compress: fixture text should average
    // fewer tokens than characters by a real margin
    val ratio = docs.select(
      sum(length(noSpace)).cast("double").as("c"), sum(size(t)).cast("double").as("n"))
      .head()
    assert(ratio.getDouble(0) / ratio.getDouble(1) > 1.5,
      s"chars/token ${ratio.getDouble(0) / ratio.getDouble(1)} — merges not compressing")
  }

  test("unicode text with surrogate pairs survives encode intact") {
    import spark.implicits._
    val df = Seq((1L, "café 😀x 😀x")).toDF("doc_id", "text")
    val merges = BpeTokenizer.train(df, "text", nMerges = 3)
    val toks = df.select(BpeTokenizer.encode(col("text"), merges).as("t"))
      .head().getSeq[String](0)
    assert(toks.mkString("") === "café😀x😀x")
  }

  test("durable merge table reloads with zero training jobs, rank order intact") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val path = "target/bpe-merges-spec"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    val merges = BpeTokenizer.train(docs, "text", nMerges = 60, vocabWords = 2000)
    BpeTokenizer.write(spark, path, merges, source = "spec-v1")
    ManifestFields.pin(path, Map(
      "version" -> "1", "source" -> "spec-v1",
      "mergesSha" -> "72e34d395d93912838ea284a8c2b8fcee4e8504bf2c26297fff09dc838f62d8d",
      "nMerges" -> "60"))
    val before = BpeTokenizer.trainCount
    val reloaded = BpeTokenizer.loadIfValid(spark, path, "spec-v1")
    assert(reloaded.isDefined, "valid manifest refused to load")
    assert(BpeTokenizer.trainCount === before,
      "loadIfValid ran a training job — the manifest did not short-circuit it")
    // the SEQUENCE round-trips exactly (merges apply in rank order)
    assert(reloaded.get.length === merges.length)
    reloaded.get.zip(merges).foreach { case (a, b) =>
      assert(a.sameElements(b), s"merge order diverged: ${a.toSeq} vs ${b.toSeq}")
    }
    // wrong source and a corrupted manifest both invalidate, never crash
    assert(BpeTokenizer.loadIfValid(spark, path, "spec-v2").isEmpty)
    val mPath = new org.apache.hadoop.fs.Path(s"$path/_MANIFEST.properties")
    val fs = mPath.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(mPath, true)
    out.write("version=999\n".getBytes("UTF-8")); out.close()
    assert(BpeTokenizer.loadIfValid(spark, path, "spec-v1").isEmpty)
  }
}
