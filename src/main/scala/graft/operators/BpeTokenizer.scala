package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge

import graft.functions.BpeEncode

/** Byte-pair-encoding tokenizer with the index lifecycle the other
  * expensive artifacts use: TRAIN once driver-side on a bounded
  * word-frequency sample, ENCODE distributed through the codegen'd
  * [[graft.functions.BpeEncode]] expression.
  *
  * Training is the classic Sennrich/GPT-2 loop over a word-count vocab:
  * every word starts as characters; each round merges the
  * highest-frequency adjacent pair (ties broken lexicographically, so
  * training is DETERMINISTIC for a given sample) and rewrites the vocab.
  * The sample is the global top-`vocabWords` words by (count desc, word)
  * — a bounded two-level aggregate, the same driver-side contract as the
  * k-means samples (metadata-sized, one corpus scan).
  *
  * At 100 TB: train on the head of the word distribution (the top 50k
  * words cover the bulk of token mass), broadcast the merge table as a
  * plan literal, and the encode pass is a single scan with no shuffle.
  */
object BpeTokenizer {

  /** Learn `nMerges` merges from the top-`vocabWords` words. */
  def train(df: DataFrame, textCol: String, nMerges: Int = 200,
      vocabWords: Int = 5000): Array[Array[String]] = {
    require(nMerges >= 1 && vocabWords >= 1)
    trainsRun.incrementAndGet()
    val words = df
      .select(explode(split(lower(col(textCol)), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("w"))
      .limit(vocabWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // vocab as mutable char-split words with counts
    var vocab: Array[(Array[String], Long)] = words.map { case (w, n) =>
      val parts = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        val c = Character.charCount(cp)
        parts += w.substring(i, i + c)
        i += c
      }
      (parts.toArray, n)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (parts, n) =>
        var j = 0
        while (j < parts.length - 1) {
          val key = (parts(j), parts(j + 1))
          pairCounts.update(key, pairCounts.getOrElse(key, 0L) + n)
          j += 1
        }
      }
      if (pairCounts.isEmpty) exhausted = true
      else {
        // highest count; ties -> lexicographically smallest pair (the
        // reverse string orderings make maxBy pick the smallest)
        val ((a, b), _) = pairCounts.maxBy { case ((x, y), n) => (n, (x, y)) }(
          Ordering.Tuple2(Ordering.Long,
            Ordering.Tuple2(Ordering.String.reverse, Ordering.String.reverse)))
        merges += Array(a, b)
        vocab = vocab.map { case (parts, n) =>
          if (parts.length < 2) (parts, n)
          else {
            val next = scala.collection.mutable.ArrayBuffer.empty[String]
            var k = 0
            while (k < parts.length) {
              if (k < parts.length - 1 && parts(k) == a && parts(k + 1) == b) {
                next += a + b; k += 2
              } else { next += parts(k); k += 1 }
            }
            (next.toArray, n)
          }
        }
        round += 1
      }
    }
    merges.toArray
  }

  /** Token array column for `textCol` under a trained merge table. */
  def encode(textCol: Column, merges: Array[Array[String]]): Column =
    bridge.column(BpeEncode(bridge.expression(textCol), merges))

  private val trainsRun = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] def trainCount: Int = trainsRun.get

  private val Format = Manifest.Format("1", "BPE merge-table")

  /** Order-sensitive fingerprint of the merge table: BPE merges apply in
    * rank order, so the sha pins the sequence, not just the set. */
  private def mergesSha(merges: Array[Array[String]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    merges.zipWithIndex.foreach { case (m, i) =>
      md.update(s"$i:${m(0)}\u0001${m(1)};".getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Durable form of a trained merge table — the TRAIN/SERVE lifecycle
    * every other expensive artifact here has (BigramLm, QualityClassifier,
    * the indexes): merges land as a (rank, a, b) parquet table plus a
    * manifest (ARCHITECTURE.md "Durable artifacts"), so a later session
    * reopens the tokenizer with ZERO training jobs and encodes under the
    * identical vocabulary — the contract a tokenizer must keep anyway,
    * since two corpora encoded under different merge tables are not
    * comparable. */
  def write(spark: org.apache.spark.sql.SparkSession, path: String,
      merges: Array[Array[String]], source: String = ""): Unit = {
    import spark.implicits._
    merges.zipWithIndex.map { case (m, i) => (i, m(0), m(1)) }.toSeq
      .toDF("rank", "a", "b")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/merges")
    Manifest.writeBuilt(spark, path, Format, "source" -> source,
      "nMerges" -> merges.length, "mergesSha" -> mergesSha(merges))
  }

  /** Reopen a written merge table ONLY if its manifest proves it complete,
    * current, and trained from the caller's `source` — metadata-sized
    * validation, zero training jobs on a hit. */
  def loadIfValid(spark: org.apache.spark.sql.SparkSession, path: String,
      source: String): Option[Array[Array[String]]] =
    Manifest.reopen(spark, path, Format, source) { m =>
      val merges = load(spark, path)
      Some(merges).filter(_ => m.get("nMerges").contains(merges.length.toString) &&
        m.get("mergesSha").contains(mergesSha(merges)))
    }

  /** Reopen a written merge table in rank order. */
  def load(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[String]] =
    spark.read.parquet(s"$path/merges").orderBy("rank")
      .collect().map(r => Array(r.getString(1), r.getString(2)))
}
