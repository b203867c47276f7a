package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.functions.{pq_adc_score, pq_encode, vec_dot, vec_l2norm}

/** Product-quantization ANN index (the FAISS-style PQ/ADC scan) with the
  * same explicit BUILD / QUERY lifecycle as [[IvfIndex]].
  *
  * `build` trains `m` independent per-subspace codebooks (`ksub` centroids
  * each) driver-side on a bounded deterministic sample — no corpus-scanning
  * fit job — and encodes the corpus once through the codegen'd
  * [[graft.functions.PqEncode]] argmin kernel: d*4 float bytes collapse to
  * m code bytes per vector (64-dim float, m=8 -> 32x). `topK` never
  * decodes: each query precomputes an m*ksub lookup table of subspace dot
  * products, the code column is scanned with m table lookups per row
  * (asymmetric distance computation via [[graft.functions.PqAdcScore]]),
  * and only the ADC top-`nCandidates` are re-ranked by exact cosine on the
  * raw vectors.
  *
  * Scale posture: the ADC scan shuffles only (q_id, c_id, adc) triples —
  * never vectors — and the candidate cut is TWO-LEVEL (per-partition
  * top-C within `spark_partition_id`, then global top-C per query), so no
  * single task ever sees a corpus-sized group; the exact re-rank touches
  * `|q| * nCandidates` rows. At 100 TB the codes table is what you
  * materialize hot (32x smaller than the floats) and the raw vectors stay
  * cold behind the candidate join, mirroring `IvfIndex`'s
  * build-once/serve-many file lifecycle.
  */
final class PqIndex private (
    /** (c_id, cv raw vector, cn norm, code array<tinyint>) — persisted.
      * One table carries both representations deliberately: parquet (and
      * the in-memory columnar cache) is COLUMNAR, so the ADC scan's
      * `select(c_id, code)` reads only the 8-byte code column
      * (ReadSchema pruning — the 32x scan-IO story) while the re-rank's
      * bounded candidate join reads vectors without a second table or a
      * join key rewrite. The storage footprint of the durable copy does
      * duplicate the raw vectors; at scale, point `write` output at the
      * serving tier and drop the source table instead of keeping both. */
    val codes: DataFrame,
    val codebook: Array[Array[Array[Double]]],
    val m: Int,
    val ksub: Int) {

  def close(): Unit = codes.unpersist()

  /** Durable form: codes table + codebook sidecar + manifest
    * (build-once / serve-many-sessions, like [[IvfIndex.write]]; the
    * format is ARCHITECTURE.md "Durable artifacts"). */
  def write(path: String, source: String = ""): Unit =
    writeLedger(path, source, Set(source))

  /** [[write]] with an explicit applied-sources ledger: [[PqIndex.retrain]]
    * stages its rebuild with the carried ledger already in the manifest. */
  private[operators] def writeLedger(path: String, source: String,
      ledger: Set[String]): Unit = {
    val spark = codes.sparkSession
    import spark.implicits._
    // rebuild IS the crash recovery: drop any lease a dead maintainer left
    WriterLease.clear(spark, path)
    codes.write.mode("overwrite").parquet(s"$path/codes")
    codebook.zipWithIndex.flatMap { case (cents, j) =>
      cents.zipWithIndex.map { case (ctr, c) => (j, c, ctr.toSeq) }
    }.toSeq.toDF("j", "c", "ctr")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
    // footer-stats count of what was just written — metadata, not a scan
    val rows = spark.read.parquet(s"$path/codes").count()
    Manifest.writeBuilt(spark, path, PqIndex.Format,
      "source" -> source, Manifest.ledgerField(ledger), "m" -> m,
      "ksub" -> ksub, "rows" -> rows, "tombRows" -> 0,
      "codebookSha" -> PqIndex.codebookSha(codebook),
      // build-time staleness baselines (appends preserve both verbatim):
      // quantization error of the frozen codebook on a bounded sample of
      // the indexed population, and the population size it was fitted for
      "buildMse" -> PqIndex.sampleMse(spark.read.parquet(s"$path/codes"), codebook),
      "buildRows" -> rows)
  }

  /** ADC lookup table for one query: lut(j*ksub + c) = <q_sub_j, cb(j)(c)>,
    * so Σ_j lut(j*ksub + code_j) = <q, decode(code)> — the asymmetric
    * approximation of the query-corpus dot product. */
  private[graft] def lutFor(q: Array[Double]): Array[Double] = {
    val dsub = codebook(0)(0).length
    require(q.length == m * dsub,
      s"query dimension ${q.length} does not match this index " +
        s"(m=$m subspaces x dsub=$dsub = ${m * dsub}) — a longer query " +
        "would overrun the codebook, a shorter one would silently score " +
        "a truncated LUT")
    val sub = q.length / m
    val out = new Array[Double](m * ksub)
    var j = 0
    while (j < m) {
      var c = 0
      while (c < ksub) {
        val ctr = codebook(j)(c)
        var s = 0.0
        var i = 0
        while (i < sub) { s += q(j * sub + i) * ctr(i); i += 1 }
        out(j * ksub + c) = s
        c += 1
      }
      j += 1
    }
    out
  }

  /** Bounded driver-side query collection: (q_id, qv, qn, lut) with the
    * per-query ADC lookup table as a plan literal. Shared by this index's
    * [[topK]] and the composed [[IvfPq]] path (same maxQueries/LUT
    * contract — one implementation, one tie-break policy). */
  private[operators] def queryLuts(queries: DataFrame, maxQueries: Int): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val rows = queries.select(col("q_id"), col("qv")).limit(maxQueries + 1).collect()
    require(rows.length <= maxQueries,
      s"PQ query set exceeds $maxQueries rows — the per-query LUT literal " +
        "contract is |queries| << |corpus|; batch larger sets")
    rows.map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      val n = math.sqrt(v.map(x => x * x).sum)
      (r.getLong(0), r.getSeq[Float](1), n, lutFor(v).toSeq)
    }.toSeq.sortBy(_._1).toDF("q_id", "qv", "qn", "lut")
  }

  /** Phases shared by the plain and IVF-composed serving paths: ADC-score
    * `withLut` (q_id, c_id, code, lut), take the two-level
    * top-`nCandidates` cut over slim (q_id, c_id, adc) rows — rank within
    * (q_id, partition) first, then globally, so no task ever sees a
    * corpus-sized group — and exact-cosine re-rank the shortlist against
    * `vectors` (c_id, cv, cn). */
  private[operators] def rankShortlist(withLut: DataFrame, luts: DataFrame,
      vectors: DataFrame, k: Int, nCandidates: Int): DataFrame = {
    val slim = withLut
      .withColumn("adc", pq_adc_score(col("code"), col("lut"), ksub))
      .select("q_id", "c_id", "adc")
      .withColumn("pid", spark_partition_id())
    val w1 = Window.partitionBy("q_id", "pid").orderBy(desc("adc"), col("c_id"))
    val w2 = Window.partitionBy("q_id").orderBy(desc("adc"), col("c_id"))
    val cand = slim
      .withColumn("r1", row_number().over(w1)).filter(col("r1") <= nCandidates)
      .withColumn("r2", row_number().over(w2)).filter(col("r2") <= nCandidates)
      .select("q_id", "c_id")
    val w3 = Window.partitionBy("q_id").orderBy(desc("cosine"), col("c_id"))
    cand.join(vectors, "c_id")
      .join(broadcast(luts.select("q_id", "qv", "qn")), "q_id")
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", vec_dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w3))
      .filter(col("rank") <= k)
      .select("q_id", "c_id", "rank", "cosine")
  }

  /** Exact-cosine top-k over the ADC top-`nCandidates` shortlist for a
    * bounded query set (columns: q_id, qv array<float>). The query set is
    * collected driver-side (the |queries| << corpus broadcast-scan
    * contract, capped loudly) because each query's LUT is a plan literal. */
  def topK(queries: DataFrame, k: Int, nCandidates: Int,
      maxQueries: Int = 1024): DataFrame = {
    require(k >= 1 && nCandidates > k, s"need nCandidates > k >= 1")
    val luts = queryLuts(queries, maxQueries)
    val withLut = codes.select(col("c_id"), col("code"))
      .crossJoin(broadcast(luts.select(col("q_id"), col("lut"))))
    rankShortlist(withLut, luts, codes.select("c_id", "cv", "cn"), k, nCandidates)
  }
}

object PqIndex {
  private val buildsRun = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] def buildCount: Int = buildsRun.get

  private val Format = Manifest.Format("1", "PQ index",
    Seq("rows" -> "codes"), tombstones = true)

  /** Order-independent fingerprint of the codebook (subspace, centroid
    * ids + exact double bits). */
  private def codebookSha(cb: Array[Array[Array[Double]]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(8 + cb(0)(0).length * 8)
    var j = 0
    while (j < cb.length) {
      var c = 0
      while (c < cb(j).length) {
        bb.clear()
        bb.putInt(j); bb.putInt(c)
        cb(j)(c).foreach(d => bb.putLong(java.lang.Double.doubleToLongBits(d)))
        md.update(bb.array(), 0, bb.position())
        c += 1
      }
      j += 1
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Reopen a written index ONLY if its manifest proves it complete,
    * current, and built from the caller's `source` — metadata-sized
    * validation (manifest fields, codebook checksum, footer row count),
    * never a data scan. Second-session entry point of the build-once
    * lifecycle: a valid hit skips the codebook fit AND the corpus encode
    * pass entirely. */
  def loadIfValid(spark: org.apache.spark.sql.SparkSession, path: String,
      source: String): Option[PqIndex] =
    Manifest.reopen(spark, path, Format, source) { mf =>
      val idx = open(spark, path, mf)
      Some(idx).filter(_ => mf.get("m").contains(idx.m.toString) &&
        mf.get("ksub").contains(idx.ksub.toString) &&
        mf.get("codebookSha").contains(codebookSha(idx.codebook)) &&
        // PHYSICAL row count (the served idx.codes view already excludes
        // pending tombstones)
        mf.counts("rows", spark.read.parquet(s"$path/codes")))
    }

  /** In-session index under a CALLER-FROZEN codebook — no k-means fit,
    * no sample job, no persist: one lazy encode scan through the
    * codegen'd argmin kernel. The staging/parity tool for the
    * incremental lifecycle ([[IvfIndex.withCentroids]]'s PQ twin): an
    * index built this way over (base ∪ arrivals) holds EXACTLY the rows
    * a [[build]]-then-[[appendTo]] sequence with this codebook commits
    * to disk (the encode expression is shared), so serving parity
    * between the two gates the whole append path. */
  def withCodebook(df: DataFrame, idCol: String, vecCol: String,
      codebook: Array[Array[Array[Double]]]): PqIndex = {
    require(codebook.nonEmpty && codebook(0).nonEmpty,
      "need a non-empty codebook")
    val codes = df.select(col(idCol).as("c_id"), col(vecCol).as("cv"))
      .withColumn("cn", vec_l2norm(col("cv")))
      .withColumn("code", pq_encode(col("cv"), codebook))
    new PqIndex(codes, codebook, codebook.length, codebook(0).length)
  }

  /** Incremental maintenance: encode `df`'s vectors with the WRITTEN
    * index's existing codebook (no re-fit — the sidecar is the contract),
    * append them to the codes table, refresh the manifest for
    * `newSource`. The IVF twin is [[IvfIndex.appendTo]]; together they
    * keep the composed [[IvfPq]] path serving daily arrivals with one
    * scan of the new data. Codebook drift is the operator's rebuild
    * call; the manifest's codebook checksum pins what every code was
    * encoded under. Ledgered, recounted and tombstone-checked as every
    * durable-artifact append (ARCHITECTURE.md "Durable artifacts"):
    * returns false for an already-applied tag, refuses a torn table
    * (recovery is a rebuild). Returns true when applied. */
  def appendTo(spark: org.apache.spark.sql.SparkSession, path: String,
      df: DataFrame, idCol: String, vecCol: String, newSource: String): Boolean =
    Manifest.applyBatch(spark, path, Format, "appending", newSource) { prior =>
      // an appended id matching a pending tombstone would be served DEAD
      Manifest.refuseTombstoned(spark, path, prior,
        df.select(col(idCol).as("c_id")), "c_id")
      val idx = open(spark, path, prior)
      df.select(col(idCol).as("c_id"), col(vecCol).as("cv"))
        .withColumn("cn", vec_l2norm(col("cv")))
        .withColumn("code", pq_encode(col("cv"), idx.codebook))
        .write.mode("append").parquet(s"$path/codes")
      // codebook fields, pending excisions and the BUILD-time staleness
      // baselines carry over verbatim
      Manifest.write(spark, path, Format, prior.applying(newSource,
        "rows" -> spark.read.parquet(s"$path/codes").count()))
    }

  /** EXCISE: remove vectors from a written index — [[IvfIndex.excise]]'s
    * code-table twin, completing append → compact → DELETE for the PQ
    * family. Tombstone-then-compact: the excised ids land in a tombstone
    * list (metadata-sized write) that [[load]] bakes into the codes view
    * as an anti join, so every ADC scan and re-rank between the excise
    * and the next [[compact]] already serves only the survivors; the
    * compact folds the physical drop into its rewrite. `ids` is a
    * single-column DataFrame named `idCol`. */
  def excise(spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame, idCol: String, newSource: String): Boolean =
    Manifest.excise(spark, path, Format, ids.select(col(idCol).as("c_id")),
      newSource)

  /** OPTIMIZE: rewrite the fragmented codes table of a written index
    * into `nFiles` files — the [[IvfIndex.compact]] step for the flat
    * (unpartitioned) code stream, whose [[appendTo]] adds one parquet
    * file per batch — AND physically drop any rows tombstoned by
    * [[excise]] ([[Manifest.compact]]: staged, recounted, swapped). */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      nFiles: Int = 1): Unit = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    Manifest.compact(spark, path, Format, "codes", "rows", _ => "c_id") {
      (survivors, staging) =>
        survivors.repartition(nFiles).write.mode("overwrite").parquet(staging)
    }
  }

  /** Mean squared reconstruction error ||cv - decode(code)||² of the
    * codebook over a BOUNDED deterministic (md5, id)-ordered sample of
    * the codes table — the quantization-quality probe used as the
    * staleness baseline and its recheck. Driver-side over <= `sampleSize`
    * rows; never a corpus scan. */
  private[operators] def sampleMse(codes: DataFrame,
      codebook: Array[Array[Array[Double]]], sampleSize: Int = 1024): Double = {
    val rows = codes.select(col("c_id"), col("cv"), col("code"))
      .orderBy(md5(col("c_id").cast("string")), col("c_id"))
      .limit(sampleSize).collect()
    if (rows.isEmpty) return 0.0
    val sub = codebook(0)(0).length
    var total = 0.0
    rows.foreach { r =>
      val v = r.getSeq[Float](1)
      val code = r.getSeq[Byte](2)
      var s = 0.0
      var j = 0
      while (j < code.length) {
        val ctr = codebook(j)((code(j) & 0xff))
        var i = 0
        while (i < sub) {
          val d = v(j * sub + i) - ctr(i)
          s += d * d
          i += 1
        }
        j += 1
      }
      total += s
    }
    total / rows.length
  }

  /** Codebook-drift report: `buildMse`/`nowMse` are the bounded-sample
    * quantization errors at build time and now; `fracAppended` the share
    * of the table encoded after the codebook was frozen. */
  final case class DriftReport(buildMse: Double, nowMse: Double,
      fracAppended: Double, stale: Boolean)

  /** Measure codebook drift for a written index — [[appendTo]] encodes
    * arrivals under the frozen codebook forever, so a shifted corpus
    * quantizes with growing error, the ADC ordering degrades, and
    * shortlist recall decays silently. The recheck costs one bounded
    * sample of the codes table (reservoir contract of [[sampleMse]]) plus
    * manifest metadata. Stale when the sample error grew `mseGrowth` x
    * over the build baseline, or `appendedFrac` of the table postdates
    * the codebook — the operator's move is [[retrain]]. */
  def staleness(spark: org.apache.spark.sql.SparkSession, path: String,
      mseGrowth: Double = 2.0, appendedFrac: Double = 0.5): DriftReport = {
    val props = Manifest.read(spark, path)
    val buildMse = props.get("buildMse").map(_.toDouble)
      .getOrElse(sys.error(s"manifest at $path predates buildMse — " +
        "rewrite the index to enable drift tracking"))
    val buildRows = props.get("buildRows").map(_.toDouble)
      .getOrElse(sys.error(s"manifest at $path predates buildRows"))
    val idx = load(spark, path)
    val nowMse = sampleMse(idx.codes, idx.codebook)
    val nowRows = idx.codes.count().toDouble
    val frac = if (nowRows == 0) 0.0 else (nowRows - buildRows) / nowRows
    DriftReport(buildMse, nowMse, frac,
      nowMse > mseGrowth * math.max(buildMse, 1e-12) || frac >= appendedFrac)
  }

  /** Drift-triggered codebook re-fit — [[IvfIndex.refitIfStale]]'s PQ
    * twin, the actuation half of [[staleness]]: MEASURE (one bounded
    * sample + manifest metadata), DECIDE against the growth/appended
    * bounds, and [[retrain]]-and-swap ONLY when stale. The no-drift
    * branch is a ZERO-build no-op (no encode, no fit — counter-fenced by
    * the caller), so a scheduled maintenance job can call this blindly
    * on every index it owns. `m`/`ksub` are the REFRESHED codebook's
    * parameters — a refit is the natural moment to move a half-corpus
    * bootstrap codebook to the full serving operating point. Returns
    * true when a refit ran. */
  def refitIfStale(spark: org.apache.spark.sql.SparkSession, path: String,
      m: Int, ksub: Int, newSource: String, mseGrowth: Double = 2.0,
      appendedFrac: Double = 0.5, seed: Long = 42L, maxIter: Int = 10,
      sampleSize: Int = 4096): Boolean = {
    val rep = staleness(spark, path, mseGrowth, appendedFrac)
    if (!rep.stale) false
    else {
      retrain(spark, path, m, ksub, newSource, seed, maxIter, sampleSize)
        .close() // loaded handle: close is a no-op, residency is the table
      true
    }
  }

  /** Rebuild under a FRESH codebook fitted to everything the table now
    * holds and swap it in. The rebuild is staged at `path-next` (the live
    * table keeps serving reads) with the applied-sources ledger carried
    * over in its manifest, so pre-retrain batch retries stay refused, and
    * swapped by [[Manifest.commitStaged]]: a crash between its renames is
    * adopted by the next [[loadIfValid]]. */
  def retrain(spark: org.apache.spark.sql.SparkSession, path: String,
      m: Int, ksub: Int, newSource: String, seed: Long = 42L,
      maxIter: Int = 10, sampleSize: Int = 4096): PqIndex =
      WriterLease.withLease(spark, path) {
    val ledger = Manifest.readLive(spark, path, Format, "retraining").ledger
    val current = load(spark, path).codes.select("c_id", "cv")
    val rebuilt = build(current, "c_id", "cv", m, ksub, seed, maxIter, sampleSize)
    try Manifest.commitStaged(spark, path)(
      rebuilt.writeLedger(_, newSource, ledger + newSource))
    finally rebuilt.close()
    load(spark, path)
  }

  /** Reopen a [[PqIndex#write]]ten index: the codes table is a LAZY
    * parquet scan (no persist — at scale the 8-byte-code table is the
    * hot materialization itself) and the codebook comes from the
    * sidecar. When excisions await compaction ([[excise]]) the tombstone
    * anti join is baked into the codes view here, so the ADC scan AND
    * the exact re-rank both exclude the excised vectors. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): PqIndex =
    open(spark, path, Manifest.read(spark, path))

  private def open(spark: org.apache.spark.sql.SparkSession, path: String,
      mf: Manifest): PqIndex = {
    val cbRows = spark.read.parquet(s"$path/codebook")
      .select("j", "c", "ctr").collect()
    require(cbRows.nonEmpty, s"no codebook sidecar under $path")
    val m = cbRows.map(_.getInt(0)).max + 1
    val ksub = cbRows.map(_.getInt(1)).max + 1
    val cb = Array.ofDim[Array[Double]](m, ksub)
    cbRows.foreach { r =>
      cb(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    new PqIndex(Manifest.withoutTombstones(spark, path, mf,
      spark.read.parquet(s"$path/codes"), "c_id"), cb, m, ksub)
  }

  /** Train per-subspace codebooks on a bounded hash-ordered sample and
    * encode the corpus once (persisted). `d % m == 0` required. */
  def build(df: DataFrame, idCol: String, vecCol: String, m: Int = 8,
      ksub: Int = 16, seed: Long = 42L, maxIter: Int = 10,
      sampleSize: Int = 4096): PqIndex = {
    require(m >= 1 && ksub >= 2 && ksub <= 256,
      s"need m >= 1 and 2 <= ksub <= 256, got m=$m ksub=$ksub")
    buildsRun.incrementAndGet()
    val base = df.select(col(idCol).as("c_id"), col(vecCol).as("cv"))
      .withColumn("cn", vec_l2norm(col("cv")))
    // deterministic bounded sample in (md5, id) order — same recipe as
    // IvfIndex.build, but RAW vectors: PQ approximates the raw dot product
    val sample = base.select(col("cv"))
      .orderBy(md5(col("c_id").cast("string")), col("c_id"))
      .limit(math.max(sampleSize, ksub * 8))
      .collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.nonEmpty, "cannot build a PQ index over an empty corpus")
    val d = sample.head.length
    require(d % m == 0, s"vector dim $d not divisible by m=$m")
    val sub = d / m
    // restarts pay off at small k (seeding variance); at large codebooks
    // k-means++ is already stable and each restart costs O(iter*n*k*dim)
    val restarts = if (ksub <= 32) 3 else 1
    val codebook = Array.tabulate(m) { j =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub))
      (0 until restarts).map(r => KMeansLocal.lloyd(pts, ksub, seed + 31 * j + r, maxIter))
        .minBy(cs => KMeansLocal.inertia(pts, cs))
    }
    val codes = base
      .withColumn("code", pq_encode(col("cv"), codebook))
      .persist(StorageLevel.MEMORY_AND_DISK)
    new PqIndex(codes, codebook, m, ksub)
  }
}

/** Driver-side Lloyd's with k-means++ seeding over a bounded sample (at
  * most sampleSize*dim doubles). Deterministic given the seed and sample
  * order. Shared by the PQ codebook trainer; `IvfIndex` keeps its own
  * spherical variant. */
private[operators] object KMeansLocal {

  def inertia(pts: Array[Array[Double]], cs: Array[Array[Double]]): Double = {
    var total = 0.0
    pts.foreach { p => total += minD2(p, cs)._2 }
    total
  }

  private def d2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  private def minD2(p: Array[Double], cs: Array[Array[Double]]): (Int, Double) = {
    var best = 0; var bd = Double.MaxValue; var i = 0
    while (i < cs.length) {
      val s = d2(p, cs(i))
      if (s < bd) { bd = s; best = i }
      i += 1
    }
    (best, bd)
  }

  def lloyd(pts: Array[Array[Double]], k: Int, seed: Long,
      maxIter: Int): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    val dim = pts.head.length
    // k-means++ seeding with an INCREMENTAL min-distance array: each new
    // center only updates minDist against itself, so seeding is
    // O(k*n*dim), not the naive O(k^2*n*dim) (at k=256 codebooks the
    // naive form dominated the whole index build)
    val centers = new Array[Array[Double]](k)
    val minDist = new Array[Double](pts.length)
    centers(0) = pts(rnd.nextInt(pts.length)).clone()
    var i = 0
    while (i < pts.length) { minDist(i) = d2(pts(i), centers(0)); i += 1 }
    var c = 1
    while (c < k) {
      val total = minDist.sum
      if (total <= 0) {
        centers(c) = pts(rnd.nextInt(pts.length)).clone()
      } else {
        var target = rnd.nextDouble() * total
        var idx = 0
        while (idx < pts.length - 1 && target > minDist(idx)) {
          target -= minDist(idx); idx += 1
        }
        centers(c) = pts(idx).clone()
      }
      i = 0
      while (i < pts.length) {
        val d = d2(pts(i), centers(c))
        if (d < minDist(i)) minDist(i) = d
        i += 1
      }
      c += 1
    }
    // Lloyd iterations
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      pts.foreach { p =>
        val a = minD2(p, centers)._1
        counts(a) += 1
        var i = 0
        while (i < dim) { sums(a)(i) += p(i); i += 1 }
      }
      moved = false
      var i = 0
      while (i < k) {
        if (counts(i) > 0) {
          val nc = sums(i).map(_ / counts(i))
          if (!java.util.Arrays.equals(nc, centers(i))) { moved = true; centers(i) = nc }
        } else {
          // empty cell: re-seed on the point farthest from its center
          val far = pts.maxBy(p => minD2(p, centers)._2)
          centers(i) = far.clone()
          moved = true
        }
        i += 1
      }
      iter += 1
    }
    centers
  }
}
