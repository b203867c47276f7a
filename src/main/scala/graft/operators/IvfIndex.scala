package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.functions.{vec_dot, vec_l2norm}

/** IVF (inverted-file) ANN index with an explicit BUILD / QUERY lifecycle.
  *
  * The one-shot formulation (fit a coarse quantizer inside every query)
  * re-pays the KMeans fit — the expensive, corpus-scanning step — on each
  * call. A real engine builds the index once and amortizes it: `build`
  * fits the quantizer and PERSISTS the cell assignments (vec_id, vector,
  * norm, cell — the "inverted file"); `topK` is then a pure lazy plan over
  * the persisted assignments: rank the `nprobe` centroid-closest cells per
  * query (a |q| x nCells metadata cross), hash-join the corpus by its
  * single cell key, exact-score candidates, window top-k. Nothing
  * corpus-sized is ever broadcast or re-fit.
  *
  * At cluster scale the same lifecycle holds with the assignments written
  * to a bucketed table partitioned by `cell` (the scan then prunes probed
  * cells); `persist` is the single-session analogue.
  */
final class IvfIndex private (
    val cells: DataFrame,
    val centroids: Seq[(Int, Array[Float])],
    val nCells: Int,
    /** true when `cells` is a cell-partitioned parquet scan ([[IvfIndex.load]])
      * rather than an in-session persist — the query path then prunes the
      * scan statically (see [[topK]]). */
    val fileBacked: Boolean) {

  /** The nprobe centroid-closest cells per query — (q_id, qv, qn, cell).
    * Metadata-sized by construction (|q| x nCells cross against the
    * broadcast centroid table); exposed so callers/tests can see exactly
    * which cells a query set will touch. Distance is in the index's
    * SPHERICAL geometry (see build): ||q̂ - c||^2 = 1 - 2<q,c>/||q|| + ||c||^2 */
  def probes(queries: DataFrame, nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"need nprobe >= 1")
    val spark = cells.sparkSession
    import spark.implicits._
    val cent = centroids.toDF("cell", "centroid")
    val q = queries.select(col("q_id"), col("qv"))
      .withColumn("qn", vec_l2norm(col("qv")))
    val cw = Window.partitionBy("q_id").orderBy(col("cdist"), col("cell"))
    q.crossJoin(broadcast(cent))
      .withColumn("cdist",
        lit(1.0) + vec_l2norm(col("centroid")) * vec_l2norm(col("centroid"))
          - lit(2.0) * vec_dot(col("qv"), col("centroid"))
            / when(col("qn") > 0, col("qn")).otherwise(lit(1.0)))
      .withColumn("crk", row_number().over(cw))
      .filter(col("crk") <= nprobe)
      .select("q_id", "qv", "qn", "cell")
  }

  /** Exact-scored cosine top-k over the probed cells for a query set
    * (columns: q_id, qv array<float>).
    *
    * For an in-session (persisted) index this is fully lazy — no job runs
    * here. For a [[fileBacked]] index the probed cell ids are resolved
    * EAGERLY first (a metadata-sized job: the probe selection collapses to
    * at most |q| * nprobe distinct ints) and applied to the scan as a
    * STATIC partition filter, so the cell-partitioned table prunes to the
    * probed cells at planning time — nprobe/nCells of the corpus bytes
    * read, guaranteed, under DEFAULT session confs (IvfPersistSpec asserts
    * partitions-read == probed-cells). Dynamic partition pruning could
    * express the same thing lazily, but only under three non-default confs
    * (`dynamicPartitionPruning.reuseBroadcastOnly=false` because the probe
    * side's window rank defeats the broadcast-reuse sameResult check, plus
    * `useStats=false` / a raised `fallbackFilterRatio` so the benefit
    * estimate doesn't veto the filter); a caller who forgot them silently
    * scanned EVERY cell — the entire point of the partitioned inverted
    * file. The static filter removes that failure mode, and the eager
    * probe job it pays is the same metadata-sized subquery DPP would have
    * re-run standalone anyway. */
  def topK(queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    require(k >= 1 && nprobe >= 1, s"need k >= 1 and nprobe >= 1")
    val pr = probes(queries, nprobe)
    val corpus =
      if (fileBacked) {
        val probed = pr.select("cell").distinct().collect().map(_.getInt(0)).sorted
        cells.filter(col("cell").isin(probed.toSeq: _*))
      } else cells
    val w = Window.partitionBy("q_id").orderBy(desc("cosine"), col("c_id"))
    corpus.join(broadcast(pr), Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", vec_dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "c_id", "rank", "cosine")
  }

  /** FILTERED top-k (FAISS IDSelector-style): exact-scored cosine top-k
    * over the probed cells restricted to the ids in `allowed` (a DataFrame
    * with a single `c_id` column — the caller derives it from whatever
    * metadata predicate applies, e.g. a pushed-down scan of an id+label
    * projection). The restriction is a LEFT SEMI join applied to the
    * candidate stream BEFORE scoring and ranking — post-filtering an
    * already-ranked top-k under-fills (or empties) the result whenever the
    * predicate is selective, which is the classic filtered-search bug.
    * Catalyst broadcasts the semi join when `allowed` is small and
    * shuffles both sides on c_id otherwise; either way nothing
    * corpus-sized is duplicated, and a file-backed index still prunes to
    * the probed cells first, so the semi join sees nprobe/nCells of the
    * corpus, not all of it. */
  def topKFiltered(queries: DataFrame, k: Int, nprobe: Int,
      allowed: DataFrame): DataFrame = {
    require(k >= 1 && nprobe >= 1, s"need k >= 1 and nprobe >= 1")
    require(allowed.columns.toSeq == Seq("c_id"),
      s"allowed must have exactly one column c_id, got ${allowed.columns.toSeq}")
    val pr = probes(queries, nprobe)
    val corpus =
      if (fileBacked) {
        val probed = pr.select("cell").distinct().collect().map(_.getInt(0)).sorted
        cells.filter(col("cell").isin(probed.toSeq: _*))
      } else cells
    val w = Window.partitionBy("q_id").orderBy(desc("cosine"), col("c_id"))
    corpus.join(allowed, Seq("c_id"), "left_semi")
      .join(broadcast(pr), Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", vec_dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "c_id", "rank", "cosine")
  }

  /** The `nAssign` centroid-closest cells per indexed vector — SOFT
    * multi-assignment, the corpus-side analogue of query-side multi-probe.
    * Within-cell operations (e.g. [[Dedup.semanticPairs]]) become robust
    * to cluster-boundary splits: a pair lands together iff it shares ANY
    * of the nAssign cells. Returns the cells shape with each vector
    * repeated once per assigned cell (work scales by ~nAssign, the
    * within-cell quadratic by ~nAssign²-ish collisions — keep nAssign
    * small). Lazy projection over the persisted assignments; distance
    * ranking reuses the build's spherical geometry with the same
    * (distance, cell) lexicographic tie-break. */
  def softCells(nAssign: Int): DataFrame = {
    require(nAssign >= 1 && nAssign <= nCells,
      s"need 1 <= nAssign <= nCells=$nCells, got $nAssign")
    if (nAssign == 1) cells
    else {
      val distStructs = centroids.map { case (i, ctr) =>
        val cd = ctr.map(_.toDouble)
        val c2 = cd.map(x => x * x).sum
        struct(
          (lit(1.0 + c2)
            - lit(2.0) * vec_dot(col("cv"), typedlit(cd.toSeq))
              / when(col("cn") > 0, col("cn")).otherwise(lit(1.0))).as("d"),
          lit(i).as("cell"))
      }
      cells.select(col("c_id"), col("cv"), col("cn"))
        .withColumn("__a", slice(array_sort(array(distStructs: _*)), 1, nAssign))
        .select(explode(col("__a").getField("cell")).as("cell"),
          col("c_id"), col("cv"), col("cn"))
    }
  }

  /** Release the persisted inverted file (no-op for a loaded index — its
    * residency is the partitioned table itself). */
  def close(): Unit = { cells.unpersist(); () }

  /** Persist the index durably as a CELL-PARTITIONED parquet table — the
    * cluster-scale form of the inverted file. Each cell becomes a
    * partition directory, so a [[IvfIndex.load]]ed index's probe join
    * dynamically prunes the scan to the probed cells: at 100 TB a
    * nprobe/nCells probe reads nprobe/nCells of the corpus bytes, and the
    * index outlives the session (the in-memory `persist` from build is
    * the single-session analogue). Centroids ride along as a tiny sidecar
    * table.
    *
    * `source` tags the manifest with the caller's identity for the
    * indexed data (a path plus a file fingerprint, say); a later session
    * passing the same tag to [[IvfIndex.loadIfValid]] reopens the index
    * WITHOUT paying the build — the build-once / serve-many-sessions
    * lifecycle a 100 TB index requires (format and commit protocol:
    * ARCHITECTURE.md "Durable artifacts"). */
  def write(path: String, source: String = ""): Unit =
    writeLedger(path, source, Set(source))

  /** [[write]] with an explicit applied-sources ledger: [[IvfIndex.retrain]]
    * stages its rebuild with the carried ledger already in the manifest. */
  private[operators] def writeLedger(path: String, source: String,
      ledger: Set[String]): Unit = {
    val spark = cells.sparkSession
    import spark.implicits._
    // rebuild IS the crash recovery: drop any lease a dead maintainer left
    WriterLease.clear(spark, path)
    cells.write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    centroids.toDF("cell", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    // row counts via parquet footer stats over what was just written — a
    // metadata pass, not a data scan, at any scale (the zero-column
    // count(*) per cell partition is satisfied from file row counts)
    val sizes = IvfIndex.cellCounts(spark, path)
    Manifest.writeBuilt(spark, path, IvfIndex.Format,
      "source" -> source, Manifest.ledgerField(ledger), "nCells" -> nCells,
      "rows" -> sizes.map(_._2).sum, "tombRows" -> 0,
      "centroidSha" -> IvfIndex.centroidSha(centroids),
      // build-time cell-balance snapshot: the baseline every later
      // staleness() call compares against (appends preserve it verbatim)
      "buildCellSizes" -> IvfIndex.formatSizes(sizes))
  }
}

object IvfIndex {

  private val Format = Manifest.Format("1", "IVF index",
    Seq("rows" -> "cells"), tombstones = true)

  /** Builds run this JVM — lets tests assert the load-without-rebuild
    * path really skipped the quantizer fit. */
  private[graft] val buildsRun = new java.util.concurrent.atomic.AtomicLong(0)

  /** Order-independent fingerprint of the centroid table (cell ids +
    * exact float bits), used to pin the sidecar against the manifest. */
  private def centroidSha(cs: Seq[(Int, Array[Float])]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(4 + cs.map(_._2.length).maxOption.getOrElse(0) * 4)
    cs.sortBy(_._1).foreach { case (i, arr) =>
      bb.clear()
      bb.putInt(i)
      arr.foreach(f => bb.putInt(java.lang.Float.floatToIntBits(f)))
      md.update(bb.array(), 0, bb.position())
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Reopen a written index ONLY if its manifest proves it complete,
    * current, and built from the caller's `source` — otherwise None and
    * the caller rebuilds. Validation is metadata-sized: manifest fields,
    * the centroid sidecar's checksum, and a footer-stats row count —
    * never a data scan. This is the second-session entry point of the
    * build-once lifecycle: a valid hit costs centroid-read + footer
    * listing instead of the corpus-sampling quantizer fit and the full
    * partitioned rewrite. */
  def loadIfValid(spark: org.apache.spark.sql.SparkSession, path: String,
      source: String): Option[IvfIndex] =
    Manifest.reopen(spark, path, Format, source) { m =>
      val idx = open(spark, path, m)
      Some(idx).filter(_ => m.get("nCells").contains(idx.nCells.toString) &&
        m.get("centroidSha").contains(centroidSha(idx.centroids)) &&
        // PHYSICAL row count (the manifest commits physical facts; the
        // served idx.cells view already excludes pending tombstones)
        m.counts("rows", spark.read.parquet(s"$path/cells")))
    }

  /** Reopen an index [[IvfIndex#write]]ten as a cell-partitioned table.
    * The cells DataFrame is a lazy partitioned scan — nothing is cached;
    * pruning (and the OS page cache / parquet footers) make repeated
    * probes cheap, and the index is shareable across sessions and
    * executors, unlike an in-memory persist. When excisions await
    * compaction ([[excise]]) the tombstone anti-join is baked into the
    * cells view here, so EVERY consumer — topK, the filtered path,
    * softCells, the [[IvfPq]] composition — excludes the excised vectors
    * while the probe's static partition filter still pushes down to the
    * scan beneath the anti-join. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex =
    open(spark, path, Manifest.read(spark, path))

  private def open(spark: org.apache.spark.sql.SparkSession, path: String,
      m: Manifest): IvfIndex = {
    val centroids = spark.read.parquet(s"$path/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq
    require(centroids.nonEmpty, s"no centroids found under $path")
    val raw = spark.read.parquet(s"$path/cells")
      .select("cell", "c_id", "cv", "cn")
    new IvfIndex(Manifest.withoutTombstones(spark, path, m, raw, "c_id"),
      centroids, centroids.size, fileBacked = true)
  }

  /** Fit the coarse quantizer and declare the inverted file. The quantizer
    * is trained on a BOUNDED deterministic sample collected to the driver
    * (FAISS-style: a coarse quantizer needs ~1000x nCells points regardless
    * of corpus size), so the build's only distributed work is the sample's
    * per-partition top-N (TakeOrderedAndProject — no corpus shuffle, no
    * full sort, N rows reach the driver). The earlier spark.ml KMeans fit
    * scanned the corpus once per Lloyd iteration through ml-vector
    * conversion — at 100 TB that is maxIter corpus scans for an 8-row
    * centroid table. Cell assignment is a single lazy scan through literal
    * centroid dot products in the codegen'd kernel; the persisted
    * assignments populate on first use. */
  def build(df: DataFrame, idCol: String, vecCol: String, nCells: Int,
      seed: Long = 42L, maxIter: Int = 10, sampleSize: Int = 4096): IvfIndex = {
    require(nCells >= 2, s"need nCells >= 2, got $nCells")
    buildsRun.incrementAndGet()
    val base = df.select(col(idCol).as("c_id"), col(vecCol).as("cv"))
      .withColumn("cn", vec_l2norm(col("cv")))
    // hash-ordered top-N: deterministic regardless of partitioning/order.
    // The quantizer runs in SPHERICAL geometry (unit vectors): the search
    // metric is cosine, so clustering raw vectors would split cells by
    // magnitude, not direction, and probe ranking would miss same-direction
    // neighbors of different scale.
    val sample = base
      .select(col("cv"))
      .orderBy(md5(col("c_id").cast("string")), col("c_id"))
      .limit(math.max(sampleSize, nCells * 8))
      .collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      .flatMap { v =>
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n > 0) Some(v.map(_ / n)) else None
      }
    require(sample.nonEmpty, "cannot build an IVF index over an empty corpus")
    // multi-restart: Lloyd's is sensitive to seeding; re-run from several
    // k-means++ initializations and keep the lowest-inertia clustering
    // (driver-side over the bounded sample, so restarts are ~free)
    val centroids = (0 until 5).map(r => lloyd(sample, nCells, seed + r, maxIter))
      .minBy(cs => inertia(sample, cs))
      .zipWithIndex.map { case (ctr, i) => (i, ctr.map(_.toFloat)) }.toSeq
    // assignment: argmin_i ||v̂ - c_i||^2 = 1 - 2<v,c_i>/||v|| + ||c_i||^2
    // expanded through the dot kernel; array_min over (dist, cell) structs
    // tie-breaks deterministically. Zero-norm vectors land in the cell
    // with the smallest centroid (dist reduces to 1 + ||c_i||^2).
    val cells = assignCells(base, centroids)
      .persist(StorageLevel.MEMORY_AND_DISK)
    new IvfIndex(cells, centroids, nCells, fileBacked = false)
  }

  /** In-session index under CALLER-FROZEN centroids — no quantizer fit,
    * no sample job, no persist: one lazy assignment scan through literal
    * centroid dot products. The staging/parity tool for the incremental
    * lifecycle: an index built this way over (base ∪ arrivals) holds
    * EXACTLY the rows a [[build]]-then-[[appendTo]] sequence with these
    * centroids commits to disk (the assignment expression and tie-breaks
    * are shared), so serving parity between the two gates the whole
    * append path. The cells stay lazy — callers that probe repeatedly
    * should `.persist` them (or use the durable form). */
  def withCentroids(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Array[Float])]): IvfIndex = {
    require(centroids.nonEmpty, "need at least one centroid")
    val base = df.select(col(idCol).as("c_id"), col(vecCol).as("cv"))
      .withColumn("cn", vec_l2norm(col("cv")))
    new IvfIndex(assignCells(base, centroids), centroids, centroids.size,
      fileBacked = false)
  }

  /** Cell assignment under a FIXED set of centroids: one lazy scan through
    * literal centroid dot products. Shared by [[build]] and the
    * incremental [[appendTo]] path — same expression, same tie-breaks, so
    * appended vectors land exactly where a rebuild with these centroids
    * would put them. Input: (c_id, cv, cn). */
  private def assignCells(base: DataFrame,
      centroids: Seq[(Int, Array[Float])]): DataFrame =
    assignWithCentroids(base, centroids)
      .select("cell", "c_id", "cv", "cn")

  /** The assignment expression with the winning distance exposed —
    * (cell, cell_dist, c_id, cv, cn) — for callers that need how CENTRAL
    * each vector is in its cell besides where it lands (the topic-report
    * exemplar selection). Same spherical geometry, same (distance, cell)
    * lexicographic tie-break as every IVF path; centroids are caller-
    * frozen literals, so assignment is deterministic and, when the
    * centroids are themselves corpus rows, fully oracle-reproducible. */
  private[graft] def assignWithCentroids(base: DataFrame,
      centroids: Seq[(Int, Array[Float])]): DataFrame = {
    val distStructs = centroids.map { case (i, ctr) =>
      val cd = ctr.map(_.toDouble)
      val c2 = cd.map(x => x * x).sum
      struct(
        (lit(1.0 + c2)
          - lit(2.0) * vec_dot(col("cv"), typedlit(cd.toSeq))
            / when(col("cn") > 0, col("cn")).otherwise(lit(1.0))).as("d"),
        lit(i).as("cell"))
    }
    base.withColumn("__a", array_min(array(distStructs: _*)))
      .select(col("__a").getField("cell").as("cell"),
        col("__a").getField("d").as("cell_dist"),
        col("c_id"), col("cv"), col("cn"))
  }

  /** Incremental index maintenance: assign `df`'s vectors with the
    * WRITTEN index's existing quantizer (no re-fit, no sample job — the
    * centroid sidecar is the contract), append them as new files under
    * their cell partitions, and refresh the manifest for `newSource`.
    *
    * At 100 TB this is the daily-arrival path: the cost is one scan of
    * the NEW data plus a footer recount — the existing inverted file is
    * untouched on disk and every statically-pruned probe keeps working.
    * Quantizer drift is the operator's judgment call: when the corpus
    * distribution moves, rebuild; the manifest's centroid checksum pins
    * which quantizer every row was assigned under either way.
    *
    * IDEMPOTENT and torn-state safe as every durable-artifact append
    * (ARCHITECTURE.md "Durable artifacts"): a tag already in the ledger
    * makes the call a no-op (false), so a crashed job RETRYING the same
    * day's append cannot silently duplicate vectors; a crash between the
    * data append and the manifest refresh leaves the table off the
    * committed count, and the retry REFUSES instead of appending a second
    * copy (recovery: [[build]] + [[IvfIndex#write]]). Returns true when
    * the append was applied. */
  def appendTo(spark: org.apache.spark.sql.SparkSession, path: String,
      df: DataFrame, idCol: String, vecCol: String, newSource: String): Boolean =
    Manifest.applyBatch(spark, path, Format, "appending", newSource) { prior =>
      // an appended id matching a pending tombstone would be served DEAD
      Manifest.refuseTombstoned(spark, path, prior,
        df.select(col(idCol).as("c_id")), "c_id")
      val idx = open(spark, path, prior)
      val base = df.select(col(idCol).as("c_id"), col(vecCol).as("cv"))
        .withColumn("cn", vec_l2norm(col("cv")))
      assignCells(base, idx.centroids)
        .write.mode("append").partitionBy("cell").parquet(s"$path/cells")
      // same centroids, new row count + source + ledger; pending
      // excisions and the BUILD-TIME cell snapshot carry over verbatim —
      // it is the staleness() baseline, not a description of the table
      Manifest.write(spark, path, Format, prior.applying(newSource,
        "rows" -> spark.read.parquet(s"$path/cells").count()))
    }

  /** EXCISE: remove vectors from a written index — the takedown /
    * opt-out lifecycle ([[InvertedIndex.excise]]'s vector twin),
    * completing append → compact → DELETE for the inverted file.
    * Tombstone-then-compact: the excised ids land in a tombstone list
    * (metadata-sized write — never a rewrite of the cell partitions) and
    * [[load]] bakes the anti-join into the served cells view, so every
    * probe between the excise and the next [[compact]] already returns
    * exactly what a fresh build over the survivors (under these frozen
    * centroids) would; the compact then physically drops the tombstoned
    * rows. Unlike the text index there are no corpus scalars to correct —
    * IVF serving is pure geometry over the surviving rows.
    *
    * `ids` is a single-column DataFrame of the excised ids (named
    * `idCol`). Ledgered and torn-state refused as [[appendTo]]. */
  def excise(spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame, idCol: String, newSource: String): Boolean =
    Manifest.excise(spark, path, Format, ids.select(col(idCol).as("c_id")),
      newSource)

  /** OPTIMIZE: rewrite the fragmented cells table of a written index
    * into one file per cell — the [[InvertedIndex.compact]] step for the
    * inverted file — AND physically drop any rows tombstoned by
    * [[excise]] (the rewrite happens anyway; folding the deletes in
    * means excision never pays a corpus-sized pass of its own). Every
    * [[appendTo]] batch appends one parquet file per touched cell;
    * compaction repartitions the SURVIVING cells by the partition key
    * (one task — one file — per cell) through [[Manifest.compact]]:
    * staged, recounted before the swap, committed last. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    Manifest.compact(spark, path, Format, "cells", "rows", _ => "c_id") {
      (survivors, staging) =>
        survivors
          .repartition(col("cell"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "static")
          .partitionBy("cell").parquet(staging)
    }

  /** (cell, rows) of the written cells table — a zero-data-column count
    * per partition, satisfied from parquet file row counts (metadata). */
  private def cellCounts(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Int, Long)] =
    spark.read.parquet(s"$path/cells").groupBy("cell").count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq

  private def formatSizes(sizes: Seq[(Int, Long)]): String =
    sizes.map { case (c, n) => s"$c:$n" }.mkString(",")

  private def parseSizes(s: String): Seq[(Int, Long)] =
    s.split(",").filter(_.nonEmpty).map { kv =>
      val Array(c, n) = kv.split(":", 2); (c.toInt, n.toLong)
    }.toSeq

  /** Quantizer-drift report for a written index. `buildSkew`/`nowSkew`
    * are max-cell/mean-cell population ratios (1.0 = perfectly balanced,
    * nCells = everything in one cell) at build time and now;
    * `fracAppended` is the share of the current table that arrived after
    * the quantizer was frozen. */
  final case class DriftReport(buildSkew: Double, nowSkew: Double,
      fracAppended: Double, stale: Boolean)

  /** Measure how far the frozen quantizer has drifted from the data it
    * now serves — the maintenance signal [[appendTo]] cannot give:
    * appends assign arrivals under the build-time centroids FOREVER, so
    * a shifted corpus silently piles into few cells, probe selectivity
    * (nprobe/nCells of the BYTES, the entire 100 TB contract) decays,
    * and recall at fixed nprobe drops. The check is metadata-sized:
    * current per-cell counts (file row counts) against the manifest's
    * build-time snapshot. Stale when the cell-skew ratio grew by
    * `skewGrowth` x, or `appendedFrac` of the table postdates the
    * quantizer — either way the operator's move is [[retrain]]. */
  def staleness(spark: org.apache.spark.sql.SparkSession, path: String,
      skewGrowth: Double = 2.0, appendedFrac: Double = 0.5): DriftReport = {
    val props = Manifest.read(spark, path)
    val buildSizes = parseSizes(props.get("buildCellSizes")
      .getOrElse(sys.error(s"manifest at $path predates buildCellSizes — " +
        "rewrite the index to enable drift tracking")))
    val nowSizes = cellCounts(spark, path)
    val nCells = props.long("nCells").toInt
    def skew(sizes: Seq[(Int, Long)]): Double = {
      val total = sizes.map(_._2).sum.toDouble
      if (total == 0) 1.0 else sizes.map(_._2).max / (total / nCells)
    }
    val buildRows = buildSizes.map(_._2).sum.toDouble
    val nowRows = nowSizes.map(_._2).sum.toDouble
    val frac = if (nowRows == 0) 0.0 else (nowRows - buildRows) / nowRows
    val bs = skew(buildSizes)
    val ns = skew(nowSizes)
    DriftReport(bs, ns, frac, ns > skewGrowth * bs || frac >= appendedFrac)
  }

  /** The maintenance loop's actuation step: MEASURE quantizer drift,
    * DECIDE against the staleness bounds, and [[retrain]]-and-swap only
    * when the index is actually stale — the no-drift branch is a
    * zero-job no-op (one metadata-sized staleness check, no sample, no
    * fit, no rewrite). Returns true when a refit ran. This closes the
    * measure-half/actuate-half split: [[staleness]] tells an operator
    * the frozen quantizer no longer represents what it serves;
    * `refitIfStale` is what a scheduled maintenance job actually calls. */
  def refitIfStale(spark: org.apache.spark.sql.SparkSession, path: String,
      nCells: Int, newSource: String, skewGrowth: Double = 2.0,
      appendedFrac: Double = 0.5, seed: Long = 42L, maxIter: Int = 10,
      sampleSize: Int = 4096): Boolean = {
    val rep = staleness(spark, path, skewGrowth, appendedFrac)
    if (!rep.stale) false
    else {
      retrain(spark, path, nCells, newSource, seed, maxIter, sampleSize)
        .close() // loaded handle: close is a no-op, residency is the table
      true
    }
  }

  /** Rebuild the index under a FRESH quantizer fitted to everything the
    * table now holds, and swap it in — the recovery move when
    * [[staleness]] flags drift. The new index is staged at `path-next`
    * (the current table keeps serving reads throughout the rebuild —
    * build's bounded sample and the assignment scan read the live table)
    * with the applied-sources ledger CARRIED OVER (plus `newSource`) in
    * its manifest, so a late retry of any pre-retrain batch is still
    * refused, and swapped by [[Manifest.commitStaged]]: a crash between
    * its two renames is adopted by the next [[loadIfValid]]. */
  def retrain(spark: org.apache.spark.sql.SparkSession, path: String,
      nCells: Int, newSource: String, seed: Long = 42L, maxIter: Int = 10,
      sampleSize: Int = 4096): IvfIndex =
      WriterLease.withLease(spark, path) {
    val ledger = Manifest.readLive(spark, path, Format, "retraining").ledger
    val current = load(spark, path).cells.select("c_id", "cv")
    val rebuilt = build(current, "c_id", "cv", nCells, seed, maxIter, sampleSize)
    try Manifest.commitStaged(spark, path)(
      rebuilt.writeLedger(_, newSource, ledger + newSource))
    finally rebuilt.close()
    load(spark, path)
  }

  /** Sum of squared distances to the closest centroid. */
  private def inertia(pts: Array[Array[Double]], cs: Array[Array[Double]]): Double = {
    val dim = pts.head.length
    var total = 0.0
    pts.foreach { p =>
      var best = Double.MaxValue
      var i = 0
      while (i < cs.length) {
        var s = 0.0; var j = 0
        while (j < dim) { val d = p(j) - cs(i)(j); s += d * d; j += 1 }
        if (s < best) best = s
        i += 1
      }
      total += best
    }
    total
  }

  /** Driver-side Lloyd's with k-means++ seeding over the bounded sample —
    * at most sampleSize*dim doubles, microseconds of work. Deterministic:
    * the sample arrives in a total (md5, id) order and the RNG is seeded. */
  private def lloyd(pts: Array[Array[Double]], k: Int, seed: Long,
      maxIter: Int): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    val dim = pts.head.length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val centers = scala.collection.mutable.ArrayBuffer(
      pts(rnd.nextInt(pts.length)).clone())
    while (centers.length < k) {
      val dists = pts.map(p => centers.map(c => d2(p, c)).min)
      val total = dists.sum
      if (total <= 0) centers += pts(rnd.nextInt(pts.length)).clone()
      else {
        var r = rnd.nextDouble() * total
        var i = 0
        while (i < pts.length - 1 && r > dists(i)) { r -= dists(i); i += 1 }
        centers += pts(i).clone()
      }
    }
    val cs = centers.toArray
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      pts.foreach { p =>
        var best = 0; var bd = d2(p, cs(0)); var i = 1
        while (i < k) { val d = d2(p, cs(i)); if (d < bd) { bd = d; best = i }; i += 1 }
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
        counts(best) += 1
      }
      moved = false
      var i = 0
      while (i < k) {
        if (counts(i) > 0) {
          val c = new Array[Double](dim)
          var j = 0
          while (j < dim) { c(j) = sums(i)(j) / counts(i); j += 1 }
          if (d2(c, cs(i)) > 1e-12) moved = true
          cs(i) = c
        } else cs(i) = pts(rnd.nextInt(pts.length)).clone()
        i += 1
      }
      iter += 1
    }
    cs
  }
}
