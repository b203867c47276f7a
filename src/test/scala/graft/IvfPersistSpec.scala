package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.operators.{IvfIndex, Manifest}

/** The cluster-scale IVF claim (IvfIndex scaladoc): the inverted file
  * persisted as a CELL-PARTITIONED table must (a) reproduce the in-session
  * persisted path exactly and (b) prune the cells scan to the probed cells
  * — at 100 TB a nprobe/nCells probe must read nprobe/nCells of the
  * corpus, not all of it. (b) is asserted against the executed plan's scan
  * metrics (same-QueryExecution rule: metrics are read from the collect()
  * that ran, with AdaptiveSparkPlanExec unwrapped).
  */
class IvfPersistSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val path = "target/ivf-persist"

  private def queriesDf = {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
  }

  private def resultSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
    df.select("q_id", "c_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("written + loaded index reproduces the in-session top-k exactly") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val built = IvfIndex.build(emb, "vec_id", "embedding", nCells = 8)
    built.write(path)
    val loaded = IvfIndex.load(spark, path)
    assert(loaded.nCells == built.nCells)
    assert(loaded.centroids.map(_._1) == built.centroids.map(_._1))
    assert(loaded.centroids.zip(built.centroids).forall {
      case ((_, a), (_, b)) => a.sameElements(b)
    }, "centroids did not round-trip")
    for (nprobe <- Seq(3, 8)) {
      val a = resultSet(built.topK(queriesDf, k = 5, nprobe = nprobe))
      val b = resultSet(loaded.topK(queriesDf, k = 5, nprobe = nprobe))
      assert(a == b, s"persisted path diverged at nprobe=$nprobe")
    }
    built.close()
  }

  /** Every FileSourceScanExec in an executed adaptive plan, recursing into
    * materialized query stages (collect() alone stops at stage leaves). */
  private def allScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = {
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    p.collect {
      case s: FileSourceScanExec => Seq(s)
      case q: QueryStageExec => allScans(q.plan)
    }.flatten
  }

  test("partial probe prunes the partitioned cells scan to the probed cells") {
    val loaded = IvfIndex.load(spark, path)
    val nprobe = 3
    // ground truth from the engine's own probe selection: the distinct
    // cells this query set is allowed to touch
    val probedCells = loaded.probes(queriesDf, nprobe)
      .select("cell").distinct().count()
    assert(probedCells < loaded.nCells,
      s"fixture degenerate: $probedCells of ${loaded.nCells} cells probed")
    // DEFAULT session confs on purpose: the production claim is that a
    // plain IvfIndex.load(...).topK(...) prunes with no conf tuning —
    // topK resolves the probed cells eagerly and plants them as a STATIC
    // partition filter, so pruning must show up in the planned scan and
    // in the executed partition-count metric
    val topk = loaded.topK(queriesDf, k = 5, nprobe = nprobe)
    topk.collect() // run it — metrics live on THIS QueryExecution
    val executed = topk.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = allScans(executed).filter(
      _.metadata.get("Location").exists(_.contains("ivf-persist")))
    assert(scans.nonEmpty, s"no cells scan found in:\n$executed")
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty,
      s"no partition filter on the cells scan:\n$scan")
    val partitionsRead = scan.metrics.get("numPartitions").map(_.value)
    assert(partitionsRead.contains(probedCells),
      s"expected $probedCells partitions read, metrics: " +
        scan.metrics.map { case (k, m) => s"$k=${m.value}" }.mkString(", "))
  }

  test("manifest-validated reload runs zero build jobs and matches the built index") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val p = "target/ivf-persist-manifest"
    val built = IvfIndex.build(emb, "vec_id", "embedding", nCells = 8)
    built.write(p, source = "tag-a")
    ManifestFields.pin(p, Map(
      "version" -> "1", "source" -> "tag-a", "appliedSources" -> "tag-a",
      "buildCellSizes" -> "0:62,1:64,2:60,3:61,4:53,5:71,6:63,7:66",
      "centroidSha" -> "024640b4265cd50d03176a445342b153f87cd3847ac45459f1d03adc9ab69682",
      "nCells" -> "8", "rows" -> "500", "tombRows" -> "0"))
    // the second-session path: validate-and-load must NOT re-run the
    // quantizer fit (the corpus-sampling build) — the whole point of the
    // durable manifest
    val buildsBefore = IvfIndex.buildsRun.get()
    val reloaded = IvfIndex.loadIfValid(spark, p, source = "tag-a")
    assert(reloaded.isDefined, "valid manifest refused to load")
    assert(IvfIndex.buildsRun.get() == buildsBefore,
      "loadIfValid ran a build — the manifest did not short-circuit it")
    val a = resultSet(built.topK(queriesDf, k = 5, nprobe = 6))
    val b = resultSet(reloaded.get.topK(queriesDf, k = 5, nprobe = 6))
    assert(a == b, "manifest-loaded index diverged from the built index")
    built.close()
    // guards: a different source tag (data regenerated / different dir)
    // and a missing manifest both force a rebuild instead of serving a
    // stale index
    assert(IvfIndex.loadIfValid(spark, p, source = "tag-b").isEmpty,
      "source-tag mismatch must invalidate the index")
    assert(IvfIndex.loadIfValid(spark, "target/ivf-persist-nothere", "tag-a").isEmpty)
  }

  test("driver ann_ivf_persisted reuses the written index across sessions (no rewrite)") {
    import graft.queries.SimilarityQueries
    def runQuery() =
      graft.SparkEntry.queries("ann_ivf_persisted")(spark, TestSpark.sfDir).collect()
    val first = runQuery()
    assert(first.length == 1 && first(0).getBoolean(2), s"parity broken: ${first.toSeq}")
    // locate the manifest the query wrote (or validated) under target/
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(TestSpark.sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val mPath = new org.apache.hadoop.fs.Path(
      "target/ivf-file-index/" +
        TestSpark.sfDir.replaceAll("[^A-Za-z0-9._-]", "_") + "-" + digest +
        "/_MANIFEST.properties")
    val fs = mPath.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(mPath), s"no manifest at $mPath")
    val mtime = fs.getFileStatus(mPath).getModificationTime
    // "fresh session": drop every in-memory index handle, then re-run. The
    // file side must validate-and-load — exactly ONE build may run (the
    // in-memory side of the parity query), and the on-disk index must not
    // be rewritten
    SimilarityQueries.clearCaches()
    val buildsBefore = IvfIndex.buildsRun.get()
    val second = runQuery()
    assert(second.length == 1 && second(0).getBoolean(2),
      s"cross-session parity broken: ${second.toSeq}")
    assert(IvfIndex.buildsRun.get() == buildsBefore + 1,
      s"expected exactly the in-memory rebuild, got ${IvfIndex.buildsRun.get() - buildsBefore}")
    assert(fs.getFileStatus(mPath).getModificationTime == mtime,
      "index was rewritten instead of manifest-loaded")
  }

  test("appendTo extends a written index without re-fitting the quantizer") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val basePart = emb.filter(col("vec_id") % 3 =!= 0)
    val newPart = emb.filter(col("vec_id") % 3 === 0)
    val apPath = "target/ivf-append-test"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(apPath))

    val built = IvfIndex.build(basePart, "vec_id", "embedding", nCells = 8)
    try {
      built.write(apPath, source = "base-v1")
      val buildsBefore = IvfIndex.buildsRun.get()
      assert(IvfIndex.appendTo(spark, apPath, newPart, "vec_id", "embedding",
        newSource = "base-v1+delta"), "first append refused")
      ManifestFields.pin(apPath, Map(
        "version" -> "1", "source" -> "base-v1+delta",
        "appliedSources" -> "base-v1\u0001base-v1+delta",
        "buildCellSizes" -> "0:46,1:40,2:38,3:37,4:38,5:52,6:45,7:37",
        "centroidSha" -> "7ac235f6470d41487dcdd2d2cace2362666e7306ca4aaa6e5452f78bb5b4e77a",
        "nCells" -> "8", "rows" -> "500", "tombRows" -> "0"))
      assert(IvfIndex.buildsRun.get() == buildsBefore,
        "append ran a quantizer fit — the existing centroids are the contract")

      // IDEMPOTENCE: a crashed-job retry re-running the SAME append must
      // no-op — the ledger refuses the already-applied tag, row count
      // stays, and the manifest still validates (no duplicated vectors)
      assert(!IvfIndex.appendTo(spark, apPath, newPart, "vec_id", "embedding",
        newSource = "base-v1+delta"), "double-append was applied")
      // the ORIGINAL write tag is in the ledger too — replaying the base
      // batch through appendTo is also refused
      assert(!IvfIndex.appendTo(spark, apPath, basePart, "vec_id", "embedding",
        newSource = "base-v1"), "base-batch replay was applied")

      // manifest reflects the new population and still validates
      val reloaded = IvfIndex.loadIfValid(spark, apPath, "base-v1+delta")
      assert(reloaded.isDefined, "refreshed manifest refused to validate")
      val idx = reloaded.get
      assert(idx.cells.count() === emb.count(), "appended rows missing")
      // appended vectors landed exactly where the shared assignment
      // expression puts them: re-deriving each new vector's cell from the
      // loaded centroids must match the partition it was written into
      val again = IvfIndex.build(basePart, "vec_id", "embedding", nCells = 8)
      try {
        assert(idx.centroids.map(_._1) === again.centroids.map(_._1))
        // full-probe top-k over the appended index == brute force over
        // the UNION corpus (cell structure is irrelevant at nprobe ==
        // nCells, so this pins assignment + append integrity end to end)
        val got = idx.topK(queriesDf, k = 5, nprobe = 8)
          .select("q_id", "c_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        import org.apache.spark.sql.expressions.Window
        import graft.functions.functions.{vec_dot, vec_l2norm}
        val all = emb.select(col("vec_id").as("c_id"),
          col("embedding").as("cv"), vec_l2norm(col("embedding")).as("cn"))
        val w = Window.partitionBy("q_id").orderBy(desc("cos"), col("c_id"))
        val exact = all.crossJoin(broadcast(queriesDf
            .withColumn("qn", vec_l2norm(col("qv")))))
          .filter(col("q_id") =!= col("c_id"))
          .withColumn("cos", vec_dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
          .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
          .select("q_id", "c_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got === exact,
          s"appended index full probe != brute force over the union")
      } finally again.close()
    } finally built.close()
  }

  test("appendTo refuses a torn table (crash between data append and manifest)") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val tornPath = "target/ivf-torn-test"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tornPath))
    val built = IvfIndex.build(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", nCells = 8)
    try {
      built.write(tornPath, source = "base")
      // simulate the crashed-append window: data files land under cells/
      // but the manifest refresh never runs (so the crashed tag is NOT in
      // the ledger and a plain retry would sail past the ledger check)
      val idx = IvfIndex.load(spark, tornPath)
      val partial = idx.cells.limit(10).collect()
      spark.createDataFrame(
          spark.sparkContext.parallelize(partial.toIndexedSeq), idx.cells.schema)
        .write.mode("append").partitionBy("cell").parquet(s"$tornPath/cells")
      // the retry must REFUSE — appending on top of the partial write and
      // refreshing the manifest would VALIDATE the duplicated rows
      val ex = intercept[IllegalArgumentException] {
        IvfIndex.appendTo(spark, tornPath,
          emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding",
          newSource = "crashed-batch-retry")
      }
      assert(ex.getMessage.contains("rebuild"), s"wrong error: ${ex.getMessage}")
      // and the torn state still fails loadIfValid (stale row count)
      assert(IvfIndex.loadIfValid(spark, tornPath, "base").isEmpty,
        "torn table validated against the stale manifest")
    } finally built.close()
  }

  test("compact: <= one file per cell, served top-k unchanged bit-for-bit, " +
      "ledger and manifest intact, torn table refused") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val path = "target/ivf-compact-test"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    val built = IvfIndex.build(emb.filter(col("vec_id") % 3 === 1),
      "vec_id", "embedding", nCells = 8)
    try built.write(path, source = "base") finally built.close()
    assert(IvfIndex.appendTo(spark, path,
      emb.filter(col("vec_id") % 3 === 2), "vec_id", "embedding", "day-1"))
    assert(IvfIndex.appendTo(spark, path,
      emb.filter(col("vec_id") % 3 === 0), "vec_id", "embedding", "day-2"))
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    def served() = IvfIndex.load(spark, path).topK(q, k = 5, nprobe = 8)
      .select("q_id", "c_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val before = served()
    val filesBefore = Manifest.parquetFileCount(spark, s"$path/cells")
    assert(filesBefore > 8,
      s"fixture degenerate: $filesBefore files is not fragmented past one per cell")
    IvfIndex.compact(spark, path)
    ManifestFields.pin(path, Map(
      "version" -> "1", "source" -> "day-2",
      "appliedSources" -> "base\u0001day-1\u0001day-2",
      "buildCellSizes" -> "0:27,1:19,2:24,3:23,4:12,5:21,6:17,7:24",
      "centroidSha" -> "66b8bed16bd15b0d51ef9c852cd63d7ad3b55d8bc8936731bede39501db6cc9d",
      "nCells" -> "8", "rows" -> "500", "tombRows" -> "0"))
    val filesAfter = Manifest.parquetFileCount(spark, s"$path/cells")
    assert(filesAfter < filesBefore && filesAfter <= 8,
      s"compaction must leave <= one file per cell ($filesBefore -> $filesAfter)")
    assert(served() === before, "compaction changed the served ranking")
    // ledger survived (manifest untouched): replayed batch still a no-op,
    // the latest tag still validates
    assert(!IvfIndex.appendTo(spark, path,
      emb.filter(col("vec_id") % 3 === 0), "vec_id", "embedding", "day-2"))
    assert(IvfIndex.loadIfValid(spark, path, "day-2").isDefined)
    // a torn table refuses compaction BEFORE any swap
    import spark.implicits._
    Seq((999999L, Array(0.1f), 0.1, 0))
      .toDF("c_id", "cv", "cn", "cell")
      .write.mode("append").partitionBy("cell").parquet(s"$path/cells")
    val e = intercept[IllegalArgumentException] { IvfIndex.compact(spark, path) }
    assert(e.getMessage.contains("manifest"))
  }

  test("excise: tombstoned serve == survivors-only rebuild; compact drops " +
      "the rows physically; ledger no-op; collision + torn state refused") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val path = "target/ivf-excise-test"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    val built = IvfIndex.build(emb, "vec_id", "embedding", nCells = 8)
    try built.write(path, source = "base") finally built.close()
    val takedown = emb.filter(col("vec_id") % 7 === 0).select("vec_id")
    assert(IvfIndex.excise(spark, path, takedown, "vec_id", "takedown-1"))
    ManifestFields.pin(path, Map(
      "version" -> "1", "source" -> "takedown-1",
      "appliedSources" -> "base\u0001takedown-1",
      "buildCellSizes" -> "0:62,1:64,2:60,3:61,4:53,5:71,6:63,7:66",
      "centroidSha" -> "024640b4265cd50d03176a445342b153f87cd3847ac45459f1d03adc9ab69682",
      "nCells" -> "8", "rows" -> "500", "tombRows" -> "72"))
    // BEFORE compaction: the baked anti-join serves exactly what an index
    // over only the survivors (same frozen centroids) would
    val tombstoned = IvfIndex.load(spark, path)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val survivorsIdx = IvfIndex.withCentroids(
      emb.filter(col("vec_id") % 7 =!= 0), "vec_id", "embedding",
      tombstoned.centroids)
    assert(resultSet(tombstoned.topK(q, k = 5, nprobe = 8)) ===
      resultSet(survivorsIdx.topK(q, k = 5, nprobe = 8)),
      "tombstoned serve diverged from the survivors-only assignment")
    // no excised id can surface in the served cells view
    assert(tombstoned.cells
      .join(takedown.withColumnRenamed("vec_id", "c_id"), Seq("c_id"), "left_semi")
      .count() === 0)
    // replayed excise is a ledger no-op
    assert(!IvfIndex.excise(spark, path, takedown, "vec_id", "takedown-1"))
    // re-ingesting a tombstoned id before compaction refuses loudly
    val collide = intercept[IllegalArgumentException] {
      IvfIndex.appendTo(spark, path, emb.filter(col("vec_id") % 7 === 0).limit(1),
        "vec_id", "embedding", "re-ingest")
    }
    assert(collide.getMessage.contains("tombstone"))
    // compaction physically drops the tombstoned rows and clears the list
    val physBefore = spark.read.parquet(s"$path/cells").count()
    IvfIndex.compact(spark, path)
    ManifestFields.pin(path, Map(
      "version" -> "1", "source" -> "takedown-1",
      "appliedSources" -> "base\u0001takedown-1",
      "buildCellSizes" -> "0:62,1:64,2:60,3:61,4:53,5:71,6:63,7:66",
      "centroidSha" -> "024640b4265cd50d03176a445342b153f87cd3847ac45459f1d03adc9ab69682",
      "nCells" -> "8", "rows" -> "428", "tombRows" -> "0"))
    val physAfter = spark.read.parquet(s"$path/cells").count()
    assert(physAfter < physBefore, "compaction did not drop excised rows")
    assert(!new java.io.File(s"$path/tombstones").exists(),
      "compaction must clear the tombstone list")
    val compacted = IvfIndex.load(spark, path)
    assert(resultSet(compacted.topK(q, k = 5, nprobe = 8)) ===
      resultSet(survivorsIdx.topK(q, k = 5, nprobe = 8)),
      "compacted serve diverged from the tombstoned serve")
    // the excise tag reopens zero-build; the pre-excise tag refuses
    val builds = IvfIndex.buildsRun.get()
    assert(IvfIndex.loadIfValid(spark, path, "takedown-1").isDefined)
    assert(IvfIndex.buildsRun.get() === builds)
    assert(IvfIndex.loadIfValid(spark, path, "base").isEmpty)
    // a torn excise (tombstones landed, manifest didn't) refuses the
    // maintenance ops AND the validated reopen
    import spark.implicits._
    Seq(888888L).toDF("c_id").write.mode("append").parquet(s"$path/tombstones")
    assert(intercept[IllegalArgumentException] {
      IvfIndex.excise(spark, path, takedown, "vec_id", "takedown-2")
    }.getMessage.contains("manifest"))
    assert(intercept[IllegalArgumentException] {
      IvfIndex.compact(spark, path)
    }.getMessage.contains("manifest"))
    assert(IvfIndex.loadIfValid(spark, path, "takedown-1").isEmpty,
      "a torn tombstone list must refuse the validated reopen")
  }

  test("cloneArtifact: the clone is independently maintainable, the ledger " +
      "travels, and the source stays byte-untouched") {
    // the r18 ensure-phase dedup contract: lifecycle chains CLONE a
    // completed sibling artifact instead of re-deriving it, so three
    // semantics must hold — (a) the clone validates at the source's tag
    // and serves identically; (b) the SOURCE's ledger travels with the
    // manifest, so replaying one of the source's applied tags on the
    // clone is a no-op (tag identity, not path identity); (c) fresh-tag
    // maintenance applies to the clone ONLY — the source's manifest,
    // rows, and serving are untouched afterwards
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val src = "target/ivf-clone-src"
    val dst = "target/ivf-clone-dst"
    Seq(src, dst).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
    val built = IvfIndex.build(emb, "vec_id", "embedding", nCells = 4)
    try built.write(src, source = "base") finally built.close()
    graft.queries.QueryArtifacts.cloneArtifact(src, dst)
    // (a) clone validates at the source tag, zero builds, serves equal
    val builds = IvfIndex.buildsRun.get()
    val cloned = IvfIndex.loadIfValid(spark, dst, "base")
    assert(cloned.isDefined, "clone must validate at the source's tag")
    assert(IvfIndex.buildsRun.get() === builds)
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    def served(idx: IvfIndex): Set[(Long, Long)] =
      idx.topK(q, k = 3, nprobe = 4).select("q_id", "c_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val baseline = served(IvfIndex.load(spark, src))
    assert(served(cloned.get) === baseline)
    // (b) the ledger travels: replaying the source's applied tag no-ops
    assert(!IvfIndex.appendTo(spark, dst,
      emb.limit(1), "vec_id", "embedding", "base"),
      "a tag in the cloned ledger must replay as a no-op")
    // (c) fresh-tag excise applies to the clone only
    val takedown = emb.filter(col("vec_id") % 5 === 0).select("vec_id")
    assert(IvfIndex.excise(spark, dst, takedown, "vec_id", "clone-takedown"))
    assert(served(IvfIndex.load(spark, dst)).forall(_._2 % 5 != 0))
    assert(served(IvfIndex.load(spark, src)) === baseline,
      "maintenance on the clone leaked into the source artifact")
    assert(IvfIndex.loadIfValid(spark, src, "base").isDefined,
      "the source manifest must still validate at its own tag")
    assert(!new java.io.File(s"$src/tombstones").exists(),
      "the clone's tombstones landed in the source directory")
  }
}
