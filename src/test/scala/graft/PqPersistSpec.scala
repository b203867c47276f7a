package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Manifest, PqIndex}

/** Durable PQ index lifecycle: write -> manifest-validated reload with
  * zero build jobs, exact parity with the in-session index, and
  * source-tag invalidation. */
class PqPersistSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
  private lazy val queries = emb.filter(col("vec_id") < 5)
    .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
  private val path = "target/pq-persist-test/index"

  private def topkSet(idx: PqIndex): Set[(Long, Long, Int)] =
    idx.topK(queries, k = 5, nCandidates = 64)
      .select("q_id", "c_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("written + reloaded index reproduces the in-session top-k exactly") {
    val built = PqIndex.build(emb, "vec_id", "embedding", m = 8, ksub = 16)
    try {
      built.write(path, source = "spec-v1")
      val loaded = PqIndex.load(spark, path)
      assert(loaded.m === built.m && loaded.ksub === built.ksub)
      assert(topkSet(loaded) === topkSet(built))
    } finally built.close()
  }

  test("durable ADC scan prunes to the code column (32x scan-IO story)") {
    // the one-table layout claims the ADC phase never reads vector bytes
    // because parquet is columnar — assert it: the file-backed scan under
    // the ADC projection must carry only (c_id, code) in ReadSchema
    val built = PqIndex.build(emb, "vec_id", "embedding", m = 8, ksub = 16)
    try {
      built.write(path, source = "spec-prune")
      val loaded = PqIndex.load(spark, path)
      val plan = loaded.codes.select("c_id", "code")
        .queryExecution.executedPlan.toString
      val readSchema = "ReadSchema: ([^\\n]*)".r
        .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
      assert(readSchema.contains("code") && !readSchema.contains("cv"),
        s"ADC projection reads more than the code column: $readSchema")
    } finally built.close()
  }

  test("appendTo encodes arrivals under the existing codebook, no re-fit") {
    val basePart = emb.filter(col("vec_id") % 3 =!= 0)
    val newPart = emb.filter(col("vec_id") % 3 === 0)
    val apPath = "target/pq-append-test"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(apPath))
    val built = PqIndex.build(basePart, "vec_id", "embedding", m = 8, ksub = 16)
    try {
      built.write(apPath, source = "base-v1")
      val before = PqIndex.buildCount
      assert(PqIndex.appendTo(spark, apPath, newPart, "vec_id", "embedding",
        newSource = "base-v1+delta"), "first append refused")
      ManifestFields.pin(apPath, Map(
        "version" -> "1", "source" -> "base-v1+delta",
        "appliedSources" -> "base-v1\u0001base-v1+delta",
        "buildMse" -> "0.5184782905101092", "buildRows" -> "333",
        "codebookSha" -> "ad07718c183976191f7e03085c80b8903e23eb859c58d6d696344b2fa4070d3b",
        "ksub" -> "16", "m" -> "8", "rows" -> "500", "tombRows" -> "0"))
      assert(PqIndex.buildCount === before, "append ran a codebook fit")
      // IDEMPOTENCE: the same-tag retry no-ops (ledger refusal), and the
      // original write tag is refused too — row count cannot drift
      assert(!PqIndex.appendTo(spark, apPath, newPart, "vec_id", "embedding",
        newSource = "base-v1+delta"), "double-append was applied")
      assert(!PqIndex.appendTo(spark, apPath, basePart, "vec_id", "embedding",
        newSource = "base-v1"), "base-batch replay was applied")
      val idx = PqIndex.loadIfValid(spark, apPath, "base-v1+delta")
      assert(idx.isDefined, "refreshed manifest refused to validate")
      assert(idx.get.codes.count() === emb.count())
      // appended codes == encoding the same rows through the in-session
      // index's codebook (shared PqEncode expression, same argmin)
      import graft.functions.functions.pq_encode
      val expected = newPart.select(col("vec_id").as("c_id"),
        pq_encode(col("embedding"), built.codebook).as("code"))
      val got = idx.get.codes
        .join(newPart.select(col("vec_id").as("c_id")), "c_id")
        .select("c_id", "code")
      assert(got.exceptAll(expected).count() === 0L)
      assert(expected.exceptAll(got).count() === 0L)
    } finally built.close()
  }

  test("compact: codes file count shrinks to nFiles, served top-k " +
      "unchanged bit-for-bit, ledger intact, torn table refused") {
    val path = "target/pq-compact-test"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    val built = PqIndex.build(emb.filter(col("vec_id") % 3 === 1),
      "vec_id", "embedding", m = 8, ksub = 16)
    try built.write(path, source = "base") finally built.close()
    assert(PqIndex.appendTo(spark, path,
      emb.filter(col("vec_id") % 3 === 2), "vec_id", "embedding", "day-1"))
    assert(PqIndex.appendTo(spark, path,
      emb.filter(col("vec_id") % 3 === 0), "vec_id", "embedding", "day-2"))
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    def served() = PqIndex.load(spark, path).topK(q, k = 5, nCandidates = 64)
      .select("q_id", "c_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val before = served()
    val filesBefore = Manifest.parquetFileCount(spark, s"$path/codes")
    assert(filesBefore > 1, "fixture degenerate: not fragmented")
    PqIndex.compact(spark, path, nFiles = 1)
    ManifestFields.pin(path, Map(
      "version" -> "1", "source" -> "day-2",
      "appliedSources" -> "base\u0001day-1\u0001day-2",
      "buildMse" -> "0.47409806486948314", "buildRows" -> "167",
      "codebookSha" -> "ba5b88d621cf374d8b1bc88f882afbb439ef916b4d0c53ff53a7cda8ac800ec3",
      "ksub" -> "16", "m" -> "8", "rows" -> "500", "tombRows" -> "0"))
    assert(Manifest.parquetFileCount(spark, s"$path/codes") === 1)
    assert(served() === before, "compaction changed the served ranking")
    assert(!PqIndex.appendTo(spark, path,
      emb.filter(col("vec_id") % 3 === 0), "vec_id", "embedding", "day-2"))
    assert(PqIndex.loadIfValid(spark, path, "day-2").isDefined)
    // a torn table refuses compaction before any swap
    PqIndex.load(spark, path).codes.limit(1)
      .write.mode("append").parquet(s"$path/codes")
    val e = intercept[IllegalArgumentException] { PqIndex.compact(spark, path) }
    assert(e.getMessage.contains("manifest"))
  }

  test("appendTo refuses a torn table (crash between data append and manifest)") {
    val tornPath = "target/pq-torn-test"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tornPath))
    val built = PqIndex.build(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", m = 8, ksub = 16)
    try {
      built.write(tornPath, source = "base")
      // crashed-append window: codes landed, manifest refresh never ran —
      // the crashed tag is absent from the ledger, so a plain retry would
      // pass the ledger check and stack a second copy
      val idx = PqIndex.load(spark, tornPath)
      val partial = idx.codes.limit(10).collect()
      spark.createDataFrame(
          spark.sparkContext.parallelize(partial.toIndexedSeq), idx.codes.schema)
        .write.mode("append").parquet(s"$tornPath/codes")
      val ex = intercept[IllegalArgumentException] {
        PqIndex.appendTo(spark, tornPath,
          emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding",
          newSource = "crashed-batch-retry")
      }
      assert(ex.getMessage.contains("rebuild"), s"wrong error: ${ex.getMessage}")
      assert(PqIndex.loadIfValid(spark, tornPath, "base").isEmpty,
        "torn table validated against the stale manifest")
    } finally built.close()
  }

  test("excise: tombstoned serve == survivors-only encode; compact drops the " +
      "rows physically; ledger no-op; collision + torn state refused") {
    val path = "target/pq-excise-test/index"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File("target/pq-excise-test"))
    val built = PqIndex.build(emb, "vec_id", "embedding", m = 8, ksub = 16)
    try built.write(path, source = "base") finally built.close()
    val takedown = emb.filter(col("vec_id") % 7 === 0).select("vec_id")
    assert(PqIndex.excise(spark, path, takedown, "vec_id", "takedown-1"))
    ManifestFields.pin(path, Map(
      "version" -> "1", "source" -> "takedown-1",
      "appliedSources" -> "base\u0001takedown-1",
      "buildMse" -> "0.5369672440887394", "buildRows" -> "500",
      "codebookSha" -> "4614e12bc709d3162f5e9d5f6bf6ce263b8ce74c78f5c0ec326905c79e029d26",
      "ksub" -> "16", "m" -> "8", "rows" -> "500", "tombRows" -> "72"))
    val tombstoned = PqIndex.load(spark, path)
    // the baked anti join serves exactly what an index encoding only the
    // survivors under the same frozen codebook would
    val survivorsIdx = PqIndex.withCodebook(
      emb.filter(col("vec_id") % 7 =!= 0), "vec_id", "embedding",
      tombstoned.codebook)
    assert(topkSet(tombstoned) === topkSet(survivorsIdx),
      "tombstoned ADC serve diverged from the survivors-only encode")
    assert(tombstoned.codes
      .join(takedown.withColumnRenamed("vec_id", "c_id"), Seq("c_id"), "left_semi")
      .count() === 0, "an excised id surfaced in the served codes view")
    // replayed excise is a ledger no-op; colliding re-ingest refuses
    assert(!PqIndex.excise(spark, path, takedown, "vec_id", "takedown-1"))
    val collide = intercept[IllegalArgumentException] {
      PqIndex.appendTo(spark, path, emb.filter(col("vec_id") % 7 === 0).limit(1),
        "vec_id", "embedding", "re-ingest")
    }
    assert(collide.getMessage.contains("tombstone"))
    // compaction drops the rows physically and clears the list
    val physBefore = spark.read.parquet(s"$path/codes").count()
    PqIndex.compact(spark, path)
    ManifestFields.pin(path, Map(
      "version" -> "1", "source" -> "takedown-1",
      "appliedSources" -> "base\u0001takedown-1",
      "buildMse" -> "0.5369672440887394", "buildRows" -> "500",
      "codebookSha" -> "4614e12bc709d3162f5e9d5f6bf6ce263b8ce74c78f5c0ec326905c79e029d26",
      "ksub" -> "16", "m" -> "8", "rows" -> "428", "tombRows" -> "0"))
    assert(spark.read.parquet(s"$path/codes").count() < physBefore)
    assert(!new java.io.File(s"$path/tombstones").exists())
    assert(topkSet(PqIndex.load(spark, path)) === topkSet(survivorsIdx),
      "compacted serve diverged from the tombstoned serve")
    assert(PqIndex.loadIfValid(spark, path, "takedown-1").isDefined)
    assert(PqIndex.loadIfValid(spark, path, "base").isEmpty)
    // torn tombstone list refuses maintenance and the validated reopen
    import spark.implicits._
    Seq(888888L).toDF("c_id").write.mode("append").parquet(s"$path/tombstones")
    assert(intercept[IllegalArgumentException] {
      PqIndex.excise(spark, path, takedown, "vec_id", "takedown-2")
    }.getMessage.contains("manifest"))
    assert(PqIndex.loadIfValid(spark, path, "takedown-1").isEmpty)
  }

  test("manifest-validated reload runs zero build jobs; wrong source rebuilds") {
    val built = PqIndex.build(emb, "vec_id", "embedding", m = 8, ksub = 16)
    try {
      built.write(path, source = "spec-v1")
      ManifestFields.pin(path, Map(
        "version" -> "1", "source" -> "spec-v1", "appliedSources" -> "spec-v1",
        "buildMse" -> "0.5369672440887394", "buildRows" -> "500",
        "codebookSha" -> "4614e12bc709d3162f5e9d5f6bf6ce263b8ce74c78f5c0ec326905c79e029d26",
        "ksub" -> "16", "m" -> "8", "rows" -> "500", "tombRows" -> "0"))
      val before = PqIndex.buildCount
      val hit = PqIndex.loadIfValid(spark, path, "spec-v1")
      assert(hit.isDefined, "valid manifest refused")
      assert(PqIndex.buildCount === before, "reload ran a build")
      assert(topkSet(hit.get) === topkSet(built))
      // a different source fingerprint must invalidate
      assert(PqIndex.loadIfValid(spark, path, "spec-v2").isEmpty)
      // a corrupted manifest must invalidate, not crash
      val mPath = new org.apache.hadoop.fs.Path(s"$path/_MANIFEST.properties")
      val fs = mPath.getFileSystem(spark.sessionState.newHadoopConf())
      val out = fs.create(mPath, true)
      out.write("version=999\n".getBytes("UTF-8")); out.close()
      assert(PqIndex.loadIfValid(spark, path, "spec-v1").isEmpty)
    } finally built.close()
  }
}
