package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import org.apache.spark.perfbench.Bridge
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** One benchmark run of one workload, driven in-process through the
  * engine's public Scala API by a single client thread in a closed loop
  * (the next op starts only after the previous one returned).
  *
  * Usage: `Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <outDir>`
  *
  * Writes `<outDir>/run.json` (ops, passes, set-up times, hygiene checks) and, with
  * tracing, `<outDir>/trace.json`; `run.py` reduces them to metrics. */
object Main {

  type Q = (SparkSession, String) => DataFrame

  /** A workload row: query object (for per-object accounting), name, body. */
  final case class RowDef(obj: String, name: String, fn: Q)

  private def rows(obj: String, all: Map[String, Q], names: Seq[String]): Seq[RowDef] =
    names.map(n => RowDef(obj, n, all(n)))

  /** LLM-pipeline rows, one per artifact-owning family: each builds a
    * session artifact (index, model, fingerprint table) on first touch and
    * serves from it afterwards. */
  def curationRows: Seq[RowDef] =
    rows("DedupQueries", DedupQueries.queries, Seq("dedup_lines", "winnow_fingerprint_stats")) ++
    rows("SimilarityQueries", SimilarityQueries.queries, Seq("ann_bruteforce_topk",
      "decontaminate_semantic")) ++
    rows("TextQueries", TextQueries.queries, Seq("bm25_served", "lm_bigram_quality",
      "boilerplate_ngrams")) ++
    rows("MultimodalQueries", MultimodalQueries.queries, Seq("multimodal_ahash_pairs")) ++
    rows("CdcQueries", CdcQueries.queries, Seq("cdc_chunks_persisted"))

  /** Every query object's session-cache teardown. */
  def clearAll(): Unit = {
    DedupQueries.clearCaches()
    SimilarityQueries.clearCaches()
    MultimodalQueries.clearCaches()
    PipelineQueries.clearCaches()
    TextQueries.clearCaches()
    AnalyticsQueries.clearCaches()
    RagQueries.clearCaches()
    ServeAllQueries.clearCaches()
  }

  /** Hard stop for the measured loop, well inside the 180 s run limit. */
  val MaxLoopSeconds = 90.0

  final case class Op(id: Int, row: String, obj: String, kind: String, pass: Int,
      traced: Boolean, ms: Double, ok: Boolean, err: String)
  /** One whole pass: its kind, whether it was traced, and its wall time. */
  final case class Pass(pass: Int, kind: String, traced: Boolean, ops: Int, ms: Double)

  final class Run(val spark: SparkSession, val tracer: Tracer, val seed: Long,
      val traced: Boolean) {
    val ops = ArrayBuffer.empty[Op]
    val passes = ArrayBuffer.empty[Pass]
    val checks = ArrayBuffer.empty[(String, Boolean, String)]
    var storagePeak = 0L
    var orchestrator = false
    private var tracing = false

    def check(name: String, ok: Boolean, detail: => String = ""): Unit =
      checks += ((name, ok, if (ok) "" else detail))

    /** Switch the listeners and spans on or off (between passes only). */
    def setTracing(on: Boolean): Unit = if (on != tracing) {
      val sc = spark.sparkContext
      if (on) { sc.addSparkListener(tracer.sparkListener); spark.listenerManager.register(tracer.queryListener) }
      else {
        Bridge.drainListenerBus(sc)
        sc.removeSparkListener(tracer.sparkListener)
        spark.listenerManager.unregister(tracer.queryListener)
      }
      tracing = on
      tracer.on = on
    }

    /** Time one op; never throws. The listener bus is drained, and the
      * storage and thread checks run, after the clock stops. */
    def op(row: String, obj: String, kind: String, pass: Int)(body: => Unit): Op = {
      val id = ops.size
      tracer.op = id
      val t0 = System.nanoTime()
      val err = try { tracer.span("op") { body }; null }
      catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      val ms = (System.nanoTime() - t0) / 1e6
      Bridge.drainListenerBus(spark.sparkContext)
      val o = Op(id, row, obj, kind, pass, tracing, ms, err == null, err)
      ops += o
      storagePeak = math.max(storagePeak, persistedBytes(spark))
      orchestrator ||= orchestratorStarted()
      o
    }

    /** Run one whole pass and record its wall time. */
    def timedPass(p: Int, kind: String)(body: => Unit): Unit = {
      val before = ops.size
      val t0 = System.nanoTime()
      body
      passes += Pass(p, kind, tracing, ops.size - before, (System.nanoTime() - t0) / 1e6)
    }

    /** `settle` untraced passes of kind "settle", which no metric reads
      * (right after the cold pass the JIT is still compiling the ops' code
      * paths), then warm passes until the warm phase has lasted `seconds`
      * and holds `passes` passes, enough for 50 warm ops, so that the
      * reported tail (p80) has ten samples beyond it. Both phases are
      * counted in passes, so on a typical host every run measures the same
      * stretch of the JVM's warm-up, however fast the host is at the time;
      * `seconds` is a floor. A traced run traces
      * every other warm pass, so each traced pass sits between two untraced
      * ones and the tracing overhead is measured within the run. With
      * `replay` given, every fourth pass runs it instead, traced, as a pass
      * of kind "replay" that stays outside that bracket. `pass` takes the
      * kind of its ops and the pass number. */
    def warmLoop(seconds: Double, settle: Int, passes: Int, replay: Option[Int => Unit] = None)(
        pass: (String, Int) => Unit): Unit = {
      for (p <- 1 to settle) timedPass(p, "settle")(pass("settle", p))
      var p = settle + 1
      val first = p
      val start = System.nanoTime()
      def elapsed = (System.nanoTime() - start) / 1e9
      while ((elapsed < seconds || p - first < passes) && elapsed < MaxLoopSeconds) {
        val i = p - first + 1
        setTracing(traced && i % 2 == 0)
        if (traced && replay.isDefined && i % 4 == 0) timedPass(p, "replay")(replay.get(p))
        else timedPass(p, "warm")(pass("warm", p))
        p += 1
      }
      setTracing(false)
    }
  }

  def persistedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** True once any thread of the warm-up fan-out exists: the benchmark must
    * charge every artifact build to an op, never to that background pool. */
  def orchestratorStarted(): Boolean = {
    val ts = new Array[Thread](Thread.activeCount() * 2 + 16)
    ts.take(Thread.enumerate(ts)).exists(_.getName == "replay-orchestrator")
  }

  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Spark sessions started in set-up; the ops run on the last one. */
  val SessionStarts = 3

  /** The benchmark's own warm-up, independent of the engine: a Spark
    * session started [[SessionStarts]] times, each running a small Parquet
    * write, scan, temp view, aggregate and join, so that Spark's own
    * first-use and JIT costs (session start, Hadoop file system, Parquet,
    * Catalyst, jobs) land in set-up rather than in the cold pass. */
  def warmSession(cpus: Int, work: Path): SparkSession = {
    var spark: SparkSession = null
    for (i <- 0 until SessionStarts) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = session(cpus, work)
      val dir = work.resolve(s"warmup-$i").toString
      spark.range(0, 2000, 1, spark.sparkContext.defaultParallelism)
        .selectExpr("id", "id % 97 AS k", "id * 1.5 AS v").write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir).createOrReplaceTempView("perfbench_warmup")
      spark.sql("SELECT t.k, t.v, c.n FROM perfbench_warmup t JOIN " +
          "(SELECT k, count(*) AS n FROM perfbench_warmup GROUP BY k) c ON t.k = c.k")
        .write.format("noop").mode("overwrite").save()
      spark.catalog.dropTempView("perfbench_warmup")
    }
    spark
  }

  /** Settle passes after the cold pass: the first warm pass is about a
    * third slower than the passes that follow the second. */
  val SettlePasses = 2
  /** Measured warm passes (63 ops). */
  val WarmPasses = 7

  /** The `curation` workload: every query object's caches cleared, one
    * cold pass, warm passes, then every row once more for the oracle. */
  def curation(run: Run, defs: Seq[RowDef], dir: String, seconds: Double, out: Path): Unit = {
    val spark = run.spark
    val tracer = run.tracer
    val rng = new Random(run.seed)
    def pass(kind: String, p: Int): Unit =
      rng.shuffle(defs).foreach { d =>
        run.op(d.name, d.obj, kind, p) {
          val df = tracer.span("queries.construct") { d.fn(spark, dir) }
          tracer.recordPlan("construct", df.queryExecution)
          tracer.span("exec") { df.write.format("noop").mode("overwrite").save() }
        }
      }
    run.setTracing(run.traced)
    run.timedPass(0, "cold")(pass("cold", 0))
    run.setTracing(false)
    run.warmLoop(seconds, SettlePasses, WarmPasses)(pass)
    // correctness: every row once more, results written for the oracle
    val verifyDir = Files.createDirectories(out.resolve("verify"))
    val oracle = graft.SparkEntry.oracleSql
    defs.foreach { d =>
      try Canon.write(d.fn(spark, dir), verifyDir.resolve(s"${d.name}.jsonl"))
      catch { case e: Throwable => run.check(s"result:${d.name}", ok = false, e.toString) }
    }
    implicit val formats: Formats = DefaultFormats
    Files.writeString(verifyDir.resolve("oracle.json"),
      Serialization.write(defs.map(d => d.name -> oracle(d.name)).toMap))
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataS, outS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val data = Paths.get(dataS).toAbsolutePath
    val out = Paths.get(outS).toAbsolutePath
    val work = Paths.get("").toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()

    // ---- set-up, from JVM start to the first timed op: the benchmark's
    // warmed Spark session, then the engine's set-up for the workload
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val spark = warmSession(cpus, work)
    val t1 = System.nanoTime()
    val body: Run => Unit = workload match {
      case "schema_build" =>
        val sb = new SchemaBuild(spark, data.resolve("wide"), out.resolve("wide-out"))
        sb.run(_, seconds)
      case "curation" =>
        // builds every query object and clears its session caches
        val defs = curationRows
        clearAll()
        curation(_, defs, data.resolve("lake").toString, seconds, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val t2 = System.nanoTime()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    val run = new Run(spark, new Tracer, seed, traced)
    body(run)

    val persistedEndMb = persistedBytes(spark) / 1e6
    val c0 = System.nanoTime()
    clearAll()
    val clearMs = (System.nanoTime() - c0) / 1e6
    val leaked = spark.sparkContext.getPersistentRDDs.values.toSeq
    run.check("no persisted RDDs after teardown", leaked.isEmpty, leaked.mkString("; "))
    run.check("no replay-orchestrator thread started", !run.orchestrator)

    implicit val formats: Formats = DefaultFormats
    val res = Serialization.write(Map(
      "workload" -> workload,
      "cpus" -> cpus,
      "setup_s" -> setupS,
      "setup_spark_s" -> (t1 - t0) / 1e9,
      "setup_engine_s" -> (t2 - t1) / 1e9,
      "storage_peak_mb" -> run.storagePeak / 1e6,
      "persisted_end_mb" -> persistedEndMb,
      "clear_ms" -> clearMs,
      "leaked_rdds" -> leaked.size,
      "checks" -> run.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "ops" -> run.ops,
      "passes" -> run.passes))
    if (traced) Files.writeString(out.resolve("trace.json"), run.tracer.toJson)
    Files.writeString(out.resolve("run.json"), res)
    spark.stop()
  }
}
