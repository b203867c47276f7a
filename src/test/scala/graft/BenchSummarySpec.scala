package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact contract (`Bench.summaryJson`): a planted failure
  * must be visible IN the artifact by name, the -1.0 sentinel must stay
  * out of the total, the line must START with the documented
  * `{"metric":...,"value":N,"unit":"sec","queries":{...},"sf":...}`
  * headline (the driver's parser keys on it — r21), and the small
  * diagnostic scalars (`total_sec`, failure names, leak count, quiet-gate
  * verdict) must still sit at the END of the line so the driver's
  * stdout-tail capture keeps them. */
class BenchSummarySpec extends AnyFunSuite {

  private val results = Seq(
    "q_ok" -> ((0.5, 0.4)),
    "q_flaky" -> ((-1.0, 2.0)), // one failed pass: best = the good pass
    "q_dead" -> ((-1.0, -1.0))) // both passes failed

  test("planted failure appears by name; sentinel stays out of the total") {
    val s = Bench.summaryJson(results, leaked = 0, sfDir = "/x/sf")
    assert(s.contains(""""failed":["q_dead"]"""), s)
    assert(s.contains(""""failed_queries":1"""), s)
    // total = 0.4 (q_ok min) + 2.0 (q_flaky surviving pass); q_dead excluded
    assert(s.contains(""""value":2.4"""), s)
    assert(s.contains(""""q_flaky":2.0"""), s)
  }

  test("line starts with the documented headline; scalar diagnostics trail it") {
    val s = Bench.summaryJson(results, leaked = 0, sfDir = "/x/sf0.5",
      warmupSec = Some(3.0))
    // ONE line (main prints it last on stdout) that parses as JSON
    assert(!s.contains("\n"), s)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)
    assert(node.get("warmup_sec").asDouble() == 3.0, s)
    assert(node.get("pass1_total").asDouble() == 0.5, s)
    // the driver contract prefix, verbatim order: metric, value, unit,
    // queries, sf — a parser keying on the `{"metric"` prefix (or
    // json-loading the whole last line) must find the headline first
    assert(s.startsWith("""{"metric":"total","value":"""), s)
    assert(s.indexOf("\"unit\":\"sec\"") < s.indexOf("\"queries\":"), s)
    assert(s.indexOf("\"queries\":") < s.indexOf("\"sf\":"), s)
    // numeric sf parsed from the dir; the dir itself rides as sf_dir
    assert(s.contains(""""sf":0.5,"sf_dir":"/x/sf0.5""""), s)
    // the tail capture still keeps the failure names + leak count +
    // duplicated headline total
    val tail = s.takeRight(200)
    Seq("\"total_sec\":", "\"failed\":", "\"leaked_persists\":")
      .foreach(f => assert(tail.contains(f), s"$f not in tail: $tail"))
  }

  test("sf token parsing: last sfN[.N] wins; absent token falls back to the dir string") {
    assert(Bench.sfNumber("/root/testdata/sf0.1").contains(0.1))
    assert(Bench.sfNumber("/root/testdata/sf1").contains(1.0))
    assert(Bench.sfNumber("/sf2/testdata/sf0.001").contains(0.001))
    assert(Bench.sfNumber("/tmp/fixtures").isEmpty)
    // sf embedded inside a word is NOT a scale-factor token
    assert(Bench.sfNumber("/mnt/xsf2data/fixtures").isEmpty)
    val s = Bench.summaryJson(results, leaked = 0, sfDir = "/tmp/fixtures")
    assert(s.contains(""""sf":"/tmp/fixtures","sf_dir":"/tmp/fixtures""""), s)
  }

  test("core count rides in the artifact and gates reference rotation") {
    val s = Bench.summaryJson(results, leaked = 0, sfDir = "/x/sf0.5",
      cpus = Some(32))
    assert(s.contains(""""sf_dir":"/x/sf0.5","cpus":32"""), s)
    // a unit-spec call without a count emits no field at all
    val none = Bench.summaryJson(results, leaked = 0, sfDir = "/x/sf0.5")
    assert(!none.contains("\"cpus\""), none)
    // the driver benches the SAME dir at 32 and 8 cores: an 8-core total
    // must never rotate in as the 32-core quiet reference
    val c8 = """{"queries":{"a":1.0},"sf":0.1,"sf_dir":"/x","cpus":8,""" +
      """"loadavg":[0.4,0.5,0.6],"metric":"total","value":48.4,""" +
      """"failed_queries":0}"""
    assert(Bench.referenceFrom(c8, "/x", Some(32)).isEmpty)
    assert(Bench.referenceFrom(c8, "/x", Some(8))
      .contains((48.4, Seq(0.4, 0.5, 0.6))))
    // legacy artifact without the field: accepted as before (the
    // committed chain predates mixed-cpu runs)
    val legacy = """{"queries":{"a":1.0},"sf":"/x","loadavg":[0.4,0.5,0.6],""" +
      """"metric":"total","value":41.0,"failed_queries":0}"""
    assert(Bench.referenceFrom(legacy, "/x", Some(32))
      .contains((41.0, Seq(0.4, 0.5, 0.6))))
  }

  test("each core count keeps its own quiet-reference chain") {
    // the driver benches the same dir at 32, then 8, then 32 cores: the
    // 8-core run must not break the 32-core chain by overwriting the one
    // summary the next 32-core run reads its reference from
    val tmp = java.nio.file.Files.createTempDirectory("bench-chain")
    val summary = tmp.resolve("BENCH_SUMMARY.json")
    def run(cpus: Int, secs: Double): String =
      Bench.recordSummary(summary, "/x/sf0.1", Some(cpus))(ref =>
        Bench.summaryJson(Seq("a" -> ((secs, secs))), leaked = 0,
          sfDir = "/x/sf0.1", loadAvg = Seq(0.5, 0.5, 0.5), reference = ref,
          cpus = Some(cpus)))
    try {
      val first = run(32, 40.0)
      assert(!first.contains("reference_quiet_total"), first)
      val c8 = run(8, 50.0)
      assert(!c8.contains("reference_quiet_total"), c8)
      val third = run(32, 42.0)
      assert(third.contains(""""reference_quiet_total":40.0"""), third)
      // the shared file holds the latest run at any core count
      assert(new String(java.nio.file.Files.readAllBytes(summary), "UTF-8")
        .trim == third)
      assert(java.nio.file.Files.exists(Bench.coreSummaryPath(summary, 8)))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
  }

  test("clean run reports an empty failure list") {
    val s = Bench.summaryJson(Seq("a" -> ((1.0, 2.0))), leaked = 0, sfDir = "d")
    assert(s.contains(""""failed":[]""") && s.contains(""""failed_queries":0"""), s)
    assert(s.contains(""""value":1.0"""), s)
  }

  test("driver-tail contract survives 300+ queries: headline fields stay in the last 300 chars") {
    // the driver's BENCH_r{N}.json keeps only the stdout TAIL; the bulky
    // per-query maps grow with every round, so the contract that the
    // headline comparables sit at the very END must hold at ANY query
    // count — pinned here at 320 queries (more than double the current
    // ledger) with failures and load present, so future growth cannot
    // silently push "value"/"failed"/"leaked_persists" out of the
    // driver's capture window
    val many = (0 until 320).map(i => s"q_$i" -> ((0.1 + i * 0.01, 0.2 + i * 0.01))) ++
      Seq("q_dead_tail" -> ((-1.0, -1.0)))
    val s = Bench.summaryJson(many, leaked = 2, sfDir = "/x/sf",
      loadAvg = Seq(1.0, 2.0, 3.0), warmupSec = Some(12.25))
    val tail = s.takeRight(300)
    Seq("\"total_sec\":", "\"failed\":", "\"leaked_persists\":",
        "\"warmup_sec\":", "\"pass1_total\":").foreach(f =>
      assert(tail.contains(f), s"$f not in last-300 tail: $tail"))
    assert(tail.contains("q_dead_tail"),
      "the failed-query NAME must survive the tail capture too")
    // and the parseable headline still LEADS the line at any query count
    assert(s.startsWith("""{"metric":"total","value":"""), s.take(80))
  }

  test("serveall reopen wall-times ride in the artifact before the headline") {
    val s = Bench.summaryJson(Seq("a" -> ((1.0, 2.0))), leaked = 0, sfDir = "d",
      reopenMs = Some(Seq("ivf" -> 120L, "pq" -> 45L)))
    assert(s.contains(""""serveall_reopen_ms":{"ivf":120,"pq":45}"""), s)
    assert(s.indexOf("serveall_reopen_ms") > s.indexOf("\"queries\":"),
      "reopen times ride after the headline queries map")
    assert(s.indexOf("serveall_reopen_ms") < s.indexOf("\"leaked_persists\":"),
      "reopen times must not displace the tail scalar fields")
    // absent when the capstone didn't run (e.g. a filtered bench)
    val none = Bench.summaryJson(Seq("a" -> ((1.0, 2.0))), leaked = 0, sfDir = "d")
    assert(!none.contains("serveall_reopen_ms"), none)
  }

  test("host load average rides in the artifact; headline still trails it") {
    val s = Bench.summaryJson(Seq("a" -> ((1.0, 2.0))), leaked = 0, sfDir = "d",
      loadAvg = Seq(1.5, 2.25, 3.0))
    assert(s.contains(""""loadavg":[1.5,2.25,3.0]"""), s)
    assert(s.indexOf("\"loadavg\":") > s.indexOf("\"sf\":"), s)
    assert(s.indexOf("\"loadavg\":") < s.indexOf("\"leaked_persists\":"), s)
    // absent on platforms without /proc: emitted as an empty array, valid JSON
    val none = Bench.summaryJson(Seq("a" -> ((1.0, 2.0))), leaked = 0, sfDir = "d")
    assert(none.contains(""""loadavg":[]"""), none)
  }

  test("previous committed total + its loadavg ride as reference fields") {
    val s = Bench.summaryJson(Seq("a" -> ((1.0, 2.0))), leaked = 0, sfDir = "d",
      loadAvg = Seq(0.5, 0.4, 0.3),
      reference = Some((61.9, Seq(0.48, 0.6, 0.7))))
    assert(s.contains(""""reference_quiet_total":61.9"""), s)
    assert(s.contains(""""reference_loadavg":[0.48,0.6,0.7]"""), s)
    // still valid JSON with the headline trailing (driver-tail contract)
    assert(s.indexOf("\"reference_quiet_total\":") < s.indexOf("\"leaked_persists\":"), s)
    // first run ever: no reference fields at all (not empty/null ones)
    val first = Bench.summaryJson(Seq("a" -> ((1.0, 2.0))), leaked = 0, sfDir = "d")
    assert(!first.contains("reference_quiet_total"), first)
  }

  test("summary path resolves to the repo root from a nested CWD") {
    val root = java.nio.file.Paths.get("").toAbsolutePath // repo root (has build.sbt)
    assert(java.nio.file.Files.exists(root.resolve("build.sbt")),
      "spec expects to run from the sbt repo root")
    val expected = root.resolve("BENCH_SUMMARY.json")
    // benching from a subdirectory must hit the SAME artifact as the
    // driver's repo-root invocation — not a silently-fresh file in the
    // subdir (r13's read was bare-CWD-relative)
    assert(Bench.summaryPath(root.resolve("src/test/scala")) == expected)
    assert(Bench.summaryPath(root) == expected)
    // outside any sbt repo: fall back to the start dir itself
    val tmp = java.nio.file.Files.createTempDirectory("bench-path")
    try {
      val fb = Bench.summaryPath(tmp)
      assert(fb.getFileName.toString == "BENCH_SUMMARY.json")
      assert(fb.getParent == tmp.toAbsolutePath
        || java.nio.file.Files.exists(fb.getParent.resolve("build.sbt")))
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  test("a load-contaminated previous total never rotates in as the reference") {
    // previous run at loadavg 3.73 (the observed driver refresh): its own
    // total must be REFUSED, and the quiet total IT carried — quiet by
    // induction — carried forward instead
    val noisy = """{"queries":{"a":1.0},"loadavg":[3.73,2.9,1.8],""" +
      """"reference_quiet_total":65.4,"reference_loadavg":[1.2,1.0,0.9],""" +
      """"metric":"total","value":94.92,"unit":"sec","failed_queries":0,""" +
      """"failed":[],"leaked_persists":0,"sf":"/root/testdata/sf0.1"}"""
    assert(Bench.referenceFrom(noisy, "/root/testdata/sf0.1")
      .contains((65.4, Seq(1.2, 1.0, 0.9))))
    // noisy previous run with NO carried quiet value: omit, never adopt
    val noisyFirst = """{"queries":{"a":1.0},"loadavg":[2.5,2.0,1.5],""" +
      """"metric":"total","value":94.92,"unit":"sec","failed_queries":0,""" +
      """"failed":[],"leaked_persists":0,"sf":"/root/testdata/sf0.1"}"""
    assert(Bench.referenceFrom(noisyFirst, "/root/testdata/sf0.1").isEmpty)
    // at the bound: adopted as before
    val atBound = """{"queries":{"a":1.0},"loadavg":[2.0,1.0,0.5],""" +
      """"metric":"total","value":60.0,"unit":"sec","sf":"/x"}"""
    assert(Bench.referenceFrom(atBound, "/x").contains((60.0, Seq(2.0, 1.0, 0.5))))
    // loadavg ABSENT = unknown load, not quiet (r16): never adopt the
    // total itself — fall back to the carried quiet reference if one
    // rode along, else omit
    val noLoad = """{"queries":{"a":1.0},"value":60.0,"sf":"/x"}"""
    assert(Bench.referenceFrom(noLoad, "/x").isEmpty)
    val noLoadCarried = """{"queries":{"a":1.0},"value":60.0,""" +
      """"reference_quiet_total":58.2,"reference_loadavg":[0.4,0.5,0.6],""" +
      """"sf":"/x"}"""
    assert(Bench.referenceFrom(noLoadCarried, "/x")
      .contains((58.2, Seq(0.4, 0.5, 0.6))))
  }

  test("quiet-gate fields ride in the artifact; headline still trails them") {
    val s = Bench.summaryJson(Seq("a" -> ((1.0, 2.0))), leaked = 0, sfDir = "d",
      loadAvg = Seq(4.0, 3.0, 2.0),
      measured = Some((Seq(1.1, 2.2, 2.9), false, 120L)))
    assert(s.contains(""""measured_loadavg":[1.1,2.2,2.9]"""), s)
    assert(s.contains(""""measured_under_load":false"""), s)
    assert(s.contains(""""quiet_wait_sec":120"""), s)
    assert(s.indexOf("\"measured_loadavg\":") < s.indexOf("\"leaked_persists\":"), s)
    // a gate that gave up flags the total as contaminated by its own
    // testimony — the field every adjudication of r17/r18 had to infer
    val under = Bench.summaryJson(Seq("a" -> ((1.0, 2.0))), leaked = 0,
      sfDir = "d", measured = Some((Seq(3.5, 3.0, 2.0), true, 900L)))
    assert(under.contains(""""measured_under_load":true"""), under)
    // absent (a unit-spec call): no fields at all
    val none = Bench.summaryJson(Seq("a" -> ((1.0, 2.0))), leaked = 0, sfDir = "d")
    assert(!none.contains("measured_under_load"), none)
  }

  test("warm-up wall time and pass-1 sum ride just before failed_queries") {
    // the cold cost sits next to the warm headline: q_ok's pass 1 (0.5)
    // plus q_flaky's (failed, excluded) plus q_dead's (failed, excluded)
    val s = Bench.summaryJson(results ++ Seq("q_slow_first" -> ((3.0, 0.25))),
      leaked = 0, sfDir = "d", warmupSec = Some(4.5))
    assert(s.contains(""""warmup_sec":4.5,"pass1_total":3.5,"failed_queries":1"""), s)
    assert(s.indexOf("\"loadavg\":") < s.indexOf("\"warmup_sec\":"), s)
    // a unit-spec call without a warm-up: no warmup_sec, pass1_total stays
    val none = Bench.summaryJson(Seq("a" -> ((1.0, 2.0))), leaked = 0, sfDir = "d")
    assert(!none.contains("warmup_sec"), none)
    assert(none.contains(""""pass1_total":1.0,"failed_queries":0"""), none)
  }

  test("leaked RDD descriptors ride in the artifact before the headline") {
    val s = Bench.summaryJson(Seq("a" -> ((1.0, 2.0))), leaked = 2, sfDir = "d",
      leakedRdds = Seq("id=42 jaccard-pairs", "id=7 MapPartitionsRDD[7] \"x\""))
    assert(s.contains(""""leaked_rdds":["id=42 jaccard-pairs","""), s)
    // embedded quotes must stay escaped — the artifact is parsed JSON
    assert(s.contains("""MapPartitionsRDD[7] \"x\""""), s)
    assert(s.indexOf("\"leaked_rdds\":") < s.indexOf("\"leaked_persists\":"), s)
    assert(s.contains(""""leaked_persists":2"""), s)
    val none = Bench.summaryJson(Seq("a" -> ((1.0, 2.0))), leaked = 0, sfDir = "d")
    assert(none.contains(""""leaked_rdds":[]"""), none)
  }

  test("awaitQuiet returns immediately on a quiet or unreadable box and " +
      "bounds its wait on a busy one") {
    var slept = 0L
    val sleep = (ms: Long) => { slept += ms; () }
    // quiet at first read: no wait
    assert(Bench.awaitQuiet(() => Some(0.5), bound = 2.0,
      maxWaitMs = 1000, pollMs = 100, sleep = sleep) === ((0L, false)))
    assert(slept === 0L)
    // no /proc/loadavg: unknown is not busy — no wait, not under load
    assert(Bench.awaitQuiet(() => None, bound = 2.0,
      maxWaitMs = 1000, pollMs = 100, sleep = sleep) === ((0L, false)))
    // busy then quiet: waits exactly until the read clears
    val reads = Iterator(5.0, 4.0, 1.5)
    val (waited, under) = Bench.awaitQuiet(() => Some(reads.next()),
      bound = 2.0, maxWaitMs = 10000, pollMs = 100, sleep = sleep)
    assert(waited === 200L && !under)
    // never quiet: gives up at the ceiling and reports under-load
    val (gaveUp, still) = Bench.awaitQuiet(() => Some(9.0),
      bound = 2.0, maxWaitMs = 500, pollMs = 200, sleep = sleep)
    assert(gaveUp === 500L && still,
      "the gate must give up at maxWaitMs and flag the load")
  }

  test("the quiet-rotation decision prefers the measurement-time loadavg") {
    // launch loadavg quiet but the MEASURED loadavg noisy (a co-tenant
    // burst arrived during warm-up, the gate gave up): the total was
    // produced under load and must be refused as a reference
    val prev = """{"queries":{"a":1.0},"loadavg":[0.5,0.6,0.7],""" +
      """"measured_loadavg":[3.4,2.2,1.0],"measured_under_load":true,""" +
      """"reference_quiet_total":61.0,"reference_loadavg":[0.4,0.4,0.4],""" +
      """"metric":"total","value":95.0,"unit":"sec","sf":"/x"}"""
    assert(Bench.referenceFrom(prev, "/x").contains((61.0, Seq(0.4, 0.4, 0.4))))
    // the mirror: launched noisy, but the gate waited it out — the
    // measured-quiet total IS a valid reference
    val waitedOut = """{"queries":{"a":1.0},"loadavg":[4.2,3.0,2.0],""" +
      """"measured_loadavg":[1.2,2.0,2.1],"measured_under_load":false,""" +
      """"metric":"total","value":63.0,"unit":"sec","sf":"/x"}"""
    assert(Bench.referenceFrom(waitedOut, "/x")
      .contains((63.0, Seq(1.2, 2.0, 2.1))))
  }

  test("a previous run with failed queries never rotates in as the reference") {
    // failed passes are excluded from the total (the -1.0 sentinel), so
    // a partially-failed run's total is artificially SMALL — adopting it
    // even from a quiet box would make every later healthy run read as a
    // regression against a reference that never measured those queries
    val failedRun = """{"queries":{"a":1.0},"loadavg":[0.4,0.5,0.6],""" +
      """"measured_loadavg":[0.5,0.5,0.5],"measured_under_load":false,""" +
      """"reference_quiet_total":69.0,"reference_loadavg":[0.4,0.4,0.4],""" +
      """"metric":"total","value":50.0,"unit":"sec","failed_queries":3,""" +
      """"failed":["x","y","z"],"leaked_persists":0,"sf":"/x"}"""
    assert(Bench.referenceFrom(failedRun, "/x")
      .contains((69.0, Seq(0.4, 0.4, 0.4))),
      "an incomplete total must be refused and the carried quiet one kept")
    // complete quiet run: adopted as before
    val clean = """{"queries":{"a":1.0},"loadavg":[0.4,0.5,0.6],""" +
      """"metric":"total","value":63.0,"failed_queries":0,"sf":"/x"}"""
    assert(Bench.referenceFrom(clean, "/x").contains((63.0, Seq(0.4, 0.5, 0.6))))
  }

  test("reference fields are omitted when the previous run's sf differs") {
    val prev = """{"queries":{"a":1.0},"loadavg":[0.5,0.6,0.7],""" +
      """"metric":"total","value":61.9,"unit":"sec","failed_queries":0,""" +
      """"failed":[],"leaked_persists":0,"sf":"/root/testdata/sf0.1"}"""
    // same sf: carried with its loadavg
    assert(Bench.referenceFrom(prev, "/root/testdata/sf0.1")
      .contains((61.9, Seq(0.5, 0.6, 0.7))))
    // different sf dir: NOT a comparable total — omitted entirely
    assert(Bench.referenceFrom(prev, "/root/testdata/sf0.01").isEmpty)
    // sf field absent (pre-r13 artifact shape) or malformed JSON: omitted
    assert(Bench.referenceFrom("""{"value":5.0}""", "/x").isEmpty)
    assert(Bench.referenceFrom("not json", "/x").isEmpty)
    // r21+ artifact shape: numeric sf, dir in sf_dir — matched on sf_dir
    val r21 = """{"metric":"total","value":41.5,"unit":"sec",""" +
      """"queries":{"a":1.0},"sf":0.1,"sf_dir":"/root/testdata/sf0.1",""" +
      """"loadavg":[0.5,0.6,0.7],"failed_queries":0,"failed":[],""" +
      """"total_sec":41.5,"leaked_persists":0}"""
    assert(Bench.referenceFrom(r21, "/root/testdata/sf0.1")
      .contains((41.5, Seq(0.5, 0.6, 0.7))))
    assert(Bench.referenceFrom(r21, "/root/testdata/sf0.01").isEmpty)
  }
}
