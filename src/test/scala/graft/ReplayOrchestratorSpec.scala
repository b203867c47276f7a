package graft

import java.util.concurrent.TimeoutException
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{QueryArtifacts, ReplayOrchestrator}

/** The replay-launcher contracts that keep a wedged or half-torn-down
  * streaming replay from silently poisoning a run: a hung body becomes a
  * NAMED, fail-sticky per-query failure within the await bound (never an
  * unbounded hang of the whole bench), and the session-artifact clear
  * waits out in-flight bodies before a relaunch could overlap their
  * staging paths, then releases what they filled into any family's
  * cache (the eager fan-out crosses module ownership). */
class ReplayOrchestratorSpec extends AnyFunSuite {

  private val spark = TestSpark.spark

  test("a never-completing replay fails by name within the bound, fail-sticky") {
    val name = "spec-wedged"
    ReplayOrchestrator.register(name) { (_, _) =>
      Thread.sleep(600000); "never"
    }
    val saved = ReplayOrchestrator.awaitBound
    ReplayOrchestrator.awaitBound = 2.seconds
    try {
      val t0 = System.nanoTime()
      val e = intercept[TimeoutException] {
        ReplayOrchestrator.await[String](spark, "/spec/wedged-dir", name)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      assert(secs < 30, s"timeout must fire near the bound, took $secs s")
      assert(e.getMessage.contains(name),
        "the failure must NAME the wedged replay for the bench artifact")
      // fail-sticky: the next await must fail fast, not re-block a
      // full bound on the still-running body
      val t1 = System.nanoTime()
      intercept[TimeoutException] {
        ReplayOrchestrator.await[String](spark, "/spec/wedged-dir", name)
      }
      assert((System.nanoTime() - t1) / 1e9 < 1.0,
        "second await of a timed-out replay must fail fast (sticky)")
    } finally {
      ReplayOrchestrator.awaitBound = saved
      // forget the sleeper WITHOUT awaiting it (it would otherwise block
      // the next drainAndClear for the drain bound)
      ReplayOrchestrator.unregisterForTest(name)
    }
  }

  test("clearAll waits out an in-flight body and releases its cache fill") {
    val bodyDone = new AtomicBoolean(false)
    // what the body persisted into a registry cache, one entry per launch
    val persisted = new ConcurrentLinkedQueue[DataFrame]()
    val fills = QueryArtifacts.cache[String, DataFrame](_.unpersist())
    def released = persisted.asScala.forall(_.storageLevel == StorageLevel.NONE)
    val name = "spec-inflight"
    ReplayOrchestrator.register(name) { (spark, dir) =>
      Thread.sleep(1500)
      val df = fills(dir) {
        val d = spark.range(0, 10, 1, 1).selectExpr("id", s"'$dir' AS dir").persist()
        persisted.add(d)
        d
      }
      df.count()
      bodyDone.set(true); "done"
    }
    try {
      assert(ReplayOrchestrator.await[String](spark, "/spec/dir-a", name)
        == "done")
      assert(bodyDone.get())
      assert(persisted.size == 1 && !released, "the body must fill a persist")
      // relaunch under a second dir but DO NOT await it — leave it
      // in-flight, the CacheLifecycleSpec-mid-JVM scenario
      bodyDone.set(false)
      ReplayOrchestrator.await[String](spark, "/spec/dir-a", name) // cached
      assert(!bodyDone.get(), "cached result must not relaunch the body")
      val inflight = scala.concurrent.Future {
        ReplayOrchestrator.await[String](spark, "/spec/dir-b", name)
      }(scala.concurrent.ExecutionContext.global)
      Thread.sleep(100) // let the launch land in `started`
      QueryArtifacts.clearAll()
      // the in-flight body must have COMPLETED before clear dropped it —
      // a post-clear relaunch can never overlap its staging writes
      assert(bodyDone.get(),
        "clearAll returned while a launched body was still running")
      // ... and what it filled (after the clear began) is released too
      assert(persisted.size == 2 && released,
        "a persist filled by the in-flight body survived clearAll")
      scala.concurrent.Await.ready(inflight, 10.seconds)
      // a fresh await AFTER the clear relaunches cleanly
      bodyDone.set(false)
      assert(ReplayOrchestrator.await[String](spark, "/spec/dir-a", name)
        == "done")
      assert(bodyDone.get(), "post-clear await must relaunch the body")
      assert(persisted.size == 3 && !released)
      QueryArtifacts.clearAll()
      assert(released)
      // idempotent: nothing launched since → nothing more to release
      QueryArtifacts.clearAll()
      assert(persisted.size == 3 && released)
    } finally ReplayOrchestrator.unregisterForTest(name)
  }

  test("sibling barrier shares ONE deadline across multiple wedged replays") {
    // two wedged siblings must cost one bound total, not a fresh bound
    // each (k wedged replays blocking a single row for k x bound)
    val name = "spec-shared-fast"
    ReplayOrchestrator.register(name) { (_, _) => "fast" }
    ReplayOrchestrator.register("spec-shared-wedge1") { (_, _) =>
      Thread.sleep(600000); "never"
    }
    ReplayOrchestrator.register("spec-shared-wedge2") { (_, _) =>
      Thread.sleep(600000); "never"
    }
    val saved = ReplayOrchestrator.awaitBound
    ReplayOrchestrator.awaitBound = 2.seconds
    try {
      val t0 = System.nanoTime()
      assert(ReplayOrchestrator.await[String](spark, "/spec/shared-dir", name)
        == "fast")
      val secs = (System.nanoTime() - t0) / 1e9
      assert(secs < 3.5,
        s"two wedged siblings must share one 2 s barrier deadline, took $secs s")
      // both wedged siblings are now fail-sticky for their own rows
      intercept[TimeoutException] {
        ReplayOrchestrator.await[String](spark, "/spec/shared-dir",
          "spec-shared-wedge1")
      }
    } finally {
      ReplayOrchestrator.awaitBound = saved
      Seq(name, "spec-shared-wedge1", "spec-shared-wedge2")
        .foreach(ReplayOrchestrator.unregisterForTest)
    }
  }

  test("awaitFanOut: measured loop cannot begin before the fan-out quiesces") {
    // the bench's warm-up gate (r18): prelaunch fires every body, then
    // awaitFanOut must not return while any launched body is in flight —
    // however long it takes (no fixed all-bodies bound; r17's 5-min
    // grace was overrun by the grown fan-out and the overrun bled into
    // the first measured queries). A genuinely wedged body is the one
    // exception: it times out on its own per-body bound, is returned BY
    // NAME, and is fail-sticky for its own row.
    val slowDone = new AtomicBoolean(false)
    ReplayOrchestrator.register("spec-fan-fast") { (_, _) => "fast" }
    ReplayOrchestrator.register("spec-fan-slow") { (_, _) =>
      Thread.sleep(900); slowDone.set(true); "slow"
    }
    ReplayOrchestrator.register("spec-fan-wedge") { (_, _) =>
      Thread.sleep(600000); "never"
    }
    val saved = ReplayOrchestrator.awaitBound
    ReplayOrchestrator.awaitBound = 2.seconds
    try {
      val dir = "/spec/fanout-dir"
      ReplayOrchestrator.prelaunch(spark, dir)
      val wedged = ReplayOrchestrator.awaitFanOut(spark, dir)
      // every non-wedged body completed before the gate opened
      assert(slowDone.get(),
        "awaitFanOut returned while a launched body was still running")
      assert(wedged.contains("spec-fan-wedge"),
        s"the wedged body must be reported by name, got $wedged")
      assert(!wedged.contains("spec-fan-slow") && !wedged.contains("spec-fan-fast"))
      // the wedged body is now fail-sticky for its own row (fails fast)
      val t0 = System.nanoTime()
      intercept[TimeoutException] {
        ReplayOrchestrator.await[String](spark, dir, "spec-fan-wedge")
      }
      assert((System.nanoTime() - t0) / 1e9 < 1.0,
        "a fan-out-timed-out body must fail fast at its own row")
      // a second awaitFanOut finds nothing in flight and returns at once
      val t1 = System.nanoTime()
      assert(ReplayOrchestrator.awaitFanOut(spark, dir).isEmpty)
      assert((System.nanoTime() - t1) / 1e9 < 1.0)
    } finally {
      ReplayOrchestrator.awaitBound = saved
      Seq("spec-fan-fast", "spec-fan-slow", "spec-fan-wedge")
        .foreach(ReplayOrchestrator.unregisterForTest)
    }
  }

  test("first touch barriers on the whole fan-out; siblings' failures stay theirs") {
    val siblingDone = new AtomicBoolean(false)
    ReplayOrchestrator.register("spec-bar-a") { (_, _) => "a" }
    ReplayOrchestrator.register("spec-bar-slow") { (_, _) =>
      Thread.sleep(800); siblingDone.set(true); "slow"
    }
    ReplayOrchestrator.register("spec-bar-broken") { (_, _) =>
      throw new IllegalStateException("sibling boom")
    }
    try {
      // awaiting one replay must return only after the SLOW sibling also
      // completed — a later row (or this row's min-of-2 second pass) may
      // never race a still-running background replay for threads
      assert(ReplayOrchestrator.await[String](spark, "/spec/bar-dir",
        "spec-bar-a") == "a")
      assert(siblingDone.get(),
        "await returned before a launched sibling replay completed")
      // ... and a BROKEN sibling must not fail this row; its own row
      // rethrows its own cause
      val e = intercept[IllegalStateException] {
        ReplayOrchestrator.await[String](spark, "/spec/bar-dir",
          "spec-bar-broken")
      }
      assert(e.getMessage == "sibling boom")
    } finally {
      Seq("spec-bar-a", "spec-bar-slow", "spec-bar-broken")
        .foreach(ReplayOrchestrator.unregisterForTest)
    }
  }
}
