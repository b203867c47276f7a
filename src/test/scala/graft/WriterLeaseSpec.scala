package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{InvertedIndex, IvfIndex, WriterLease}

/** The writer-fencing contract for the durable-artifact maintenance ops:
  * one maintainer at a time per path, a concurrent second maintainer
  * refuses FAST with the holder named, a crashed maintainer's lease is
  * taken over after expiry, and a rebuild (the documented crash
  * recovery) clears a dead writer's lease instead of waiting out its
  * TTL. The lease is a SIBLING of the artifact dir so directory swaps
  * (Markov append, IVF retrain) cannot vanish it mid-operation.
  */
class WriterLeaseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Plant a lease at `path`'s slot as if `owner` held it to `expiresAt`. */
  private def plant(path: String, owner: String, expiresAtMs: Long): Unit = {
    val props = new java.util.Properties()
    props.setProperty("owner", owner)
    props.setProperty("expiresAtMs", expiresAtMs.toString)
    val out = new java.io.FileOutputStream(s"$path._LEASE.properties")
    try props.store(out, "planted") finally out.close()
  }

  private def leaseExists(path: String): Boolean =
    new java.io.File(s"$path._LEASE.properties").exists()

  test("withLease runs the body exclusively and releases on every exit") {
    val path = "target/test-lease-basic"
    var ran = false
    val result = WriterLease.withLease(spark, path) { ran = true; 42 }
    assert(ran && result === 42)
    assert(!leaseExists(path), "lease must be released after a clean exit")
    // released on the throwing path too
    intercept[RuntimeException] {
      WriterLease.withLease(spark, path) { throw new RuntimeException("boom") }
    }
    assert(!leaseExists(path), "lease must be released after a throw")
  }

  test("a live foreign lease refuses maintenance with the holder named; " +
      "an expired one is taken over") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val path = "target/test-lease-inv"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    InvertedIndex.build(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      .write(path, source = "base")
    // another maintainer holds the lease for 10 more minutes: every
    // maintenance op refuses fast, naming the holder
    plant(path, "maintainer-2@otherhost",
      System.currentTimeMillis() + 10 * 60 * 1000)
    val batch = docs.filter(col("doc_id") % 2 === 0)
    val e1 = intercept[IllegalStateException] {
      InvertedIndex.appendTo(spark, path, batch, "text", "day-1")
    }
    assert(e1.getMessage.contains("maintainer-2@otherhost"))
    val e2 = intercept[IllegalStateException] {
      InvertedIndex.compact(spark, path)
    }
    assert(e2.getMessage.contains("maintainer-2@otherhost"))
    // nothing was applied under the refusal
    assert(InvertedIndex.loadIfValid(spark, path, "base").isDefined,
      "a refused append must leave the artifact untouched")
    // the holder crashed: after expiry the next maintainer takes over
    plant(path, "maintainer-2@otherhost", System.currentTimeMillis() - 1000)
    assert(InvertedIndex.appendTo(spark, path, batch, "text", "day-1"),
      "an expired lease must be taken over, not waited out")
    assert(!leaseExists(path), "takeover must still release at completion")
    assert(InvertedIndex.loadIfValid(spark, path, "day-1").isDefined)
  }

  test("two concurrent appenders: exactly one wins, the loser names the winner") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val path = "target/test-lease-ivf"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    val built = IvfIndex.build(emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", nCells = 4)
    try built.write(path, "base") finally built.close()
    val batch = emb.filter(col("vec_id") % 2 === 0)
    // hold the lease while issuing an append: the second maintainer must
    // refuse (not queue) while the first body is still in flight
    WriterLease.withLease(spark, path) {
      val e = intercept[IllegalStateException] {
        IvfIndex.appendTo(spark, path, batch, "vec_id", "embedding", "day-1")
      }
      assert(e.getMessage.contains("held by"))
    }
    // lease released: the same append now applies
    assert(IvfIndex.appendTo(spark, path, batch, "vec_id", "embedding", "day-1"))
  }

  test("an incomplete (mid-initialization) lease is HELD, never usurped") {
    // a holder between create and props.store leaves a lease with no
    // owner/expiry for a moment; reading that window as "expired 1970"
    // (the pre-r18 getOrElse(0L)) let a second acquirer delete and
    // re-create it — two live holders. It must refuse instead.
    val path = "target/test-lease-init"
    val lease = new java.io.File(s"$path._LEASE.properties")
    lease.getParentFile.mkdirs()
    val out = new java.io.FileOutputStream(lease)
    try new java.util.Properties().store(out, "mid-initialization")
    finally out.close()
    try {
      val e = intercept[IllegalStateException] {
        WriterLease.withLease(spark, path) { 1 }
      }
      assert(e.getMessage.contains("never became readable"),
        s"an initializing lease must refuse, not usurp: ${e.getMessage}")
      assert(leaseExists(path),
        "the initializing holder's lease must not be deleted")
    } finally lease.delete()
  }

  test("a maintainer running past its TTL renews instead of being usurped") {
    val path = "target/test-lease-renew"
    // short TTL: the body deliberately outlives it several times over;
    // the renewal thread (every ttl/4) must keep the lease live so a
    // concurrent second maintainer still refuses by name. 2 s — not a
    // few hundred ms — so one scheduler/GC stall of a renewal tick on a
    // loaded box cannot lapse the lease and flake the test.
    WriterLease.withLease(spark, path, ttlMs = 2000, owner = "slow@host") {
      Thread.sleep(5000) // 2.5x the TTL
      val e = intercept[IllegalStateException] {
        WriterLease.withLease(spark, path, owner = "fast@host") { 1 }
      }
      assert(e.getMessage.contains("slow@host"),
        "a renewed lease must still refuse a second maintainer by name, " +
          s"got: ${e.getMessage}")
      42
    }
    assert(!leaseExists(path), "the straggler still releases cleanly")
  }

  test("a lease overwritten by a foreign owner mid-body fails the " +
      "straggler loudly and never deletes the usurper's lease") {
    // the renewer's read-verify path: a takeover (or an out-of-band
    // clear+re-acquire) lands while the body runs; the next renewal tick
    // reads the foreign owner, flips usurped, and withLease must surface
    // the lapsed fence at completion instead of releasing the usurper's
    // live lease out from under it
    val path = "target/test-lease-usurped"
    WriterLease.clear(spark, path) // leftover from a prior failed run
    // plant through the Hadoop FS, not a raw FileOutputStream: the lease
    // was created via fs.create, so the local FS carries a .crc sidecar —
    // a raw overwrite leaves a stale checksum and every renewal re-read
    // fails as a (swallowed) ChecksumException instead of seeing the
    // usurper
    def plantFs(owner: String, expiresAtMs: Long): Unit = {
      val lp = new org.apache.hadoop.fs.Path(s"$path._LEASE.properties")
      val fs = lp.getFileSystem(spark.sessionState.newHadoopConf())
      val props = new java.util.Properties()
      props.setProperty("owner", owner)
      props.setProperty("expiresAtMs", expiresAtMs.toString)
      val out = fs.create(lp, true)
      try props.store(out, "planted") finally out.close()
    }
    val e = intercept[IllegalStateException] {
      WriterLease.withLease(spark, path, ttlMs = 1000,
          owner = "straggler@host") {
        Thread.sleep(100)
        plantFs("usurper@host", System.currentTimeMillis() + 60000)
        Thread.sleep(1200) // several renewal ticks read the foreign owner
        1
      }
    }
    assert(e.getMessage.contains("lost mid-operation"), e.getMessage)
    assert(leaseExists(path), "the usurper's lease must not be deleted")
    new java.io.File(s"$path._LEASE.properties").delete()
  }

  test("rebuild (write) clears a dead maintainer's lease — recovery does " +
      "not wait out the TTL") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val path = "target/test-lease-rebuild"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    val idx = InvertedIndex.build(docs.limit(50), "doc_id", "text")
    idx.write(path, "base")
    // a maintainer died mid-op holding a LIVE lease; the operator's
    // recovery is a rebuild, which must not be locked out
    plant(path, "dead-maintainer@host",
      System.currentTimeMillis() + 10 * 60 * 1000)
    idx.write(path, "base-2")
    assert(!leaseExists(path), "write() must clear the stale lease")
    assert(InvertedIndex.appendTo(spark, path,
      Seq((900001L, "fresh doc")).toDF("doc_id", "text"), "text", "day-1"))
  }

  test("the default owner token is unique per withLease invocation — a " +
      "same-process successor op's lease never passes a straggler's check") {
    // with a process-wide pid@host owner, a renewer wedged past the join
    // bound that wakes after TTL expiry could read a SUCCESSOR
    // same-process op's fresh lease, pass the owner check, and delete it
    // — two live maintainers. The per-invocation suffix makes every
    // owner-verified decision distinguish the two operations.
    val path = "target/test-lease-owner-nonce"
    def ownerDuringBody(): String = WriterLease.withLease(spark, path) {
      val props = new java.util.Properties()
      val in = new java.io.FileInputStream(s"$path._LEASE.properties")
      try props.load(in) finally in.close()
      props.getProperty("owner")
    }
    val o1 = ownerDuringBody()
    val o2 = ownerDuringBody()
    assert(o1 != null && o2 != null)
    assert(o1 !== o2,
      s"two invocations in one process must hold distinct owner tokens: $o1")
    assert(o1.contains("@") && o1.contains("#"),
      s"the token must stay readable as pid@host#seq in refusals: $o1")
  }

  test("adoptOrphanNext recovers a mid-swap crash (complete -next, no " +
      "live dir) and refuses torn live debris or a held lease") {
    def rm(p: String) =
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))
    def mkManifest(dir: String): Unit = {
      new java.io.File(dir).mkdirs()
      val out = new java.io.FileOutputStream(s"$dir/_MANIFEST.properties")
      try new java.util.Properties().store(out, "staged complete")
      finally out.close()
    }
    val path = "target/test-lease-adopt"
    Seq(path, s"$path-next", s"$path-old").foreach(rm)
    // crash state between the two renames: -old holds the pre-op copy,
    // -next the complete staged result, nothing at the live path
    mkManifest(s"$path-next")
    new java.io.File(s"$path-old").mkdirs()
    assert(WriterLease.adoptOrphanNext(spark, path),
      "a complete orphaned -next beside an empty live path must be adopted")
    assert(new java.io.File(s"$path/_MANIFEST.properties").exists(),
      "adoption is the rename the crashed maintainer would have executed")
    assert(!new java.io.File(s"$path-next").exists())
    assert(!new java.io.File(s"$path-old").exists(),
      "the pre-swap copy is dropped, as the normal commit tail would")
    assert(!leaseExists(path), "adoption releases its lease")
    // live dir present (even manifest-less torn debris): refuse — a
    // rename onto it would nest directories; rebuild stays the recovery
    Seq(path, s"$path-next").foreach(rm)
    new java.io.File(path).mkdirs()
    mkManifest(s"$path-next")
    assert(!WriterLease.adoptOrphanNext(spark, path),
      "anything at the live path must refuse adoption")
    assert(new java.io.File(s"$path-next/_MANIFEST.properties").exists())
    // a held lease means a live maintainer is mid-swap: stay out
    rm(path)
    plant(path, "mid-swap@host", System.currentTimeMillis() + 600000)
    assert(!WriterLease.adoptOrphanNext(spark, path))
    new java.io.File(s"$path._LEASE.properties").delete()
    // no staged next at all: a plain miss
    rm(s"$path-next")
    assert(!WriterLease.adoptOrphanNext(spark, path))
  }

  test("an IVF retrain interrupted after its first rename is adopted by " +
      "the next reopen with zero builds; a pre-retrain batch still no-ops") {
    def rm(p: String) =
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val path = "target/test-lease-retrain-crash"
    Seq(path, s"$path-next", s"$path-old").foreach(rm)
    val built = IvfIndex.build(emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", nCells = 4)
    try built.write(path, "base") finally built.close()
    val batch = emb.filter(col("vec_id") % 2 === 0)
    assert(IvfIndex.appendTo(spark, path, batch, "vec_id", "embedding", "day-1"))
    // the crash window: retrain staged the complete rebuild at -next and
    // moved the live index aside to -old; the JVM died before the second
    // rename, leaving nothing at the live path
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(path),
      new java.io.File(s"$path-old"))
    IvfIndex.retrain(spark, path, nCells = 4, newSource = "retrain-1").close()
    assert(new java.io.File(path).renameTo(new java.io.File(s"$path-next")))
    val builds = IvfIndex.buildsRun.get()
    assert(IvfIndex.loadIfValid(spark, path, "retrain-1").isDefined,
      "loadIfValid must adopt the complete staged retrain, not miss")
    assert(IvfIndex.buildsRun.get() === builds, "adoption runs zero builds")
    assert(!new java.io.File(s"$path-next").exists())
    assert(!new java.io.File(s"$path-old").exists())
    // the staged manifest carried the pre-retrain ledger
    assert(!IvfIndex.appendTo(spark, path, batch, "vec_id", "embedding", "day-1"),
      "a replayed pre-retrain batch must stay a ledger no-op")
  }
}
