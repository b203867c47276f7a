package graft.operators

import org.apache.spark.sql.SparkSession

/** Advisory exclusive-writer lease for the durable-artifact maintenance
  * ops (append / compact / excise / retrain across [[IvfIndex]],
  * [[PqIndex]], [[InvertedIndex]], [[ChunkIndex]], [[MarkovModel]]).
  *
  * The family's writer contract — ONE maintainer at a time per artifact
  * path, no live readers across a swap — was previously convention
  * documented in scaladoc; this makes the first half enforceable: every
  * maintenance op runs under [[withLease]], which atomically creates a
  * manifest-adjacent `_LEASE.properties` (owner + expiry) and deletes it
  * on completion. A second concurrent maintainer fails FAST with the
  * holder named instead of interleaving staged writes and directory
  * swaps with the first one — the failure mode otherwise is two appends
  * double-counting a recount, or a compactor swapping a table out from
  * under an excisor mid-sidecar-rebuild.
  *
  * Crash recovery is TTL-based: a maintainer that died without releasing
  * leaves its lease behind, and any later maintainer whose clock reads
  * past the expiry TAKES OVER (delete + re-create). A LIVE maintainer
  * never reaches that expiry — [[withLease]] renews the stamp every
  * ttl/4 while its body runs — so takeover selects dead holders, not
  * merely slow ones. The artifact itself
  * stays safe across that window by the family's manifest-recount
  * discipline — a torn write is refused by counts, not by the lease; the
  * lease only serializes the writers. Readers are unaffected: they
  * validate through the manifest and never consult the lease (the
  * "no live readers across the swap" half stays an operational contract,
  * as a reader lease would put a metadata write on every reopen).
  *
  * Atomicity note: `FileSystem.create(path, overwrite = false)` is the
  * primitive — atomic on HDFS and object stores with conditional-put;
  * on a raw local FS it is check-then-create, which is sufficient for
  * the advisory guard this is (the enemy is two scheduled maintenance
  * jobs, seconds apart, not adversarial nanosecond races).
  */
object WriterLease {

  /** Default time-to-live: generous for any single maintenance op (an
    * append or compact is minutes even at scale), short enough that a
    * crashed maintainer's artifact is not locked out for long. */
  val DefaultTtlMs: Long = 15L * 60 * 1000

  /** SIBLING of the artifact dir, not inside it: the count models'
    * append/excise and the IVF/PQ retrain swap the whole directory — a
    * lease inside would vanish mid-operation with the old dir. */
  private def leasePath(path: String) =
    new org.apache.hadoop.fs.Path(s"$path._LEASE.properties")

  /** pid@host — names the maintainer PROCESS, readable in the refusal. */
  private[operators] def defaultOwner: String =
    s"${java.lang.ProcessHandle.current().pid()}@" +
      java.net.InetAddress.getLocalHost.getHostName

  private val invocationSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** pid@host#seq — unique per [[withLease]] INVOCATION, not just per
    * process: every owner-verified decision in the renewer (most
    * critically the shutdown-path deletes) must distinguish THIS
    * operation's lease from a successor same-process op's fresh lease.
    * With a process-wide owner, a renewer wedged past the 5 s join bound
    * that wakes after TTL expiry can read the successor's live lease,
    * pass the owner check, see its own latch at 0, and delete the
    * successor's lease — re-enabling two concurrent maintainers. The
    * per-invocation suffix makes that read fail the owner check
    * (usurped), so a straggler can only ever delete a stamp it wrote. */
  private def freshOwner: String =
    defaultOwner + "#" + invocationSeq.incrementAndGet()

  /** Run `body` holding the exclusive maintainer lease for `path`.
    * Throws IllegalStateException NAMING the current holder and its
    * expiry when the lease is held and unexpired; an expired lease is
    * taken over. The lease is released on every exit path (the finally),
    * but only if still owned — a takeover by a later maintainer after
    * this one stalls past its own TTL must not have its fresh lease
    * deleted by the stalled one's release.
    *
    * RENEWAL: while `body` runs, a daemon thread re-stamps the expiry
    * every ttl/4 — a maintainer legitimately running past one TTL (a
    * giant compaction, a stalled shuffle) keeps its lease live instead
    * of being silently usurped mid-write, so the TTL takeover path fires
    * only for genuinely dead holders. If renewal ever finds the lease
    * gone, re-owned, or within a guard margin of lapsing (the process
    * stalled most of a TTL between ticks, or a rebuild's [[clear]] fired
    * on a live maintainer), the straggler fails LOUDLY at completion
    * instead of pretending its interleaved writes were fenced — and
    * never deletes the usurper's lease. Each renewal write is verified
    * by a re-read (owner + per-write stamp), so a takeover that lands
    * around the overwrite is detected at the tick that raced it, not
    * silently papered over. */
  def withLease[T](spark: SparkSession, path: String,
      ttlMs: Long = DefaultTtlMs, owner: String = WriterLease.freshOwner)(body: => T): T = {
    val lp = leasePath(path)
    val fs = lp.getFileSystem(spark.sessionState.newHadoopConf())
    acquire(fs, lp, owner, ttlMs)
    val renewer = new Renewer(fs, lp, owner, ttlMs)
    renewer.start()
    var bodyCompleted = false
    try {
      val r = body
      bodyCompleted = true
      r
    } finally {
      val terminated = renewer.shutdown()
      if (renewer.usurped) {
        // not ours anymore: never delete the usurper's live lease, and
        // surface the lapsed guarantee loudly (unless the body is
        // already failing — don't mask its own cause)
        if (bodyCompleted)
          throw new IllegalStateException(
            s"maintenance lease at $lp was lost mid-operation (holder " +
              s"$owner stalled past its TTL or the lease was cleared); " +
              "another maintainer may have interleaved writes — verify " +
              "the artifact by recount or rebuild it")
        else
          System.err.println(s"[writer-lease] WARNING: lease at $lp was " +
            s"lost mid-operation while the body of $owner was failing")
      } else if (!terminated) {
        // the renewer is still blocked in a slow FS call past the join
        // bound: deleting the lease NOW could interleave with its
        // in-flight renewal write, recreating an ownerless lease after
        // this release — the wedge the shutdown recheck alone cannot
        // close (it precedes the write non-atomically). Skip the
        // release: the renewer deletes its own stamp the moment its
        // write lands (post-write shutdown recheck), and TTL expiry
        // recovers the worst case of a renewer that never wakes.
        System.err.println(s"[writer-lease] WARNING: renewer for $lp did " +
          "not stop within 5 s; skipping release (the renewer deletes " +
          "its own stamp after shutdown, or the lease expires by TTL)")
      } else release(fs, lp, owner)
    }
  }

  /** Daemon renewal loop for a held lease: every ttl/4 re-reads the
    * lease and, if still owned, rewrites it with a fresh expiry. A
    * vanished or re-owned lease flips [[usurped]] and stops renewing;
    * transient read/write failures are retried next tick (the lease
    * stays valid for a full TTL, so one missed tick is harmless). */
  private final class Renewer(fs: org.apache.hadoop.fs.FileSystem,
      lp: org.apache.hadoop.fs.Path, owner: String,
      ttlMs: Long) extends Thread("writer-lease-renewer") {
    setDaemon(true)
    @volatile var usurped = false
    private val stopLatch = new java.util.concurrent.CountDownLatch(1)

    /** Stop the loop and wait (bounded) for the thread to exit. Returns
      * whether it actually terminated — a false return means a renewal
      * write may still be in flight, and the caller must NOT release
      * the lease out from under it (see withLease's finally). */
    def shutdown(): Boolean = {
      stopLatch.countDown()
      join(5000)
      !isAlive
    }

    override def run(): Unit = {
      val interval = math.max(ttlMs / 4, 100L)
      // certainty margin: refuse to renew once the stamp is within one
      // guard of lapsing, not only once it HAS lapsed — a healthy
      // renewer ticks at ttl/4, so reading a stamp with < ttl/8 left
      // means this thread already stalled ~5/8 of a TTL past schedule
      // and a takeover may legally begin before our overwrite lands
      val guardMs = math.max(ttlMs / 8, 50L)
      while (!stopLatch.await(interval,
          java.util.concurrent.TimeUnit.MILLISECONDS)) {
        try {
          if (!fs.exists(lp)) { usurped = true; return }
          val props = Manifest.readFile(fs, lp)
          if (!props.get("owner").contains(owner)) {
            usurped = true; return
          }
          // NEVER renew a lease whose stamp has lapsed — or is within
          // the guard margin of lapsing. Between this read and the
          // overwrite below, an expiring stamp lets a legitimate
          // takeover delete-and-recreate the lease; overwriting it then
          // would reinstate our ownership ON TOP of the usurper's — two
          // silent holders, the exact race the fence exists to prevent.
          // Ownership certainty is gone; fail the straggler loudly.
          val remaining = props.get("expiresAtMs")
            .flatMap(s => scala.util.Try(s.toLong).toOption)
            .map(_ - System.currentTimeMillis()).getOrElse(-1L)
          if (remaining < guardMs) { usurped = true; return }
          // re-check AFTER the read: a shutdown (and release) may have
          // happened while a slow FS call above blocked past the join
          // bound — writing now would recreate a lease nobody holds,
          // locking every maintainer out for a full TTL. And since a
          // timed-out shutdown SKIPS the release (see withLease), the
          // stamp just read — ours, live — must be deleted HERE, or
          // nobody ever deletes it and the next maintainer waits out
          // the TTL (e.g. the driver rows' immediate replay-no-op
          // retry of the same op). Owner-verified by the read above;
          // live, so no takeover can race the delete.
          if (stopLatch.getCount == 0) {
            try { fs.delete(lp, false); () }
            catch { case scala.util.control.NonFatal(_) => () }
            return
          }
          val stamp = java.lang.Long.toHexString(System.nanoTime())
          Manifest.writeFile(fs, lp, Map("owner" -> owner, "stamp" -> stamp,
            "expiresAtMs" -> (System.currentTimeMillis() + ttlMs).toString),
            "graft writer lease (renewed)")
          // VERIFY-READ: if a takeover slid in around our overwrite the
          // file now carries the usurper's owner (or not our fresh
          // stamp) — flip usurped and never touch the file again. The
          // residual blind spot is a takeover create that our own
          // create overwrote in the same instant (reads back as ours):
          // narrowed from ~3/4 TTL of stall to the create call's own
          // duration; the manifest-recount discipline backstops it.
          val check = Manifest.readFile(fs, lp)
          if (!check.get("owner").contains(owner) ||
              !check.get("stamp").contains(stamp)) {
            usurped = true; return
          }
          // shutdown began while the write was in flight: release() may
          // already have run (and deleted nothing, or been skipped) —
          // our write just recreated a lease nobody holds. Delete our
          // own just-verified stamp; the lease is live, so no takeover
          // can race this delete.
          if (stopLatch.getCount == 0) {
            try { fs.delete(lp, false); () }
            catch { case scala.util.control.NonFatal(_) => () }
            return
          }
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    }
  }

  private def acquire(fs: org.apache.hadoop.fs.FileSystem,
      lp: org.apache.hadoop.fs.Path, owner: String, ttlMs: Long): Unit = {
    var attempts = 0
    while (attempts < 5) {
      attempts += 1
      try {
        // overwrite = false: the create fails if the lease exists
        Manifest.writeFile(fs, lp, Map("owner" -> owner,
          "expiresAtMs" -> (System.currentTimeMillis() + ttlMs).toString),
          "graft writer lease", overwrite = false)
        return
      } catch {
        case _: java.io.IOException =>
          // lease exists (or raced): read it; refuse if live, usurp ONLY
          // on a positively-expired one. A lease missing its owner or a
          // parseable expiry is a holder caught BETWEEN create and store
          // (or mid-renewal rewrite) — treating that window as "expired"
          // (the pre-r18 getOrElse(0L)) let a concurrent acquirer delete
          // and re-create it, yielding TWO live holders; it is HELD: back
          // off briefly and retry, then refuse.
          val held = try {
            val props = Manifest.readFile(fs, lp)
            Some((props.get("owner"),
              props.get("expiresAtMs")
                .flatMap(s => scala.util.Try(s.toLong).toOption)))
          } catch {
            // unreadable/vanished between create and open: retry the loop
            case scala.util.control.NonFatal(_) => None
          }
          held match {
            case Some((Some(holder), Some(expiresAt))) =>
              if (System.currentTimeMillis() <= expiresAt)
                throw new IllegalStateException(
                  s"maintenance lease for $lp is held by $holder until " +
                    s"${java.time.Instant.ofEpochMilli(expiresAt)} — one " +
                    "maintainer at a time; retry after it releases or expires")
              // expired: crashed maintainer — take the lease over
              fs.delete(lp, false)
            case Some(_) =>
              // incomplete properties: a holder mid-write — HELD, back off
              Thread.sleep(100)
            case None => () // unreadable/vanished: retry immediately
          }
      }
    }
    throw new IllegalStateException(
      s"could not acquire maintenance lease at $lp after $attempts attempts " +
        "— the lease exists but never became readable as owner+expiry; if " +
        "its holder is dead, rebuild the artifact (write() clears leases) " +
        "or delete the lease file")
  }

  private def release(fs: org.apache.hadoop.fs.FileSystem,
      lp: org.apache.hadoop.fs.Path, owner: String): Unit = {
    try {
      // only the owner deletes: a post-takeover release must not drop the
      // usurper's live lease
      if (Manifest.readFile(fs, lp).get("owner").contains(owner))
        fs.delete(lp, false)
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** The staged-swap COMMIT tail of every durable-artifact op: the
    * caller has already staged the COMPLETE next copy at `path-next`
    * (a whole artifact with its manifest LAST — [[Manifest.commitStaged]]
    * — or one table, recounted — [[Manifest.compact]]); this swaps it live
    * by two renames and drops the pre-swap copy. One definition so the
    * crash-window contract ([[adoptOrphanNext]] recovers between the
    * renames of a whole artifact) can never drift between families. */
  private[operators] def swapStaged(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Unit = {
    val livePath = new org.apache.hadoop.fs.Path(path)
    val oldPath = new org.apache.hadoop.fs.Path(s"$path-old")
    fs.delete(oldPath, true)
    require(fs.rename(livePath, oldPath), s"could not move $livePath aside")
    require(fs.rename(new org.apache.hadoop.fs.Path(s"$path-next"), livePath),
      s"could not rename $path-next into place")
    fs.delete(oldPath, true)
  }

  /** Crash recovery for the whole-directory staged-swap commit (the
    * [[MarkovModel]]/[[BigramLm]] shape: stage `path-next` with its
    * manifest LAST, rename live aside to `path-old`, rename next into
    * place, drop old): a crash BETWEEN the two renames leaves no
    * artifact at `path` while a complete next sits beside it. For the
    * count models the documented fallback is a rebuild — for an LM that
    * is a corpus-sized retrain, so reopen paths call this first: when
    * the live manifest is absent and `path-next` carries one (manifest
    * presence proves the staged copy complete), the next is ADOPTED —
    * renamed into place under the writer lease, exactly the rename the
    * crashed maintainer would have executed. Returns whether an
    * adoption happened. Refuses (false) when anything lives at `path`
    * (a manifest-less live dir is torn debris from a crashed `write` —
    * renaming next onto it would nest directories; rebuild stays the
    * recovery there) or when the lease is held (a live maintainer is
    * mid-swap and will finish its own rename). */
  def adoptOrphanNext(spark: SparkSession, path: String,
      manifestName: String = Manifest.FileName): Boolean = {
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    val next = new org.apache.hadoop.fs.Path(s"$path-next")
    val nextManifest = new org.apache.hadoop.fs.Path(next, manifestName)
    // cheap pre-check outside the lease: the common reopen paths (live
    // artifact healthy, or nothing anywhere) pay exists() calls only
    if (fs.exists(live) || !fs.exists(nextManifest)) return false
    try {
      withLease(spark, path) {
        // re-check under the lease: a maintainer may have finished its
        // swap (live now present) or a retry deleted the orphan
        if (fs.exists(live) || !fs.exists(nextManifest)) false
        else {
          require(fs.rename(next, live),
            s"could not adopt staged artifact $next into place at $path")
          // the pre-swap copy the crashed maintainer was about to drop
          fs.delete(new org.apache.hadoop.fs.Path(s"$path-old"), true)
          true
        }
      }
    } catch {
      // lease held (live maintainer mid-swap) or adoption raced: the
      // caller's reopen simply misses and takes its normal rebuild path
      case scala.util.control.NonFatal(_) => false
    }
  }

  /** Drop any lease at `path` — the rebuild entry point ([[IvfIndex#write]]
    * and twins) clears leases left by crashed maintainers: a full
    * overwrite IS the documented recovery, and it must not wait out a
    * dead writer's TTL. */
  def clear(spark: SparkSession, path: String): Unit = {
    val lp = leasePath(path)
    val fs = lp.getFileSystem(spark.sessionState.newHadoopConf())
    try { fs.delete(lp, false); () }
    catch { case scala.util.control.NonFatal(_) => () }
  }
}
