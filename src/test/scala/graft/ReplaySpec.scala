package graft

import java.util.concurrent.{CountDownLatch, TimeoutException}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{PipelineQueries, QueryArtifacts}
import graft.queries.QueryArtifacts.SessionDir
import graft.streaming.StreamingOps

/** Read by the planted-failure UDF on the executor side; an object, so
  * the local-mode tasks see the flag itself, not a serialized copy. */
object ReplaySpecFlags {
  @volatile var fail = true
}

/** The streaming replays' contracts: each replay is a session artifact its
  * rows fill on first call — at most once per (session, dir), even under
  * concurrent first callers; a failed replay is not cached and re-runs
  * from freshly deleted staging dirs; a wedged stream is stopped and
  * fails by name within [[StreamingOps.replayBound]]; and
  * [[QueryArtifacts.clearAll]] makes the next call rebuild. */
class ReplaySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Streaming queries started while `body` runs whose name begins with
    * `prefix` (QueryStartedEvent reaches listeners synchronously, before
    * `start()` returns). */
  private def startsDuring(prefix: String)(body: => Unit): Int = {
    val n = new AtomicInteger(0)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (Option(e.name).exists(_.startsWith(prefix))) n.incrementAndGet()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try body finally spark.streams.removeListener(listener)
    n.get()
  }

  private def kmvRow(): Seq[org.apache.spark.sql.Row] =
    PipelineQueries.queries("streaming_kmv_replay")(spark, TestSpark.sfDir)
      .collect().toSeq

  test("two concurrent first callers of a replay row run the replay once") {
    QueryArtifacts.clearAll()
    val go = new CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Seq[org.apache.spark.sql.Row]]()
    val starts = startsDuring("kmv_overlap_") {
      val callers = (1 to 2).map { _ =>
        val t = new Thread(() => { go.await(); results.add(kmvRow()); () })
        t.start()
        t
      }
      go.countDown()
      callers.foreach(_.join(5.minutes.toMillis))
    }
    assert(results.size == 2, "a caller did not finish")
    assert(starts == 1, s"the replay ran $starts times for one (session, dir)")
    val Seq(a, b) = results.asScala.toSeq
    assert(a == b)
  }

  test("after clearAll the next call of a replay row rebuilds it") {
    QueryArtifacts.clearAll()
    val starts = startsDuring("kmv_overlap_") {
      val first = kmvRow()
      assert(kmvRow() == first) // a cached replay: no second run
      QueryArtifacts.clearAll()
      assert(kmvRow() == first)
    }
    assert(starts == 2, s"expected one run before and one after clearAll, got $starts")
  }

  test("a failing replay fails its caller with the cause and re-runs cleanly") {
    import spark.implicits._
    val dir = "/spec/replay-failing"
    val cache = QueryArtifacts.cache[SessionDir, String]()
    val planted = udf((id: Long) => {
      if (ReplaySpecFlags.fail && id >= 50)
        throw new IllegalStateException("planted replay failure")
      id
    })
    // three deliveries: the first commits to the sink, the second fails
    val deliveries = Seq(0L until 50L, 50L until 100L, 100L until 150L)
      .map(r => r.toDF("doc_id"))
    def call(): String = cache((spark, dir)) {
      StreamingOps.replay(spark, "spec-failing", dir, deliveries)(
        _.select(planted(col("doc_id")).as("doc_id")))(
        StreamingOps.appendParquet).out
    }
    ReplaySpecFlags.fail = true
    try {
      val e = intercept[Exception](call())
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(c => Option(c.getMessage)
        .exists(_.contains("planted replay failure"))), e)
      assert(cache.get((spark, dir)).isEmpty, "a failed replay must not be cached")
      ReplaySpecFlags.fail = false
      val sink = call()
      val ids = spark.read.parquet(sink).as[Long].collect().sorted.toSeq
      assert(ids == (0L until 150L), "the re-run must start from clean dirs")
      assert(cache.get((spark, dir)).contains(sink))
    } finally {
      ReplaySpecFlags.fail = true
      QueryArtifacts.clearAll()
    }
  }

  test("a stream that never terminates is stopped and fails by name") {
    import spark.implicits._
    val dir = "/spec/replay-wedged"
    val saved = StreamingOps.replayBound
    StreamingOps.replayBound = 2.seconds
    try {
      val t0 = System.nanoTime()
      val e = intercept[TimeoutException] {
        StreamingOps.replay(spark, "spec-wedged", dir, Seq(Seq(1L).toDF("id")))(
          identity) { (w, _) =>
          w.foreachBatch { (_: DataFrame, _: Long) => Thread.sleep(600000); () }
        }
      }
      val waited = (System.nanoTime() - t0) / 1e9
      assert(e.getMessage.contains("'spec-wedged'") && e.getMessage.contains(dir),
        e.getMessage)
      assert(waited < 60, s"the wedged replay held its caller ${waited}s")
      assert(spark.streams.active.isEmpty, "the wedged stream was not stopped")
    } finally StreamingOps.replayBound = saved
  }
}
