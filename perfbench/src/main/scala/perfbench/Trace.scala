package perfbench

import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one run: spans around the benchmark's calls into
  * each layer, per-op counters, and the Spark jobs, stages and query
  * executions observed while tracing is on. Written once, at exit.
  *
  * Attribution relies on the closed loop: one op runs at a time, and the
  * listener bus is drained after every traced op, so every event delivered
  * while `op` holds an id belongs to that op. */
final class Tracer {
  import Tracer._

  @volatile var on: Boolean = false
  @volatile var op: Int = -1

  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L

  /** Wall clock in epoch nanoseconds, monotonic within the run. */
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)

  private val spans = ArrayBuffer.empty[Span]
  private val counters = ArrayBuffer.empty[(Int, String, Double)]
  private val stack = scala.collection.mutable.Stack.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val start = now()
      try body
      finally {
        stack.pop()
        spans += Span(id, parent, op, name, start, now())
      }
    }

  def count(name: String, v: Double): Unit = if (on) counters += ((op, name, v))

  /** Run `body` while a second thread samples the calling thread's stack
    * every [[SampleEveryMs]] ms. Records the op's sample count and how many
    * of those samples have their innermost `graft.` frame in `selfPackage`:
    * that share of the op's wall clock is the package's own time, measured
    * within the one execution. (The JVM takes another thread's stack at a
    * safepoint poll, so each sample lands on the nearest one.) */
  def sampled[T](selfPackage: String)(body: => T): T =
    if (!on) body
    else {
      val target = Thread.currentThread()
      val done = new AtomicBoolean(false)
      var all, self = 0
      val sampler = new Thread(() => {
        try while (!done.get) {
          val frames = target.getStackTrace
          if (!done.get) {
            all += 1
            if (frames.find(_.getClassName.startsWith("graft."))
                .exists(_.getClassName.startsWith(selfPackage))) self += 1
          }
          Thread.sleep(SampleEveryMs)
        } catch { case _: InterruptedException => () }
      }, "perfbench-sampler")
      sampler.setDaemon(true)
      sampler.start()
      try body
      finally {
        done.set(true)
        sampler.interrupt()
        sampler.join()
        count("sample.all", all)
        count("sample.self", self)
      }
    }

  // ------------------------------------------------------ Spark listeners

  private val jobs = ArrayBuffer.empty[Job]
  private val stages = ArrayBuffer.empty[Stage]
  private val qes = ArrayBuffer.empty[Qe]
  private val taskMs = scala.collection.mutable.HashMap.empty[Int, ArrayBuffer[Long]]

  private def phaseMs(qe: QueryExecution, name: String): Long =
    qe.tracker.phases.get(name).map(_.durationMs).getOrElse(0L)

  /** Record the Catalyst phases of a DataFrame built during an op (its own
    * query execution never reaches the listener: the sink runs a new one). */
  def recordPlan(func: String, qe: => QueryExecution): Unit = synchronized {
    if (on) qes += Qe(op, func, phaseMs(qe, "analysis"), phaseMs(qe, "optimization"),
      phaseMs(qe, "planning"))
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs += Job(e.jobId, op, e.time * 1000000L, -1L, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time * 1000000L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      if (e.taskInfo != null)
        taskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val info = e.stageInfo
      val m = info.taskMetrics
      val durations = taskMs.remove(info.stageId).map(_.sorted).getOrElse(ArrayBuffer.empty[Long])
      val skew =
        if (durations.size < 2) 1.0
        else durations.last.toDouble / math.max(1L, durations(durations.size / 2))
      val owner = jobs.reverseIterator.find(_.stages.contains(info.stageId)).map(_.op).getOrElse(op)
      stages += (if (m == null) Stage(info.stageId, owner, info.numTasks, 0, 0, 0, 0, skew)
        else Stage(info.stageId, owner, info.numTasks, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, skew))
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      recordPlan(func, qe)
    override def onFailure(func: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def toJson: String = synchronized {
    implicit val formats: Formats = DefaultFormats
    Serialization.write(Map(
      "spans" -> spans.map(s => List(s.id, s.parent, s.op, s.name, s.start, s.end)),
      "counters" -> counters.map { case (o, n, v) => List(o, n, v) },
      "jobs" -> jobs.filter(_.end >= 0).map(j => List(j.id, j.op, j.start, j.end)),
      "stages" -> stages.map(s => List(s.id, s.op, s.tasks, s.input, s.shuffleRead,
        s.shuffleWrite, s.spill, s.skew)),
      "qes" -> qes.map(q => List(q.op, q.func, q.analysis, q.optimization, q.planning))))
  }
}

object Tracer {
  val SampleEveryMs = 25L
  private final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, end: Long)
  private final case class Job(id: Int, op: Int, start: Long, var end: Long, stages: Seq[Int])
  private final case class Stage(id: Int, op: Int, tasks: Int, input: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, skew: Double)
  private final case class Qe(op: Int, func: String, analysis: Long, optimization: Long,
      planning: Long)
}
