package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Spans of one query share
  * `query`; `parent` is the id of the span that caused this one (0 for
  * a query's root span). Times are epoch nanoseconds.
  */
final case class Span(id: Long, query: Long, parent: Long, name: String,
    label: String, startNs: Long, endNs: Long)

/** In-memory span store: spans are recorded around the benchmark's own
  * calls into each layer and written once, when the run ends.
  */
final class Spans {
  private val buf = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  def nowNs: Long = System.nanoTime() + epochOffsetNs

  /** Runs `f` inside a span and returns its result with the span's id. */
  def record[T](query: Long, parent: Long, name: String, label: String)(
      f: Long => T): T = {
    val id = ids.incrementAndGet()
    val start = nowNs
    try f(id)
    finally synchronized { buf += Span(id, query, parent, name, label, start, nowNs) }
  }

  /** Adds a span whose interval was measured elsewhere (plan phases). */
  def add(query: Long, parent: Long, name: String, label: String,
      startNs: Long, endNs: Long): Unit = synchronized {
    buf += Span(ids.incrementAndGet(), query, parent, name, label, startNs, endNs)
  }

  def newQueryId(): Long = ids.incrementAndGet()

  def all: Seq[Span] = synchronized(buf.toList)
}

/** Job/stage/task counters seen through a listener the benchmark
  * registers for the traced section only. Jobs are attributed to the
  * benchmark's job groups (`<query>/build` or `<query>/exec`).
  */
final class ExecListener extends SparkListener {
  val jobs = new LongAdder
  val buildJobs = new LongAdder
  val stages = new LongAdder
  val tasks = new LongAdder
  val taskFailures = new LongAdder
  val taskRunNs = new LongAdder
  val taskCpuNs = new LongAdder
  val taskWaitNs = new LongAdder
  val gcNs = new LongAdder
  val shuffleWriteBytes = new LongAdder
  val shuffleReadBytes = new LongAdder
  val spillBytes = new LongAdder
  val stageMaxTaskNs = new LongAdder
  val singleTaskStageNs = new LongAdder
  private val stageSubmitMs = new ConcurrentHashMap[(Int, Int), java.lang.Long]
  private val stageMaxMs = new ConcurrentHashMap[(Int, Int), java.lang.Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment()
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    if (group.exists(_.endsWith("/build"))) buildJobs.increment()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    info.submissionTime.foreach(t =>
      stageSubmitMs.put((info.stageId, info.attemptNumber()), t))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    if (e.reason != Success) taskFailures.increment()
    val key = (e.stageId, e.stageAttemptId)
    val info = e.taskInfo
    if (info != null) {
      Option(stageSubmitMs.get(key)).foreach(s =>
        taskWaitNs.add(math.max(0L, info.launchTime - s) * 1000000L))
      stageMaxMs.merge(key, info.duration, (a, b) => math.max(a, b))
    }
    val m = e.taskMetrics
    if (m != null) {
      taskRunNs.add(m.executorRunTime * 1000000L)
      taskCpuNs.add(m.executorCpuTime)
      gcNs.add(m.jvmGCTime * 1000000L)
      shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
      spillBytes.add(m.diskBytesSpilled)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.increment()
    val info = e.stageInfo
    val key = (info.stageId, info.attemptNumber())
    Option(stageMaxMs.remove(key)).foreach(ms => stageMaxTaskNs.add(ms * 1000000L))
    stageSubmitMs.remove(key)
    if (info.numTasks == 1)
      for (s <- info.submissionTime; c <- info.completionTime)
        singleTaskStageNs.add((c - s) * 1000000L)
  }
}

/** Catalyst phase times (analysis, optimization, physical planning) of
  * every query execution that completes while registered, read from
  * `QueryExecution.tracker`. Events arrive on the listener bus after the
  * fact, so phases are kept with their wall-clock interval and later
  * attached as `plan` spans to the benchmark span that contains them.
  */
final class PlanListener extends QueryExecutionListener {
  /** (phase, startMs, endMs) */
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]

  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      phases.add((phase, s.startTimeMs, s.endTimeMs))
    }

  def totalNs(phase: String): Long = {
    var ns = 0L
    phases.forEach { case (p, s, e) => if (p == phase) ns += (e - s) * 1000000L }
    ns
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}
