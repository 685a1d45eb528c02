package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A span: one timed call into a layer, or one Spark job/stage/batch
  * reported by a listener. Times are nanoseconds on the driver's
  * `System.nanoTime` clock; listener times (epoch ms) are mapped onto
  * it with [[Clock.fromEpochMs]]. `parent` is a span id (-1 = none);
  * listener spans get their parent from time containment when the
  * trace is written out. */
final case class Span(id: Int, name: String, start: Long, end: Long,
                      parent: Int, op: Int)

object Clock {
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def fromEpochMs(ms: Long): Long = ms * 1000000L + offsetNs
}

/** Counters Spark reports through its listeners, summed since the
  * probe was registered. An op's share is the difference of two
  * snapshots taken after the listener bus has drained. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskRunMs: Long = 0, taskCpuNs: Long = 0, gcMs: Long = 0,
    shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0,
    inputRows: Long = 0, inputBytes: Long = 0,
    outputRows: Long = 0, outputBytes: Long = 0,
    batches: Long = 0, triggerMs: Long = 0, addBatchMs: Long = 0,
    queryPlanningMs: Long = 0, walCommitMs: Long = 0) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskRunMs - o.taskRunMs, taskCpuNs - o.taskCpuNs, gcMs - o.gcMs,
    shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite, spill - o.spill,
    inputRows - o.inputRows, inputBytes - o.inputBytes,
    outputRows - o.outputRows, outputBytes - o.outputBytes,
    batches - o.batches, triggerMs - o.triggerMs, addBatchMs - o.addBatchMs,
    queryPlanningMs - o.queryPlanningMs, walCommitMs - o.walCommitMs)
  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_ms" -> taskRunMs, "task_cpu_ms" -> taskCpuNs / 1e6, "gc_ms" -> gcMs,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill, "input_rows" -> inputRows, "input_bytes" -> inputBytes,
    "output_rows" -> outputRows, "output_bytes" -> outputBytes,
    "batches" -> batches, "trigger_ms" -> triggerMs, "add_batch_ms" -> addBatchMs,
    "query_planning_ms" -> queryPlanningMs, "wal_commit_ms" -> walCommitMs)
}

/** Span store and Spark listener in one. Registered on the SparkContext
  * (jobs, stages, tasks) and, through the static
  * `spark.sql.streaming.streamingQueryListeners` conf, on every
  * session's streaming manager (the library runs its streams in
  * sessions of its own). Everything stays in memory until the run
  * ends. */
object Probe {
  @volatile var tracing = false
  private var c = Counters()
  private val spans = ArrayBuffer[Span]()
  private val nextId = new AtomicLong(0)
  private var open = List.empty[Int]            // driver-thread span stack
  private val jobStart = scala.collection.mutable.Map[Int, Long]()
  /** (start, end) ns of every finished job, for driver-gap accounting. */
  private val jobIntervals = ArrayBuffer[(Long, Long)]()

  def counters: Counters = synchronized(c)
  private def add(f: Counters => Counters): Unit = synchronized { c = f(c) }

  def jobsBetween(t0: Long, t1: Long): Seq[(Long, Long)] = synchronized {
    jobIntervals.filter { case (s, e) => e > t0 && s < t1 }.toSeq
  }

  private def record(name: String, start: Long, end: Long, parent: Int, op: Int): Unit = {
    val id = nextId.incrementAndGet().toInt
    synchronized(spans += Span(id, name, start, end, parent, op))
  }

  /** Times `body` as a span named `name`, nested under the open span. */
  def span[T](name: String, op: Int)(body: => T): T = {
    if (!tracing) body
    else {
      val id = nextId.incrementAndGet().toInt
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        synchronized(spans += Span(id, name, t0, t1, parent, op))
      }
    }
  }

  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add(x => x.copy(jobs = x.jobs + 1))
      synchronized(jobStart(e.jobId) = Clock.fromEpochMs(e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val end = Clock.fromEpochMs(e.time)
      val start = synchronized(jobStart.remove(e.jobId)).getOrElse(end)
      synchronized(jobIntervals += ((start, end)))
      if (tracing) record("exec.job", start, end, -1, -1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      add(x => x.copy(stages = x.stages + 1))
      val i = e.stageInfo
      if (tracing) for (s <- i.submissionTime; t <- i.completionTime)
        record("exec.stage", Clock.fromEpochMs(s), Clock.fromEpochMs(t), -1, -1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) add(x => x.copy(
        tasks = x.tasks + 1,
        taskRunMs = x.taskRunMs + m.executorRunTime,
        taskCpuNs = x.taskCpuNs + m.executorCpuTime,
        gcMs = x.gcMs + m.jvmGCTime,
        shuffleRead = x.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = x.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        spill = x.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
        inputRows = x.inputRows + m.inputMetrics.recordsRead,
        inputBytes = x.inputBytes + m.inputMetrics.bytesRead,
        outputRows = x.outputRows + m.outputMetrics.recordsWritten,
        outputBytes = x.outputBytes + m.outputMetrics.bytesWritten))
      else add(x => x.copy(tasks = x.tasks + 1))
    }
  }

  def onProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    add(x => x.copy(batches = x.batches + 1,
      triggerMs = x.triggerMs + d("triggerExecution"),
      addBatchMs = x.addBatchMs + d("addBatch"),
      queryPlanningMs = x.queryPlanningMs + d("queryPlanning"),
      walCommitMs = x.walCommitMs + d("walCommit")))
    if (tracing) {
      val start = Clock.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      record("streaming.batch", start, start + d("triggerExecution") * 1000000L, -1, -1)
    }
  }
}

/** Instantiated by Spark once per session from the static
  * `spark.sql.streaming.streamingQueryListeners` conf. */
class StreamProbe extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Probe.onProgress(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
