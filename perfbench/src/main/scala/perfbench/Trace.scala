package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicLongArray}

import scala.jdk.CollectionConverters._

import graft.streaming.{DispatchRequest, DispatchResult, Dispatcher, DispatcherFactory}
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Wall clock in epoch microseconds, derived from `nanoTime` so spans
  * recorded from different threads share one monotonic base. */
object Clock {
  private val baseNanos = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = usOf(System.nanoTime())
  def usOf(nanos: Long): Long = baseEpochUs + (nanos - baseNanos) / 1000L
}

/** One traced interval. `parent` names the span that caused it; spans of
  * one forwarded message share `trace` (its sequence number). */
final case class Span(
    id: String, name: String, startUs: Long, endUs: Long,
    parent: String = "", trace: String = "")

/**
 * JVM-global recorders. Everything the engine serializes into tasks (the
 * dispatcher factory, the queue store) reaches these through the object,
 * never through a captured field: a closure-captured counter is copied into
 * each task and the driver's copy reads zero.
 *
 * `on` gates recording; the traced run flips it for its second window only,
 * so the first window measures the same process with tracing idle.
 */
object Trace {
  @volatile var on: Boolean = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)

  def nextId(prefix: String): String = s"$prefix:${ids.incrementAndGet()}"

  def add(s: Span): Unit = if (on) record(s)

  /** Keep a span regardless of `on`: for spans built after the traced
    * window from what the listeners collected during it. */
  def record(s: Span): Unit = { spans.add(s); () }

  /** Time `f` as a span when tracing is on; plain call otherwise. */
  def span[T](name: String, parent: String = "", trace: String = "")(f: => T): T =
    if (!on) f
    else {
      val t0 = Clock.nowUs
      try f finally spans.add(Span(nextId(name), name, t0, Clock.nowUs, parent, trace))
    }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.foreach { s =>
      w.write(compact(render(("id" -> s.id) ~ ("name" -> s.name) ~ ("start_us" -> s.startUs) ~
        ("end_us" -> s.endUs) ~ ("parent" -> s.parent) ~ ("trace" -> s.trace))))
      w.newLine()
    } finally w.close()
  }
}

/** Every dispatch round trip, timed by [[TracedDispatcherFactory]]. */
object DispatchLog {
  private val Cap = 1 << 20
  private val rtts = new AtomicLongArray(Cap)
  private val n = new AtomicInteger(0)
  /** One span per this many sequence numbers. */
  val SampleEvery = 64L

  def record(rttNanos: Long): Unit = {
    val i = n.getAndIncrement()
    if (i < Cap) rtts.set(i, rttNanos)
  }

  def rttsUs: Array[Double] =
    Array.tabulate(math.min(n.get(), Cap))(i => rtts.get(i) / 1000.0)
}

/** Wraps the engine's dispatcher: times every call into the RPC boundary
  * and keeps a sampled span per message, parented to the Spark task that
  * created the dispatcher (dispatch runs on the engine's pool threads,
  * where no TaskContext is set). */
final case class TracedDispatcherFactory(inner: DispatcherFactory) extends DispatcherFactory {
  def create(): Dispatcher = wrap(inner.create())
  override def create(security: graft.model.SecuritySpec): Dispatcher = wrap(inner.create(security))

  private def wrap(d: Dispatcher): Dispatcher = {
    val task = Option(TaskContext.get()).map(t => s"task:${t.taskAttemptId()}").getOrElse("")
    new Dispatcher {
      def dispatch(req: DispatchRequest): DispatchResult = {
        if (!Trace.on) return d.dispatch(req)
        val t0 = System.nanoTime()
        val r = d.dispatch(req)
        val t1 = System.nanoTime()
        DispatchLog.record(t1 - t0)
        val seq = Payload.seqOf(req.payload)
        if (seq % DispatchLog.SampleEvery == 0)
          Trace.add(Span(Trace.nextId("dispatch"), "streaming.dispatch",
            Clock.usOf(t0), Clock.usOf(t1), task, seq.toString))
        r
      }
      override def close(): Unit = d.close()
    }
  }
}

/** Spark jobs, stages and tasks as seen by the scheduler. A job's parent is
  * the span named by the `perfbench.parent` local property (set around each
  * curation query) or, for streaming, its micro-batch. */
object SparkTrace extends SparkListener {
  final case class Job(id: Int, parent: String, startMs: Long, var endMs: Long)
  final case class Stage(id: Int, job: Int, submitMs: Long, endMs: Long, tasks: Int,
      shuffleWriteBytes: Long, inputBytes: Long)
  final case class Task(id: Long, stage: Int, launchMs: Long, finishMs: Long, runMs: Long)

  val ParentKey = "perfbench.parent"
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  private val events = new AtomicLong(0L)

  def eventCount: Long = events.get()
  def openJobs: Int = jobs.values.asScala.count(_.endMs < 0)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (Trace.on) {
    val props = Option(e.properties)
    val parent = props.flatMap(p => Option(p.getProperty(ParentKey)))
      .orElse(props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(b => s"batch:$b"))
      .getOrElse("")
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    jobs.put(e.jobId, Job(e.jobId, parent, e.time, -1L))
    events.incrementAndGet(); ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    events.incrementAndGet(); ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    Option(stageJob.get(i.stageId)).foreach { job =>
      val m = i.taskMetrics
      stages.add(Stage(i.stageId, job, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), i.numTasks,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.inputMetrics.bytesRead))
    }
    events.incrementAndGet(); ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (stageJob.containsKey(e.stageId)) {
      val i = e.taskInfo
      val run = Option(e.taskMetrics).map(_.executorRunTime).getOrElse(i.duration)
      tasks.add(Task(i.taskId, e.stageId, i.launchTime, i.finishTime, run))
    }
    events.incrementAndGet(); ()
  }

  /** Wait for the listener bus to deliver the events of finished work. */
  def settle(maxMs: Long = 5000L): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    while (System.currentTimeMillis() < deadline && (openJobs > 0 || eventCount != last)) {
      last = eventCount
      Thread.sleep(100)
    }
  }

  /** Emit job, stage and task spans under their parents. */
  def toSpans(): Unit = {
    val us = (ms: Long) => ms * 1000L
    jobs.values.asScala.foreach { j =>
      Trace.record(Span(s"job:${j.id}", "spark.job", us(j.startMs), us(math.max(j.endMs, j.startMs)), j.parent))
    }
    stages.asScala.foreach { s =>
      Trace.record(Span(s"stage:${s.id}", "spark.stage", us(s.submitMs), us(s.endMs), s"job:${s.job}"))
    }
    tasks.asScala.foreach { t =>
      Trace.record(Span(s"task:${t.id}", "spark.task", us(t.launchMs), us(t.finishMs), s"stage:${t.stage}"))
    }
  }
}

/** Micro-batches as the streaming engine reports them. */
object BatchTrace extends StreamingQueryListener {
  final case class Batch(id: Long, startMs: Long, rows: Long, durations: Map[String, Long])

  val batches = new ConcurrentLinkedQueue[Batch]()
  /** Records planned into batches so far (main topic), for read-lag samples. */
  @volatile var plannedMain: Long = 0L
  @volatile var mainTopic: String = ""

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ends = p.sources.toSeq.flatMap(s => Option(s.endOffset))
      .map(graft.sources.GraftQueue.offsetsFromJson)
      .foldLeft(Map.empty[String, Map[Int, Long]])(_ ++ _)
    ends.get(mainTopic).foreach(pm => plannedMain = pm.values.sum)
    if (!Trace.on || p.numInputRows == 0) return
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    batches.add(Batch(p.batchId, start, p.numInputRows, d))
    // the engine reports phase durations, not phase start times: lay the
    // phases out in MicroBatchExecution's order under the batch span
    val id = s"batch:${p.batchId}"
    Trace.add(Span(id, "streaming.batch", start * 1000L,
      (start + d.getOrElse("triggerExecution", 0L)) * 1000L))
    var t = start
    Seq("latestOffset" -> "sources.latestOffset", "walCommit" -> "streaming.walCommit",
      "getBatch" -> "sources.getBatch", "queryPlanning" -> "streaming.queryPlanning",
      "addBatch" -> "streaming.addBatch", "commitOffsets" -> "streaming.commitOffsets")
      .foreach { case (k, name) =>
        d.get(k).foreach { ms =>
          Trace.add(Span(s"$id:$k", name, t * 1000L, (t + ms) * 1000L, id))
          t += ms
        }
      }
  }
}
