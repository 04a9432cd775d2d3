package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, trace: String, name: String,
    layer: String, startMs: Double, endMs: Double, attrs: Map[String, Any]) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "trace" -> trace, "name" -> name, "layer" -> layer,
    "start_ms" -> startMs, "end_ms" -> endMs, "attrs" -> attrs)
}

/** In-memory span recorder. Disabled, `span` only runs its body, so the
  * untraced runs that give the end-to-end numbers pay nothing for it.
  * Spans are written out once, when the run ends.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  /** Trace id of the current workload pass; spans of one pass share it. */
  @volatile var trace: String = ""

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Wall-clock epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def nextId(): Long = ids.incrementAndGet()

  /** Innermost open span on this thread, or 0. */
  def current: Long = stack.get().headOption.getOrElse(0L)

  /** Innermost open span of the harness's main thread: the parent given to
    * spans made from listener events, which arrive on Spark's bus thread.
    */
  @volatile var ambient: Long = 0L
  private val mainThread = Thread.currentThread()

  def span[T](name: String, layer: String, attrs: Map[String, Any] = Map.empty)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId()
      val parent = current
      val tr = trace
      val t0 = nowMs()
      val onMain = Thread.currentThread() eq mainThread
      stack.set(id :: stack.get())
      if (onMain) ambient = id
      try f
      finally {
        stack.set(stack.get().tail)
        if (onMain) ambient = parent
        spans.add(Span(id, parent, tr, name, layer, t0, nowMs(), attrs))
      }
    }

  def record(s: Span): Unit = if (enabled) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq

  def writeTo(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startMs).map(s => Json.write(s.toMap))
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark job and stage spans from the public SparkListener events. A job's
  * parent is the span open on the thread that was current when the job
  * started (the tracer's `ambient`); streaming jobs carry their query
  * and batch id, so the metrics step can re-attach them to the micro-batch
  * that ran them.
  */
final class JobSpans(tracer: Tracer) extends SparkListener {
  private final case class Open(id: Long, parent: Long, trace: String,
      startMs: Double, attrs: Map[String, Any])
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Open]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String): String = props.map(_.getProperty(k)).orNull
    val attrs = Map[String, Any]("job" -> e.jobId, "stages" -> e.stageIds.size,
      "query_id" -> prop("sql.streaming.queryId"),
      "batch_id" -> prop("streaming.sql.batchId"))
    jobs.put(e.jobId, Open(tracer.nextId(), tracer.ambient, tracer.trace, e.time.toDouble, attrs))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { o =>
      tracer.record(Span(o.id, o.parent, o.trace, "job", "spark", o.startMs,
        math.max(o.startMs, e.time.toDouble), o.attrs))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val job = if (stageJob.containsKey(info.stageId)) Option(jobs.get(stageJob.get(info.stageId)))
      else None
    val m = info.taskMetrics
    val (start, end) = (info.submissionTime, info.completionTime) match {
      case (Some(s), Some(c)) => (s.toDouble, c.toDouble)
      case _ => (tracer.nowMs(), tracer.nowMs())
    }
    val attrs: Map[String, Any] =
      if (m == null) Map("tasks" -> info.numTasks)
      else Map("tasks" -> info.numTasks,
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "input_records" -> m.inputMetrics.recordsRead)
    tracer.record(Span(tracer.nextId(), job.map(_.id).getOrElse(tracer.ambient),
      job.map(_.trace).getOrElse(tracer.trace), "stage", "spark", start,
      math.max(start, end), attrs))
  }
}

/** Input records read by every completed stage: the batch workload's
  * throughput count. Cheap enough to stay on in untraced runs.
  */
final class InputRecords extends SparkListener {
  val records = new AtomicLong(0L)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(e.stageInfo.taskMetrics).foreach(m => records.addAndGet(m.inputMetrics.recordsRead))
}

/** Every micro-batch progress event, kept for the metrics step; with
  * tracing on, each becomes a trigger span with one child per phase of
  * `durationMs`, laid end to end in the order Spark runs them.
  */
final class Progress(tracer: Tracer) extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val phaseOrder = Seq("latestOffset", "getOffset", "setOffsetRange",
    "getEndOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val state = p.stateOperators.toSeq
    val ev = Map[String, Any](
      "query" -> Option(p.name).getOrElse(""),
      "query_id" -> p.id.toString, "batch_id" -> p.batchId,
      "rows" -> p.numInputRows, "timestamp" -> p.timestamp, "duration_ms" -> dur,
      "state_commit_ms" -> state.map(_.commitTimeMs).sum,
      "state_rows" -> state.map(_.numRowsTotal).sum,
      "state_memory_bytes" -> state.map(_.memoryUsedBytes).sum)
    events.add(ev)
    if (tracer.enabled) {
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val total = dur.getOrElse("triggerExecution", 0L).toDouble
      val trigger = tracer.nextId()
      tracer.record(Span(trigger, tracer.ambient, tracer.trace, "trigger", "streaming",
        start, start + total, Map("query" -> ev("query"), "query_id" -> p.id.toString,
          "batch_id" -> p.batchId, "rows" -> p.numInputRows)))
      var t = start
      phaseOrder.filter(dur.contains).foreach { ph =>
        val d = dur(ph).toDouble
        tracer.record(Span(tracer.nextId(), trigger, tracer.trace, ph,
          if (ph == "addBatch") "streaming.exec" else "streaming", t, t + d,
          Map("query_id" -> p.id.toString, "batch_id" -> p.batchId)))
        t += d
      }
    }
  }

  def all: Seq[Map[String, Any]] = events.asScala.toSeq
  def clear(): Unit = events.clear()
}
