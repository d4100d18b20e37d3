package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch milliseconds (fractional for
  * spans the harness times itself; whole for Spark listener events).
  * `parent` is a span id, or 0 for the run root; `link` carries the
  * key a Spark job is parented by when its parent span is only known
  * later (streaming query id + batch id). */
final case class Span(id: Long, parent: Long, name: String, start: Double,
    end: Double, attrs: Map[String, Any] = Map.empty, link: String = "")

/** Span recorder. When disabled (untraced runs) every call is a no-op
  * apart from running the body, and no Spark listener is registered.
  * Spans stay in memory and are written once, by [[Trace.write]]. */
final class Trace(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  private val origin = (System.currentTimeMillis().toDouble, System.nanoTime())

  def nowMs: Double = origin._1 + (System.nanoTime() - origin._2) / 1e6
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = if (enabled) spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq

  /** Time `body` as span `name` under the calling thread's current span.
    * Jobs the body submits carry the span id as a local property, so the
    * listener parents them here. */
  def span[T](name: String, attrs: Map[String, Any] = Map.empty,
      spark: Option[SparkSession] = None, link: String = "")(body: => T): T = {
    if (!enabled) return body
    val id = nextId()
    val parent = current.get()
    val start = nowMs
    current.set(id)
    spark.foreach(_.sparkContext.setLocalProperty(Trace.SpanProp, id.toString))
    try body
    finally {
      current.set(parent)
      spark.foreach(_.sparkContext.setLocalProperty(Trace.SpanProp,
        if (parent == 0L) null else parent.toString))
      spans.add(Span(id, parent, name, start, nowMs, attrs, link))
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.start).foreach { s =>
      w.write(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "attrs" -> s.attrs)))
      w.newLine()
    } finally w.close()
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  /** Self time per layer: each span's duration minus the part of its
    * interval that its children cover, summed by the span name's first
    * dotted component over the spans `counted` accepts. */
  def selfSeconds(spans: Seq[Span], counted: Span => Boolean): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.filter(counted).groupMapReduce(_.name.takeWhile(_ != '.')) { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered = 0.0
      var (lo, hi) = (Double.NaN, Double.NaN)
      ivs.foreach { case (a, b) =>
        if (hi.isNaN || a > hi) {
          if (!hi.isNaN) covered += hi - lo
          lo = a; hi = b
        } else hi = math.max(hi, b)
      }
      if (!hi.isNaN) covered += hi - lo
      (s.end - s.start - covered) / 1000.0
    }(_ + _)
  }
}

/** Counters and spans from Spark's public listener interfaces: jobs,
  * stages and tasks (SparkListener), micro-batch progress
  * (StreamingQueryListener), Catalyst phase times
  * (QueryExecutionListener), codegen compile time (CodegenMetrics) and
  * codegen compile failures (a log appender).
  *
  * Every record keeps its start time, so the per-layer metrics can be
  * taken over the workload's measured phase alone, marked by [[begin]]
  * and [[end]], leaving out set-up, warm-up and the harness's checks. */
final class Listeners(spark: SparkSession, trace: Trace) {
  import Listeners._

  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  val catalyst = new ConcurrentLinkedQueue[(Long, Map[String, Double])]() // (start ms, phases)
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val stages = new ConcurrentLinkedQueue[(Long, Int)]() // (submission ms, numTasks)
  val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  val jobs = new AtomicLong(0)
  val codegenFailures = new ConcurrentLinkedQueue[java.lang.Long]() // event ms
  private val stageParent = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Long]()
  private val jobSpans = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Double, Long, String)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      jobStarts.add(e.time)
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val parent = prop(Trace.SpanProp).map(_.toLong).getOrElse(0L)
      val link = (prop("sql.streaming.queryId"), prop("streaming.sql.batchId")) match {
        case (Some(q), Some(b)) if parent == 0L => s"$q/$b"
        case _ => ""
      }
      val id = trace.nextId()
      jobSpans.put(e.jobId, (id, e.time.toDouble, parent, link))
      e.stageIds.foreach(s => stageParent.put(s, id))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpans.remove(e.jobId)).foreach { case (id, start, parent, link) =>
        trace.add(Span(id, parent, "engine.job", start, e.time.toDouble,
          Map("job" -> e.jobId), link))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      stages.add((si.submissionTime.getOrElse(-1L), si.numTasks))
      val id = stageSpan.computeIfAbsent((si.stageId, si.attemptNumber()),
        _ => trace.nextId())
      for (s <- si.submissionTime; c <- si.completionTime)
        trace.add(Span(id, stageParent.getOrDefault(si.stageId, 0L),
          "engine.stage", s.toDouble, c.toDouble,
          Map("stage" -> si.stageId, "tasks" -> si.numTasks)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val ti = e.taskInfo
      val m = Option(e.taskMetrics)
      val run = m.map(_.executorRunTime).getOrElse(0L)
      val overhead = m.map(x => x.executorDeserializeTime +
        x.resultSerializationTime).getOrElse(0L)
      tasks.add(TaskRec(
        launchMs = ti.launchTime,
        runMs = run,
        cpuNs = m.map(_.executorCpuTime).getOrElse(0L),
        gcMs = m.map(_.jvmGCTime).getOrElse(0L),
        schedMs = math.max(0L, ti.finishTime - ti.launchTime - run - overhead -
          (if (ti.gettingResultTime > 0) ti.finishTime - ti.gettingResultTime else 0L)),
        shuffleWrite = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        shuffleRead = m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
        spill = m.map(_.diskBytesSpilled).getOrElse(0L),
        failed = !ti.successful))
      if (trace.enabled) {
        val parent = stageSpan.computeIfAbsent((e.stageId, e.stageAttemptId),
          _ => trace.nextId())
        trace.add(Span(trace.nextId(), parent, "engine.task",
          ti.launchTime.toDouble, ti.finishTime.toDouble))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      progress.add(e)
      val p = e.progress
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
        p.batchDuration
      val start = end - p.batchDuration
      val id = trace.nextId()
      trace.add(Span(id, 0L, "stream.batch", start, end,
        Map("query" -> p.name, "batch" -> p.batchId, "rows" -> p.numInputRows),
        link = s"${p.id}/${p.batchId}#batch"))
      // the phases run one after another inside the trigger, in this order
      var t = start
      Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
          "commitOffsets").foreach { k =>
        Option(p.durationMs.get(k)).map(_.longValue).filter(_ > 0).foreach { d =>
          trace.add(Span(trace.nextId(), id, s"stream.$k", t, t + d))
          t += d
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) catalyst.add((ph.values.map(_.startTimeMs).min,
        ph.map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs).toDouble }))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val appender = new FailedCompileAppender(codegenFailures)
  @volatile private var mark = Mark(0.0, Double.MaxValue, compileStats(), compileStats())

  /** Start of the measured phase. */
  def begin(): Unit = mark = Mark(trace.nowMs, Double.MaxValue, compileStats(), compileStats())

  /** End of the measured phase: waits until every job started so far
    * has been reported ended, so its tasks and stages are recorded. */
  def end(): Unit = {
    var seen = -1L
    while (!jobSpans.isEmpty || jobs.get != seen) {
      seen = jobs.get
      Thread.sleep(100)
    }
    mark = mark.copy(toMs = trace.nowMs, compile1 = compileStats())
  }

  /** Length of the measured phase in seconds. */
  def windowSeconds: Double = (mark.toMs - mark.fromMs) / 1000.0
  /** Whether an epoch-millisecond start time falls in the measured phase. */
  def inWindow(ms: Double): Boolean = ms >= mark.fromMs && ms < mark.toMs

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
    appender.start()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
    ctx.updateLoggers()
    appender.stop()
  }

  /** Codegen compile seconds in the measured phase (histogram count x
    * mean, the registry keeps no exact sum). */
  def codegenCompileSeconds: Double = {
    val ((n0, mean0), (n1, mean1)) = (mark.compile0, mark.compile1)
    math.max(0.0, (n1 * mean1 - n0 * mean0) / 1000.0)
  }

  /** Parent every span that waited for a streaming batch id. */
  def linkedSpans(): Seq[Span] = {
    val all = trace.all
    val batches = all.filter(_.link.endsWith("#batch"))
      .map(s => s.link.stripSuffix("#batch") -> s.id).toMap
    all.map { s =>
      if (s.parent == 0L && s.link.nonEmpty && !s.link.endsWith("#batch"))
        s.copy(parent = batches.getOrElse(s.link, 0L))
      else s
    }
  }
}

object Listeners {
  private final case class Mark(fromMs: Double, toMs: Double,
      compile0: (Long, Double), compile1: (Long, Double))

  final case class TaskRec(launchMs: Long, runMs: Long, cpuNs: Long, gcMs: Long, schedMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, failed: Boolean)

  private def compileStats(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  /** Counts log events that report a generated-code compile failure
    * (Spark logs and falls back silently otherwise). */
  final class FailedCompileAppender(times: ConcurrentLinkedQueue[java.lang.Long])
      extends org.apache.logging.log4j.core.appender.AbstractAppender(
        "perfbench-codegen-failures", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
    override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
      val msg = String.valueOf(e.getMessage.getFormattedMessage)
      if (msg.toLowerCase(java.util.Locale.ROOT).contains("failed to compile"))
        times.add(e.getTimeMillis)
    }
  }
}
