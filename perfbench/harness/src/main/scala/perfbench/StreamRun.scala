package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sinks.Sinks

/** An alert in the parity shape: subcategory, key, count and the alert's
  * time column (window start or event stamp; -1 when the detector has
  * none). */
final case class Alert(subcategory: String, key: String, count: Long, ts: Long)

object Alert {
  def fromRows(df: DataFrame, key: String, ts: String): Seq[Alert] =
    df.select(col("subcategory"), col(key).cast("string"),
        coalesce(col("count"), lit(-1L)), coalesce(col(ts), lit(-1L)))
      .collect().toSeq.map(r => Alert(r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3)))
}

/** One generated input file. `phase` is warmup, open or tail (delivered
  * in that order) or drain (a separate backlog); open and tail files
  * carry their due offset from the start of the open-loop phase. */
final case class InFile(phase: String, name: String, dueMs: Long,
    lines: Array[String], maxEventMs: Long)

/** Everything a stream workload's generator derives from the seed: the
  * files, and the ground truth the output checks use. */
final case class StreamPlan(
    files: Seq[InFile],
    drain: Seq[InFile],
    late: Set[String],
    planted: Set[(String, String)],
    /** Event time the engine must have seen before the alert can be
      * emitted (window or session end plus the watermark delay). */
    decideEventMs: Alert => Option[Long]) {
  def phase(p: String): Seq[InFile] = files.filter(_.phase == p)
}

/** A streaming workload: how to generate its input, start its queries
  * over a directory, and compute its batch twin. */
trait StreamWorkload {
  def plan(seed: Long, openSeconds: Int): StreamPlan
  /** Start every query of the workload reading `input`, delivering
    * alert frames to `sink`. */
  def start(spark: SparkSession, input: String, ckpt: String,
      sink: AlertSink): Seq[StreamingQuery]
  def batchTwin(spark: SparkSession, lines: Dataset[String]): Seq[Alert]
  /** The pipeline's pre-parse filter, for the parse probe. */
  def fastFilter: org.apache.spark.sql.Column
}

/** The benchmark's alert sink: every written row is stamped with the
  * wall time it reached the sink. */
final class AlertSink(trace: Trace, spark: SparkSession) {
  val received = new java.util.concurrent.ConcurrentLinkedQueue[(Alert, Double)]()
  val writeMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()

  def writer(key: String, ts: String): Sinks.AlertWriter = new Sinks.AlertWriter {
    def write(alerts: DataFrame): Unit = {
      val t0 = trace.nowMs
      // runs on the query's thread, inside the micro-batch it belongs to
      val sc = spark.sparkContext
      val batch = s"${sc.getLocalProperty("sql.streaming.queryId")}/" +
        sc.getLocalProperty("streaming.sql.batchId")
      val rows = trace.span("sink.write", spark = Some(spark), link = batch) {
        Alert.fromRows(alerts, key, ts)
      }
      val now = trace.nowMs
      rows.foreach(a => received.add((a, now)))
      writeMs.add(now - t0)
    }
  }
}

/** Runs a stream workload: set-up (queries started, warm-up file
  * processed), an open-loop phase that delivers files on schedule from
  * one thread and ends with a flush, then the output checks. Traced runs
  * add the parse probe and a drain of a pre-staged backlog. */
final class StreamRun(w: StreamWorkload, spark: SparkSession, trace: Trace,
    tmp: Path, seed: Long, seconds: Int) {

  private def moveIn(f: InFile, stage: Path, dir: Path): Unit =
    Files.move(stage.resolve(f.name), dir.resolve(f.name),
      StandardCopyOption.ATOMIC_MOVE)

  private def stageAll(files: Seq[InFile], stage: Path): Unit = {
    Files.createDirectories(stage)
    files.foreach(f => Files.write(stage.resolve(f.name), f.lines.toSeq.asJava))
  }

  /** Wait until every query processed all delivered data and ran the
    * no-data batch a watermark advance triggers. */
  private def awaitIdle(qs: Seq[StreamingQuery]): Unit = {
    var last = Seq.empty[Long]
    var stable = 0
    while (stable < 2) {
      qs.foreach(_.processAllAvailable())
      Thread.sleep(50)
      val ids = qs.map(q => Option(q.lastProgress).map(_.batchId).getOrElse(-1L))
      if (ids == last && qs.forall(!_.status.isTriggerActive)) stable += 1 else stable = 0
      last = ids
    }
  }

  /** Start the queries on a fresh directory and checkpoint and process
    * the warm-up file. Returns the queries, sink, input dir, stage dir
    * and the seconds taken. */
  private def setupOnce(plan: StreamPlan, k: Int) = {
    val input = Files.createDirectories(tmp.resolve(s"in$k"))
    val stage = tmp.resolve(s"stage$k")
    stageAll(plan.files, stage)
    val sink = new AlertSink(trace, spark)
    val t0 = System.nanoTime()
    val qs = trace.span("setup.queries") {
      val qs = w.start(spark, input.toString, tmp.resolve(s"ckpt$k").toString, sink)
      plan.phase("warmup").foreach(moveIn(_, stage, input))
      awaitIdle(qs)
      qs
    }
    (qs, sink, input, stage, (System.nanoTime() - t0) / 1e9)
  }

  def run(out: Outcome, sessionSeconds: Double, listeners: Option[Listeners]): Unit = {
    val plan = trace.span("gen")(w.plan(seed, seconds))

    val (qs, sink, input, stage, setupS) = setupOnce(plan, 1)
    out.e2e("setup_s") = sessionSeconds + setupS
    Log(f"session $sessionSeconds%.2f s; queries + warm-up $setupS%.2f s")

    // open loop: one thread moves each file in at its due time
    val open = plan.phase("open") ++ plan.phase("tail")
    val lateness = mutable.ArrayBuffer[Double]()
    val openStart = trace.nowMs + 100.0
    listeners.foreach(_.begin())
    trace.span("open_loop") {
      val deliver = new Thread(() => open.foreach { f =>
        val due = openStart + f.dueMs
        val wait = due - trace.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        moveIn(f, stage, input)
        lateness += trace.nowMs - due
      }, "perfbench-delivery")
      deliver.start()
      deliver.join()
      awaitIdle(qs)
    }
    listeners.foreach(_.end())
    // the time to finish the offered work: every line processed and
    // every alert emitted
    out.e2e("work_s") = (trace.nowMs - openStart) / 1000
    out.layers("gen.late_ms_p95") = Stats.pct(lateness, 95)
    Log(f"open loop + tail ${out.e2e("work_s")}%.2f s")

    val progress = qs.flatMap(_.recentProgress.toSeq)
    qs.foreach(_.stop())

    // alert latency: sink time minus the due time of the file that first
    // made each alert decidable
    val ordered = plan.files
    val cumMax = ordered.scanLeft(Long.MinValue)((m, f) => math.max(m, f.maxEventMs)).tail
    val alerts = sink.received.asScala.toSeq
    val lat = alerts.flatMap { case (a, at) =>
      plan.decideEventMs(a).flatMap { d =>
        val i = cumMax.indexWhere(_ >= d)
        if (i < 0) None
        else {
          val f = ordered(i)
          if (f.phase == "open") Some(at - (openStart + f.dueMs))
          else None
        }
      }
    }
    out.e2e("latency_p50_ms") = Stats.median(lat)
    out.e2e("latency_p90_ms") = Stats.pct(lat, 90)
    out.layers("latency.samples") = lat.size.toDouble

    Log(f"alerts ${alerts.size}, latency samples ${lat.size}")
    checks(out, plan, alerts.map(_._1), progress, qs)
    Log("checks done")
    listeners.foreach { l =>
      layerMetrics(out, plan, l)
      parseProbe(out, plan)
      out.layers("stream.drain_eps") = trace.span("drain")(drain(plan, 2))
    }
    out.layers("sinks.rows") = alerts.size.toDouble
    out.layers("sinks.write_ms_p50") = Stats.median(sink.writeMs.asScala)
  }

  /** Lines per second for fresh queries (set up as usual) to drain the
    * plan's pre-staged backlog, landed all at once. */
  def drain(plan: StreamPlan, k: Int): Double = {
    val (qs, _, input, _, _) = setupOnce(plan, k)
    val stage = tmp.resolve(s"drain$k")
    stageAll(plan.drain, stage)
    val t0 = System.nanoTime()
    plan.drain.foreach(moveIn(_, stage, input))
    qs.foreach(_.processAllAvailable())
    val s = (System.nanoTime() - t0) / 1e9
    qs.foreach(_.stop())
    plan.drain.map(_.lines.length).sum / s
  }

  /** Parser throughput and yield on the workload's own lines. */
  private def parseProbe(out: Outcome, plan: StreamPlan): Unit = trace.span("parse.probe") {
    import spark.implicits._
    val ds = spark.createDataset(plan.files.flatMap(_.lines)).cache()
    val n = ds.count().toDouble
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      graft.parse.Parser.parse(ds).count()
      (System.nanoTime() - t0) / 1e9
    }
    out.layers("parse.eps") = n / Stats.median(times)
    out.layers("parse.fastfilter_keep_frac") = ds.filter(w.fastFilter).count() / n
    out.layers("parse.unparsed_frac") =
      graft.parse.Parser.parse(ds).filter(col("payloadType") === "raw").count() / n
    ds.unpersist()
  }

  private def checks(out: Outcome, plan: StreamPlan, got: Seq[Alert],
      progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      qs: Seq[StreamingQuery]): Unit = trace.span("check", spark = Some(spark)) {
    import spark.implicits._
    // every delivered file was consumed by every query
    val delivered = plan.files.map(_.name).toSet
    qs.indices.foreach { i =>
      val consumed = SourceLog.files(tmp.resolve("ckpt1"), i)
      val missing = delivered.count(n => !consumed.exists(_.endsWith("/" + n)))
      out.checkMany(delivered.size, missing,
        s"query $i never consumed $missing of ${delivered.size} files")
    }
    // parity with the batch twin over the lines the stream accepted
    val accepted = plan.files.flatMap(_.lines).filterNot(plan.late)
    Parity.check(out, got, w.batchTwin(spark, spark.createDataset(accepted)), plan.planted)
    // the late lines were dropped by the watermark, in every stateful
    // operator
    val mainDropped = progress.filter(_.id == qs.head.id)
      .flatMap(_.stateOperators.headOption).map(_.numRowsDroppedByWatermark).sum
    out.layers("state.rows_dropped_late") = mainDropped.toDouble
    out.check(mainDropped == plan.late.size,
      s"watermark dropped $mainDropped rows, generator made ${plan.late.size} late lines")
  }

  /** Stream, state and source metrics from the micro-batches that
    * started in the open-loop phase. */
  private def layerMetrics(out: Outcome, plan: StreamPlan, l: Listeners): Unit = {
    val ps = l.progress.asScala.toSeq.map(_.progress)
      .filter(p => l.inWindow(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble))
    val lines = (plan.phase("open") ++ plan.phase("tail")).map(_.lines.length).sum.toDouble
    out.layers("sources.input_rows_per_line") = ps.map(_.numInputRows).sum / lines
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val data = ps.filter(_.numInputRows > 0)
    val empty = ps.filter(_.numInputRows == 0)
    out.layers("sources.offset_ms_p50") =
      Stats.median(ps.map(p => dur(p, "latestOffset") + dur(p, "getBatch")))
    out.layers("stream.batches") = ps.size.toDouble
    out.layers("stream.empty_batches") = empty.size.toDouble
    out.layers("stream.batch_ms_p50") = Stats.median(ps.map(_.batchDuration.toDouble))
    out.layers("stream.batch_ms_p95") = Stats.pct(ps.map(_.batchDuration.toDouble), 95)
    out.layers("stream.fixed_cost_ms") = Stats.median(empty.map(_.batchDuration.toDouble))
    Seq("planning" -> "queryPlanning", "add_batch" -> "addBatch",
        "wal_commit" -> "walCommit", "commit_offsets" -> "commitOffsets").foreach {
      case (m, k) => out.layers(s"stream.${m}_ms_p50") = Stats.median(ps.map(dur(_, k)))
    }
    // state maxima: per query, the largest total over its operators
    val byQuery = ps.groupBy(_.id).values
    out.layers("state.rows") = byQuery.map(q => q.map(_.stateOperators.map(_.numRowsTotal).sum).max).sum.toDouble
    out.layers("state.bytes") = byQuery.map(q => q.map(_.stateOperators.map(_.memoryUsedBytes).sum).max).sum.toDouble
    out.layers("state.commit_ms_p50") =
      Stats.median(ps.flatMap(_.stateOperators.map(_.commitTimeMs.toDouble)))
    // batches before the far-future flush line
    val openMax = plan.phase("open").map(_.maxEventMs).max
    out.layers("state.watermark_lag_ms") = Stats.median(data.flatMap { p =>
      val et = p.eventTime
      for (m <- Option(et.get("max")).map(java.time.Instant.parse(_).toEpochMilli)
           if m <= openMax;
           wm <- Option(et.get("watermark")))
        yield (m - java.time.Instant.parse(wm).toEpochMilli).toDouble
    })
  }
}

/** Reads the file names a streaming query's file source committed, from
  * the source log in its checkpoint (one JSON entry per file). */
object SourceLog {
  private val PathRe = "\"path\":\"([^\"]+)\"".r
  def files(ckptRoot: Path, query: Int): Set[String] = {
    val dir = ckptRoot.resolve(s"q$query").resolve("sources").resolve("0")
    if (!Files.isDirectory(dir)) Set.empty
    else Files.list(dir).iterator().asScala.filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => PathRe.findAllMatchIn(Files.readString(p)).map(_.group(1)))
      .toSet
  }
}

/** The stream output checks that need no engine: alerts against the
  * batch twin's, as multisets, and the planted offenders. */
object Parity {
  def check(out: Outcome, got: Seq[Alert], want: Seq[Alert],
      planted: Set[(String, String)]): Unit = {
    def counts(xs: Seq[Alert]) = xs.groupMapReduce(identity)(_ => 1)(_ + _)
    val (g, e) = (counts(got), counts(want))
    val missing = e.map { case (a, n) => math.max(0, n - g.getOrElse(a, 0)) }.sum
    val extra = g.map { case (a, n) => math.max(0, n - e.getOrElse(a, 0)) }.sum
    out.checkMany(want.size + extra, missing + extra,
      s"alerts: $missing missing, $extra extra vs the batch twin; e.g. " +
        (e.keySet -- g.keySet).take(3).mkString(",") + " / " +
        (g.keySet -- e.keySet).take(3).mkString(","))
    val alerted = got.map(a => (a.subcategory, a.key)).toSet
    planted.toSeq.sorted.foreach { p =>
      out.check(alerted(p), s"planted offender never alerted: $p")
    }
  }
}
