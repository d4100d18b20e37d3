package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point, launched by perfbench/run.py:
  *
  *   Main <workload> <seed> <seconds> <trace 0|1> <tmpDir> <resultFile>
  *
  * Builds a local Spark session, runs one workload, checks its outputs
  * and writes an [[Outcome]] as JSON to `resultFile`. Every file it
  * creates lives under `tmpDir`. */
object Main {
  val Workloads = Seq("http_stream", "customs_stream", "batch_suite")

  def session(tmp: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def streamWorkload(name: String): Option[StreamWorkload] = name match {
    case "http_stream" => Some(HttpWorkload)
    case "customs_stream" => Some(CustomsWorkload)
    case _ => None
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, tmpS, resultS) = args
    require(Workloads.contains(workload), s"unknown workload $workload")
    val (seed, seconds, traced) = (seedS.toLong, secondsS.toInt, traceS == "1")
    val tmp = Path.of(tmpS)
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val trace = new Trace(traced)
    val out = new Outcome

    val spark = trace.span("setup.session")(session(tmp, cores))
    val sessionSeconds = (System.currentTimeMillis() - jvmStart) / 1000.0
    Log(s"session ready ${sessionSeconds} s after JVM start")
    val listeners = if (traced) {
      val l = new Listeners(spark, trace); l.register(); Some(l)
    } else None
    try {
      streamWorkload(workload) match {
        case Some(w) => new StreamRun(w, spark, trace, tmp, seed, seconds)
          .run(out, sessionSeconds, listeners)
        case None => new BatchSuite(spark, trace, tmp, seed, seconds)
          .run(out, sessionSeconds, listeners)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        out.check(ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    out.e2e("peak_rss_mb") = Proc.peakRssMb()
    listeners.foreach { l =>
      l.unregister()
      Layers.engine(out, l, cores)
      // the measured phase's spans, and the harness's own once-a-run phases
      val once = Set("setup", "gen", "check", "parse")
      val counted = (s: Span) => l.inWindow(s.start) || once(s.name.takeWhile(_ != '.'))
      Trace.selfSeconds(l.linkedSpans(), counted).foreach { case (layer, s) =>
        out.layers(s"$layer.self_s") = s
      }
      trace.write(tmp.resolve("trace.jsonl"))
    }
    spark.stop()
    if (traced) streamWorkload(workload).foreach { w =>
      // the same drain on one core, for the parallel speed-up
      val one = Files.createDirectories(tmp.resolve("one-core"))
      val s1 = session(one, 1)
      val eps1 = try new StreamRun(w, s1, new Trace(false), one, seed, seconds)
          .drain(w.plan(seed, seconds), 1)
        finally s1.stop()
      out.layers("engine.parallel_speedup") = out.layers.getOrElse("stream.drain_eps", 0.0) / eps1
    }
    out.write(Path.of(resultS))
  }
}

/** Engine-wide per-layer metrics from the listener records that started
  * in the measured phase. */
object Layers {
  def engine(out: Outcome, l: Listeners, cores: Int): Unit = {
    import scala.jdk.CollectionConverters._
    val ts = l.tasks.asScala.toSeq.filter(t => l.inWindow(t.launchMs))
    val st = l.stages.asScala.toSeq.filter(s => l.inWindow(s._1))
    val mb = 1024.0 * 1024.0
    out.layers("engine.jobs") = l.jobStarts.asScala.count(t => l.inWindow(t.toDouble)).toDouble
    out.layers("engine.stages") = st.size.toDouble
    out.layers("engine.tasks_per_stage") = if (st.isEmpty) 0.0 else st.map(_._2).sum.toDouble / st.size
    out.layers("engine.sched_delay_s") = ts.map(_.schedMs).sum / 1000.0
    out.layers("engine.task_run_s") = ts.map(_.runMs).sum / 1000.0
    out.layers("engine.task_cpu_s") = ts.map(_.cpuNs).sum / 1e9
    out.layers("engine.gc_s") = ts.map(_.gcMs).sum / 1000.0
    out.layers("engine.busy_frac") = ts.map(_.runMs).sum / 1000.0 / (l.windowSeconds * cores)
    out.layers("engine.failed_tasks") = ts.count(_.failed).toDouble
    out.layers("engine.shuffle_write_mb") = ts.map(_.shuffleWrite).sum / mb
    out.layers("engine.shuffle_read_mb") = ts.map(_.shuffleRead).sum / mb
    out.layers("engine.spill_mb") = ts.map(_.spill).sum / mb
    val cat = l.catalyst.asScala.toSeq.filter(c => l.inWindow(c._1)).map(_._2)
    def phase(k: String) = cat.map(_.getOrElse(k, 0.0)).sum / 1000.0
    out.layers("catalyst.analysis_s") = phase("analysis")
    out.layers("catalyst.optimizer_s") = phase("optimization")
    out.layers("catalyst.planning_s") = phase("planning")
    out.layers("codegen.compile_s") = l.codegenCompileSeconds
    out.layers("codegen.failures") =
      l.codegenFailures.asScala.count(t => l.inWindow(t.toDouble)).toDouble
  }
}
