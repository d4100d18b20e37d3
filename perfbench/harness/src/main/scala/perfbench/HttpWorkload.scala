package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.pipelines.HttpRequestPipeline
import graft.sinks.Sinks

/** GLB access-log lines through `HttpRequestPipeline.analyzeStreamFull`
  * plus its sibling `thresholdAlertStream`, read from a file source.
  *
  * Event time runs [[Gen.Speed]] times faster than wall time, so the
  * one-minute windows close about once a wall second. Source addresses
  * are Zipf-skewed; every window carries planted hard-limit, error-rate
  * and threshold offenders and a NAT gateway (many agents, suppressed),
  * and session-limit offenders start every other minute. A few lines are
  * shifted back within the watermark delay, and a counted few arrive
  * far later than it, each the request that would lift an at-the-limit
  * client over the hard limit. */
object HttpWorkload extends StreamWorkload {
  val cfg = HttpRequestPipeline.Config(hardLimit = 8, errorMaxCount = 2,
    natMinDistinctUserAgents = 4, sessionGapSeconds = 120, maxSessionEvents = 20,
    thresholdModifier = 1.5)
  val delayMs = 30000L
  private val delay = "30 seconds"

  object Gen {
    val Speed = 60L           // event ms per wall ms
    val FileWallMs = 250L     // open-loop delivery period
    // offered load: about 1250 lines per window, i.e. per wall second,
    // with the ~40 offender lines a window carries (perfbench/README.md,
    // "Offered load")
    val BgLinesPerMin = 1210
    val DrainMinutes = 8
    val WarmupLines = 50
    val Keys = 2000
    val ZipfS = 1.1
    val LateLines = 5
    val LateGapMs = 5 * 60000L
    val T0 = 1704067200000L   // 2024-01-01T00:00:00Z
  }
  import Gen._

  private final case class Ev(ms: Long, ip: String, ua: String, status: Int)

  private val iso = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)

  private def line(e: Ev, n: Long): String =
    s"""{"httpRequest":{"requestMethod":"GET","requestUrl":"https://app.test/p/$n","status":${e.status},"remoteIp":"${e.ip}","userAgent":"${e.ua}"},"timestamp":"${iso.format(java.time.Instant.ofEpochMilli(e.ms))}","logName":"projects/bench/logs/requests","resource":{"type":"http_load_balancer"}}"""

  def plan(seed: Long, openSeconds: Int): StreamPlan = {
    val rnd = new java.util.SplittableRandom(seed)
    val zipf = new Zipf(Keys, ZipfS)
    val bgIp = (0 until Keys).map(k => s"172.16.${k / 250}.${k % 250}")
    // per-run key permutation, so each seed skews onto other addresses
    val perm = {
      val a = (0 until Keys).toArray
      for (i <- a.indices.reverse) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    val counter = new java.util.concurrent.atomic.AtomicInteger()
    def fresh(kind: Int): String = {
      val n = counter.incrementAndGet()
      s"10.$kind.${n / 250}.${n % 250}"
    }
    val planted = mutable.Set[(String, String)]()
    val evs = mutable.ArrayBuffer[Ev]()

    val openMinutes = ((openSeconds * 1000L * Speed) / 60000L).toInt
    val warmStart = T0
    val drainStart = T0 + 60000L
    // the drain backlog runs on its own queries, over the same minutes
    val openStart = drainStart
    val openEnd = openStart + openSeconds * 1000L * Speed
    val fileEventMs = FileWallMs * Speed
    val nOpenFiles = ((openEnd - openStart) / fileEventMs).toInt

    // the late lines: each lands in an open-loop file but stamps a minute
    // before the warm-up, so far behind the watermark whatever the batch
    // boundaries, where an at-the-limit client made exactly hardLimit
    // requests
    val lateAt = (0 until LateLines).map(i => (nOpenFiles * (4 + i)) / (LateLines + 5))
    val late = lateAt.zipWithIndex.map { case (fi, i) =>
      val ms = T0 - (i + 1) * LateGapMs + 5000L
      val ip = fresh(9)
      val minute = ms - Math.floorMod(ms, 60000L)
      (0 until cfg.hardLimit.toInt).foreach(j =>
        evs += Ev(minute + 1000L + j * 1500L, ip, "ua-sneaky", 200))
      fi -> Ev(ms, ip, "ua-sneaky", 200)
    }

    def background(to: mutable.Buffer[Ev], from: Long, n: Int): Unit =
      (0 until n).foreach { _ =>
        val k = perm(zipf.sample(rnd))
        val status = if (rnd.nextInt(100) < 5) 404 else 200
        to += Ev(from + rnd.nextLong(60000L), bgIp(k), s"ua-${k % 7}", status)
      }
    def burst(to: mutable.Buffer[Ev], minute: Long, ip: String, n: Int,
        status: Int, uas: Int): Unit =
      (0 until n).foreach(j => to += Ev(minute + rnd.nextLong(58000L) + 1000L,
        ip, s"ua-${j % uas}", status))
    /** One window of offenders; returns the planted (subcategory, key)s. */
    def offenders(to: mutable.Buffer[Ev], minute: Long): Seq[(String, String)] =
      (0 until 3).map { _ =>
        val ip = fresh(1); burst(to, minute, ip, 9, 200, 1); ("hard_limit", ip)
      } ++ (0 until 3).map { _ =>
        val ip = fresh(2); burst(to, minute, ip, 3, 404, 1); ("error_rate", ip)
      } ++ (0 until 3).map { _ =>
        val ip = fresh(3); burst(to, minute, ip, 8, 200, 1); ("threshold", ip)
      } ++ {
        burst(to, minute, fresh(4), 9, 200, 4) // NAT gateway: suppressed
        Nil
      }

    background(evs, warmStart, WarmupLines)
    (0 until openMinutes).foreach { i =>
      val minute = openStart + i * 60000L
      background(evs, minute, BgLinesPerMin)
      planted ++= offenders(evs, minute)
      if (i % 2 == 0 && i + 8 < openMinutes) {
        // a slow client: under every rate bar, over the session limit
        val ip = fresh(5)
        (0 until 8).foreach(m => burst(evs, minute + m * 60000L, ip, 3, 200, 1))
        planted += (("session_limit", ip))
      }
    }
    // the drain backlog, for traced runs: the open loop's traffic
    val drainEvs = mutable.ArrayBuffer[Ev]()
    (0 until DrainMinutes).foreach { i =>
      val minute = drainStart + i * 60000L
      background(drainEvs, minute, BgLinesPerMin)
      offenders(drainEvs, minute)
    }
    // a few lines out of order, within the watermark delay
    val shifted = evs.map(e =>
      if (e.ip.startsWith("172.") && rnd.nextInt(100) == 0)
        e.copy(ms = e.ms - 1000L - rnd.nextLong(20000L)) -> e.ms
      else e -> e.ms)

    // cut into files by (unshifted) event time; every line is rendered once
    val seq = new java.util.concurrent.atomic.AtomicLong()
    def render(es: Iterable[Ev]) = es.map(e => line(e, seq.incrementAndGet())).toArray
    def slot(ms: Long) =
      if (ms < drainStart) ("warmup", 0)
      else ("open", ((ms - openStart) / fileEventMs).toInt)
    // a shifted line stays in the file its original time fell in
    val bySlot = shifted.groupBy { case (_, orig) => slot(orig) }
    val lateByFile = late.groupMap(_._1)(_._2)
    val lateLines = mutable.Set[String]()
    def mk(phase: String, i: Int, due: Long): InFile = {
      val es = bySlot.getOrElse((phase, i), Seq.empty).map(_._1).sortBy(_.ms)
      val lt = if (phase == "open") render(lateByFile.getOrElse(i, Nil)) else Array.empty[String]
      lateLines ++= lt
      val ls = render(es) ++ lt
      InFile(phase, f"$phase-$i%04d.json", due, ls,
        es.map(_.ms).maxOption.getOrElse(Long.MinValue))
    }
    val files = Seq(mk("warmup", 0, 0L)) ++
      (0 until nOpenFiles).map(i => mk("open", i, i * FileWallMs))
    val drain = drainEvs.sortBy(_.ms).grouped(BgLinesPerMin).zipWithIndex.map {
      case (es, i) => InFile("drain", f"drain-$i%04d.json", 0L, render(es), es.last.ms)
    }.toSeq
    // tail: a far-future line closes every window and session
    val flushMs = openEnd + 3600000L
    val tail = Seq(InFile("tail", "tail-0.json", nOpenFiles * FileWallMs,
      render(Seq(Ev(flushMs, "192.0.2.1", "ua-flush", 200))), flushMs))

    // session ends of the accepted events, for session-limit decidability
    val sessions: Map[(String, Long), Long] = shifted.map(_._1)
      .groupBy(_.ip).toSeq.flatMap { case (ip, es) =>
        val ts = es.map(_.ms).sorted
        val out = mutable.ArrayBuffer[((String, Long), Long)]()
        var n = 0L; var last = Long.MinValue
        ts.foreach { t =>
          if (n > 0 && t >= last + cfg.sessionGapSeconds * 1000L) {
            out += ((ip, n) -> last); n = 0
          }
          n += 1; last = t
        }
        if (n > 0) out += ((ip, n) -> last)
        out
      }.groupMapReduce(_._1)(_._2)(math.min)

    val decide: Alert => Option[Long] = a =>
      if (a.subcategory == "session_limit")
        sessions.get((a.key, a.count)).map(_ + cfg.sessionGapSeconds * 1000L + delayMs)
      else if (a.ts >= 0) Some(a.ts + 60000L + delayMs)
      else None

    StreamPlan(files ++ tail, drain, lateLines.toSet, planted.toSet, decide)
  }

  def start(spark: SparkSession, input: String, ckpt: String,
      sink: AlertSink): Seq[StreamingQuery] = {
    val lines = spark.readStream.textFile(input)
    val full = Sinks.streamTo(
        HttpRequestPipeline.analyzeStreamFull(lines, cfg, delay)
          .filter(org.apache.spark.sql.functions.col("subcategory") =!= "cfgtick"),
        sink.writer("sourceaddress", "window_start_ms"))
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$ckpt/q0").start()
    val threshold = HttpRequestPipeline.thresholdAlertStream(lines, cfg, delay)(
        sink.writer("sourceaddress", "window_start_ms").write)
      .option("checkpointLocation", s"$ckpt/q1").start()
    Seq(full, threshold)
  }

  def batchTwin(spark: SparkSession, lines: Dataset[String]): Seq[Alert] =
    Alert.fromRows(HttpRequestPipeline.analyze(lines, cfg), "sourceaddress",
      "window_start_ms")

  def fastFilter = graft.parse.Parser.fastFilterAny(
    graft.parse.Parser.payloadTypesFor("HTTP_REQUEST"))
}

/** Zipf sampler over [0, n) by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def sample(r: java.util.SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}
