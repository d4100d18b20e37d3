package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.pipelines.CustomsPipeline
import graft.sinks.Sinks

/** Multiplexed lines through `CustomsPipeline.analyzeStreamFull` plus its
  * sibling `enumerationAlertStream`, read from a file source.
  *
  * FxA auth and content lines are a minority among other resources'
  * (GLB) lines, so most lines are pruned by the pipeline's pre-parse
  * filter. Event time runs [[Gen.Speed]] times faster than wall time, so
  * the ten-minute windows close about once a wall second. Background
  * accounts come from a large email space; every window carries planted
  * enumeration attackers (one address, many accounts, one endpoint),
  * distributed login-failure victims (one account, several addresses),
  * status checks from monitored addresses and logins of monitored
  * accounts. A few lines are shifted back within the watermark delay,
  * and a counted few arrive far later than it, each the failure that
  * would lift a victim's source count. */
object CustomsWorkload extends StreamWorkload {
  val monitoredAddrs = Seq("198.51.100.7", "198.51.100.8")
  val monitoredAccounts = Seq("watch-0@bench.test", "watch-1@bench.test", "watch-2@bench.test")
  val cfg = CustomsPipeline.FullConfig(enumerationThreshold = 5,
    minVarianceClients = 3, srcFailDistThreshold = 3,
    monitoredAddrs = monitoredAddrs, monitoredAccounts = monitoredAccounts)
  val delayMs = 30000L
  private val delay = "30 seconds"
  private val WindowMs = 600000L
  private val SummaryWindowMs = 900000L

  object Gen {
    val Speed = 600L          // event ms per wall ms
    val FileWallMs = 250L     // open-loop delivery period
    // offered load: 4000 lines per window, i.e. per wall second, a sixth
    // of them FxA (with the 5 content and 40 planted lines); micro-batches
    // of about 14k lines (perfbench/README.md, "Offered load")
    val BgAuthPerWindow = 620
    val NoisePerWindow = 3335
    val DrainWindows = 5
    val Sources = 5000
    val ZipfS = 1.1
    val LateLines = 4
    val T0 = 1704067200000L   // 2024-01-01T00:00:00Z
  }
  import Gen._

  private sealed trait Ev { def ms: Long }
  private final case class Auth(ms: Long, path: String, status: Int, email: String,
      addr: String, errno: Int) extends Ev
  private final case class Content(ms: Long, addr: String) extends Ev
  private final case class Noise(ms: Long, addr: String) extends Ev

  private val iso = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)

  private def line(e: Ev, n: Long): String = e match {
    case Auth(ms, path, status, email, addr, errno) =>
      s"""{"insertId":"i$n","jsonPayload":{"EnvVersion":"2.0","Fields":{"agent":"Mozilla/5.0","email":"$email","errno":$errno,"method":"post","op":"request.summary","path":"$path","remoteAddressChain":"[\\"$addr\\"]","service":"sync","status":$status,"t":12,"uid":"u$n"},"Logger":"fxa-auth-server","Pid":1,"Severity":6,"Timestamp":${ms}000000,"Type":"request.summary"},"timestamp":"${iso.format(java.time.Instant.ofEpochMilli(ms))}"}"""
    case Content(ms, addr) =>
      s"""{"Timestamp":${ms}000000,"Type":"request","Logger":"fxa-content-server","Hostname":"h","Fields":{"clientaddress":"$addr","path":"/signin","method":"get","status":200}}"""
    case Noise(ms, addr) =>
      s"""{"httpRequest":{"requestMethod":"GET","requestUrl":"https://www.test/p/$n","status":200,"remoteIp":"$addr","userAgent":"ua"},"timestamp":"${iso.format(java.time.Instant.ofEpochMilli(ms))}","logName":"projects/bench/logs/requests","resource":{"type":"http_load_balancer"}}"""
  }

  private val Status = "/v1/account/status"
  private val Login = "/v1/account/login"

  def plan(seed: Long, openSeconds: Int): StreamPlan = {
    val rnd = new java.util.SplittableRandom(seed)
    val zipf = new Zipf(Sources, ZipfS)
    val perm = {
      val a = (0 until Sources).toArray
      for (i <- a.indices.reverse) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    def bgAddr() = { val k = perm(zipf.sample(rnd)); s"172.20.${k / 250}.${k % 250}" }
    val counter = new java.util.concurrent.atomic.AtomicInteger()
    def fresh(kind: Int): String = {
      val n = counter.incrementAndGet()
      s"10.$kind.${n / 250}.${n % 250}"
    }
    def freshEmail(kind: String) = s"$kind-${counter.incrementAndGet()}@bench.test"
    val planted = mutable.Set[(String, String)]()

    val warmStart = T0
    val drainStart = T0 + WindowMs
    // the drain backlog runs on its own queries, over the same windows
    val openStart = drainStart
    val openWindows = ((openSeconds * 1000L * Speed) / WindowMs).toInt
    val openEnd = openStart + openWindows * WindowMs
    val fileEventMs = FileWallMs * Speed
    val nOpenFiles = ((openEnd - openStart) / fileEventMs).toInt
    def at(w: Long) = w + 1000L + rnd.nextLong(WindowMs - 2000L)

    def background(to: mutable.Buffer[Ev], w: Long, auth: Int, noise: Int): Unit = {
      (0 until auth).foreach { _ =>
        val email = s"user-${rnd.nextInt(100000)}@mail.test"
        if (rnd.nextInt(3) == 0) to += Auth(at(w), Login, 400, email, bgAddr(), 103)
        else to += Auth(at(w), Login, 200, email, bgAddr(), 0)
      }
      (0 until noise).foreach(_ => to += Noise(at(w), bgAddr()))
      // content-server clients: the variance gate needs a few per window
      (0 until 5).foreach(_ => to += Content(at(w), bgAddr()))
    }
    def attackers(to: mutable.Buffer[Ev], w: Long): Seq[(String, String)] =
      (0 until 3).map { _ =>
        val src = fresh(20)
        (0 until 5).foreach(_ => to += Auth(at(w), Status, 200, freshEmail("enum"), src, 0))
        ("account_enumeration", src)
      } ++ (0 until 3).map { _ =>
        val victim = freshEmail("victim")
        (0 until 3).foreach(_ => to += Auth(at(w), Login, 400, victim, fresh(21), 103))
        ("source_login_failure_distributed", victim)
      } ++ (0 until 8).map { i =>
        val src = monitoredAddrs(i % monitoredAddrs.size)
        to += Auth(at(w), Status, 200, freshEmail("flag"), src, 0)
        ("status_comparator", src)
      } ++ (0 until 8).map { i =>
        val acct = monitoredAccounts(i % monitoredAccounts.size)
        to += Auth(at(w), Login, 200, acct, bgAddr(), 0)
        ("activity_monitor", acct)
      }

    val evs = mutable.ArrayBuffer[Ev]()
    // the late lines: each a failure, stamped before the warm-up so far
    // behind the watermark whatever the batch boundaries, for a victim
    // whose window holds exactly the threshold, from a new address that
    // would lift its count
    val lateAt = (0 until LateLines).map(i => (nOpenFiles * (4 + i)) / (LateLines + 5))
    val late = lateAt.zipWithIndex.map { case (fi, i) =>
      val ms = T0 - (i + 1) * SummaryWindowMs + 5000L
      val w = ms - Math.floorMod(ms, WindowMs)
      val victim = freshEmail("victim")
      (0 until 3).foreach(j => evs += Auth(w + 1000L + j * 1000L, Login, 400, victim, fresh(22), 103))
      fi -> (Auth(ms, Login, 400, victim, fresh(22), 103): Ev)
    }
    background(evs, warmStart, 5, 10)
    (0 until openWindows).foreach { i =>
      val w = openStart + i * WindowMs
      background(evs, w, BgAuthPerWindow, NoisePerWindow)
      planted ++= attackers(evs, w)
    }
    val drainEvs = mutable.ArrayBuffer[Ev]()
    (0 until DrainWindows).foreach { i =>
      val w = drainStart + i * WindowMs
      background(drainEvs, w, BgAuthPerWindow, NoisePerWindow)
      attackers(drainEvs, w)
    }
    // a few background lines out of order, within the watermark delay
    def shift(e: Ev): Ev = e match {
      case a: Auth if a.email.startsWith("user-") && rnd.nextInt(50) == 0 =>
        a.copy(ms = a.ms - 1000L - rnd.nextLong(20000L))
      case x => x
    }
    val withOrig = evs.map(e => shift(e) -> e.ms)

    val seq = new java.util.concurrent.atomic.AtomicLong()
    def render(es: Iterable[Ev]) = es.map(e => line(e, seq.incrementAndGet())).toArray
    def slot(ms: Long) =
      if (ms < drainStart) ("warmup", 0)
      else ("open", ((ms - openStart) / fileEventMs).toInt)
    val bySlot = withOrig.groupBy { case (_, orig) => slot(orig) }
    val lateByFile = late.groupMap(_._1)(_._2)
    val lateLines = mutable.Set[String]()
    def mk(phase: String, i: Int, due: Long): InFile = {
      val es = bySlot.getOrElse((phase, i), Seq.empty).map(_._1).sortBy(_.ms)
      val lt = if (phase == "open") render(lateByFile.getOrElse(i, Nil)) else Array.empty[String]
      lateLines ++= lt
      InFile(phase, f"$phase-$i%04d.json", due, render(es) ++ lt,
        es.map(_.ms).maxOption.getOrElse(Long.MinValue))
    }
    val files = Seq(mk("warmup", 0, 0L)) ++
      (0 until nOpenFiles).map(i => mk("open", i, i * FileWallMs))
    val drain = drainEvs.sortBy(_.ms).grouped(1000).zipWithIndex.map {
      case (es, i) => InFile("drain", f"drain-$i%04d.json", 0L, render(es), es.last.ms)
    }.toSeq
    // tail: a far-future status check closes every window
    val flushMs = openEnd + 24 * 3600000L
    val tail = Seq(InFile("tail", "tail-0.json", nOpenFiles * FileWallMs,
      render(Seq(Auth(flushMs, Status, 200, "flush@bench.test", "192.0.2.1", 0))), flushMs))

    val decide: Alert => Option[Long] = a => a.subcategory match {
      case "status_comparator" | "activity_monitor" => Some(a.ts)
      case "summary" => Some(a.ts + SummaryWindowMs + delayMs)
      case "source_login_failure_distributed" => Some(a.ts + WindowMs + delayMs)
      case "account_enumeration" =>
        Some(a.ts - Math.floorMod(a.ts, WindowMs) + WindowMs + delayMs)
      case _ => None
    }
    StreamPlan(files ++ tail, drain, lateLines.toSet, planted.toSet, decide)
  }

  def start(spark: SparkSession, input: String, ckpt: String,
      sink: AlertSink): Seq[StreamingQuery] = {
    val lines = spark.readStream.textFile(input)
    val full = Sinks.streamTo(CustomsPipeline.analyzeStreamFull(lines, cfg, delay),
        sink.writer("key", "alert_ts_ms"))
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$ckpt/q0").start()
    val enumeration = CustomsPipeline.enumerationAlertStream(lines, cfg, delay)(
        sink.writer("key", "alert_ts_ms").write)
      .option("checkpointLocation", s"$ckpt/q1").start()
    Seq(full, enumeration)
  }

  def batchTwin(spark: SparkSession, lines: Dataset[String]): Seq[Alert] =
    Alert.fromRows(CustomsPipeline.analyzeFull(lines, cfg), "key", "alert_ts_ms")

  def fastFilter = graft.parse.Parser.fastFilter("fxaauth") ||
    graft.parse.Parser.fastFilter("fxacontent")
}
