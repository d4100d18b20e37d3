package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Minimal JSON rendering for the result file and the span dump. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case x => str(x.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated percentile, q in [0, 100]; NaN when empty. */
  def pct(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = (s.length - 1) * q / 100.0
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 50)
}

/** The outcome of one workload run: end-to-end metrics, per-layer
  * metrics (traced runs only), and the output checks. */
final class Outcome {
  val e2e = scala.collection.mutable.LinkedHashMap[String, Double]()
  val layers = scala.collection.mutable.LinkedHashMap[String, Double]()
  var attempted = 0L
  var failed = 0L
  val findings = scala.collection.mutable.ArrayBuffer[String]()

  /** Record one checked operation; a failure keeps its reason. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (findings.size < 50) findings += what }
  }
  def checkMany(n: Long, bad: Long, what: => String): Unit = {
    attempted += n
    failed += bad
    if (bad > 0 && findings.size < 50) findings += what
  }

  def write(path: Path): Unit = Files.writeString(path, Json.obj(Seq(
    "attempted" -> attempted, "failed" -> failed,
    "e2e" -> e2e.toMap, "layers" -> layers.toMap,
    "findings" -> findings.toSeq)))
}

object Proc {
  /** Peak resident set (VmHWM) of this JVM in MB. */
  def peakRssMb(): Double = Files.readAllLines(Path.of("/proc/self/status"))
    .asScala.find(_.startsWith("VmHWM:"))
    .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
}

object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - t0) / 1e9}%.1fs] $msg")
}
