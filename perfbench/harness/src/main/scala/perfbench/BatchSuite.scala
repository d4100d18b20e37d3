package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.sources.Tables

/** A fixed set of `SparkEntry` queries over the seeded tables that
  * perfbench/tables.py wrote to `<tmp>/tables`: q109's driver-iterative
  * connected-components jobs and q113's PQ codes.
  *
  * Set-up loads the tables and runs one warm-up pass; then the measured
  * phase runs a fixed number of passes, one per three seconds of
  * `seconds` and at least three, so the work it measures does not depend
  * on the engine's speed. Each query is timed from
  * the `SparkEntry.queries` call (driver-side frame build, including any
  * eager jobs) to the end of a parquet write, which materializes every
  * output column. The last pass's output and the oracle SQL go to
  * `<tmp>/out` for the DuckDB check in perfbench/oracle.py. */
final class BatchSuite(spark: SparkSession, trace: Trace, tmp: Path, seed: Long,
    seconds: Int) {
  import BatchSuite._

  private val dir = tmp.resolve("tables").toString
  private val outDir = tmp.resolve("out")

  private final case class Timing(build: Double, exec: Double, jobs: Long)

  private def runQuery(q: String, jobs: () => Long): Timing = {
    val j0 = jobs()
    val t0 = System.nanoTime()
    val df = trace.span("query.build", Map("query" -> q), Some(spark)) {
      SparkEntry.queries(q)(spark, dir)
    }
    val t1 = System.nanoTime()
    trace.span("query.exec", Map("query" -> q), Some(spark)) {
      df.write.mode("overwrite").parquet(outDir.resolve(q).toString)
    }
    val t2 = System.nanoTime()
    spark.catalog.clearCache()
    Timing((t1 - t0) / 1e9, (t2 - t1) / 1e9, jobs() - j0)
  }

  def run(out: Outcome, sessionSeconds: Double, listeners: Option[Listeners]): Unit = {
    val jobs: () => Long = () => listeners.map(_.jobs.get).getOrElse(0L)
    // set-up: load every table, then one warm-up pass
    val s0 = System.nanoTime()
    val loadS = trace.span("setup.load") {
      val t = System.nanoTime()
      Seq("documents", "embeddings").foreach(n =>
        Tables.load(spark, dir, n).schema)
      (System.nanoTime() - t) / 1e9
    }
    trace.span("setup.warmup") {
      Queries.foreach(q => runQuery(q, jobs))
    }
    out.e2e("setup_s") = sessionSeconds + (System.nanoTime() - s0) / 1e9
    out.layers("sources.load_s") = loadS
    Log(f"set-up ${out.e2e("setup_s")}%.2f s")

    val passes = mutable.ArrayBuffer[(Double, Map[String, Timing])]()
    listeners.foreach(_.begin())
    (1 to math.max(3, seconds / 3)).foreach { _ =>
      val t0 = System.nanoTime()
      val ts = trace.span("pass") {
        Queries.map(q => q -> runQuery(q, jobs)).toMap
      }
      passes += (((System.nanoTime() - t0) / 1e9, ts))
      Log(f"pass ${passes.size}: ${passes.last._1}%.2f s; " + Queries.map { q =>
        f"$q ${ts(q).build + ts(q).exec}%.2f s" }.mkString(", "))
    }
    listeners.foreach(_.end())
    // work: the whole measured phase; latency: a pass, from its first
    // query call to its last result (per-query times are per-layer)
    out.e2e("work_s") = passes.map(_._1).sum
    val passMs = passes.map(_._1 * 1000.0)
    out.e2e("latency_p50_ms") = Stats.median(passMs)
    out.e2e("latency_p90_ms") = Stats.pct(passMs, 90)
    out.layers("latency.samples") = passMs.size.toDouble
    Queries.foreach { q =>
      val ts = passes.map(_._2(q))
      out.layers(s"query.$q.build_s") = Stats.median(ts.map(_.build))
      out.layers(s"query.$q.exec_s") = Stats.median(ts.map(_.exec))
      out.layers(s"query.$q.jobs") = Stats.median(ts.map(_.jobs.toDouble))
    }
    writeOracle()
  }

  private def writeOracle(): Unit = {
    val sql = SparkEntry.oracleSql
    Files.writeString(outDir.resolve("oracle_sql.json"),
      Json.obj(Queries.map(q => q -> sql(q))))
  }
}

object BatchSuite {
  // q76_cc_stars, the query with the most jobs, is left out: its cold
  // and warm passes took more of a run's time than the run can spare
  val Queries: Seq[String] = Seq("q109_keep_best", "q113_pq_codes")
}
