package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Wall-clock probe for the salted-join crossover (SCALING.md): at
  * what manufactured skew does [[graft.operators.Skew.saltedJoin]]
  * beat the plain shuffle join it is row-for-row identical to?
  *
  * The scenario is the one the operator's scaladoc names: a k-fold
  * event stream where ONE NAT-style source address carries a hot
  * share of every row, joined to a per-key profile table too big to
  * broadcast (broadcast is disabled outright here — if the dim fits
  * in memory, broadcast wins and salting is moot). Three plans over
  * identical data, each forced through a full materialization
  * (noop sink), min-of-n:
  *
  *  - plain: shuffle join with AQE skew-splitting OFF — the
  *    worst-reducer baseline salting exists to beat;
  *  - aqe: the same join with AQE skew-splitting ON — the runtime
  *    second line of defense the repo normally relies on;
  *  - salted: `Skew.saltedJoin(salts)` with AQE skew OFF — the
  *    by-construction bound.
  *
  * Row counts are asserted identical across the three plans once per
  * skew point (salting changes partitioning arithmetic, never pairs).
  * Prints one JSON line per skew point.
  *
  * Usage: runMain graft.SkewProbe <sfDir> <k> [salts] [runs]
  *   k      = event-table replication factor (30 ~ the scale-probe's
  *            largest corpus point)
  *   salts  = salt count for the salted plan (default 32)
  *   runs   = timed runs per plan, min taken (default 2, +1 warmup)
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SkewProbe <sfDir> <k> [salts] [runs]")
    val sfDir = args(0)
    val k = args(1).toInt
    val salts = if (args.length > 2) args(2).toInt else 32
    val runs = if (args.length > 3) args(3).toInt else 2
    val spark = Session.local()
    // the probe's premise: the profile side does NOT broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try probe(spark, sfDir, k, salts, runs)
    finally spark.stop()
  }

  private def time[A](body: => A): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def probe(spark: SparkSession, sfDir: String, k: Int, salts: Int,
      runs: Int): Unit = {
    val keys = 997 // distinct cold addresses
    // k-fold replication of the events table, entirely in-flight
    // (the skew is manufactured per skew point below)
    val events = sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"))
      .withColumn("copy", explode(sequence(lit(0), lit(k - 1))))
      .select(
        (col("event_id") + col("copy").cast("long") * 10000000L)
          .as("event_id"),
        col("user_id"))
    // per-key profile: ~1 KB payload per address so the joined rows
    // carry real width through the hot reducer
    val payload = lit(("x" * 64) + "|")
    val profile = spark.range(0, keys + 1)
      .select(when(col("id") === keys, "nat-gw")
          .otherwise(concat(lit("10.0."), (col("id") / 256).cast("int"),
            lit("."), col("id") % 256)).as("addr"),
        concat_ws("", (0 until 16).map(_ => payload): _*).as("profile"))
    for (hotPermille <- Seq(0, 100, 300, 500)) {
      // deterministic hot assignment: a fixed slice of event_ids goes
      // to the NAT gateway, the rest spread uniformly. Materialized
      // (persist + count) before any timing so the k-fold generation
      // cost — identical across plans — cannot drown the skew signal
      val big = events.select(col("event_id"),
        when(pmod(col("event_id"), lit(1000)) < hotPermille, "nat-gw")
          .otherwise(concat(lit("10.0."),
            (pmod(col("user_id"), lit(keys)) / 256).cast("int"),
            lit("."), pmod(col("user_id"), lit(keys)) % 256))
          .as("addr"))
        .persist()
      def aqeSkew(on: Boolean): Unit = {
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", on)
        // forceApply lets AQE split even without its size heuristics
        // tripping at these (laptop-sized) volumes
        spark.conf.set(
          "spark.sql.adaptive.forceOptimizeSkewedJoin", on)
      }
      val plainDf = big.join(profile, Seq("addr"))
      val saltedDf = operators.Skew.saltedJoin(big, profile,
        Seq("addr"), salts)
      // pair identity, once per skew point
      val nPlain = plainDf.count()
      val nSalted = saltedDf.count()
      require(nPlain == nSalted,
        s"salted join changed the pairs: $nPlain vs $nSalted")
      def minOf(body: => Unit): Double = {
        body // warmup
        (0 until runs).map(_ => time(body)).min
      }
      aqeSkew(false)
      val tPlain = minOf(force(plainDf))
      val tSalted = minOf(force(saltedDf))
      aqeSkew(true)
      val tAqe = minOf(force(plainDf))
      aqeSkew(false)
      big.unpersist()
      println(s"""{"metric":"skew_crossover","k":$k,"salts":$salts,""" +
        s""""hot_permille":$hotPermille,"rows":$nPlain,""" +
        s""""plain_sec":${"%.3f".format(tPlain)},""" +
        s""""aqe_sec":${"%.3f".format(tAqe)},""" +
        s""""salted_sec":${"%.3f".format(tSalted)}}""")
    }
  }
}
