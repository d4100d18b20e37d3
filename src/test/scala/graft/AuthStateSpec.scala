package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.AuthState
import graft.streaming.Streaming

/** Fixture tests for the AuthProfile state operators, mirroring the
  * reference's TestAuthProfile/TestCritObject fixture semantics. */
class AuthStateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // (t seconds, addr, lat, lon) — London / Sydney / near-London
  private val London = (51.5, -0.1)
  private val Sydney = (-33.9, 151.2)
  private val Nearby = (51.6, -0.2)

  private def analyze(rows: Seq[(Long, String, String, Double, Double)],
      pruneAge: Long = 864000L, maxKm: Double = 1000,
      dedupe: Option[Long] = None) = {
    import spark.implicits._
    val df = rows.zipWithIndex.map { case ((t, k, a, la, lo), i) =>
      (new Timestamp(t * 1000), i.toLong, k, a, la, lo)
    }.toDF("ts", "seq", "key", "addr", "lat", "lon")
    AuthState.stateAnalyze(df, col("ts"), col("seq"), col("key"),
      col("addr"), col("lat"), col("lon"), pruneAge, maxKm, dedupe)
      .orderBy(col("ts_ms"))
      .collect()
      .map(r => (r.getAs[String]("addr"), r.getAs[String]("action")))
  }

  test("state analyze: first unknown, repeat known, near within, far outside") {
    val t = 1700000000L
    val got = analyze(Seq(
      (t, "u1", "1.1.1.1", London._1, London._2),
      (t + 100, "u1", "1.1.1.1", London._1, London._2),
      (t + 200, "u1", "2.2.2.2", Nearby._1, Nearby._2),
      (t + 300, "u1", "3.3.3.3", Sydney._1, Sydney._2)))
    assert(got.toSeq == Seq(
      ("1.1.1.1", AuthState.UnknownGeoFailure),
      ("1.1.1.1", AuthState.KnownIp),
      ("2.2.2.2", AuthState.UnknownWithinGeo),
      ("3.3.3.3", AuthState.UnknownOutsideGeo)))
  }

  test("state analyze: entry-age pruning forgets stale addresses") {
    val t = 1700000000L
    val prune = 3600L
    val got = analyze(Seq(
      (t, "u1", "1.1.1.1", London._1, London._2),
      // within prune age: known
      (t + 1800, "u1", "1.1.1.1", London._1, London._2),
      // 2h after last touch: entry pruned, the model is empty again
      (t + 1800 + 7200, "u1", "1.1.1.1", London._1, London._2)),
      pruneAge = prune)
    assert(got.toSeq == Seq(
      ("1.1.1.1", AuthState.UnknownGeoFailure),
      ("1.1.1.1", AuthState.KnownIp),
      ("1.1.1.1", AuthState.UnknownGeoFailure)))
  }

  test("state analyze: per-window seen-skip drops repeat known events") {
    val t = 1700000000L
    // window 600s: second known in same window emits once, third is
    // dropped entirely; new window emits known again
    val got = analyze(Seq(
      (t, "u1", "1.1.1.1", London._1, London._2),
      (t + 10, "u1", "1.1.1.1", London._1, London._2),
      (t + 20, "u1", "1.1.1.1", London._1, London._2),
      (t + 1200, "u1", "1.1.1.1", London._1, London._2)),
      dedupe = Some(600L))
    assert(got.toSeq == Seq(
      ("1.1.1.1", AuthState.UnknownGeoFailure),
      ("1.1.1.1", AuthState.KnownIp),
      ("1.1.1.1", AuthState.KnownIp)))
  }

  test("state analyze: keys are independent") {
    val t = 1700000000L
    val got = analyze(Seq(
      (t, "u1", "1.1.1.1", London._1, London._2),
      (t + 100, "u2", "1.1.1.1", London._1, London._2)))
    assert(got.toSeq == Seq(
      ("1.1.1.1", AuthState.UnknownGeoFailure),
      ("1.1.1.1", AuthState.UnknownGeoFailure)))
  }

  test("streaming auth state matches batch semantics across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    SparkTestSession.withRocksDb(spark) {
      val t = 1700000000L
      val in = MemoryStream[Streaming.AuthLogin]
      val q = Streaming.authStateAnalyze(in.toDS(), pruneAgeSeconds = 864000L,
          maxKmStatic = 1000)
        .writeStream.format("memory").queryName("authstate")
        .outputMode(OutputMode.Append()).start()
      try {
        in.addData(
          Streaming.AuthLogin("u1", t * 1000000L, "1.1.1.1", London._1, London._2),
          Streaming.AuthLogin("u1", (t + 100) * 1000000L, "1.1.1.1", London._1, London._2))
        q.processAllAvailable()
        // state persists across micro-batches: 1.1.1.1 still known,
        // Sydney classifies outside-geo against the London entry
        in.addData(
          Streaming.AuthLogin("u1", (t + 200) * 1000000L, "1.1.1.1", London._1, London._2),
          Streaming.AuthLogin("u1", (t + 300) * 1000000L, "9.9.9.9", Sydney._1, Sydney._2))
        q.processAllAvailable()
        val got = spark.table("authstate").as[Streaming.AuthAction]
          .collect().sortBy(_.tsUs).map(a => (a.addr, a.action)).toSeq
        assert(got == Seq(
          ("1.1.1.1", AuthState.UnknownGeoFailure),
          ("1.1.1.1", AuthState.KnownIp),
          ("1.1.1.1", AuthState.KnownIp),
          ("9.9.9.9", AuthState.UnknownOutsideGeo)))
      } finally q.stop()
    }
  }

  test("crit object analyze: anchored full-match over the pattern list") {
    import spark.implicits._
    val t = 1700000000L
    val df = Seq(
      ("alice", "projects/prod-db", "1.1.1.1"),
      ("bob", "projects/dev-sandbox", "2.2.2.2"),
      ("eve", "xprojects/prod-db", "3.3.3.3"), // prefix junk: no match
      ("mallory", null, "4.4.4.4"))
      .toDF("user", "obj", "src")
      .withColumn("ts", timestamp_seconds(lit(t)))
    val out = AuthState.critObjectAnalyze(df, col("ts"), col("user"),
      col("obj"), col("src"), Seq("projects/prod-.*")).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("username") == "alice")
    assert(out.head.getAs[String]("severity") == "critical")
    assert(out.head.getAs[String]("suppression_key") ==
      "alice_projects/prod-db_1.1.1.1")
  }

  test("assume role correlate: pairs halves, rewrites subject user") {
    import spark.implicits._
    val t = 1700000000L
    val df = Seq(
      // pair within gap: trusted (no fixup, cross-account) + trusting
      ("s1", t, "e1", false, true, "real.user"),
      ("s1", t + 30, "e2", true, false, "assumed-role-session"),
      // duplicate of the trusting half (same dedupe key): ignored
      ("s1", t + 30, "e2", true, false, "assumed-role-session"),
      // outside the session gap: not paired
      ("s2", t, "e3", false, true, "other.user"),
      ("s2", t + 500, "e4", true, false, "assumed-role-session"),
      // same-account assume role: trusted half fails the cross filter
      ("s3", t, "e5", false, false, "same.account"),
      ("s3", t + 10, "e6", true, false, "assumed-role-session"))
      .toDF("sid", "t", "dk", "fixup", "xacct", "user")
      .withColumn("ts", timestamp_seconds(col("t")))
    val out = AuthState.assumeRoleCorrelate(df, col("sid"), col("ts"),
      col("dk"), col("fixup"), col("xacct"), col("user"),
      gapSeconds = 120).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("shared_id") == "s1")
    assert(out.head.getAs[String]("fixed_user") == "real.user")
  }

  test("minFraud flags pre-empt geo for new sources: anon first, hosting second, known stays known (ref AuthProfile.java:663-690)") {
    import spark.implicits._
    val t = 1700000000L
    val df = Seq(
      // baseline known entry for u1 in London
      (new Timestamp(t * 1000), 0L, "u1", "1.1.1.1",
        London._1, London._2, false, false),
      // new NEARBY source flagged as an anonymity network: the anon
      // escalation beats the within-geo classification
      (new Timestamp((t + 100) * 1000), 1L, "u1", "2.2.2.2",
        Nearby._1, Nearby._2, true, false),
      // new nearby source flagged hosting-provider (anon false)
      (new Timestamp((t + 200) * 1000), 2L, "u1", "3.3.3.3",
        Nearby._1, Nearby._2, false, true),
      // flags on a KNOWN address never escalate — known wins first
      (new Timestamp((t + 300) * 1000), 3L, "u1", "1.1.1.1",
        London._1, London._2, true, true),
      // unflagged new nearby source still classifies by geo
      (new Timestamp((t + 400) * 1000), 4L, "u1", "4.4.4.4",
        Nearby._1, Nearby._2, false, false)
    ).toDF("ts", "seq", "key", "addr", "lat", "lon", "anon", "hosting")
    val got = AuthState.stateAnalyze(df, col("ts"), col("seq"),
        col("key"), col("addr"), col("lat"), col("lon"),
        pruneAgeSeconds = 864000L, maxKmStatic = 1000,
        isAnonymous = col("anon"), isHostingProvider = col("hosting"))
      .orderBy(col("ts_ms")).collect()
      .map(r => (r.getAs[String]("addr"), r.getAs[String]("action")))
    assert(got.toSeq == Seq(
      ("1.1.1.1", AuthState.UnknownGeoFailure), // first ever: no prev
      ("2.2.2.2", AuthState.UnknownAnonNetwork),
      ("3.3.3.3", AuthState.UnknownHostingProvider),
      ("1.1.1.1", AuthState.KnownIp),
      ("4.4.4.4", AuthState.UnknownWithinGeo)))
  }
}
