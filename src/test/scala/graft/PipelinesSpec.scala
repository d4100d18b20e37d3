package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model.Geo
import graft.parse.GeoIp
import graft.pipelines.{AuthProfilePipeline, HttpRequestPipeline}

class PipelinesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def glb(ip: String, status: Int, ua: String, t: String) =
    s"""{"httpRequest":{"requestMethod":"GET","requestUrl":"https://h/x","status":$status,"remoteIp":"$ip","userAgent":"$ua"},"timestamp":"$t","logName":"projects/p/logs/l"}"""

  test("httprequest pipeline: hard limit + NAT-suppressed threshold + error rate") {
    import spark.implicits._
    val t0 = "2024-01-01T00:00:"
    // attacker: 12 requests in one minute, single UA
    val attacker = (0 until 12).map(i => glb("1.1.1.1", 200, "ua", f"${t0}$i%02dZ"))
    // nat gateway: 12 requests, 5 distinct UAs -> threshold suppressed
    val nat = (0 until 12).map(i => glb("2.2.2.2", 200, s"ua${i % 5}", f"${t0}$i%02dZ"))
    // errorer: 6 4xx in the window
    val errs = (0 until 6).map(i => glb("3.3.3.3", 404, "ua", f"${t0}$i%02dZ"))
    // background: 1 request
    val quiet = Seq(glb("4.4.4.4", 200, "ua", s"${t0}30Z"))
    val lines = (attacker ++ nat ++ errs ++ quiet).toDS()
    val alerts = HttpRequestPipeline.analyze(lines,
      HttpRequestPipeline.Config(hardLimit = 10, thresholdModifier = 1.2,
        errorMaxCount = 5, natMinDistinctUserAgents = 4,
        maxSessionEvents = 50))
      .collect()
    val bySub = alerts.groupBy(_.getAs[String]("subcategory"))
      .view.mapValues(_.map(_.getAs[String]("sourceaddress")).toSet).toMap
    // the NAT gateway is suppressed from the hard limit too — the
    // reference's HardLimitAnalysis consumes the DetectNat view
    // (HardLimitAnalysis.java:88-128)
    assert(bySub("hard_limit") == Set("1.1.1.1"))
    // threshold fires for busy sources but the NAT gateway is suppressed
    assert(bySub("threshold").contains("1.1.1.1"))
    assert(!bySub("threshold").contains("2.2.2.2"))
    assert(bySub("error_rate") == Set("3.3.3.3"))
    assert(!bySub.contains("session_limit"))
  }

  test("httprequest pipeline: cacheParsed=false is output-identical and " +
      "plans without an InMemoryRelation (the memory-constrained knob)") {
    import spark.implicits._
    val t0 = "2024-01-01T00:00:"
    val lines = ((0 until 12).map(i => glb("1.1.1.1", 200, "ua", f"${t0}$i%02dZ")) ++
      (0 until 6).map(i => glb("3.3.3.3", 404, "ua", f"${t0}$i%02dZ"))).toDS()
    val cfg = HttpRequestPipeline.Config(hardLimit = 10,
      thresholdModifier = 1.2, errorMaxCount = 5,
      natMinDistinctUserAgents = 4, maxSessionEvents = 50)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("subcategory"),
        r.getAs[String]("sourceaddress"), r.getAs[Long]("count"))).sorted
    val cached = HttpRequestPipeline.analyze(lines, cfg)
    val uncached = HttpRequestPipeline.analyze(lines, cfg,
      cacheParsed = false)
    assert(canon(cached).sameElements(canon(uncached)))
    assert(!uncached.queryExecution.executedPlan.toString
      .contains("InMemoryTableScan"), "uncached form must not cache")
  }

  test("httprequest pipeline: known gateways suppress threshold on key alone") {
    import spark.implicits._
    val t0 = "2024-01-01T00:00:"
    // single-UA busy source that would normally trip the threshold,
    // but is configured as a known gateway (ref DetectNat
    // .withKnownGateways)
    val gw = (0 until 12).map(i => glb("9.9.9.9", 200, "ua", f"${t0}$i%02dZ"))
    val other = (0 until 12).map(i => glb("1.1.1.1", 200, "ua", f"${t0}$i%02dZ"))
    val quiet = Seq(glb("4.4.4.4", 200, "ua", s"${t0}30Z"))
    val alerts = HttpRequestPipeline.analyze((gw ++ other ++ quiet).toDS(),
      HttpRequestPipeline.Config(hardLimit = 100, thresholdModifier = 1.2,
        knownGateways = Seq("9.9.9.9")))
      .collect()
    val thresholdKeys = alerts
      .filter(_.getAs[String]("subcategory") == "threshold")
      .map(_.getAs[String]("sourceaddress")).toSet
    assert(thresholdKeys.contains("1.1.1.1"))
    assert(!thresholdKeys.contains("9.9.9.9"))
  }

  test("httprequest streaming form: unbounded lines to windowed alerts") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val alerts = graft.operators.Heuristics.hardLimit(
        HttpRequestPipeline.parsedHttp(in.toDS())
          .withWatermark("timestamp", "0 seconds"),
        col("timestamp"), col("normalized.sourceAddress"), "1 minute", 5)
      .select(col("key").as("sourceaddress"), col("n").as("count"))
    val q = alerts.writeStream.format("memory").queryName("httpstream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update()).start()
    try {
      in.addData((0 until 8).map(i =>
        glb("5.5.5.5", 200, "ua", f"2024-01-01T00:00:$i%02dZ")): _*)
      in.addData(glb("6.6.6.6", 200, "ua", "2024-01-01T00:00:30Z"))
      q.processAllAvailable()
      val got = spark.table("httpstream").collect()
      assert(got.map(_.getAs[String]("sourceaddress")).toSet == Set("5.5.5.5"))
      assert(got.head.getAs[Long]("count") == 8)
    } finally q.stop()
  }

  test("authprofile pipeline: impossible travel across geo-resolved logins") {
    import spark.implicits._
    val resolver = new GeoIp.CidrTableResolver(Seq(
      "20.0.0.0/8" -> Geo(latitude = Some(51.5), longitude = Some(-0.13),
        country = Some("GB")),
      "30.0.0.0/8" -> Geo(latitude = Some(35.68), longitude = Some(139.69),
        country = Some("JP"))))
    def ssh(user: String, ip: String, t: String) =
      s"""{"textPayload":"x sshd[1]: Accepted password for $user from $ip port 22 ssh2","timestamp":"$t","logName":"projects/p/logs/auth"}"""
    val lines = Seq(
      ssh("alice", "20.1.1.1", "2024-01-01T00:00:00Z"), // London
      ssh("alice", "30.1.1.1", "2024-01-01T01:00:00Z"), // Tokyo 1h later -> alert
      ssh("bob", "20.1.1.1", "2024-01-01T00:00:00Z"),
      ssh("bob", "20.1.1.2", "2024-01-01T08:00:00Z")    // same city, fine
    ).toDS()
    val aliases = Seq(("alice", "acct-alice")).toDF("alias", "canonical")
    val alerts = AuthProfilePipeline.analyze(lines, aliases, resolver).collect()
    assert(alerts.length == 1)
    assert(alerts(0).getAs[String]("identity") == "acct-alice")
    assert(alerts(0).getAs[Long]("speed_kmh") > 800)
  }

  test("authprofile travel alerts use the SESSION suppressor: a steady alert drip emits once (ref AlertSuppressorSession, AuthProfile.java:1035)") {
    import spark.implicits._
    val resolver = new GeoIp.CidrTableResolver(Seq(
      "20.0.0.0/8" -> Geo(latitude = Some(51.5), longitude = Some(-0.13),
        country = Some("GB")),
      "30.0.0.0/8" -> Geo(latitude = Some(35.68), longitude = Some(139.69),
        country = Some("JP"))))
    def ssh(ip: String, t: Long) = {
      val iso = java.time.Instant.ofEpochSecond(1704067200L + t).toString
      s"""{"textPayload":"x sshd[1]: Accepted password for carol from $ip port 22 ssh2","timestamp":"$iso","logName":"projects/p/logs/auth"}"""
    }
    // carol ping-pongs London <-> Tokyo every 1500s: an impossible-
    // travel alert fires at every hop. With the session suppressor
    // (gap 1800) each suppressed alert EXTENDS the quiet period, so
    // only the FIRST emits; the old fixed-expiry form would have
    // re-emitted at 4500s (3000s past the last emission)
    val lines = Seq(ssh("20.1.1.1", 0), ssh("30.1.1.1", 1500),
      ssh("20.1.1.2", 3000), ssh("30.1.1.2", 4500)).toDS()
    val alerts = AuthProfilePipeline.analyze(lines,
      Seq(("carol", "carol")).toDF("alias", "canonical"), resolver)
      .collect()
    assert(alerts.length == 1)
    assert(alerts(0).getAs[Long]("ts_ms") == (1704067200L + 1500) * 1000)
  }

  test("endpointAbuseAlerts: session abuse through AlertSuppressorCount — re-emit on count change only (ref EndpointAbuseAnalysis.java:277)") {
    import spark.implicits._
    def line(t: Long) = {
      val iso = java.time.Instant.ofEpochSecond(1704067200L + t).toString
      glb("1.1.1.1", 200, "ua", iso)
    }
    // three sessions (gap 2700s; bursts 3000s apart): counts 3, 3, 4
    // on the monitored GET /x — session 2 suppressed (same count,
    // inside the 7200s window), session 3 re-emits (count changed)
    val lines = ((0 until 3).map(i => line(i * 10)) ++
      (0 until 3).map(i => line(3000 + i * 10)) ++
      (0 until 4).map(i => line(6000 + i * 10))).toDS()
    val got = graft.pipelines.HttpRequestPipeline.endpointAbuseAlerts(
        lines, Seq(graft.operators.HttpHeuristics.Endpoint("GET", "/x", 2)),
        sessionGapSeconds = 2700, suppressSeconds = 7200)
      .collect().map(r => (r.getAs[String]("sourceaddress"),
        r.getAs[Long]("count"))).toSet
    assert(got == Set(("1.1.1.1", 3L), ("1.1.1.1", 4L)))
  }

  test("sessionLimitAlerts: monitor_only split + count-aware suppression (ref SessionLimitAnalysis.java:230-292)") {
    import spark.implicits._
    def line(t: Long) = {
      val iso = java.time.Instant.ofEpochSecond(1704067200L + t).toString
      glb("2.2.2.2", 200, "ua", iso)
    }
    // sessions of 3, 3, 5 events: the 3s are monitor_only (below the
    // hard threshold 4), the second 3 is suppressed (same count inside
    // 7200s), the 5 re-emits as a full session_limit_analysis alert
    val lines = ((0 until 3).map(i => line(i * 10)) ++
      (0 until 3).map(i => line(3000 + i * 10)) ++
      (0 until 5).map(i => line(6000 + i * 10))).toDS()
    val got = graft.pipelines.HttpRequestPipeline.sessionLimitAlerts(
        lines, sessionGapSeconds = 2700, threshold = 4, monitor = 2,
        suppressSeconds = 7200)
      .collect().map(r => (r.getAs[String]("subcategory"),
        r.getAs[Long]("count"))).toSet
    assert(got == Set(("session_limit_analysis_monitor_only", 3L),
      ("session_limit_analysis", 5L)))
  }

  test("perEndpointErrorRateAlerts: error sessions through AlertSuppressorCount (ref PerEndpointErrorRateAnalysis.java:248)") {
    import spark.implicits._
    def line(t: Long, status: Int) = {
      val iso = java.time.Instant.ofEpochSecond(1704067200L + t).toString
      glb("3.3.3.3", status, "ua", iso)
    }
    // two error sessions (gap 1800s default; bursts 2500s apart) with
    // the SAME error count: the second is suppressed; 200s between
    // errors keep good traffic out of the error sessionization
    val lines = ((0 until 3).map(i => line(i * 10, 404)) ++
      Seq(line(1000, 200)) ++
      (0 until 3).map(i => line(2500 + i * 10, 404))).toDS()
    val got = graft.pipelines.HttpRequestPipeline.perEndpointErrorRateAlerts(
        lines, Seq(graft.operators.HttpHeuristics.ErrorRule("GET", "/x", 2)),
        errorSessionGapSeconds = 1800, suppressSeconds = 7200)
      .collect().map(r => (r.getAs[String]("sourceaddress"),
        r.getAs[Long]("count")))
    assert(got.toSeq == Seq(("3.3.3.3", 3L)))
  }

  test("pioneer exfiltrationAlerts: repeat sessions with the same byte count suppress (ref Pioneer.java:220)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // three alerting sessions for one key (silences > 1800s split
    // them): bytes 5000, 5000, 7000 with expiry 3600s — the middle
    // one is suppressed (same count, 2500s gap), the last re-emits
    // (count changed)
    val flows = Seq(
      (0L, 1L, "k", 5000L), (2500L, 2L, "k", 5000L),
      (5000L, 3L, "k", 7000L))
      .toDF("t_s", "seq", "key", "bytes")
      .withColumn("ts", timestamp_seconds(col("t_s")))
    val got = graft.pipelines.PioneerPipeline.exfiltrationAlerts(flows,
        col("ts"), col("seq"), col("key"), col("bytes"),
        gapSeconds = 1800, thresholdSeconds = 3600, thresholdBytes = 4000)
      .collect().map(r => (r.getAs[Long]("start_ms"),
        r.getAs[Long]("bytes"))).toSet
    assert(got == Set((0L, 5000L), (5000000L, 7000L)))
  }

  test("watchlist scan: only the EMAIL key is list-valued — a comma in username/identity_key matches whole, never piecewise (ref AlertMeta.java:134, PostProcessing.java:278-288)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // username carries a comma: the reference's splitListValues throws
    // for non-LIST keys and PostProcessing falls back to the whole value
    val alerts = Seq(
      ("a1", "x@e.com, y@e.com", "alpha,beta"),
      ("a2", "z@e.com", "alpha")).toDF("id", "email", "user")
      .select(map(
        lit("alert_id"), col("id"),
        lit("meta_email"), col("email"),
        lit("meta_username"), col("user")).as("fields"))
    val wl = Seq(
      ("email", "alpha,beta", "warn", "ops"),   // whole comma value
      ("email", "alpha", "warn", "ops"),        // piece — must NOT match a1's username
      ("email", "y@e.com", "warn", "ops"))      // list piece of the EMAIL key
      .toDF("kind", "object", "severity", "created_by")
    val out = pipelines.CorrelationPipeline.watchlistAnalyze(
      alerts, wl, "w@e.com", "c@e.com").collect()
    val hits = out.map(r => (r.getAs[String]("source_alert"),
      r.getAs[String]("matched_metadata_key"),
      r.getAs[String]("matched_metadata_value"))).toSet
    assert(hits == Set(
      ("a1", "username", "alpha,beta"), // whole-value match
      ("a1", "email", "y@e.com"),       // EMAIL splits on ","
      ("a2", "username", "alpha")))     // plain single value still matches
  }

  test("multilingualBuild: the train-once composition's four legs " +
      "equal the standalone queries (q161 card, q163 calibration, " +
      "q164 drift, q165 mixture) on the real corpus") {
    import org.apache.spark.sql.functions._
    import graft.operators.TextAnalysis
    import graft.sources.Tables
    val sf = "/root/testdata/sf0.001"
    val d = Tables.fanOut(Tables.documents(spark, sf))
    val profiles = TextAnalysis.langIdProfiles(
      d.filter(col("doc_id") % 10 < 3), col("lang"), col("text"),
      m = 64)
    // the build caches its classified lineage: record the persistent
    // RDDs before, so close() can be pinned to leave no NEW entry
    // behind (r16 advisory — a long-lived multi-build session must
    // not strand one block-manager entry per build)
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val b = pipelines.CorpusPipeline.multilingualBuild(d,
      col("doc_id"), col("text"), profiles,
      arrivalWindowMs =
        expr("(1700000000 + doc_id * 60) DIV 600 * 600 * 1000"),
      weights = Map("en" -> 0.35, "de" -> 0.15, "es" -> 0.15,
        "fr" -> 0.15, "zh" -> 0.10),
      defaultWeight = 0.05, budget = 100000L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    // each leg must match the standalone query bit-for-bit,
    // including column names (the oracle-compare contract)
    for ((got, queryName) <- Seq(
        (b.card, "q161_lang_data_card"),
        (b.calibration, "q163_lang_quality_calibration"),
        (b.drift, "q164_lang_mix_drift"),
        (b.mixture, "q165_multilingual_mixture"))) {
      val want = SparkEntry.queries(queryName)(spark, sf)
      assert(got.columns.toSeq == want.columns.toSeq,
        s"$queryName columns: ${got.columns.toSeq} vs " +
          s"${want.columns.toSeq}")
      assert(rows(got) == rows(want), s"$queryName rows diverged")
    }
    // caller-owned lifetime: after the legs are materialized,
    // close() must leave NO new persistent RDD behind (q165/q174
    // release theirs the same way)
    b.close()
    val lingering =
      spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(lingering.isEmpty,
      s"multilingualBuild stranded cached RDD(s) $lingering after close()")
  }
}
